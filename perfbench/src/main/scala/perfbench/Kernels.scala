package perfbench

import graft.cdc.{BinlogColumn, BinlogRowCodec, MysqlProtocolCodec, MysqlReplicaSession}
import graft.streaming.ByteChunk

/** Single-threaded, Spark-free passes of the wire and decode kernels over
  * a run's own bytes: the stream baselines the Spark stages are read
  * against. Each pass repeats until it has run for at least `minSeconds`
  * and reports the median repetition.
  */
object Kernels {
  private def repeat(minSeconds: Double)(pass: => Unit): Double = {
    val times = scala.collection.mutable.ArrayBuffer.empty[Double]
    val t0 = System.nanoTime()
    while (times.size < 3 || (System.nanoTime() - t0) / 1e9 < minSeconds)
      times += Stats.timed(pass)._2
    Stats.median(times.toSeq)
  }

  /** Frame drain + replica-session fold over every session's chunks;
    * returns binlog event MB per second (the same bytes the streaming
    * metric counts). */
  def wireMbPerSec(tranches: Seq[Seq[ByteChunk]], minSeconds: Double = 1.0): Double = {
    val bySession = tranches.flatten.groupBy(_.session).values.map { cs =>
      val sorted = cs.sortBy(_.idx)
      val buf = new java.io.ByteArrayOutputStream()
      sorted.foreach(c => buf.write(c.bytes))
      buf.toByteArray
    }.toSeq
    var eventBytes = 0L
    val s = repeat(minSeconds) {
      var bytes = 0L
      bySession.foreach { bs =>
        val (pkts, _, _, _) = MysqlProtocolCodec.drainFrames(bs, 0, 0, null)
        var st = MysqlReplicaSession.initial(Wire.config)
        pkts.foreach { case (_, payload) =>
          val step = MysqlReplicaSession.onPayload(st, payload)
          st = step.state
          step.event.foreach(e => bytes += e.length)
        }
      }
      eventBytes = bytes
    }
    eventBytes / s / 1e6
  }

  /** Header + row decode of every row event; returns rows per second. */
  def decodeRowsPerSec(events: Seq[Array[Byte]], schema: Array[BinlogColumn],
      minSeconds: Double = 1.0): Double = {
    val rowTypes = Set(BinlogRowCodec.WriteV2, BinlogRowCodec.UpdateV2,
      BinlogRowCodec.DeleteV2)
    val rowEvents = events.filter(e => rowTypes.contains(e(4) & 0xff))
    var rows = 0L
    val s = repeat(minSeconds) {
      var n = 0L
      rowEvents.foreach { e =>
        val h = BinlogRowCodec.decodeHeader(e, packetMarker = false)
        val r = BinlogRowCodec.decodeRows(h.getBinary(6), h.getInt(1), schema)
        n += math.max(r.getArray(0).numElements(), r.getArray(1).numElements())
      }
      rows = n
    }
    rows / s
  }
}
