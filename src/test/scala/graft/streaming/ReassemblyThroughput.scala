package graft.streaming

import graft.cdc.MysqlProtocolCodec
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream

/** One-shot local measurement of PacketReassembly throughput (packets/s,
  * MB/s) — run with `sbt "Test/runMain graft.streaming.ReassemblyThroughput
  * [sessions] [packetsPerSession] [payloadBytes] [chunkBytes]"`. Not a
  * Suite: `sbt test` ignores it. Numbers land in PERFORMANCE.md.
  */
object ReassemblyThroughput {
  def main(args: Array[String]): Unit = {
    val sessions = if (args.length > 0) args(0).toInt else 32
    val perSession = if (args.length > 1) args(1).toInt else 2000
    val payloadSz = if (args.length > 2) args(2).toInt else 256
    val chunkSz = if (args.length > 3) args(3).toInt else 1400 // ~MTU

    // one shuffle partition per core: a fixed count measures partition
    // overhead on a small host (the state stores commit per partition)
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName("reassembly-throughput")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.ui.enabled", false)
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._

    val payload = Array.fill(payloadSz)(7.toByte)
    val chunks = (0 until sessions).flatMap { s =>
      val bytes = Array.fill(perSession)(
        MysqlProtocolCodec.writePacket(s % 256, payload)).flatten.toArray
      bytes.grouped(chunkSz).zipWithIndex
        .map { case (bs, i) => ByteChunk(s.toLong, i.toLong, bs) }.toSeq
    }
    val totalPackets = sessions.toLong * perSession
    val totalBytes = chunks.iterator.map(_.bytes.length.toLong).sum

    var best = Double.MaxValue
    for (iter <- 1 to 3) {
      val in = MemoryStream[ByteChunk]
      val q = PacketReassembly.reassemble(in.toDS())
        .writeStream.format("noop").outputMode("append").start()
      val t0 = System.nanoTime()
      in.addData(chunks)
      val tAdd = (System.nanoTime() - t0) / 1e9
      q.processAllAvailable()
      val sec = (System.nanoTime() - t0) / 1e9
      q.stop()
      println(f"iter $iter: $sec%.2f s (addData/encode $tAdd%.2f s, process ${sec - tAdd}%.2f s)")
      best = math.min(best, sec - tAdd)
    }
    println(f"reassembly: $totalPackets packets, ${totalBytes / 1e6}%.1f MB, " +
      f"${chunks.size} chunks, $sessions sessions -> best ${best}%.2f s = " +
      f"${totalPackets / best / 1e3}%.0fk packets/s, ${totalBytes / best / 1e6}%.0f MB/s")
    spark.stop()
  }
}
