package graft.streaming

import graft.cdc.{BinlogDecode, BinlogRowCodec, BinlogSchema, MysqlProtocolCodec, MysqlReplicaSession}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._

/** One-shot local measurement of the FULL wire chain — raw transport
  * chunks → packet reassembly → replica session fold (bring-up + dump
  * phase) → event split → typed row decode — the streaming analogue of the
  * reference's MB/s meter over binlog bytes (`/root/reference/src/
  * main.rs:110-130` counts event bytes through its loop). Run with
  * `sbt "Test/runMain graft.streaming.WireChainThroughput [sessions]
  * [eventsPerSession] [valueBytes] [chunkBytes]"`. Not a Suite: `sbt test`
  * ignores it. Numbers land in PERFORMANCE.md.
  */
object WireChainThroughput {

  private def hx(s: String): Array[Byte] =
    s.grouped(2).map(Integer.parseInt(_, 16).toByte).toArray

  private def lenencStr(s: String): Array[Byte] =
    s.length.toByte +: s.getBytes("UTF-8")

  private def handshakeV10(seed: Array[Byte]): Array[Byte] = {
    val out = new java.io.ByteArrayOutputStream()
    out.write(10); out.write("8.0.42-log".getBytes); out.write(0)
    out.write(Array[Byte](0x39, 0x30, 0, 0))
    out.write(seed, 0, 8); out.write(0)
    out.write(0xff); out.write(0xf7)
    out.write(0xff); out.write(Array[Byte](2, 0))
    out.write(0x08); out.write(0x00)
    out.write(21)
    for (_ <- 0 until 10) out.write(0)
    out.write(seed, 8, 12); out.write(0)
    out.write("mysql_native_password".getBytes); out.write(0)
    out.toByteArray
  }

  def main(args: Array[String]): Unit = {
    val sessions = if (args.length > 0) args(0).toInt else 32
    val perSession = if (args.length > 1) args(1).toInt else 2000
    val valueSz = if (args.length > 2) args(2).toInt else 200
    val chunkSz = if (args.length > 3) args(3).toInt else 1400 // ~MTU

    // one shuffle partition per core: a fixed count measures partition
    // overhead on a small host (the state stores commit per partition)
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName("wire-chain-throughput")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.ui.enabled", false)
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._

    val schema = BinlogSchema.fromMysqlTypes(Seq(
      "pk" -> "bigint", "v" -> s"varchar(${math.max(valueSz, 8)})"))
    val seed = (1 to 20).map(_.toByte).toArray
    val ok = hx("00" + "00" + "00" + "0200" + "0000")
    val eof = hx("fe" + "0000" + "0200")
    val bringup: Seq[Array[Byte]] = Seq(
      handshakeV10(seed),
      (0xfe.toByte +: ("mysql_native_password".getBytes :+ 0.toByte)) ++ seed :+ 0.toByte,
      ok, ok, Array(2.toByte), hx("deadbeef"), hx("deadbeef"), eof,
      lenencStr("bin.000001") ++ lenencStr("4"), eof)
    val value = "v" * valueSz

    var eventBytes = 0L
    val chunks = (0 until sessions).flatMap { s =>
      val payloads = bringup ++ (0 until perSession).map { i =>
        val ev = BinlogRowCodec.encodeEvent(BinlogRowCodec.WriteV2,
          BinlogRowCodec.encodeRows(BinlogRowCodec.WriteV2, schema,
            Seq(Seq[Any]((s.toLong << 32) | i.toLong, value))))
        eventBytes += ev.length
        0.toByte +: ev
      }
      val bytes = payloads.zipWithIndex.toArray
        .flatMap { case (p, i) => MysqlProtocolCodec.writePacket(i % 256, p) }
      bytes.grouped(chunkSz).zipWithIndex
        .map { case (bs, i) => ByteChunk(s.toLong, i.toLong, bs) }.toSeq
    }
    val totalRows = sessions.toLong * perSession
    val totalBytes = chunks.iterator.map(_.bytes.length.toLong).sum

    var best = Double.MaxValue
    for (iter <- 1 to 3) {
      val in = MemoryStream[ByteChunk]
      val typed = ReplicaStream.fromChunks(in.toDS(),
          MysqlReplicaSession.Config("repl", "secret", serverId = 100L)).toDF()
        .select(col("session"), col("ordinal"),
          BinlogDecode.eventSplit(col("event")).as("h"))
        .select(col("session"), col("ordinal"),
          BinlogDecode.rows(col("h.body"), col("h.event_type"), schema).as("r"))
        .select(col("session"), explode(col("r.data")).as("m"))
        .select(col("session"),
          element_at(col("m"), "pk").cast("long").as("pk"),
          length(element_at(col("m"), "v")).as("vlen"))
      val q = typed.writeStream.format("noop").outputMode("append").start()
      val t0 = System.nanoTime()
      in.addData(chunks)
      val tAdd = (System.nanoTime() - t0) / 1e9
      q.processAllAvailable()
      val sec = (System.nanoTime() - t0) / 1e9
      q.stop()
      println(f"iter $iter: $sec%.2f s (addData/encode $tAdd%.2f s, process ${sec - tAdd}%.2f s)")
      best = math.min(best, sec - tAdd)
    }
    println(f"wire chain: $totalRows rows, ${eventBytes / 1e6}%.1f MB binlog bytes " +
      f"(${totalBytes / 1e6}%.1f MB on wire), ${chunks.size} chunks, $sessions sessions" +
      f" -> best ${best}%.2f s = ${totalRows / best / 1e3}%.0fk rows/s, " +
      f"${eventBytes / best / 1e6}%.0f MB/s binlog, ${totalBytes / best / 1e6}%.0f MB/s wire")
    spark.stop()
  }
}
