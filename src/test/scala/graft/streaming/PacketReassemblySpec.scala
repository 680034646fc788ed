package graft.streaming

import graft.SparkSpec
import graft.cdc.MysqlProtocolCodec
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream

/** Streaming wire-packet reassembly vs the batch splitter: whatever chunk
  * boundaries and arrival disorder the transport produces, the packets
  * downstream must equal `splitPackets` of the concatenated session bytes.
  */
class PacketReassemblySpec extends SparkSpec {

  private def packets(session: Long, n: Int): Array[Byte] =
    (0 until n).toArray.flatMap { i =>
      MysqlProtocolCodec.writePacket(i % 256,
        s"s$session-p$i-${"x" * (i % 37)}".getBytes("UTF-8"))
    }

  /** Cut `bytes` at pseudo-random boundaries (including mid-header cuts:
    * sizes 1..7 force splits inside the 4-byte length prefix).
    */
  private def chop(session: Long, bytes: Array[Byte]): Seq[ByteChunk] = {
    val out = scala.collection.mutable.ArrayBuffer.empty[Array[Byte]]
    var pos = 0
    var step = 1
    while (pos < bytes.length) {
      val n = math.min(1 + (session + step * 13).toInt % 29, bytes.length - pos)
      out += java.util.Arrays.copyOfRange(bytes, pos, pos + n)
      pos += n
      step += 1
    }
    out.toSeq.zipWithIndex.map { case (bs, i) => ByteChunk(session, i.toLong, bs) }
  }

  test("reassembled packets equal the batch split, across triggers and disorder") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val streams = (0L until 5L).map(s => s -> packets(s, 40)).toMap
    val chunks = streams.toSeq.flatMap { case (s, bs) => chop(s, bs) }
    // deterministic shuffle: reverse within each of three trigger slices —
    // chunk idx order is violated both within and across triggers
    val slices = chunks.grouped(math.max(1, chunks.size / 3 + 1)).map(_.reverse).toSeq

    val in = MemoryStream[ByteChunk]
    val q = PacketReassembly.reassemble(in.toDS())
      .writeStream.format("memory").queryName("reasm_t").outputMode("append").start()
    try {
      slices.foreach { sl => in.addData(sl); q.processAllAvailable() }
      val got = spark.table("reasm_t").as[WirePacket].collect()
        .groupBy(_.session).view.mapValues(_.sortBy(_.ordinal)).toMap
      streams.foreach { case (s, bs) =>
        val expected = MysqlProtocolCodec.splitPackets(bs)
        val mine = got(s)
        assert(mine.length == expected.numElements(), s"session $s count")
        mine.zipWithIndex.foreach { case (p, i) =>
          val e = expected.getStruct(i, 2)
          assert(p.seq == e.getInt(0), s"session $s packet $i seq")
          assert(p.payload.toSeq == e.getBinary(1).toSeq, s"session $s packet $i payload")
        }
      }
    } finally q.stop()
  }

  test("16MB-continued packet across chunk AND trigger boundaries") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val M = MysqlProtocolCodec.MaxFrame
    val payload = new Array[Byte](M + 1234)
    var i = 0
    while (i < payload.length) { payload(i) = (i * 7).toByte; i += 131 }
    val bytes = MysqlProtocolCodec.writePacket(0, "pre".getBytes) ++
      MysqlProtocolCodec.writePacket(1, payload) ++
      MysqlProtocolCodec.writePacket(3, "post".getBytes)
    val chunkSz = 1 << 20
    val chunks = bytes.grouped(chunkSz).toSeq.zipWithIndex
      .map { case (bs, idx) => ByteChunk(11L, idx.toLong, bs) }
    val in = MemoryStream[ByteChunk]
    val q = PacketReassembly.reassemble(in.toDS())
      .writeStream.format("memory").queryName("reasm_cont").outputMode("append").start()
    try {
      val (a, b) = chunks.splitAt(chunks.size / 2)
      in.addData(a); q.processAllAvailable()
      in.addData(b); q.processAllAvailable()
      val got = spark.table("reasm_cont").as[WirePacket].collect().sortBy(_.ordinal)
      assert(got.map(p => (p.ordinal, p.seq, p.payload.length)).toSeq ==
        Seq((0L, 0, 3), (1L, 1, M + 1234), (2L, 3, 4)))
      assert(java.util.Arrays.equals(got(1).payload, payload))
    } finally q.stop()
  }

  test("capture to typed rows: chunks → reassembly → dump replay, streaming") {
    implicit val sqlCtx = spark.sqlContext
    import org.apache.spark.sql.functions._
    import spark.implicits._
    import graft.cdc.{BinlogDecode, BinlogRowCodec, BinlogSchema}
    val schema = BinlogSchema.fromMysqlTypes(Seq("pk" -> "bigint", "v" -> "varchar(8)"))
    // one session's COM_BINLOG_DUMP response: 3 OK-marked WRITE events + EOF
    val bytes = (1L to 3L).toArray.flatMap { k =>
      MysqlProtocolCodec.writePacket(k.toInt,
        BinlogRowCodec.encodeEvent(BinlogRowCodec.WriteV2,
          BinlogRowCodec.encodeRows(BinlogRowCodec.WriteV2, schema,
            Seq(Seq[Any](k, s"v$k"))), packetMarker = true))
    } ++ MysqlProtocolCodec.writePacket(4, Array[Byte](0xfe.toByte, 0, 0, 2, 0))
    // 7-byte chunks guarantee splits inside headers and bodies
    val chunks = bytes.grouped(7).toSeq.zipWithIndex
      .map { case (bs, i) => ByteChunk(1L, i.toLong, bs) }
    val in = MemoryStream[ByteChunk]
    val typed = PacketReassembly.reassemble(in.toDS()).toDF()
      .filter(expr("substring(payload, 1, 1) = X'00'"))
      .select(col("session"), col("ordinal"),
        BinlogDecode.eventSplit(col("payload"), packetMarker = true).as("h"))
      .select(col("session"), col("ordinal"),
        BinlogDecode.rows(col("h.body"), col("h.event_type"), schema).as("r"))
      .select(col("session"), col("ordinal"), explode(col("r.data")).as("m"))
      .select(col("session"),
        element_at(col("m"), "pk").cast("long").as("pk"),
        element_at(col("m"), "v").as("v"))
    val q = typed.writeStream.format("memory").queryName("reasm_e2e")
      .outputMode("append").start()
    try {
      val (a, b) = chunks.splitAt(chunks.size / 2)
      in.addData(a); q.processAllAvailable()
      in.addData(b); q.processAllAvailable()
      val got = spark.table("reasm_e2e").collect()
        .map(r => (r.getAs[Long]("pk"), r.getAs[String]("v"))).sorted.toSeq
      assert(got == Seq((1L, "v1"), (2L, "v2"), (3L, "v3")))
    } finally q.stop()
  }

  test("full stack: capture chunks → packets → events → latest-image snapshot") {
    implicit val sqlCtx = spark.sqlContext
    import org.apache.spark.sql.functions._
    import spark.implicits._
    import graft.cdc.{BinlogDecode, BinlogRowCodec, BinlogSchema, CdcMerge}
    val schema = BinlogSchema.fromMysqlTypes(Seq("pk" -> "bigint", "v" -> "varchar(8)"))
    // scripted history: insert 1→a, insert 2→b, UPDATE 1: a→c (true
    // before/after pair event), delete 2 (types: 30 WRITE, 31 UPDATE,
    // 32 DELETE, all _v2)
    val script = Seq(
      (30, Seq(Seq[Any](1L, "a"))),
      (30, Seq(Seq[Any](2L, "b"))),
      (31, Seq(Seq[Any](1L, "a"), Seq[Any](1L, "c"))), // old, new
      (32, Seq(Seq[Any](2L, "b"))))
    val bytes = script.zipWithIndex.toArray.flatMap { case ((tpe, images), i) =>
      MysqlProtocolCodec.writePacket(i + 1,
        BinlogRowCodec.encodeEvent(tpe,
          BinlogRowCodec.encodeRows(tpe, schema, images),
          packetMarker = true))
    } ++ MysqlProtocolCodec.writePacket(5, Array[Byte](0xfe.toByte, 0, 0, 2, 0))
    val chunks = bytes.grouped(11).toSeq.zipWithIndex
      .map { case (bs, i) => ByteChunk(1L, i.toLong, bs) }

    val in = MemoryStream[ByteChunk]
    val changes = PacketReassembly.reassemble(in.toDS()).toDF()
      .filter(expr("substring(payload, 1, 1) = X'00'"))
      .select(col("ordinal"),
        BinlogDecode.eventSplit(col("payload"), packetMarker = true).as("h"))
      .select(col("ordinal"), col("h.event_type").as("et"),
        BinlogDecode.rows(col("h.body"), col("h.event_type"), schema).as("r"))
      // the surviving image: WRITE/UPDATE carry it in data (for UPDATE
      // that's the after side of each pair), DELETE in old
      .select(col("ordinal"), col("et"),
        explode(when(col("et") === 32, col("r.old"))
          .otherwise(col("r.data"))).as("m"))
      .select(element_at(col("m"), "pk").cast("long").as("pk"),
        col("ordinal").as("cid"),
        when(col("et") === 32, lit("DELETE")).otherwise(lit("INSERT")).as("type"),
        element_at(col("m"), "v").as("v"))
    val q = changes.writeStream.format("memory").queryName("capture_changes")
      .outputMode("append").start()
    try {
      val (a, b) = chunks.splitAt(chunks.size / 2)
      in.addData(a); q.processAllAvailable()
      in.addData(b); q.processAllAvailable()
      // the change feed is complete and ordered → the batch merge face
      // produces the snapshot (the CdcSnapshot pattern does this per
      // micro-batch over foreachBatch; semantics are identical)
      val img = CdcMerge.latestImage(
        spark.table("capture_changes"), Seq("pk"), "cid")
        .select("pk", "v").as[(Long, String)].collect().toMap
      assert(img == Map(1L -> "c"))
    } finally q.stop()
  }

  test("checkpoint restart resumes mid-packet: no loss, no duplicates") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft-reasm-ck").toString
    val bytes = (0 until 50).toArray.flatMap(i =>
      MysqlProtocolCodec.writePacket(i % 256, s"pkt-$i-${"y" * (i % 23)}".getBytes))
    // 13-byte chunks: the restart point always lands inside some packet,
    // so the partial buffer in the state store is what stitches it
    val chunks = bytes.grouped(13).toSeq.zipWithIndex
      .map { case (bs, i) => ByteChunk(3L, i.toLong, bs) }
    val in = MemoryStream[ByteChunk]
    def start() = PacketReassembly.reassemble(in.toDS())
      .writeStream.format("parquet").option("path", s"$dir/out")
      .option("checkpointLocation", s"$dir/ck").outputMode("append").start()

    val (a, b) = chunks.splitAt(chunks.size / 2)
    val q1 = start()
    try { in.addData(a); q1.processAllAvailable() } finally q1.stop()
    val q2 = start() // recovery: offsets from the commit log, state from the store
    try { in.addData(b); q2.processAllAvailable() } finally q2.stop()

    val got = spark.read.parquet(s"$dir/out").as[WirePacket].collect().sortBy(_.ordinal)
    val expected = MysqlProtocolCodec.splitPackets(bytes)
    assert(got.length == expected.numElements(), s"got ${got.length}")
    got.zipWithIndex.foreach { case (p, i) =>
      val e = expected.getStruct(i, 2)
      assert(p.ordinal == i.toLong && p.seq == e.getInt(0))
      assert(p.payload.toSeq == e.getBinary(1).toSeq, s"packet $i payload")
    }
  }

  test("a gap that never fills buffers; overflow past maxPending fails loudly") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val in = MemoryStream[ByteChunk]
    val q = PacketReassembly.reassemble(in.toDS(), maxPending = 4)
      .writeStream.format("memory").queryName("reasm_gap").outputMode("append").start()
    try {
      // idx 0 missing: nothing may be emitted no matter how much arrives after
      in.addData((1L to 4L).map(i =>
        ByteChunk(7L, i, MysqlProtocolCodec.writePacket(i.toInt, Array(i.toByte)))))
      q.processAllAvailable()
      assert(spark.table("reasm_gap").isEmpty)
      // the 5th parked chunk exceeds maxPending=4 → the query must fail
      in.addData(ByteChunk(7L, 5L, MysqlProtocolCodec.writePacket(5, Array(5.toByte))))
      val failed = intercept[Exception] { q.processAllAvailable() }
      assert(Option(failed.getMessage).exists(_.contains("maxPending")) ||
        failed.getCause != null)
    } finally q.stop()
  }

  // NOTE: the idleTimeout FIRE path (state.hasTimedOut → reset or
  // remove) is not driven here — a ProcessingTimeTimeout query schedules
  // continuous empty timeout batches that race processAllAvailable and
  // hang the MemoryStream harness. Same constraint as
  // Stateful.latestImage's tombstoneTtl; the branch applies the pure
  // reset and emits nothing. The schema-stamping wire stage's reset,
  // ReplicaStream.idleReset, is unit-tested in CdcEndToEndSpec.

  test("a contiguous burst larger than maxPending drains fine (bound is gap-only)") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val in = MemoryStream[ByteChunk]
    val q = PacketReassembly.reassemble(in.toDS(), maxPending = 4)
      .writeStream.format("memory").queryName("reasm_burst").outputMode("append").start()
    try {
      // 10 in-order chunks in one trigger: parked count transiently exceeds
      // 4 but every chunk drains — the bound must not fire
      in.addData((0L until 10L).map(i =>
        ByteChunk(9L, i, MysqlProtocolCodec.writePacket(i.toInt, Array(i.toByte)))))
      q.processAllAvailable()
      assert(spark.table("reasm_burst").count() == 10L)
    } finally q.stop()
  }
}
