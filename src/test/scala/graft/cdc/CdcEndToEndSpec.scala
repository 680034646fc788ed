package graft.cdc

import graft.SparkSpec
import graft.streaming.{ByteChunk, CdcSnapshot, ReplicaStream}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import java.nio.file.Files

/** SURVEY.md §7 minimum slice (b), full pipeline: Canal-JSON lines →
  * envelope parse → instance routing → pk extraction → streaming
  * latest-image snapshot. The input replays the golden users-table story
  * (insert alice → update bal → insert bob → delete alice) plus rows for a
  * non-routed table that must be filtered out before merging.
  */
case class RawEv(id: Long, event: Array[Byte])

class CdcEndToEndSpec extends SparkSpec {

  private def msg(id: Long, table: String, tpe: String,
      data: Map[String, String], old: Map[String, String]): String = {
    def m(kv: Map[String, String]) =
      kv.map { case (k, v) => s""""$k":"$v"""" }.mkString("{", ",", "}")
    val dataArr = if (data.isEmpty) "[]" else s"[${m(data)}]"
    s"""{"data":$dataArr,"database":"testdb","es":${1767322800000L + id * 1000},
       |"id":$id,"isDdl":false,"mysqlType":{"id":"bigint","name":"varchar(32)","bal":"decimal(10,2)"},
       |"old":[${m(old)}],"pkNames":["id"],"sql":"",
       |"sqlType":{"id":-5,"name":12,"bal":3},
       |"table":"$table","ts":${1767322800123L + id * 1000},"type":"$tpe"}""".stripMargin.replace("\n", "")
  }

  test("Canal-JSON stream → route → merge → snapshot equals expected state") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._

    val instances = Seq(Instance("q", "t_users", schemas = "test*", tables = "users"))
    val dir = Files.createTempDirectory("graft-e2e").toString
    val in = MemoryStream[String]

    // the DEFAULT ingest: q118-locked partial parse (only id/db/table/type
    // + the named data/old keys materialize), route filter, pk with the
    // DELETE old-image fallback — all inside CdcSnapshot.canalChanges
    val q = CdcSnapshot.startFromCanalJson(in.toDF(), "value", instances,
      pkField = "id", dataFields = Seq("name", "bal"),
      s"$dir/snap", s"$dir/ckpt")

    try {
      in.addData(
        msg(0, "users", "INSERT", Map("id" -> "1", "name" -> "alice", "bal" -> "10.50"), Map.empty),
        msg(1, "audit_log", "INSERT", Map("id" -> "9", "name" -> "x", "bal" -> "0"), Map.empty))
      q.processAllAvailable()
      in.addData(
        msg(2, "users", "UPDATE", Map("id" -> "1", "name" -> "alice", "bal" -> "99.90"), Map("bal" -> "10.50")),
        msg(3, "users", "INSERT", Map("id" -> "2", "name" -> "bob", "bal" -> "5.00"), Map.empty))
      q.processAllAvailable()
      in.addData(
        msg(4, "users", "DELETE", Map.empty, Map("id" -> "1", "name" -> "alice", "bal" -> "99.90")))
      q.processAllAvailable()

      val snap = CdcSnapshot.read(spark, s"$dir/snap")
        .select("pk", "name", "bal").orderBy("pk").collect()
        .map(r => (r.getString(0), r.getString(1), r.getString(2))).toSeq
      // alice deleted, bob present, audit_log rows never routed
      assert(snap == Seq(("2", "bob", "5.00")))
    } finally q.stop()
  }

  test("raw binlog event bytes → header split → row decode → merge → snapshot") {
    // The full raw-bytes story (§2A#9-12) with ZERO external metadata:
    // whole events (19-byte common header ++ row body) stream in as bytes,
    // BinlogEventSplit reads the type from the header itself,
    // BinlogRowsDecode assembles typed row images (multi-row, UPDATE
    // pairs), and the same streaming latest-image snapshot converges — no
    // Canal-JSON leg and no out-of-band type column at all.
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    import BinlogRowCodec._
    val schema = BinlogSchema.fromMysqlTypes(Seq(
      "id" -> "bigint", "name" -> "varchar(32)", "bal" -> "decimal(10,2)"))
    val dir = Files.createTempDirectory("graft-e2e-raw").toString
    val in = MemoryStream[RawEv]

    val split = in.toDF().select(col("id"),
      BinlogDecode.eventSplit(col("event")).as("h"))
    val decoded = split.select(col("id"), col("h.event_type").as("tpe"),
      BinlogDecode.rows(col("h.body"), col("h.event_type"), schema).as("r"))
    val images = decoded.select(col("id"), col("tpe"),
      posexplode(when(col("tpe") === DeleteV2, col("r.old"))
        .otherwise(col("r.data"))).as(Seq("pos", "m")))
    val keyed = images.select(
      (col("id") * 10 + col("pos")).as("cid"),
      when(col("tpe") === DeleteV2, "DELETE")
        .when(col("tpe") === UpdateV2, "UPDATE")
        .otherwise("INSERT").as("type"),
      element_at(col("m"), "id").cast("long").as("pk"),
      element_at(col("m"), "name").as("name"),
      element_at(col("m"), "bal").as("bal"))
    val q = CdcSnapshot.start(keyed, Seq("pk"), "cid", s"$dir/snap", s"$dir/ckpt")

    def ev(tpe: Int, images: Seq[Seq[Any]]): Array[Byte] =
      encodeEvent(tpe, encodeRows(tpe, schema, images))
    try {
      in.addData(RawEv(0, ev(WriteV2, Seq(
        Seq(1L, "alice", "10.50"), Seq(2L, "bob", "5.00"))))) // multi-row WRITE
      q.processAllAvailable()
      in.addData(RawEv(1, ev(UpdateV2, Seq(
        Seq(1L, "alice", "10.50"), Seq(1L, "alice", "99.90"))))) // old,new pair
      q.processAllAvailable()
      in.addData(RawEv(2, ev(DeleteV2, Seq(Seq(2L, "bob", "5.00")))))
      q.processAllAvailable()

      val snap = CdcSnapshot.read(spark, s"$dir/snap")
        .select("pk", "name", "bal").orderBy("pk").collect()
        .map(r => (r.getLong(0), r.getString(1), r.getString(2))).toSeq
      assert(snap == Seq((1L, "alice", "99.90")))
    } finally q.stop()
  }

  // ---- the whole socket-free replication client as ONE streaming query ----

  private def hx(s: String): Array[Byte] =
    s.grouped(2).map(Integer.parseInt(_, 16).toByte).toArray

  private def lenencStr(s: String): Array[Byte] =
    s.length.toByte +: s.getBytes("UTF-8")

  /** HandshakeV10 fixture (classic protocol, mysql_native_password). */
  private def handshakeV10(seed: Array[Byte]): Array[Byte] = {
    require(seed.length == 20)
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

  test("chunks → packets → session fold → events → snapshot, surviving restart") {
    // VERDICT r6 #2: the composed loop (reference main.rs:74-130) as a
    // single streaming query — raw transport chunks through reassembly,
    // the replica bring-up state machine, the dump-phase event stream,
    // typed row decode, and the bucketed latest-image snapshot — killed
    // mid-stream (inside a packet AND inside the event run) and restarted
    // from the checkpoint, with the final snapshot equal to the batch
    // oracle replay of the same script: no loss, no duplicates.
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    import BinlogRowCodec._

    val schema = BinlogSchema.fromMysqlTypes(Seq(
      "id" -> "bigint", "name" -> "varchar(32)", "bal" -> "decimal(10,2)"))
    val seed = (1 to 20).map(_.toByte).toArray
    val ok = hx("00" + "00" + "00" + "0200" + "0000")
    val eof = hx("fe" + "0000" + "0200")

    // server side of the reference's exact bring-up conversation, then the
    // COM_BINLOG_DUMP response stream (0x00-marked whole events)
    val script = Seq(
      (WriteV2, Seq(Seq[Any](1L, "alice", "10.50"), Seq[Any](2L, "bob", "5.00"))),
      (UpdateV2, Seq(Seq[Any](1L, "alice", "10.50"), Seq[Any](1L, "alice", "99.90"))),
      (WriteV2, Seq(Seq[Any](3L, "carol", "7.00"))),
      (DeleteV2, Seq(Seq[Any](2L, "bob", "5.00"))))
    val serverPayloads: Seq[Array[Byte]] =
      Seq(handshakeV10(seed),
        (0xfe.toByte +: ("mysql_native_password".getBytes :+ 0.toByte)) ++ seed :+ 0.toByte,
        ok,  // auth result
        ok,  // checksum ack
        Array(2.toByte),                       // result set: 2 columns
        hx("deadbeef"), hx("deadbeef"),        // opaque column definitions
        eof,                                   // classic: ends col defs
        lenencStr("bin.000001") ++ lenencStr("4"),
        eof) ++                                // ends rows → dump command
        script.map { case (tpe, images) =>
          0.toByte +: encodeEvent(tpe, encodeRows(tpe, schema, images))
        }
    val bytes = serverPayloads.zipWithIndex.toArray.flatMap { case (p, i) =>
      MysqlProtocolCodec.writePacket(i % 256, p)
    }
    // 13-byte chunks: the restart cut always lands inside some packet
    val chunks = bytes.grouped(13).toSeq.zipWithIndex
      .map { case (bs, i) => ByteChunk(1L, i.toLong, bs) }

    val dir = Files.createTempDirectory("graft-e2e-wire").toString
    val in = MemoryStream[ByteChunk]
    val events = ReplicaStream.fromChunks(
      in.toDS(), MysqlReplicaSession.Config("repl", "secret", serverId = 100L))
    val decoded = events.toDF()
      .select(col("ordinal"), BinlogDecode.eventSplit(col("event")).as("h"))
      .select(col("ordinal"), col("h.event_type").as("et"),
        BinlogDecode.rows(col("h.body"), col("h.event_type"), schema).as("r"))
      .select(col("ordinal"), col("et"),
        posexplode(when(col("et") === DeleteV2, col("r.old"))
          .otherwise(col("r.data"))).as(Seq("pos", "m")))
    val keyed = decoded.select(
      (col("ordinal") * 10 + col("pos")).as("cid"),
      when(col("et") === DeleteV2, "DELETE").otherwise("INSERT").as("type"),
      element_at(col("m"), "id").cast("long").as("pk"),
      element_at(col("m"), "name").as("name"),
      element_at(col("m"), "bal").as("bal"))
    def start() = CdcSnapshot.start(keyed, Seq("pk"), "cid",
      s"$dir/snap", s"$dir/ckpt", outputMode = "append")

    // cut at ~2/3: bring-up done, event stream mid-flight
    val (a, b) = chunks.splitAt(chunks.size * 2 / 3)
    val q1 = start()
    try { in.addData(a); q1.processAllAvailable() } finally q1.stop()
    val q2 = start() // recovery: offsets + BOTH stateful stages' stores
    try { in.addData(b); q2.processAllAvailable() } finally q2.stop()

    val snap = CdcSnapshot.read(spark, s"$dir/snap")
      .select("pk", "name", "bal").orderBy("pk").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getString(2))).toSeq
    // batch oracle replay of the same script: fold latest image by hand
    assert(snap == Seq((1L, "alice", "99.90"), (3L, "carol", "7.00")))
  }

  // one table's DML across a live ALTER: TABLE_MAP(7), a v1 row, the
  // ALTER, TABLE_MAP(8), then v2 rows
  private val ddlV1 = Seq("id" -> "bigint", "name" -> "varchar(32)")
  private val ddlDump: Seq[Array[Byte]] = {
    import BinlogRowCodec._
    val s1 = BinlogSchema.fromMysqlTypes(ddlV1)
    val s2 = BinlogSchema.fromMysqlTypes(ddlV1 :+ ("bal" -> "decimal(10,2)"))
    Seq(
      encodeEvent(19, encodeTableMap(7L, "db1", "t1", s1)),
      encodeEvent(WriteV2, encodeRows(WriteV2, s1,
        Seq(Seq[Any](1L, "alice")), tableId = 7L)),
      encodeEvent(BinlogTxnCodec.QueryType, BinlogTxnCodec.encodeQuery("db1",
        "ALTER TABLE t1 ADD COLUMN bal decimal(10,2)")),
      encodeEvent(19, encodeTableMap(8L, "db1", "t1", s2)),
      encodeEvent(WriteV2, encodeRows(WriteV2, s2,
        Seq(Seq[Any](2L, "bob", "5.00")), tableId = 8L)),
      encodeEvent(UpdateV2, encodeRows(UpdateV2, s2,
        Seq(Seq[Any](1L, "alice", null), Seq[Any](1L, "alice", "99.90")),
        tableId = 8L)))
  }

  test("wire chain with a live ALTER: schema tracking survives the restart") {
    // the round-8 composition: chunks → packets → session fold →
    // SchemaStream (TABLE_MAP binding + DDL evolution in state) → typed
    // rows under each event's era schema → snapshot. The restart cut
    // lands AFTER the ALTER but before the new-era rows, so the evolved
    // column list must come back from the state store, not the batch.
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    import BinlogRowCodec._

    val v1 = ddlV1
    val seed = (1 to 20).map(_.toByte).toArray
    val ok = hx("00" + "00" + "00" + "0200" + "0000")
    val eof = hx("fe" + "0000" + "0200")

    val dumpEvents = ddlDump
    val serverPayloads: Seq[Array[Byte]] =
      Seq(handshakeV10(seed),
        (0xfe.toByte +: ("mysql_native_password".getBytes :+ 0.toByte)) ++ seed :+ 0.toByte,
        ok, ok,
        Array(2.toByte), hx("deadbeef"), hx("deadbeef"), eof,
        lenencStr("bin.000001") ++ lenencStr("4"), eof) ++
        dumpEvents.map(0.toByte +: _)
    val bytes = serverPayloads.zipWithIndex.toArray.flatMap { case (p, i) =>
      MysqlProtocolCodec.writePacket(i % 256, p)
    }
    val chunks = bytes.grouped(13).toSeq.zipWithIndex
      .map { case (bs, i) => ByteChunk(1L, i.toLong, bs) }

    val dir = Files.createTempDirectory("graft-e2e-ddl").toString
    val in = MemoryStream[ByteChunk]
    val events = ReplicaStream.fromChunks(
      in.toDS(), MysqlReplicaSession.Config("repl", "secret", serverId = 100L))
    val named = graft.streaming.SchemaStream.withSchema(events,
      Map(("db1", "t1") -> v1))
    // decode each event under ITS OWN stamped era schema — no static
    // column list appears anywhere downstream of the bootstrap
    val keyed = named.flatMap { e =>
      val h = BinlogRowCodec.decodeHeader(e.event, packetMarker = false)
      val sch = BinlogSchema.fromMysqlTypes(e.names.zip(e.mysqlTypes))
      val r = BinlogRowCodec.decodeRows(h.getBinary(6), h.getInt(1), sch)
      val imgs = r.getArray(0)
      (0 until imgs.numElements()).map { i =>
        val m = imgs.getMap(i)
        val kv = (0 until m.numElements()).map(j =>
          m.keyArray.getUTF8String(j).toString ->
            (if (m.valueArray.isNullAt(j)) null
             else m.valueArray.getUTF8String(j).toString)).toMap
        (e.ordinal * 10 + i, "INSERT", kv("id").toLong,
          kv.getOrElse("name", null), kv.getOrElse("bal", null))
      }
    }.toDF("cid", "type", "pk", "name", "bal")
    def start() = CdcSnapshot.start(keyed, Seq("pk"), "cid",
      s"$dir/snap", s"$dir/ckpt", outputMode = "append")

    // cut right after the ALTER packet: find the byte offset of the
    // TABLE_MAP(8) payload and split the chunk list before it
    val cutChunk = chunks.size * 3 / 4
    val (a, b) = chunks.splitAt(cutChunk)
    val q1 = start()
    try { in.addData(a); q1.processAllAvailable() } finally q1.stop()
    val q2 = start()
    try { in.addData(b); q2.processAllAvailable() } finally q2.stop()

    val snap = CdcSnapshot.read(spark, s"$dir/snap")
      .select("pk", "name", "bal").orderBy("pk").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getString(2))).toSeq
    assert(snap == Seq((1L, "alice", "99.90"), (2L, "bob", "5.00")))
  }

  // ---- the fused wire operator: reassembly and session fold as one ----

  private val wireConfig = MysqlReplicaSession.Config("repl", "secret", serverId = 100L)

  /** One session's server side: the bring-up, then `events` as 0x00-marked
    * dump packets; each packet framed on its own.
    */
  private def sessionFrames(events: Seq[Array[Byte]]): Seq[Array[Byte]] = {
    val seed = (1 to 20).map(_.toByte).toArray
    val ok = hx("00" + "00" + "00" + "0200" + "0000")
    val eof = hx("fe" + "0000" + "0200")
    val payloads = Seq(handshakeV10(seed),
      (0xfe.toByte +: ("mysql_native_password".getBytes :+ 0.toByte)) ++ seed :+ 0.toByte,
      ok, ok, Array(2.toByte), hx("deadbeef"), hx("deadbeef"), eof,
      lenencStr("bin.000001") ++ lenencStr("4"), eof) ++ events.map(0.toByte +: _)
    payloads.zipWithIndex.map { case (p, i) => MysqlProtocolCodec.writePacket(i % 256, p) }
  }

  /** `bytes` cut into chunks of 1..`maxChunk` bytes. */
  private def cut(session: Long, bytes: Array[Byte], rnd: scala.util.Random,
      maxChunk: Int): Seq[ByteChunk] = {
    val out = scala.collection.mutable.ArrayBuffer.empty[ByteChunk]
    var pos = 0
    while (pos < bytes.length) {
      val n = math.min(1 + rnd.nextInt(maxChunk), bytes.length - pos)
      out += ByteChunk(session, out.size.toLong,
        java.util.Arrays.copyOfRange(bytes, pos, pos + n))
      pos += n
    }
    out.toSeq
  }

  /** Reassembly then fold, sequentially: the whole stream split into
    * packets by the batch splitter and folded in order.
    */
  private def sequentialEvents(session: Long, bytes: Array[Byte])
      : Seq[(Long, Long, Seq[Byte])] = {
    val packets = MysqlProtocolCodec.splitPackets(bytes)
    var st = MysqlReplicaSession.initial(wireConfig)
    val out = scala.collection.mutable.ArrayBuffer.empty[(Long, Long, Seq[Byte])]
    (0 until packets.numElements()).foreach { i =>
      val step = MysqlReplicaSession.onPayload(st, packets.getStruct(i, 2).getBinary(1))
      step.event.foreach(e => out += ((session, out.size.toLong, e.toSeq)))
      st = step.state
    }
    out.toSeq
  }

  test("fused wire operator: one stateful operator, events equal reassembly " +
      "then fold under cross-trigger disorder and a mid-packet restart") {
    import org.apache.spark.sql.Dataset
    import org.apache.spark.sql.execution.streaming.operators.stateful.StatefulOperator
    import org.apache.spark.sql.execution.streaming.runtime.StreamingQueryWrapper
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._

    val rnd = new scala.util.Random(42)
    // events up to 3000 bytes against chunks up to 700: packets span chunks
    val frames = (0L until 3L).map(s => s -> sessionFrames(
      Seq.fill(25)(Array.fill(1 + rnd.nextInt(3000))(rnd.nextInt(256).toByte))))
    val streams = frames.map { case (s, fs) => s -> fs.toArray.flatten }
    val chunks = streams.flatMap { case (s, bs) => cut(s, bs, rnd, 700) }
    // arrival order shuffled across all sessions and four triggers: chunk
    // idx order is violated within and across triggers
    val triggers = rnd.shuffle(chunks).grouped(chunks.size / 4 + 1).toSeq
    val (before, after) = triggers.splitAt(2)
    // the restart cut lands inside a packet of some session: its
    // contiguous delivered prefix ends off every packet boundary
    val delivered = before.flatten.groupBy(_.session)
    val midPacket = frames.exists { case (s, fs) =>
      val got = delivered.getOrElse(s, Nil).map(c => c.idx -> c.bytes.length).toMap
      val prefix = Iterator.from(0).map(_.toLong).takeWhile(got.contains).map(got).sum
      !fs.scanLeft(0)(_ + _.length).contains(prefix)
    }
    assert(midPacket, "fixture: the restart must cut a packet")

    val dir = Files.createTempDirectory("graft-wire-fused").toString
    val in = MemoryStream[ByteChunk]
    val got = new java.util.concurrent.ConcurrentLinkedQueue[(Long, Long, Seq[Byte])]()
    def start() = ReplicaStream.fromChunks(in.toDS(), wireConfig)
      .writeStream.outputMode("append").option("checkpointLocation", s"$dir/ckpt")
      .foreachBatch { (b: Dataset[graft.streaming.SessionEvent], _: Long) =>
        b.collect().foreach(e => got.add((e.session, e.ordinal, e.event.toSeq)))
      }.start()
    val q1 = start()
    try {
      before.foreach { t => in.addData(t); q1.processAllAvailable() }
      val plan = q1.asInstanceOf[StreamingQueryWrapper].streamingQuery
        .lastExecution.executedPlan
      assert(plan.collect { case s: StatefulOperator => s }.size == 1, plan.toString)
      assert(q1.lastProgress.stateOperators.length == 1)
    } finally q1.stop()
    val q2 = start() // recovery: offsets + the one state store
    try after.foreach { t => in.addData(t); q2.processAllAvailable() }
    finally q2.stop()

    val want = streams.flatMap { case (s, bs) => sequentialEvents(s, bs) }
    assert(want.size == 75)
    val mine = got.toArray(Array.empty[(Long, Long, Seq[Byte])]).toSeq
    assert(mine.sortBy(e => (e._1, e._2)) == want.sortBy(e => (e._1, e._2)))
  }

  test("fused wire step: a fresh state after idle removal parses a resumed " +
      "session's bring-up instead of dropping it") {
    import graft.streaming.PacketReassembly
    val rnd = new scala.util.Random(3)
    def chunksOf(events: String*) =
      cut(7L, sessionFrames(events.map(_.getBytes("UTF-8"))).toArray.flatten, rnd, 50)
    def text(evs: Seq[graft.streaming.SessionEvent]) =
      evs.map(e => e.ordinal -> new String(e.event, "UTF-8"))

    val (st1, ev1) = ReplicaStream.step(7L, chunksOf("a", "b", "c").iterator,
      ReplicaStream.fresh(wireConfig), maxPending = 4096)
    assert(text(ev1) == Seq(0L -> "a", 1L -> "b", 2L -> "c"))
    // the session times out and reconnects: chunk idx and packet ordinals
    // restart at 0, and its state was removed as a whole
    val resumed = chunksOf("d", "e")
    val (_, ev2) = ReplicaStream.step(7L, resumed.iterator,
      ReplicaStream.fresh(wireConfig), maxPending = 4096)
    assert(text(ev2) == Seq(0L -> "d", 1L -> "e"))
    // a surviving fold half would take the bring-up as dump packets
    val (_, stale) = ReplicaStream.step(7L, resumed.iterator,
      (PacketReassembly.Fresh, st1._2), maxPending = 4096)
    assert(stale.isEmpty)
  }

  // ---- the schema fold inside the wire operator ----

  private val ddlBootstrap = Map(("db1", "t1") -> ddlV1)

  private type Stamped = (Long, Long, String, String, Seq[String], Seq[String], Int,
    Seq[Byte])

  /** A stamped event as plain values, for equality. */
  private def flat(e: graft.streaming.SchemaEvent): Stamped =
    (e.session, e.ordinal, e.db, e.table, e.names, e.mysqlTypes, e.eventType,
      e.event.toSeq)

  test("schema fold inside the wire operator: stamped events equal the " +
      "per-session schema operator across restarts at DDL, TABLE_MAP and " +
      "mid-packet cuts") {
    import org.apache.spark.sql.Dataset
    import org.apache.spark.sql.execution.streaming.operators.stateful.StatefulOperator
    import org.apache.spark.sql.execution.streaming.runtime.StreamingQueryWrapper
    import graft.streaming.{SchemaEvent, SchemaStream, SessionEvent}
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._

    val frames = sessionFrames(ddlDump)
    val bytes = frames.toArray.flatten
    // byte offset where each packet starts; dump event i is packet 10 + i
    val starts = frames.scanLeft(0)(_ + _.length)
    val cuts = Seq(
      starts(12),                      // before the ALTER
      starts(14),                      // after TABLE_MAP(8), before its row
      (starts(15) + starts(16)) / 2)   // inside the last row event's packet
    val segments = (0 +: cuts :+ bytes.length).sliding(2).toSeq.map { case Seq(a, b) =>
      bytes.slice(a, b).grouped(13).toSeq
    }
    var idx = -1L
    val triggers = segments.map(_.map { bs => idx += 1; ByteChunk(1L, idx, bs) })

    def run(dir: String, restart: Boolean)(
        build: Dataset[ByteChunk] => Dataset[SchemaEvent]): (Seq[Stamped], Int) = {
      val in = MemoryStream[ByteChunk]
      val got = new java.util.concurrent.ConcurrentLinkedQueue[Stamped]()
      def start() = build(in.toDS())
        .writeStream.outputMode("append").option("checkpointLocation", s"$dir/ckpt")
        .foreachBatch { (b: Dataset[SchemaEvent], _: Long) =>
          b.collect().foreach(e => got.add(flat(e)))
        }.start()
      var q = start()
      var stateful = 0
      try triggers.zipWithIndex.foreach { case (t, i) =>
        if (restart && i > 0) { q.stop(); q = start() }
        in.addData(t)
        q.processAllAvailable()
        stateful = q.asInstanceOf[StreamingQueryWrapper].streamingQuery
          .lastExecution.executedPlan.collect { case o: StatefulOperator => o }.size
      } finally q.stop()
      (got.toArray(Array.empty[Stamped]).toSeq.sortBy(_._2), stateful)
    }

    val (fused, fusedOps) = run(Files.createTempDirectory("graft-schema-fused").toString,
      restart = true)(in => SchemaStream.withSchema(
        ReplicaStream.fromChunks(in, wireConfig), ddlBootstrap))
    // a Dataset fromChunks did not build keeps the per-session operator
    val (reference, referenceOps) = run(
      Files.createTempDirectory("graft-schema-ref").toString, restart = false)(in =>
      SchemaStream.withSchema(ReplicaStream.fromChunks(in, wireConfig)
        .filter((_: SessionEvent) => true), ddlBootstrap))
    assert(fusedOps == 1)
    assert(referenceOps == 2)

    assert(reference.map(e => (e._2, e._5)) == Seq(
      1L -> Seq("id", "name"), 4L -> Seq("id", "name", "bal"),
      5L -> Seq("id", "name", "bal")))
    assert(fused == reference)
  }

  test("schema fold inside the wire operator: one exchange and one state " +
      "store per trigger") {
    import org.apache.spark.JobCounter
    import graft.streaming.SchemaStream
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._

    val rnd = new scala.util.Random(11)
    val in = MemoryStream[ByteChunk]
    val q = SchemaStream.withSchema(ReplicaStream.fromChunks(in.toDS(), wireConfig),
        ddlBootstrap)
      .writeStream.format("memory").queryName("wire_schema_fused")
      .outputMode("append").start()
    try {
      val all = (1L to 2L).flatMap(s => cut(s, sessionFrames(ddlDump).toArray.flatten,
        rnd, 40))
      val (cold, warm) = all.partition(c => c.idx < 10)
      in.addData(cold)
      q.processAllAvailable()
      val (_, jobs, stages) = JobCounter.countWithStages(spark.sparkContext) {
        in.addData(warm)
        q.processAllAvailable()
      }
      // one job: the source's shuffle-map stage and the stateful stage
      assert((jobs, stages) == (1, 2))
      assert(q.lastProgress.stateOperators.length == 1)
      assert(spark.table("wire_schema_fused").count() == 6)
    } finally q.stop()
  }

  test("schema fold inside the wire operator: an idle reset restarts the " +
      "connection and keeps the evolved schema") {
    import graft.streaming.{PacketReassembly, SchemaStream}
    val rnd = new scala.util.Random(5)
    def chunksOf(events: Seq[Array[Byte]]) =
      cut(7L, sessionFrames(events).toArray.flatten, rnd, 50)
    def names(evs: Seq[graft.streaming.SchemaEvent]) = evs.map(e => e.ordinal -> e.names)
    val boot = SchemaStream.initial(ddlBootstrap)
    val (fresh, fold) = ReplicaStream.fresh(wireConfig)

    // TABLE_MAP(7), a v1 row, the ALTER; then the session goes idle
    val (st1, ev1) = ReplicaStream.stepWithSchema(7L, chunksOf(ddlDump.take(3)).iterator,
      (fresh, fold, boot), maxPending = 4096)
    assert(names(ev1) == Seq(1L -> Seq("id", "name")))
    val reset = ReplicaStream.idleReset(wireConfig)(st1)
    assert(reset._1 == PacketReassembly.Fresh && reset._1.nextIdx == 0L)
    assert(reset._2.st.phase == MysqlReplicaSession.AwaitHandshake)
    assert(reset._2.eventsOut == 0L)
    assert(reset._3 == st1._3)

    // the session reconnects: chunk idx 0, a new bring-up, then the new era
    val resumed = chunksOf(ddlDump.drop(3))
    val (_, ev2) = ReplicaStream.stepWithSchema(7L, resumed.iterator, reset,
      maxPending = 4096)
    assert(names(ev2) == Seq(1L -> Seq("id", "name", "bal"),
      2L -> Seq("id", "name", "bal")))
    // a schema part reset with the rest would stamp the pre-ALTER columns
    val (_, lost) = ReplicaStream.stepWithSchema(7L, resumed.iterator,
      (fresh, fold, boot), maxPending = 4096)
    assert(names(lost).map(_._2) == Seq(Seq("id", "name"), Seq("id", "name")))
  }
}
