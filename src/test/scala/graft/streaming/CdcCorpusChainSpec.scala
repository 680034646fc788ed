package graft.streaming

import graft.SparkSpec
import graft.cdc.{BinlogRowCodec, BinlogSchema, MysqlProtocolCodec, MysqlReplicaSession}
import org.apache.spark.JobCounter
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream

/** The capstone contract: binlog BYTES in (session bring-up + WriteV2
  * row events over a documents table), curated admitted store out, equal
  * to the batch replay of the same (doc_id, text) rows through
  * [[CurationChain.ingestInto]] with the same trigger grouping. Dup
  * kinds planted across trigger lags so every curation screen fires on
  * rows that only exist as decoded wire bytes.
  */
class CdcCorpusChainSpec extends SparkSpec {

  private val columns = Seq("doc_id" -> "bigint", "text" -> "varchar(2048)")
  private val schema = BinlogSchema.fromMysqlTypes(columns)

  /** The CurationChainSpec text fixture: 80 words over an id-namespaced
    * vocabulary; `edit` swaps one mid-doc word (Jaccard ≈ 0.93, past the
    * 7/10 signature gate).
    */
  private def doc(id: Long, edit: Boolean = false): String =
    (0 until 80).map { j =>
      if (edit && j == 40) s"edited$id" else s"w${id}x$j"
    }.mkString(" ")

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

  /** Bring-up packets, then each tranche's events framed as replica
    * packets and cut into 700-byte chunks — one chunk batch per trigger.
    */
  private def framed(tranches: Seq[Seq[Array[Byte]]]): Seq[Seq[ByteChunk]] = {
    val seed = (1 to 20).map(_.toByte).toArray
    val ok = hx("00" + "00" + "00" + "0200" + "0000")
    val eof = hx("fe" + "0000" + "0200")
    val bringup: Seq[Array[Byte]] = Seq(
      handshakeV10(seed),
      (0xfe.toByte +: ("mysql_native_password".getBytes :+ 0.toByte)) ++ seed :+ 0.toByte,
      ok, ok, Array(2.toByte), hx("deadbeef"), hx("deadbeef"), eof,
      lenencStr("bin.000001") ++ lenencStr("4"), eof)
    var pktSeq = 0
    var chunkOrd = 0L
    tranches.zipWithIndex.map { case (evs, ti) =>
      val payloads =
        (if (ti == 0) bringup else Seq.empty) ++ evs.map(0.toByte +: _)
      val bytes = payloads.toArray.flatMap { p =>
        val out = MysqlProtocolCodec.writePacket(pktSeq % 256, p)
        pktSeq += 1; out
      }
      bytes.grouped(700).map { bs =>
        val c = ByteChunk(1L, chunkOrd, bs); chunkOrd += 1; c
      }.toSeq
    }
  }

  test("full-DML binlog bytes: UPDATE retires the doc's own past on the " +
      "wire path, DELETE clears corpus memory, equals the batch replay") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    import BinlogRowCodec._

    //  t0: INSERT docs 1-3
    //  t1: UPDATE 1 (light edit — needs its own retirement to admit),
    //      DELETE 2
    //  t2: INSERT 10 re-offering the DELETED doc 2's text (novel again),
    //      INSERT 11 re-offering standing doc 3's text (exact reject)
    val trancheEvents: Seq[Seq[Array[Byte]]] = Seq(
      Seq(
        encodeEvent(WriteV2, encodeRows(WriteV2, schema,
          Seq(Seq[Any](1L, doc(1)), Seq[Any](2L, doc(2)), Seq[Any](3L, doc(3)))))),
      Seq(
        encodeEvent(UpdateV2, encodeRows(UpdateV2, schema,
          Seq(Seq[Any](1L, doc(1)), Seq[Any](1L, doc(1, edit = true))))),
        encodeEvent(DeleteV2, encodeRows(DeleteV2, schema,
          Seq(Seq[Any](2L, doc(2)))))),
      Seq(
        encodeEvent(WriteV2, encodeRows(WriteV2, schema,
          Seq(Seq[Any](10L, doc(2))))),
        encodeEvent(WriteV2, encodeRows(WriteV2, schema,
          Seq(Seq[Any](11L, doc(3)))))))

    val trancheChunks = framed(trancheEvents)

    val base = java.nio.file.Files
      .createTempDirectory("graft_capstone_dml").toFile.getAbsolutePath
    val wireRoot = s"$base/wire"
    val in = MemoryStream[ByteChunk]
    val q = CdcCorpusChain.startCdc(in.toDS(),
      MysqlReplicaSession.Config("repl", "secret", serverId = 100L),
      columns, wireRoot, s"$base/ckpt")
    try {
      trancheChunks.foreach { chunk =>
        in.addData(chunk); q.processAllAvailable()
      }
    } finally q.stop()

    // the batch replay oracle: the same op tuples through ingestCdcInto
    // directly, same trigger grouping
    val batchRoot = s"$base/batch"
    val opTranches: Seq[Seq[(String, Long, Long, String)]] = Seq(
      Seq(("INSERT", 1L, 1L, doc(1)), ("INSERT", 2L, 2L, doc(2)),
        ("INSERT", 3L, 3L, doc(3))),
      Seq(("UPDATE", 1L, 1L, doc(1, edit = true)),
        ("DELETE", 2L, 2L, doc(2))),
      Seq(("INSERT", 1L, 10L, doc(2)), ("INSERT", 2L, 11L, doc(3))))
    opTranches.zipWithIndex.foreach { case (rows, ti) =>
      CurationChain.ingestCdcInto(batchRoot)(
        rows.toDF("op", "ord", "doc_id", "text"), ti.toLong)
    }

    def live(root: String) = CurationChain.readAdmitted(spark, root)
      .collect().map(r => (r.getLong(0), r.getString(1))).sortBy(_._1).toSeq
    val wire = live(wireRoot)
    assert(wire == live(batchRoot),
      "wire-fed mutable curation must equal the batch replay")
    assert(wire.map(_._1) == Seq(1L, 3L, 10L),
      s"expected 1 (updated), 3, 10 (deleted content re-admitted): $wire")
    assert(wire.find(_._1 == 1L).get._2 == doc(1, edit = true),
      "the live corpus must carry doc 1's post-UPDATE text")
  }

  test("media rides the wire: a planted image near-dup arriving AS " +
      "binlog BLOB bytes is rejected by the phash store, and a media " +
      "UPDATE retires the doc's own phash row and re-admits") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    import BinlogRowCodec._
    import graft.multimodal.ImageCodec

    val mediaColumns = Seq("doc_id" -> "bigint", "text" -> "varchar(2048)",
      "img" -> "blob")
    val mediaSchema = BinlogSchema.fromMysqlTypes(mediaColumns)

    //  t0: INSERT docs 1-2, each with its own image
    //  t1: INSERT 10 — NOVEL text but a re-encode (patch) of doc 1's
    //      image: only the phash store can reject it; INSERT 11 novel
    //  t2: UPDATE doc 1 — novel text AND a re-encode of its OWN image:
    //      the tombstone must retire doc 1's standing phash row so the
    //      update re-admits instead of being blocked by its own past
    val trancheEvents: Seq[Seq[Array[Byte]]] = Seq(
      Seq(encodeEvent(WriteV2, encodeRows(WriteV2, mediaSchema, Seq(
        Seq[Any](1L, doc(1), ImageCodec.formulaPng2(1)),
        Seq[Any](2L, doc(2), ImageCodec.formulaPng2(2)))))),
      Seq(encodeEvent(WriteV2, encodeRows(WriteV2, mediaSchema, Seq(
        Seq[Any](10L, doc(10), ImageCodec.formulaPng2(1, patch = true)),
        Seq[Any](11L, doc(11), ImageCodec.formulaPng2(11)))))),
      Seq(encodeEvent(UpdateV2, encodeRows(UpdateV2, mediaSchema, Seq(
        Seq[Any](1L, doc(1), ImageCodec.formulaPng2(1)),
        Seq[Any](1L, doc(100), ImageCodec.formulaPng2(1, patch = true)))))))

    val trancheChunks = framed(trancheEvents)

    val base = java.nio.file.Files
      .createTempDirectory("graft_capstone_media").toFile.getAbsolutePath
    val root = s"$base/wire"
    val in = MemoryStream[ByteChunk]
    val q = CdcCorpusChain.startCdc(in.toDS(),
      MysqlReplicaSession.Config("repl", "secret", serverId = 100L),
      mediaColumns, root, s"$base/ckpt", contentCol = Some("img"))
    try {
      trancheChunks.foreach { chunk =>
        in.addData(chunk); q.processAllAvailable()
      }
    } finally q.stop()

    val live = CurationChain.readAdmitted(spark, root)
      .collect().map(r => (r.getLong(0), r.getString(1))).sortBy(_._1).toSeq
    assert(live.map(_._1) == Seq(1L, 2L, 11L),
      s"10 must be rejected by the phash store (image near-dup over " +
        s"novel text), the UPDATE of 1 must re-admit: $live")
    assert(live.find(_._1 == 1L).get._2 == doc(100),
      "doc 1 must carry its post-UPDATE text")
    // the phash store holds the CURRENT image hash of doc 1 (the update
    // retired the original's row), plus 2 and 11
    val ph = CurationChain.storeRows(spark, root, "phash")
      .select("media_id").distinct().collect().map(_.getLong(0)).toSet
    val t = spark.read.parquet(s"$root/tombstones")
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert((ph -- t) == Set(1L, 2L, 11L) || ph == Set(1L, 2L, 11L),
      s"phash must track admitted media only: ph=$ph tombstoned=$t")
  }

  test("multi-table stream: TABLE_MAP-paired routing curates each table " +
      "into its own root, binding survives across triggers, per-root " +
      "screens stay independent") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    import BinlogRowCodec._

    val postCols = Seq("doc_id" -> "bigint", "text" -> "varchar(2048)")
    val comCols = Seq("cid" -> "bigint", "body" -> "varchar(2048)")
    val postSchema = BinlogSchema.fromMysqlTypes(postCols)
    val comSchema = BinlogSchema.fromMysqlTypes(comCols)
    val tmPosts = encodeEvent(19,
      encodeTableMap(5L, "app", "posts", postSchema))
    val tmComments = encodeEvent(19,
      encodeTableMap(7L, "app", "comments", comSchema))

    //  t0: both TABLE_MAPs, posts 1-2, comments 100
    //  t1: NO TABLE_MAP (binding must come from state): posts UPDATE 1,
    //      comments 101 novel + 102 = exact dup of comment 100 (the
    //      COMMENTS root's exact store must reject it), and a new post 3
    //      whose text equals comment 100's body — roots are independent,
    //      so the POSTS root must admit it
    val com = (id: Long) => doc(1000 + id)
    val trancheEvents: Seq[Seq[Array[Byte]]] = Seq(
      Seq(tmPosts, tmComments,
        encodeEvent(WriteV2, encodeRows(WriteV2, postSchema, Seq(
          Seq[Any](1L, doc(1)), Seq[Any](2L, doc(2))), tableId = 5L)),
        encodeEvent(WriteV2, encodeRows(WriteV2, comSchema, Seq(
          Seq[Any](100L, com(100))), tableId = 7L))),
      Seq(
        encodeEvent(UpdateV2, encodeRows(UpdateV2, postSchema, Seq(
          Seq[Any](1L, doc(1)), Seq[Any](1L, doc(1, edit = true))),
          tableId = 5L)),
        encodeEvent(WriteV2, encodeRows(WriteV2, comSchema, Seq(
          Seq[Any](101L, com(101)), Seq[Any](102L, com(100))),
          tableId = 7L)),
        encodeEvent(WriteV2, encodeRows(WriteV2, postSchema, Seq(
          Seq[Any](3L, com(100))), tableId = 5L))))

    val trancheChunks = framed(trancheEvents)

    val base = java.nio.file.Files
      .createTempDirectory("graft_capstone_multi").toFile.getAbsolutePath
    val in = MemoryStream[ByteChunk]
    val q = CdcCorpusChain.startCdcMulti(in.toDS(),
      MysqlReplicaSession.Config("repl", "secret", serverId = 100L),
      Seq(
        CdcCorpusChain.TableCorpus("app", "posts", postCols, s"$base/posts"),
        CdcCorpusChain.TableCorpus("app", "comments", comCols,
          s"$base/comments", idCol = "cid", textCol = "body")),
      s"$base/ckpt")
    try {
      trancheChunks.foreach { chunk =>
        in.addData(chunk); q.processAllAvailable()
      }
    } finally q.stop()

    def live(root: String) = CurationChain.readAdmitted(spark, root)
      .collect().map(r => (r.getLong(0), r.getString(1))).sortBy(_._1).toSeq
    val posts = live(s"$base/posts")
    val comments = live(s"$base/comments")
    assert(posts.map(_._1) == Seq(1L, 2L, 3L),
      s"posts routed + UPDATE applied + cross-root text admitted: $posts")
    assert(posts.find(_._1 == 1L).get._2 == doc(1, edit = true),
      "the posts root must carry post 1's updated text")
    assert(comments.map(_._1) == Seq(100L, 101L),
      s"comment 102 is an exact dup WITHIN the comments root: $comments")
    assert(posts.find(_._1 == 3L).get._2 == comments.find(_._1 == 100L).get._2,
      "the same text lives in both roots — screens are per-root")
  }

  test("binlog bytes → wire fold → decode → curation equals the batch replay") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    import BinlogRowCodec._

    // three trigger tranches of documents, one dup kind per screen:
    //  t0: 1-3 novel, 4 = exact copy of 1's text (in-batch exact dup)
    //  t1: 10 = exact re-offer of 2 (store), 11 = light edit of 3 (sig),
    //      12 novel
    //  t2: 20 = light edit of 1 at lag 2 (sig), 21 novel
    val tranches: Seq[Seq[(Long, String)]] = Seq(
      Seq(1L -> doc(1), 2L -> doc(2), 3L -> doc(3), 4L -> doc(1)),
      Seq(10L -> doc(2), 11L -> doc(3, edit = true), 12L -> doc(12)),
      Seq(20L -> doc(1, edit = true), 21L -> doc(21)))

    // one continuous wire session: bring-up once, then the tranches'
    // WriteV2 events; packet sequence and chunk ordinals run across the
    // whole session, split into tranches at payload boundaries
    val seed = (1 to 20).map(_.toByte).toArray
    val ok = hx("00" + "00" + "00" + "0200" + "0000")
    val eof = hx("fe" + "0000" + "0200")
    val bringup: Seq[Array[Byte]] = Seq(
      handshakeV10(seed),
      (0xfe.toByte +: ("mysql_native_password".getBytes :+ 0.toByte)) ++ seed :+ 0.toByte,
      ok, ok, Array(2.toByte), hx("deadbeef"), hx("deadbeef"), eof,
      lenencStr("bin.000001") ++ lenencStr("4"), eof)
    val tranchePayloads: Seq[Seq[Array[Byte]]] = tranches.zipWithIndex.map {
      case (docs, ti) =>
        val evs = docs.map { case (id, text) =>
          0.toByte +: encodeEvent(WriteV2,
            encodeRows(WriteV2, schema, Seq(Seq[Any](id, text))))
        }
        if (ti == 0) bringup ++ evs else evs
    }
    var pktSeq = 0
    var chunkOrd = 0L
    val trancheChunks: Seq[Seq[ByteChunk]] = tranchePayloads.map { payloads =>
      val bytes = payloads.toArray.flatMap { p =>
        val out = MysqlProtocolCodec.writePacket(pktSeq % 256, p)
        pktSeq += 1; out
      }
      bytes.grouped(700).map { bs =>
        val c = ByteChunk(1L, chunkOrd, bs); chunkOrd += 1; c
      }.toSeq
    }

    val base = java.nio.file.Files
      .createTempDirectory("graft_capstone").toFile.getAbsolutePath
    val wireRoot = s"$base/wire"
    val in = MemoryStream[ByteChunk]
    val q = CdcCorpusChain.start(in.toDS(),
      MysqlReplicaSession.Config("repl", "secret", serverId = 100L),
      columns, wireRoot, s"$base/ckpt")
    try {
      trancheChunks.foreach { chunk =>
        in.addData(chunk); q.processAllAvailable()
      }
    } finally q.stop()

    // the batch replay oracle: the same (doc_id, text) rows through the
    // curation body directly, same trigger grouping, no wire leg
    val batchRoot = s"$base/batch"
    tranches.zipWithIndex.foreach { case (docs, ti) =>
      CurationChain.ingestInto(batchRoot)(
        docs.toDF("doc_id", "text"), ti.toLong)
    }

    def admitted(root: String): Seq[(Long, String, String)] =
      spark.read.parquet(s"$root/admitted")
        .select("doc_id", "text", "content_hash")
        .collect()
        .map(r => (r.getLong(0), r.getString(1), r.getString(2)))
        .toSeq.sortBy(_._1)
    val wire = admitted(wireRoot)
    val batch = admitted(batchRoot)
    assert(wire == batch,
      s"wire-fed curation must equal the batch replay:\n wire=${wire.map(_._1)}" +
        s"\n batch=${batch.map(_._1)}")
    assert(wire.map(_._1) == Seq(1L, 2L, 3L, 12L, 21L),
      "every screen fired on wire-decoded rows: 4 (in-batch exact), " +
        "10 (exact store), 11 (sig), 20 (sig at lag 2) rejected")
    // the signature store compounds from wire-decoded text identically
    val sigs = CurationChain.storeRows(spark, wireRoot, "sigs")
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(sigs == Set(1L, 2L, 3L, 12L, 21L))
  }

  test("multi-table routing with an INDEXED semantic root (r14 verdict " +
      "item 4): a table declaring a vector column opts into the PQ-index " +
      "screen — a planted paraphrase rejects through the index, DELETE " +
      "tombstones its posting so the paraphrase re-admits, and the " +
      "text table routes through the chain unaffected") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    import BinlogRowCodec._

    // 8 regions × 8 angle slots in dim 16: within-region pair cosine
    // = 0.36 + 0.64·cos(30°·Δk) ≤ 0.914, cross-region ≤ 0.64 — 64
    // mutually distinct vectors under the 0.95 gate (enough to clear the
    // auto-nlist founding floor of 4·16), while a coord-nudged dup stays
    // ≈ 0.9999 above it
    def vec(region: Int, k: Int): Seq[Double] = {
      val th = math.toRadians(30.0 * k)
      Seq.tabulate(16) { j =>
        if (j == region) 0.6
        else if (j == 8) 0.8 * math.cos(th)
        else if (j == 9) 0.8 * math.sin(th)
        else 0.0
      }
    }
    def dupOf(v: Seq[Double]): Seq[Double] =
      v.zipWithIndex.map { case (x, i) => x + (if (i == 10) 0.01 else 0.0) }
    def js(v: Seq[Double]): String = v.mkString("[", ",", "]")

    val postCols = Seq("doc_id" -> "bigint", "text" -> "varchar(2048)")
    val vecCols = Seq("vec_id" -> "bigint", "text" -> "varchar(2048)",
      "emb" -> "varchar(4096)")
    val postSchema = BinlogSchema.fromMysqlTypes(postCols)
    val vecSchema = BinlogSchema.fromMysqlTypes(vecCols)
    val tmPosts = encodeEvent(19,
      encodeTableMap(5L, "app", "posts", postSchema))
    val tmVecs = encodeEvent(19,
      encodeTableMap(7L, "app", "vectors", vecSchema))

    def vrow(id: Long, v: Seq[Double]): Seq[Any] =
      Seq[Any](id, s"t$id", js(v))
    //  t0: both TABLE_MAPs; post 1; 64 founding vectors (ids 0-63 =
    //      region·8 + slot) — the index founds in t0's maintenance slot
    //  t1: vec 900 = paraphrase of vec 0 (must reject THROUGH the
    //      index), 901 novel (region 0 slot 9), DELETE vec 5; post 2
    //  t2: vec 902 = paraphrase of the DELETED vec 5 (tombstoned
    //      posting → re-admits), 903 = paraphrase of standing vec 8
    //      (still rejects)
    val trancheEvents: Seq[Seq[Array[Byte]]] = Seq(
      Seq(tmPosts, tmVecs,
        encodeEvent(WriteV2, encodeRows(WriteV2, postSchema, Seq(
          Seq[Any](1L, doc(1))), tableId = 5L))) ++
        (0 until 8).map { r =>
          encodeEvent(WriteV2, encodeRows(WriteV2, vecSchema,
            (0 until 8).map(k => vrow(r * 8L + k, vec(r, k))),
            tableId = 7L))
        },
      Seq(
        encodeEvent(WriteV2, encodeRows(WriteV2, vecSchema, Seq(
          vrow(900L, dupOf(vec(0, 0))), vrow(901L, vec(0, 9))),
          tableId = 7L)),
        encodeEvent(DeleteV2, encodeRows(DeleteV2, vecSchema, Seq(
          vrow(5L, vec(0, 5))), tableId = 7L)),
        encodeEvent(WriteV2, encodeRows(WriteV2, postSchema, Seq(
          Seq[Any](2L, doc(2))), tableId = 5L))),
      Seq(
        encodeEvent(WriteV2, encodeRows(WriteV2, vecSchema, Seq(
          vrow(902L, dupOf(vec(0, 5))), vrow(903L, dupOf(vec(1, 0)))),
          tableId = 7L))))

    val trancheChunks = framed(trancheEvents)

    val base = java.nio.file.Files
      .createTempDirectory("graft_capstone_vec").toFile.getAbsolutePath
    val vecRoot = s"$base/vecs"
    val in = MemoryStream[ByteChunk]
    val q = CdcCorpusChain.startCdcMulti(in.toDS(),
      MysqlReplicaSession.Config("repl", "secret", serverId = 100L),
      Seq(
        CdcCorpusChain.TableCorpus("app", "posts", postCols, s"$base/posts"),
        CdcCorpusChain.TableCorpus("app", "vectors", vecCols, vecRoot,
          idCol = "vec_id", embeddingCol = Some("emb"),
          indexedSemantic = true)),
      s"$base/ckpt", threshold = 0.95)
    try {
      in.addData(trancheChunks.head); q.processAllAvailable()
      assert(new java.io.File(s"$vecRoot/ivf/centroids").exists(),
        "the founding trigger must build the PQ index — the later " +
          "screens run through it, not the retrain path")
      trancheChunks.tail.foreach { chunk =>
        in.addData(chunk); q.processAllAvailable()
      }
    } finally q.stop()

    // live = corpus minus newer tombstones (vec 5's DELETE applied
    // logically; no compaction cadence ran)
    val corpus = spark.read.parquet(s"$vecRoot/corpus")
    val tomb = spark.read.parquet(s"$vecRoot/tombstones")
      .groupBy("vec_id").agg(org.apache.spark.sql.functions.max("asOf").as("asOf"))
    val liveIds = corpus.join(tomb, Seq("vec_id"), "left")
      .filter(org.apache.spark.sql.functions.col("asOf").isNull ||
        org.apache.spark.sql.functions.col("b") >=
          org.apache.spark.sql.functions.col("asOf"))
      .select("vec_id").collect().map(_.getLong(0)).toSet
    assert(!liveIds.contains(900L),
      "the standing vector's paraphrase must reject through the PQ index")
    assert(liveIds.contains(901L), "the novel vector must admit")
    assert(!liveIds.contains(5L), "the DELETE must retire vec 5")
    assert(liveIds.contains(902L),
      "the deleted vector's paraphrase must re-admit (tombstoned posting)")
    assert(!liveIds.contains(903L), "standing vectors still screen")
    assert((0L until 64L).filter(_ != 5L).forall(liveIds.contains),
      "the founding vectors stay live")
    // the text table routed through the full chain unaffected
    val posts = CurationChain.readAdmitted(spark, s"$base/posts")
      .select("doc_id").collect().map(_.getLong(0)).sorted.toSeq
    assert(posts == Seq(1L, 2L))
  }

  /** Spark jobs of the second trigger of an embedding-carrying chain on
    * a fresh root (the corpus_chain benchmark's timed shape at test
    * scale). Was 49 before the one-cell semantic model, the pinned
    * exact/sig survivors, the declared store schemas and the seeded
    * bloom fronts; 31 after them. 23 once the tombstone set and the
    * kept ids are held on the driver, the fronts are written by the
    * driver, and the sig screen's in-batch survivors are pinned.
    */
  private val SecondTriggerJobCeiling = 23

  test("a warm embedding trigger stays within its job ceiling, with every " +
      "screen still firing") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    import BinlogRowCodec._
    val cols = Seq("doc_id" -> "bigint", "text" -> "varchar(2048)",
      "embedding" -> "varchar(4096)")
    val sch = BinlogSchema.fromMysqlTypes(cols)
    val rnd = new java.util.Random(11)
    val emb: Map[Long, String] = (1L to 70L).map { id =>
      val v = Array.fill(16)(rnd.nextGaussian())
      val n = math.sqrt(v.map(x => x * x).sum)
      id -> v.map(_ / n).mkString("[", ",", "]")
    }.toMap
    def rows(rs: (Long, String, Long)*): Seq[Seq[Any]] =
      rs.map { case (id, text, e) => Seq[Any](id, text, emb(e)) }
    def write(rs: Seq[Seq[Any]]) = encodeEvent(WriteV2, encodeRows(WriteV2, sch, rs))
    //  t0: docs 1-40
    //  t1: docs 41-60 novel; 61 = doc 1's text (exact reject), 62 = a
    //      one-word edit of doc 2 (near-dup reject), 63 = doc 3's
    //      embedding under novel text (semantic reject); UPDATE doc 4
    //      (judged against the corpus minus its own past), DELETE doc 5
    val tranches = framed(Seq(
      Seq(write(rows((1L to 40L).map(i => (i, doc(i), i)): _*))),
      Seq(
        write(rows((41L to 60L).map(i => (i, doc(i), i)): _*) ++ rows(
          (61L, doc(1), 61L), (62L, doc(2, edit = true), 62L),
          (63L, doc(63), 3L))),
        encodeEvent(UpdateV2, encodeRows(UpdateV2, sch,
          rows((4L, doc(4), 4L), (4L, doc(4, edit = true), 4L)))),
        encodeEvent(DeleteV2, encodeRows(DeleteV2, sch,
          rows((5L, doc(5), 5L)))))))

    val base = java.nio.file.Files
      .createTempDirectory("graft_capstone_jobs").toFile.getAbsolutePath
    val root = s"$base/corpus"
    val in = MemoryStream[ByteChunk]
    val q = CdcCorpusChain.startCdc(in.toDS(),
      MysqlReplicaSession.Config("repl", "secret", serverId = 100L),
      cols, root, s"$base/ckpt", embeddingCol = Some("embedding"))
    val jobs = try {
      in.addData(tranches.head); q.processAllAvailable()
      val queryId = q.id.toString
      JobCounter.count(spark.sparkContext, e => Option(e.properties).exists(p =>
          p.getProperty("sql.streaming.queryId") == queryId &&
            p.getProperty("streaming.sql.batchId") == "1")) {
        in.addData(tranches(1)); q.processAllAvailable()
      }._2
    } finally q.stop()

    val live = CurationChain.readAdmitted(spark, root).collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(live.keySet == (1L to 60L).toSet - 5L,
      s"exact, near-dup and semantic rejects plus the DELETE: ${live.keySet}")
    assert(live(4L) == doc(4, edit = true))
    info(s"second trigger: $jobs Spark jobs")
    assert(jobs > 0, "the trigger's jobs must be attributed to it")
    assert(jobs <= SecondTriggerJobCeiling,
      s"the second trigger ran $jobs Spark jobs (ceiling $SecondTriggerJobCeiling)")
  }
}
