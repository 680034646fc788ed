package graft.streaming

import graft.SparkSpec

/** The composed curation trigger body: every stage fires on its own
  * planted case, admissions are judged against admitted content only,
  * and the four stores stay mutually consistent (no reject residue).
  */
class CurationChainSpec extends SparkSpec {

  /** Every chain store under `root` reads back, by footer inference,
    * exactly the columns declared in [[CurationChain.StoreSchemas]] —
    * each type equal or widening to the declared one (float embeddings,
    * int ids) — and its declared read holds the same rows.
    */
  private def assertDeclaredSchemas(root: String): Unit = {
    import org.apache.spark.sql.types._
    import org.apache.spark.sql.functions.col
    def widens(from: DataType, to: DataType): Boolean = (from, to) match {
      case (ArrayType(f, _), ArrayType(t, _)) => widens(f, t)
      case (FloatType, DoubleType) | (IntegerType, LongType) => true
      case _ => from == to
    }
    val stores = new java.io.File(root).listFiles().toSeq.filter(d =>
      d.isDirectory &&
        CurationChain.StoreSchemas.contains(d.getName.stripSuffix("_tail")))
    assert(stores.nonEmpty, s"no stores under $root")
    stores.foreach { d =>
      val declared = CurationChain.StoreSchemas(d.getName.stripSuffix("_tail"))
      val inferred = spark.read.parquet(d.getPath)
      val got = inferred.schema.map(f => f.name -> f.dataType).toMap
      assert(got.keySet == declared.fieldNames.toSet,
        s"${d.getName}: written ${got.keySet}, declared ${declared.fieldNames.toSet}")
      declared.foreach(f => assert(widens(got(f.name), f.dataType),
        s"${d.getName}.${f.name}: written ${got(f.name)}, declared ${f.dataType}"))
      val cols = declared.map(f => col(f.name).cast(f.dataType))
      val a = spark.read.schema(declared).parquet(d.getPath).select(cols: _*)
      val b = inferred.select(cols: _*)
      assert(a.exceptAll(b).isEmpty && b.exceptAll(a).isEmpty,
        s"${d.getName}: the declared read differs from the inferred one")
    }
  }

  /** 80 words over an id-namespaced vocabulary (zero shared 3-shingles
    * across ids — the TextDedupStreamSpec fixture); `edit` replaces one
    * mid-doc word: Jaccard ≈ 0.93 vs the base, past the 7/10 gate.
    */
  private def doc(id: Long, edit: Boolean = false): String =
    (0 until 80).map { j =>
      if (edit && j == 40) s"edited$id" else s"w${id}x$j"
    }.mkString(" ")

  /** Deterministic unit embedding in a 4-dim one-hot family: same `axis`
    * → cosine 1 (semantic dup), different axes → cosine 0.
    */
  private def vec(axis: Int): Array[Float] =
    Array.tabulate(4)(i => if (i == axis % 4) 1.0f else 0.0f)

  private def rows(spark: org.apache.spark.sql.SparkSession,
      data: Seq[(Long, String, Array[Float])]) = {
    val s = spark
    import s.implicits._
    data.toDF("doc_id", "text", "embedding")
  }

  test("every stage fires, stores hold admitted content only") {
    val root = java.nio.file.Files
      .createTempDirectory("graft_chain").toFile.getAbsolutePath + "/c"

    // trigger 0: a gate reject (3 words), an in-batch exact dup pair
    // (lowest id keeps), and two novel docs on distinct axes
    val b0 = rows(spark, Seq(
      (1L, "too short junk", vec(0)),
      (2L, doc(2), vec(0)),
      (3L, doc(2), vec(1)), // exact copy of 2's text — in-batch exact drop
      (4L, doc(4), vec(1))))
    CurationChain.ingestInto(root)(b0, 0L)
    val a0 = spark.read.parquet(s"$root/admitted")
      .select("doc_id").collect().map(_.getLong(0)).sorted.toSeq
    assert(a0 == Seq(2L, 4L))

    // trigger 1: one case per screen, plus one genuine novel doc —
    //  10: exact re-offer of doc 2          → exact store reject
    //  11: light edit of doc 4              → signature store reject
    //  12: novel text, doc 2's embedding    → semantic store reject
    //  13: novel text, novel axis           → admitted
    val b1 = rows(spark, Seq(
      (10L, doc(2), vec(2)),
      (11L, doc(4, edit = true), vec(2)),
      (12L, doc(12), vec(0)),
      (13L, doc(13), vec(2))))
    CurationChain.ingestInto(root)(b1, 1L)
    val a1 = spark.read.parquet(s"$root/admitted")
      .select("doc_id").collect().map(_.getLong(0)).sorted.toSeq
    assert(a1 == Seq(2L, 4L, 13L))

    // store consistency: every store grew by exactly the admitted rows —
    // the semantically-rejected doc 12 left no hash/signature residue
    // (the sig store is PRE-BANDED: 8 band rows per admitted doc)
    assert(ScreenStore.Exact.rows(spark, root).count() == 3)
    val sigIds = ScreenStore.Sigs.rows(spark, root)
      .select("doc_id").distinct().collect().map(_.getLong(0)).sorted.toSeq
    assert(sigIds == Seq(2L, 4L, 13L))
    assert(ScreenStore.Sigs.rows(spark, root).count() == 3 * 8)
    val vecIds = ScreenStore.Vecs.rows(spark, root)
      .select("vec_id").collect().map(_.getLong(0)).sorted.toSeq
    assert(vecIds == Seq(2L, 4L, 13L))
    // the bloom fronts staged through the same publish as the stores
    assert(spark.read.parquet(s"$root/bloom").count() >= 1)
    assert(spark.read.parquet(s"$root/sigbloom").count() >= 1)

    // no-residue consequence: doc 12's text is still judged against
    // ADMITTED content only — an exact copy of it two triggers later is
    // rejected by the SEMANTIC screen again (same embedding), not by a
    // leaked exact hash; prove it by re-offering with a NOVEL embedding,
    // which must now be admitted (nothing admitted holds 12's text)
    val b2 = rows(spark, Seq((20L, doc(12), vec(3))))
    CurationChain.ingestInto(root)(b2, 2L)
    val a2 = spark.read.parquet(s"$root/admitted")
      .select("doc_id").collect().map(_.getLong(0)).sorted.toSeq
    assert(a2 == Seq(2L, 4L, 13L, 20L),
      "a rejected doc's re-arrival must be re-judged, not blocked by residue")
  }

  test("18-trigger soak: planted dups of every kind rejected at any lag, " +
      "novels admitted, stores compacted and consistent", SoakTest) {
    val root = java.nio.file.Files
      .createTempDirectory("graft_chain_soak").toFile.getAbsolutePath + "/c"
    val rnd = new scala.util.Random(42)
    val s = spark
    import s.implicits._
    // high-dim one-hot axes: every novel doc gets its own axis, so only
    // planted semantic dups are ever cosine-close
    def axisVec(axis: Int): Array[Float] =
      Array.tabulate(128)(i => if (i == axis) 1.0f else 0.0f)
    // every novel doc also carries a per-id image, so the perceptual
    // store compounds alongside the text/embedding stores and its
    // planted dup kind can fire at any lag
    def img(id: Long, dup: Boolean = false): Array[Byte] =
      graft.multimodal.ImageCodec.formulaPng2(id, patch = dup)
    var nextId = 0L
    var admittedSoFar = Vector.empty[(Long, Int)] // (doc_id, axis)
    var expected = Set.empty[Long]
    (0 until 18).foreach { trig =>
      val novel = (0 until 2).map { _ =>
        val id = nextId; nextId += 1
        (id, doc(id), img(id), axisVec(id.toInt), true)
      }
      // one planted dup per kind against a RANDOM earlier admitted doc
      val dups =
        if (admittedSoFar.isEmpty) Seq.empty
        else {
          def pick() = admittedSoFar(rnd.nextInt(admittedSoFar.size))
          val (e, _) = pick(); val (t, _) = pick(); val (v, va) = pick()
          val (p, _) = pick()
          val base = 100000L + trig * 10L
          Seq(
            (base, doc(e), img(96000L + trig), axisVec(120 + trig % 8), false), // exact re-offer
            (base + 1, doc(t, edit = true), img(97000L + trig), axisVec(120 + (trig + 1) % 8), false), // light edit
            (base + 2, doc(90000L + trig), img(98000L + trig), axisVec(va), false), // semantic dup
            (base + 3, doc(95000L + trig), img(p, dup = true), axisVec(120 + (trig + 2) % 8), false)) // image near-dup
        }
      val batch = rnd.shuffle(novel ++ dups)
        .map { case (id, tx, im, em, _) => (id, tx, im, em) }
        .toDF("doc_id", "text", "content", "embedding")
      CurationChain.ingestInto(root, compactEvery = 6)(batch, trig.toLong)
      novel.foreach { case (id, _, _, _, _) =>
        admittedSoFar :+= ((id, id.toInt)); expected += id
      }
    }
    val got = spark.read.parquet(s"$root/admitted")
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(got == expected,
      s"leaked dups: ${(got -- expected).toSeq.sorted.take(10)}; " +
        s"lost novels: ${(expected -- got).toSeq.sorted.take(10)}")
    // stores mutually consistent with the admitted set — including the
    // perceptual band store: rejected docs' (novel) images left no
    // residue (phash and sigs are PRE-BANDED: 8 rows per admitted doc)
    assert(ScreenStore.Exact.rows(spark, root).count() == expected.size)
    assert(ScreenStore.Phash.rows(spark, root)
      .select("media_id").distinct().count() == expected.size)
    assert(ScreenStore.Phash.rows(spark, root).count() == 8L * expected.size)
    assert(ScreenStore.Sigs.rows(spark, root)
      .select("doc_id").distinct().count() == expected.size)
    assert(ScreenStore.Vecs.rows(spark, root).count() == expected.size)
    // compaction held on the BUCKETED layout: each trigger appends at
    // most one file per bucket its ~2 admitted docs touch (≤ 2 buckets
    // for exact/vecs, ≤ 16-24 band buckets for sigs/phash), so 18
    // uncompacted triggers would leave sigs/phash with up to ~430 leaf
    // files; the compaction at trigger 12 rewrote every store to ≤ 1
    // file per MATERIALIZED bucket (the 36 admitted docs' ~280 band
    // keys land in ≤ 256 buckets), leaving that plus 5 post-compaction
    // appends × 16
    def files(d: String): Int = {
      def leaves(f: java.io.File): Int =
        if (f.isDirectory) f.listFiles()
          .filter(x => !x.getName.startsWith("_") && !x.getName.startsWith("."))
          .map(leaves).sum
        else 1
      leaves(new java.io.File(d))
    }
    def storeFiles(st: String): Int =
      files(s"$root/$st") + (if (new java.io.File(s"$root/${st}_tail").exists())
        files(s"$root/${st}_tail") else 0)
    Seq("exact", "phash", "sigs", "vecs", "admitted").foreach { st =>
      assert(storeFiles(st) <= 256 + 5 * 16,
        s"$st fragmented: ${storeFiles(st)}")
    }
  }

  test("perceptual screen: image/audio/video near-dups rejected at any lag " +
      "through the one shared band store; undecodable media passes") {
    import graft.multimodal.{ImageCodec, PcmFixtures, VideoFixtures}
    val s = spark
    import s.implicits._
    val root = java.nio.file.Files
      .createTempDirectory("graft_chain_perc").toFile.getAbsolutePath + "/c"
    def rowsM(data: Seq[(Long, String, Array[Byte])]) =
      data.toDF("doc_id", "text", "content")

    // trigger 0: one admitted doc per modality + an in-batch image
    // near-dup pair (novel texts — only the perceptual screen can fire)
    val b0 = rowsM(Seq(
      (1L, doc(1), ImageCodec.formulaPng2(1)),
      (2L, doc(2), PcmFixtures.formulaWav2(2)),
      (3L, doc(3), VideoFixtures.neardupMjpgAvi(3)),
      (4L, doc(4), ImageCodec.formulaPng2(1, patch = true)), // in-batch image dup of 1
      (5L, doc(5), null.asInstanceOf[Array[Byte]]),          // no media: passes
      (6L, doc(6), "notmedia".getBytes)))                    // undecodable: passes
    CurationChain.ingestInto(root)(b0, 0L)
    def admitted() = spark.read.parquet(s"$root/admitted")
      .select("doc_id").collect().map(_.getLong(0)).sorted.toSeq
    assert(admitted() == Seq(1L, 2L, 3L, 5L, 6L))
    // the shared store holds one hash (8 band rows) per admitted
    // DECODABLE doc only — the rejected in-batch dup left no residue
    val ph0 = ScreenStore.Phash.rows(spark, root)
      .select("media_id").distinct().collect().map(_.getLong(0)).sorted.toSeq
    assert(ph0 == Seq(1L, 2L, 3L))

    // trigger 1: a media-less interleaved batch exercises the skip path
    CurationChain.ingestInto(root)(
      Seq((7L, doc(7))).toDF("doc_id", "text"), 1L)
    assert(admitted() == Seq(1L, 2L, 3L, 5L, 6L, 7L))

    // trigger 2: one near-dup per modality of media admitted TWO triggers
    // ago, all under novel text — only the standing band store can reject
    // them; plus one genuinely novel image
    val b2 = rowsM(Seq(
      (10L, doc(10), ImageCodec.formulaPng2(1, patch = true)),
      (11L, doc(11), PcmFixtures.formulaWav2(2, perturb = true)),
      (12L, doc(12), VideoFixtures.neardupMjpgAvi(3, perturb = true)),
      (13L, doc(13), ImageCodec.formulaPng2(13))))
    CurationChain.ingestInto(root)(b2, 2L)
    assert(admitted() == Seq(1L, 2L, 3L, 5L, 6L, 7L, 13L),
      "a re-encode of admitted media must be rejected at lag 2, any modality")
    val ph2 = ScreenStore.Phash.rows(spark, root)
      .select("media_id").distinct().collect().map(_.getLong(0)).sorted.toSeq
    assert(ph2 == Seq(1L, 2L, 3L, 13L))
    assertDeclaredSchemas(root)
  }

  test("media-less chains never create a phash store") {
    val s = spark
    import s.implicits._
    val root = java.nio.file.Files
      .createTempDirectory("graft_chain_nomedia").toFile.getAbsolutePath + "/c"
    CurationChain.ingestInto(root)(
      Seq((1L, doc(1)), (2L, doc(2))).toDF("doc_id", "text"), 0L)
    assert(spark.read.parquet(s"$root/admitted").count() == 2)
    assert(!new java.io.File(s"$root/phash").exists() &&
      !new java.io.File(s"$root/phash_tail").exists())
  }

  test("at-least-once replay: crash windows heal, committed batches no-op") {
    def admittedIds(root: String) = spark.read.parquet(s"$root/admitted")
      .select("doc_id").collect().map(_.getLong(0)).sorted.toSeq
    val clean = java.nio.file.Files
      .createTempDirectory("graft_chain_clean").toFile.getAbsolutePath + "/c"
    val root = java.nio.file.Files
      .createTempDirectory("graft_chain_replay").toFile.getAbsolutePath + "/c"
    val b0 = rows(spark, Seq((1L, doc(1), vec(0)), (2L, doc(2), vec(1))))
    // trigger 1 carries one dup of each screen kind plus two novels
    val b1 = rows(spark, Seq(
      (10L, doc(1), vec(2)),               // exact store reject
      (11L, doc(2, edit = true), vec(2)),  // signature store reject
      (12L, doc(12), vec(0)),              // semantic store reject
      (13L, doc(13), vec(2))))
    Seq(clean, root).foreach(CurationChain.ingestInto(_)(b0, 0L))

    // crash window 1 — mid-PUBLISH: batch 1 fully staged, then only the
    // exact-store file moved before the crash. This is EXACTLY the r12
    // ADVICE failure: under direct appends the replay would anti-join
    // docs 13/14 away by their own half-written hashes and drop them
    // forever. The replayed trigger must finish the publish without
    // recompute.
    CurationChain.stageBatch(root, 0.92)(b1, 1L)
    val fs = org.apache.hadoop.fs.FileSystem.get(
      spark.sparkContext.hadoopConfiguration)
    val stagedExact = new org.apache.hadoop.fs.Path(s"$root/_staged/1/exact_tail")
    // mimic StoreTxn.moveInto exactly: data files move under their
    // pb=N partition subdir with the b1- prefix (the staged exact store
    // is bucketed, so the crash residue keeps the layout)
    def moveLeaves(src: org.apache.hadoop.fs.Path,
        dst: org.apache.hadoop.fs.Path): Int = {
      fs.mkdirs(dst)
      fs.listStatus(src).map { st =>
        val n = st.getPath.getName
        if (n.startsWith("_") || n.startsWith(".")) 0
        else if (st.isDirectory)
          moveLeaves(st.getPath, new org.apache.hadoop.fs.Path(dst, n))
        else {
          require(fs.rename(st.getPath,
            new org.apache.hadoop.fs.Path(dst, s"b1-$n")))
          1
        }
      }.sum
    }
    val moved = moveLeaves(stagedExact,
      new org.apache.hadoop.fs.Path(s"$root/exact_tail"))
    assert(moved > 0, "staging must have produced exact-store files")
    CurationChain.ingestInto(root)(b1, 1L) // the replay
    CurationChain.ingestInto(clean)(b1, 1L)
    assert(admittedIds(root) == admittedIds(clean),
      "mid-publish replay must equal the uncrashed run")
    assert(admittedIds(root) == Seq(1L, 2L, 13L))
    // no half-applied residue: every store grew by exactly the admitted rows
    assert(ScreenStore.Exact.rows(spark, root).count() == 3)
    assert(ScreenStore.Sigs.rows(spark, root)
      .select("doc_id").distinct().count() == 3)
    assert(ScreenStore.Vecs.rows(spark, root).count() == 3)

    // committed replay — the engine re-delivers an already-applied batch:
    // must be a pure no-op (no double append, no store churn)
    CurationChain.ingestInto(root)(b1, 1L)
    assert(ScreenStore.Exact.rows(spark, root).count() == 3)
    assert(admittedIds(root) == Seq(1L, 2L, 13L))

    // crash window 2 — mid-STAGING: an unsealed staged dir (no _STAGED
    // marker) is residue from a crash before any store was touched; the
    // replay must discard it and recompute from scratch
    val b2 = rows(spark, Seq((20L, doc(20), vec(3)), (21L, doc(1), vec(3))))
    val staged2 = new org.apache.hadoop.fs.Path(s"$root/_staged/2/exact")
    fs.mkdirs(staged2)
    fs.create(new org.apache.hadoop.fs.Path(staged2, "part-junk.parquet"), true)
      .close()
    CurationChain.ingestInto(root)(b2, 2L)
    CurationChain.ingestInto(clean)(b2, 2L)
    assert(admittedIds(root) == admittedIds(clean))
    assert(admittedIds(root) == Seq(1L, 2L, 13L, 20L),
      "21 is an exact dup of 1; 20 must survive the discarded junk staging")
    assert(!fs.exists(new org.apache.hadoop.fs.Path(s"$root/_staged")),
      "published batches must leave no staged residue")
  }

  test("CDC ops: an UPDATE's new text screens against the corpus minus " +
      "its own retired version, DELETE clears corpus memory, the last op " +
      "per doc wins, and the cadence applies tombstones physically") {
    val s = spark
    import s.implicits._
    val root = java.nio.file.Files
      .createTempDirectory("graft_chain_cdc").toFile.getAbsolutePath + "/c"
    def ops(rows: Seq[(String, Long, Long, String)]) =
      rows.toDF("op", "ord", "doc_id", "text")
    def live() = CurationChain.readAdmitted(spark, root)
      .collect().map(r => (r.getLong(0), r.getString(1))).sortBy(_._1).toSeq

    // batch 0: three novels, plus INSERT-then-UPDATE of doc 20 in ONE
    // batch — the last op wins, so only the updated text lands
    CurationChain.ingestCdcInto(root)(ops(Seq(
      ("INSERT", 1L, 1L, doc(1)), ("INSERT", 2L, 2L, doc(2)),
      ("INSERT", 3L, 3L, doc(3)),
      ("INSERT", 4L, 20L, doc(20)), ("UPDATE", 5L, 20L, doc(21)))), 0L)
    assert(live().map(_._1) == Seq(1L, 2L, 3L, 20L))
    assert(live().find(_._1 == 20L).get._2 == doc(21), "last op wins")

    // batch 1: UPDATE doc 1 with a LIGHT EDIT of its own text — without
    // retirement the signature store rejects a doc's own new version
    // forever; DELETE doc 2
    CurationChain.ingestCdcInto(root)(ops(Seq(
      ("UPDATE", 1L, 1L, doc(1, edit = true)),
      ("DELETE", 2L, 2L, doc(2)))), 1L)
    val l1 = live()
    assert(l1.map(_._1) == Seq(1L, 3L, 20L),
      s"update must re-admit its own edit, delete must remove: $l1")
    assert(l1.find(_._1 == 1L).get._2 == doc(1, edit = true),
      "the live corpus carries the CURRENT version")

    // batch 2: a deleted doc's text re-offers as NOVEL (no ghost);
    // standing docs still screen; a near-dup of doc 1's CURRENT version
    // still rejects (retirement is not amnesia — the new version's
    // signature stands)
    CurationChain.ingestCdcInto(root)(ops(Seq(
      ("INSERT", 1L, 10L, doc(2)),              // deleted content → novel again
      ("INSERT", 2L, 11L, doc(3)),              // exact dup of standing 3
      ("INSERT", 3L, 12L, doc(1)))), 2L)        // 1 word from 1's current → sig reject
    assert(live().map(_._1) == Seq(1L, 3L, 10L, 20L))
    assertDeclaredSchemas(root) // tails and standing tombstones

    // batch 3 hits the compactEvery cadence: tombstones apply
    // PHYSICALLY — raw stores drop the retired rows, the tombstone
    // store clears, and the raw admitted parquet equals the live view
    CurationChain.ingestCdcInto(root, compactEvery = 3)(
      ops(Seq(("INSERT", 1L, 30L, doc(30)))), 3L)
    assert(!new java.io.File(s"$root/tombstones").exists(),
      "applied tombstones must clear")
    val raw = spark.read.parquet(s"$root/admitted")
      .select("doc_id").collect().map(_.getLong(0)).sorted.toSeq
    assert(raw == Seq(1L, 3L, 10L, 20L, 30L),
      s"physical apply must drop retired rows from the raw store: $raw")
    assert(ScreenStore.Exact.rows(spark, root).count() == 5)
    assert(ScreenStore.Sigs.rows(spark, root)
      .select("doc_id").distinct().count() == 5)
    assertDeclaredSchemas(root) // bucketed mains after the merge

    // post-apply consistency: the re-admitted content (id 10) is the
    // standing memory now — its text re-offered again is an exact dup
    CurationChain.ingestCdcInto(root)(ops(Seq(
      ("INSERT", 1L, 40L, doc(2)))), 4L)
    assert(live().map(_._1) == Seq(1L, 3L, 10L, 20L, 30L))
  }

  test("oversized tombstone store: the broadcast-hint guard trips, the " +
      "joins go unhinted, and the chain completes identically (r15 " +
      "verdict item 4)") {
    val s = spark
    import s.implicits._
    val root = java.nio.file.Files
      .createTempDirectory("graft_chain_tombguard").toFile.getAbsolutePath + "/c"
    def ops(rows: Seq[(String, Long, Long, String)]) =
      rows.toDF("op", "ord", "doc_id", "text")
    def live() = CurationChain.readAdmitted(spark, root)
      .select("doc_id").collect().map(_.getLong(0)).sorted.toSeq
    // a 1-byte threshold makes ANY standing tombstone store "oversized",
    // so from trigger 1 on every tombstone join must take the unhinted
    // (shuffle-capable) path — the small-churn default keeps the hint
    spark.conf.set("spark.graft.tombBroadcastMaxBytes", "1")
    try {
      CurationChain.ingestCdcInto(root)(ops(Seq(
        ("INSERT", 1L, 1L, doc(1)), ("INSERT", 2L, 2L, doc(2)))), 0L)
      // DELETE doc 1 → a standing tombstone store exists from here on
      CurationChain.ingestCdcInto(root)(ops(Seq(
        ("DELETE", 1L, 1L, doc(1)))), 1L)
      assert(live() == Seq(2L))
      // a fresh trigger screens through the oversized store: novel text
      // admits, a standing doc's exact text still rejects, the deleted
      // doc's text re-offers as novel — all through unhinted joins
      CurationChain.ingestCdcInto(root)(ops(Seq(
        ("INSERT", 1L, 3L, doc(3)), ("INSERT", 2L, 4L, doc(2)),
        ("INSERT", 3L, 5L, doc(1)))), 2L)
      assert(live() == Seq(2L, 3L, 5L),
        "screens must behave identically with the hint guard tripped")
      // the physical apply (store rewrites join the same tombstone set)
      // also completes unhinted
      CurationChain.applyTombstones(spark, root)
      assert(!new java.io.File(s"$root/tombstones").exists())
      val raw = spark.read.parquet(s"$root/admitted")
        .select("doc_id").collect().map(_.getLong(0)).sorted.toSeq
      assert(raw == Seq(2L, 3L, 5L), s"physical apply diverged: $raw")
    } finally spark.conf.unset("spark.graft.tombBroadcastMaxBytes")
  }

  test("the driver-held tombstone set and the distributed tombstone join " +
      "admit the same docs after every trigger") {
    val s = spark
    import s.implicits._
    def axis(a: Int): Array[Float] = Array.tabulate(8)(i => if (i == a) 1.0f else 0.0f)
    def ops(rows: Seq[(String, Long, Long, String, Array[Float])]) =
      rows.toDF("op", "ord", "doc_id", "text", "embedding")
    // every screen meets a retired row: an UPDATE re-offers its own
    // embedding and edited text, a DELETEd doc's text and embedding
    // re-offer as novel, standing docs still reject
    val batches = Seq(
      Seq(("INSERT", 1L, 1L, doc(1), axis(1)), ("INSERT", 2L, 2L, doc(2), axis(2)),
        ("INSERT", 3L, 3L, doc(3), axis(3)), ("INSERT", 4L, 4L, doc(4), axis(4))),
      Seq(("UPDATE", 1L, 1L, doc(1, edit = true), axis(1)),
        ("DELETE", 2L, 2L, doc(2), axis(2)),
        ("INSERT", 3L, 5L, doc(3), axis(5)),  // exact dup of 3
        ("INSERT", 4L, 6L, doc(6), axis(4))), // semantic dup of 4
      Seq(("INSERT", 1L, 7L, doc(2), axis(2)), // deleted content: novel
        ("INSERT", 2L, 8L, doc(1), axis(6)),   // near-dup of 1's edit
        ("UPDATE", 3L, 3L, doc(3), axis(3)),   // re-offers itself
        ("DELETE", 4L, 4L, doc(4), axis(4))),
      Seq(("INSERT", 1L, 9L, doc(9), axis(4)), // 4's embedding, 4 deleted
        ("INSERT", 2L, 10L, doc(2), axis(7)))) // exact dup of 7
    val expected = Seq(Seq(1L, 2L, 3L, 4L), Seq(1L, 3L, 4L), Seq(1L, 3L, 7L),
      Seq(1L, 3L, 7L, 9L))
    val base = java.nio.file.Files
      .createTempDirectory("graft_chain_tombparity").toFile.getAbsolutePath
    def live(root: String) = CurationChain.readAdmitted(spark, root)
      .collect().map(r => (r.getLong(0), r.getString(1))).sortBy(_._1).toSeq
    batches.zip(expected).zipWithIndex.foreach { case ((b, want), i) =>
      CurationChain.ingestCdcInto(s"$base/held")(ops(b), i.toLong)
      // a 1-byte threshold trips the guard once a standing store exists
      spark.conf.set(CorpusRoot.TombBroadcastMaxBytesKey, "1")
      try CurationChain.ingestCdcInto(s"$base/joined")(ops(b), i.toLong)
      finally spark.conf.unset(CorpusRoot.TombBroadcastMaxBytesKey)
      val held = live(s"$base/held")
      assert(held == live(s"$base/joined"), s"trigger $i diverged")
      assert(held.map(_._1) == want, s"trigger $i")
    }
  }

  test("a semantic reject leaves no sig-store row and no sig-front key") {
    val root = java.nio.file.Files
      .createTempDirectory("graft_chain_semres").toFile.getAbsolutePath + "/c"
    CurationChain.ingestInto(root)(
      rows(spark, Seq((2L, doc(2), vec(0)), (4L, doc(4), vec(1)))), 0L)
    // 12: novel text (passes the sig screen), doc 2's embedding
    CurationChain.ingestInto(root)(
      rows(spark, Seq((12L, doc(12), vec(0)), (13L, doc(13), vec(2)))), 1L)
    val tailIds = spark.read.parquet(s"$root/sigs_tail")
      .select("doc_id").distinct().collect().map(_.getLong(0)).sorted.toSeq
    assert(tailIds == Seq(2L, 4L, 13L))

    import org.apache.spark.sql.functions.col
    val P = StoreLayout.ensureLayout(spark, root, Nil)
    def bandKeys(id: Long, text: String) = TextDedupStream.bandRows(
        TextDedupStream.signatures(rows(spark, Seq((id, text, vec(0))))), "doc_id")
      .select(StoreLayout.keyHash(col("band"), col("bh")).as("__h"))
      .withColumn("pb", StoreLayout.bucketOf(col("__h"), P))
    def inFront(keys: org.apache.spark.sql.DataFrame): Long =
      StoreLayout.bloomScreen(spark, s"$root/sigbloom", keys).get.count()
    assert(inFront(bandKeys(13L, doc(13))) == 8, "an admitted doc's band keys are fronted")
    assert(inFront(bandKeys(12L, doc(12))) == 0, "the rejected doc's band keys are not")
  }

  test("CDC media ops: a re-encoded image UPDATE retires the doc's own " +
      "phash row and re-admits, DELETE clears perceptual memory, and " +
      "the cadence applies tombstones to the band store physically") {
    import graft.multimodal.ImageCodec
    val s = spark
    import s.implicits._
    val root = java.nio.file.Files
      .createTempDirectory("graft_chain_cdc_media").toFile.getAbsolutePath + "/c"
    def ops(rows: Seq[(String, Long, Long, String, Array[Byte])]) =
      rows.toDF("op", "ord", "doc_id", "text", "content")
    def liveIds() = CurationChain.readAdmitted(spark, root)
      .collect().map(_.getLong(0)).sorted.toSeq

    // batch 0: two docs, each with its own image
    CurationChain.ingestCdcInto(root)(ops(Seq(
      ("INSERT", 1L, 1L, doc(1), ImageCodec.formulaPng2(1)),
      ("INSERT", 2L, 2L, doc(2), ImageCodec.formulaPng2(2)))), 0L)
    assert(liveIds() == Seq(1L, 2L))

    // batch 1: UPDATE doc 1 — novel text AND a re-encode of its OWN
    // image: without phash retirement the doc is forever rejected as a
    // near-dup of its own past; INSERT 10 re-encoding doc 2's STANDING
    // image under novel text must still reject
    CurationChain.ingestCdcInto(root)(ops(Seq(
      ("UPDATE", 1L, 1L, doc(100), ImageCodec.formulaPng2(1, patch = true)),
      ("INSERT", 2L, 10L, doc(10), ImageCodec.formulaPng2(2, patch = true)))), 1L)
    assert(liveIds() == Seq(1L, 2L),
      "the media UPDATE must re-admit through its own retirement; " +
        "10 must reject against standing media")

    // batch 2: DELETE doc 2 clears its perceptual memory — a re-encode
    // of its image under a fresh id is novel again
    CurationChain.ingestCdcInto(root)(ops(Seq(
      ("DELETE", 1L, 2L, doc(2), null.asInstanceOf[Array[Byte]]),
      ("INSERT", 2L, 11L, doc(11), ImageCodec.formulaPng2(2, patch = true)))), 2L)
    assert(liveIds() == Seq(1L, 11L),
      "deleted media must not ghost-block its re-encode")

    // batch 3 hits the cadence: the phash store physically drops doc 1's
    // retired original row and doc 2's rows
    CurationChain.ingestCdcInto(root, compactEvery = 3)(ops(Seq(
      ("INSERT", 1L, 30L, doc(30), ImageCodec.formulaPng2(30)))), 3L)
    val ph = ScreenStore.Phash.rows(spark, root)
    val phIds = ph.select("media_id").distinct()
      .collect().map(_.getLong(0)).sorted.toSeq
    assert(phIds == Seq(1L, 11L, 30L), s"physical apply: $phIds")
    assert(ph.count() == 3 * 8,
      "one banded hash (8 rows) per live media doc — retired rows gone")

    // post-apply: the re-admitted image (11) is the standing memory —
    // another re-encode of it rejects
    CurationChain.ingestCdcInto(root)(ops(Seq(
      ("INSERT", 1L, 40L, doc(40), ImageCodec.formulaPng2(2)))), 4L)
    assert(liveIds() == Seq(1L, 11L, 30L))
  }

  test("20-trigger mutable soak: random INSERT/UPDATE/DELETE stream " +
      "tracks an oracle model exactly, including updates that fail " +
      "curation and remove their doc", SoakTest) {
    val s = spark
    import s.implicits._
    val root = java.nio.file.Files
      .createTempDirectory("graft_chain_mut_soak").toFile.getAbsolutePath + "/c"
    val rnd = new scala.util.Random(1313)
    // versioned text: one mid-doc word per version over an id-namespaced
    // vocabulary — any two versions of one doc are 1-word near-dups
    // (past the 7/10 sig gate), distinct ids never collide
    def text(id: Long, v: Int): String =
      (0 until 80).map { j =>
        if (v > 0 && j == 40) s"edited${id}v$v" else s"w${id}x$j"
      }.mkString(" ")
    def ops(rows: Seq[(String, Long, Long, String)]) =
      rows.toDF("op", "ord", "doc_id", "text")

    var nextId = 0L
    // the oracle model of the live corpus: doc_id → (version, text)
    val model = scala.collection.mutable.Map.empty[Long, (Int, String)]
    val deletedTexts = scala.collection.mutable.ArrayBuffer.empty[String]
    (0 until 20).foreach { trig =>
      val batch = Seq.newBuilder[(String, Long, Long, String)]
      var ord = 0L
      def add(op: String, id: Long, t: String): Unit = {
        ord += 1; batch += ((op, ord, id, t))
      }
      // pre-batch standing docs ONLY: same-batch novels must not be
      // mutation targets, or the in-batch first-of-hash tiebreak and the
      // oracle model diverge on engineered collisions
      val standing = model.keys.toSeq.sorted
      // two novels per trigger
      (0 until 2).foreach { _ =>
        val id = nextId; nextId += 1
        add("INSERT", id, text(id, 0)); model(id) = (0, text(id, 0))
      }
      if (standing.size >= 8) {
        // five DISTINCT standing docs, one per role — overlapping roles
        // (e.g. the copied victim deleted in the same batch) change the
        // expected outcome and are covered by the targeted CDC-ops spec
        val Seq(u, bad, victim, d, r) =
          rnd.shuffle(standing).take(5).toSeq
        // self-edit UPDATE: retires its own past, re-admits the new text
        val nv = model(u)._1 + 1
        add("UPDATE", u, text(u, nv)); model(u) = (nv, text(u, nv))
        // UPDATE whose new text copies ANOTHER standing doc — fails the
        // exact screen, so the doc is REMOVED from the corpus entirely
        add("UPDATE", bad, model(victim)._2)
        model.remove(bad)
        // DELETE a standing doc; remember its text for later re-offer
        add("DELETE", d, model(d)._2)
        deletedTexts += model(d)._2; model.remove(d)
        // exact re-offer of a standing doc under a fresh id: rejected
        add("INSERT", 500000L + trig, model(r)._2)
        // re-offer of DELETED content under a fresh id: novel again
        if (deletedTexts.nonEmpty && trig % 3 == 0) {
          val t = deletedTexts.remove(0)
          // only if nothing live still matches it (a removed-update's
          // source may have re-admitted equal content)
          if (!model.values.exists(_._2 == t)) {
            val id = 600000L + trig
            add("INSERT", id, t); model(id) = (0, t)
          }
        }
      }
      CurationChain.ingestCdcInto(root, compactEvery = 5)(
        ops(batch.result()), trig.toLong)
    }
    val live = CurationChain.readAdmitted(spark, root)
      .collect().map(r => (r.getLong(0), r.getString(1))).toMap
    val expect = model.map { case (id, (_, t)) => id -> t }.toMap
    assert(live.keySet == expect.keySet,
      s"leaked: ${(live.keySet -- expect.keySet).toSeq.sorted.take(10)}; " +
        s"lost: ${(expect.keySet -- live.keySet).toSeq.sorted.take(10)}")
    live.foreach { case (id, t) =>
      assert(t == expect(id), s"doc $id text diverged from the model")
    }
    // the cadence applied: after trigger 15's apply + later triggers'
    // tombstones, the raw store holds at most the post-apply retirees
    assert(!new java.io.File(s"$root/tombstones").exists() ||
      spark.read.parquet(s"$root/tombstones").count() <= 15,
      "tombstones must drain on the cadence")
  }

  test("vec cell layout: founds past the floor on the cadence, the " +
      "screen probes pruned cell partitions, semantic dups still reject " +
      "at lag, and a drift re-found keeps decisions unchanged") {
    val s = spark
    import s.implicits._
    val root = java.nio.file.Files
      .createTempDirectory("graft_chain_cells").toFile.getAbsolutePath + "/c"
    def axisVec(axis: Int): Array[Float] =
      Array.tabulate(64)(i => if (i == axis) 1.0f else 0.0f)
    def df(rows: Seq[(Long, String, Array[Float])]) =
      rows.toDF("doc_id", "text", "embedding")
    val body = CurationChain.ingestInto(root, compactEvery = 2,
      vecCellFloor = 8, vecNprobe = 2) _
    def admitted() = spark.read.parquet(s"$root/admitted")
      .select("doc_id").collect().map(_.getLong(0)).sorted.toSeq

    // triggers 0-1: 12 novels on distinct axes — store passes the floor
    body(df((0 until 6).map(i => (i.toLong, doc(i), axisVec(i)))), 0L)
    body(df((6 until 12).map(i => (i.toLong, doc(i), axisVec(i)))), 1L)
    assert(!new java.io.File(s"$root/vec_cells").exists(),
      "founding waits for the compaction cadence")

    // trigger 2 hits the cadence: cells found, store repartitioned
    body(df(Seq((12L, doc(12), axisVec(12)))), 2L)
    assert(new java.io.File(s"$root/vec_cells/centroids").exists())
    val cellDirs = new java.io.File(s"$root/vecs").listFiles()
      .map(_.getName).filter(_.startsWith("cell=")).toSeq
    assert(cellDirs.size >= 2,
      s"the founded store must be cell-partitioned: $cellDirs")

    // trigger 3: a semantic dup of a doc admitted BEFORE founding (novel
    // text, same axis) must reject through the pruned probe path; a
    // novel axis admits
    body(df(Seq(
      (100L, doc(100), axisVec(3)),
      (101L, doc(101), axisVec(40)))), 3L)
    assert(admitted() == ((0L until 13L) :+ 101L),
      s"dup of axis 3 must reject through the founded screen: ${admitted()}")

    // trigger 4 (cadence): maintenance re-runs without drift — a no-op
    // re-check — then a post-founding dup (of the doc admitted THROUGH
    // the founded screen) still rejects and a novel still admits
    body(df(Seq(
      (102L, doc(102), axisVec(40)),
      (103L, doc(103), axisVec(50)))), 4L)
    assert(admitted() == ((0L until 13L) :+ 101L :+ 103L))
  }

  test("vec cell drift: a hot append family trips the re-found, the OLD " +
      "centroids retire cleanly, and admit decisions are unchanged") {
    val s = spark
    import s.implicits._
    val root = java.nio.file.Files
      .createTempDirectory("graft_chain_refound").toFile.getAbsolutePath + "/c"
    def axisVec(axis: Int): Array[Float] =
      Array.tabulate(64)(i => if (i == axis) 1.0f else 0.0f)
    def df(rows: Seq[(Long, String, Array[Float])]) =
      rows.toDF("doc_id", "text", "embedding")
    val body = CurationChain.ingestInto(root, compactEvery = 2,
      vecCellFloor = 8, vecNprobe = 2, vecRebuildFactor = 1.5) _
    def centroidCount(): Int = graft.llm.Similarity
      .readIvfCentroids(spark, s"$root/vec_cells").length

    // triggers 0-2: 13 novels on axes 0-12 — founding at the trigger-2
    // cadence (nlist = ceil(√13) = 4)
    body(df((0 until 6).map(i => (i.toLong, doc(i), axisVec(i)))), 0L)
    body(df((6 until 12).map(i => (i.toLong, doc(i), axisVec(i)))), 1L)
    body(df(Seq((12L, doc(12), axisVec(12)))), 2L)
    val nlist0 = centroidCount()
    assert(nlist0 >= 2)

    // trigger 3: a HOT family on axes the founding quantizer never saw —
    // every vector's dot with every centroid ties at ~0, so the frozen
    // assignment lands them all in ONE cell; with 10 of 24 rows there,
    // the hottest share (≥ 41%) clears 1.5× fair (37.5% at nlist=4)
    body(df((0 until 10).map(i =>
      (100L + i, doc(100 + i), axisVec(40 + i)))), 3L)

    // trigger 4 hits the cadence: the drift check fires and the
    // re-found RETIRES the old centroids (the rename branch founding
    // never exercises), retrains over all 23 docs, and rewrites cells
    body(df(Seq((200L, doc(200), axisVec(60)))), 4L)
    assert(new java.io.File(s"$root/vec_cells/centroids").exists(),
      "the re-found must publish fresh centroids")
    assert(!new java.io.File(s"$root/vec_cells_old").exists() &&
      !new java.io.File(s"$root/vec_cells_tmp").exists(),
      "the re-found must leave no retired/tmp residue")

    // decisions unchanged across the re-found: dups of docs admitted in
    // every phase (pre-founding, hot family, post-re-found) reject
    // through the refreshed screen; a novel axis admits
    body(df(Seq(
      (300L, doc(300), axisVec(3)),    // dup of pre-founding doc 3
      (301L, doc(301), axisVec(45)),   // dup of hot-family doc 105
      (302L, doc(302), axisVec(60)),   // dup of post-re-found doc 200
      (303L, doc(303), axisVec(63)))), 5L)
    val admitted = spark.read.parquet(s"$root/admitted")
      .select("doc_id").collect().map(_.getLong(0)).sorted.toSeq
    assert(!admitted.contains(300L) && !admitted.contains(301L) &&
      !admitted.contains(302L),
      s"semantic dups must reject across the re-found: $admitted")
    assert(admitted.contains(303L))
  }

  test("a checkpoint reset (batchId below the latest commit) fails " +
      "loudly instead of silently retiring re-admitted rows") {
    val s = spark
    import s.implicits._
    val root = java.nio.file.Files
      .createTempDirectory("graft_chain_guard").toFile.getAbsolutePath + "/c"
    CurationChain.ingestInto(root)(
      Seq((1L, doc(1))).toDF("doc_id", "text"), 5L)
    val e = intercept[IllegalStateException] {
      CurationChain.ingestInto(root)(
        Seq((2L, doc(2))).toDF("doc_id", "text"), 0L)
    }
    assert(e.getMessage.contains("checkpoint"))
    // the replay of the COMMITTED id stays a legitimate no-op
    CurationChain.ingestInto(root)(
      Seq((1L, doc(1))).toDF("doc_id", "text"), 5L)
    assert(spark.read.parquet(s"$root/admitted").count() == 1)
  }

  test("budget stage: per-source token budgets exhaust across triggers, " +
      "skip semantics admit a later smaller doc, and a budget-rejected " +
      "doc leaves no store residue") {
    val s = spark
    import s.implicits._
    val root = java.nio.file.Files
      .createTempDirectory("graft_chain_budget").toFile.getAbsolutePath + "/c"
    // doc() is 80 words; docN makes an n-word doc on the same namespace
    def docN(id: Long, n: Int): String =
      (0 until n).map(j => s"w${id}x$j").mkString(" ")
    def df(rows: Seq[(Long, String, String)]) =
      rows.toDF("doc_id", "text", "source")
    val body = CurationChain.ingestInto(root,
      budgets = Map("web" -> 200L, "books" -> 1000L)) _
    def admitted() = spark.read.parquet(s"$root/admitted")
      .select("doc_id").collect().map(_.getLong(0)).sorted.toSeq

    // trigger 0: web docs 1-3 at 80 tokens each — 3 breaks the 200
    // budget (80+80+80); books doc 4 rides its own budget
    body(df(Seq(
      (1L, doc(1), "web"), (2L, doc(2), "web"), (3L, doc(3), "web"),
      (4L, doc(4), "books"))), 0L)
    assert(admitted() == Seq(1L, 2L, 4L))
    // NO residue for the budget-rejected doc 3: the stores are the
    // corpus's memory, and doc 3 never joined the corpus
    assert(ScreenStore.Exact.rows(spark, root).count() == 3)
    assert(ScreenStore.Sigs.rows(spark, root)
      .select("doc_id").distinct().count() == 3)

    // trigger 1: the web budget carries ACROSS triggers (160 used):
    // doc 5 (80w) no longer fits, but doc 7 (40w) still does — the
    // first-come-first-served-with-skip contract; and doc 3's text
    // re-offers under books, proving no ghost blocked it
    body(df(Seq(
      (5L, doc(5), "web"),
      (6L, doc(6), "books"),
      (7L, docN(7, 40), "web"),
      (8L, doc(3), "books"))), 1L)
    assert(admitted() == Seq(1L, 2L, 4L, 6L, 7L, 8L),
      s"5 over budget, 7 fits by skip, 8 re-admits rejected content: ${admitted()}")
    // the budget store carries the spent totals exactly
    val spent = spark.read.parquet(s"$root/budget")
      .groupBy("source").sum("toks")
      .collect().map(r => (r.getString(0), r.getLong(1))).toMap
    assert(spent == Map("web" -> 200L, "books" -> 240L), spent.toString)
    assertDeclaredSchemas(root)
  }

  test("budget × mutable corpus: retirement never refunds — a self-edit " +
      "UPDATE charges its source twice and a DELETE releases nothing " +
      "(the conservative corpus-construction contract, proven not prose)") {
    val s = spark
    import s.implicits._
    val root = java.nio.file.Files
      .createTempDirectory("graft_chain_budcdc").toFile.getAbsolutePath + "/c"
    def docN(id: Long, n: Int): String =
      (0 until n).map(j => s"w${id}x$j").mkString(" ")
    def ops(rows: Seq[(String, Long, Long, String, String)]) =
      rows.toDF("op", "ord", "doc_id", "text", "source")
    val body = CurationChain.ingestCdcInto(root,
      budgets = Map("web" -> 200L)) _
    def spent() = spark.read.parquet(s"$root/budget")
      .groupBy("source").sum("toks")
      .collect().map(r => (r.getString(0), r.getLong(1))).toMap
    def liveIds() = CurationChain.readAdmitted(spark, root)
      .select("doc_id").collect().map(_.getLong(0)).sorted.toSeq

    // t0: doc 1 (80w) + doc 2 (40w) — web spends 120 of 200
    body(ops(Seq(
      ("INSERT", 1L, 1L, doc(1), "web"),
      ("INSERT", 2L, 2L, docN(2, 40), "web"))), 0L)
    assert(liveIds() == Seq(1L, 2L))
    assert(spent() == Map("web" -> 120L), spent().toString)

    // t1: doc 1 SELF-EDITS (80w again). The tombstone retires its old
    // rows, the new text re-offers and re-admits — and the budget
    // charges AGAIN: retirement never refunds, so web is now at 200
    body(ops(Seq(
      ("UPDATE", 1L, 1L, doc(1, edit = true), "web"))), 1L)
    assert(liveIds() == Seq(1L, 2L),
      "the self-edit must re-admit through its own retirement")
    assert(CurationChain.readAdmitted(spark, root)
      .filter(org.apache.spark.sql.functions.col("doc_id") === 1L)
      .select("text").head.getString(0) == doc(1, edit = true),
      "the live text is the UPDATE's version")
    assert(spent() == Map("web" -> 200L),
      s"the self-edit double-charges its source (no refund): ${spent()}")

    // t2: the double-charge is REAL budget pressure — a 40-word doc that
    // would fit under refund semantics (old 80 returned → 80 free) is
    // rejected because the budget is exhausted at 200/200
    body(ops(Seq(("INSERT", 1L, 3L, docN(3, 40), "web"))), 2L)
    assert(liveIds() == Seq(1L, 2L),
      "doc 3 must reject — the retired version's tokens stay spent")
    assert(spent() == Map("web" -> 200L))

    // t3: DELETE releases nothing either — doc 2's 40 tokens stay spent
    // and the next 40-word offer still rejects
    body(ops(Seq(
      ("DELETE", 1L, 2L, docN(2, 40), "web"),
      ("INSERT", 2L, 4L, docN(4, 40), "web"))), 3L)
    assert(liveIds() == Seq(1L),
      "doc 2 deleted; doc 4 rejected — DELETE refunds nothing")
    assert(spent() == Map("web" -> 200L), spent().toString)
  }

  test("text-only batches skip the semantic stage") {
    val s = spark
    import s.implicits._
    val root = java.nio.file.Files
      .createTempDirectory("graft_chain_txt").toFile.getAbsolutePath + "/c"
    val b0 = Seq((1L, doc(1)), (2L, doc(2))).toDF("doc_id", "text")
    CurationChain.ingestInto(root)(b0, 0L)
    val b1 = Seq((3L, doc(1, edit = true)), (4L, doc(40))).toDF("doc_id", "text")
    CurationChain.ingestInto(root)(b1, 1L)
    val ids = spark.read.parquet(s"$root/admitted")
      .select("doc_id").collect().map(_.getLong(0)).sorted.toSeq
    assert(ids == Seq(1L, 2L, 4L)) // 3 rejected by the signature screen
    assert(!new java.io.File(s"$root/vecs").exists() &&
      !new java.io.File(s"$root/vecs_tail").exists())
  }

  test("coded semantic screen: founding publishes codebooks + coded " +
      "postings, an OUT-OF-DISTRIBUTION dup rejects via the per-posting " +
      "margin, and vecPq=false (raw probe) reaches identical decisions") {
    val s = spark
    import s.implicits._
    def axisVec(axis: Int): Array[Float] =
      Array.tabulate(64)(i => if (i == axis) 1.0f else 0.0f)
    def df(rows: Seq[(Long, String, Array[Float])]) =
      rows.toDF("doc_id", "text", "embedding")
    def run(vecPq: Boolean): (String, Seq[Long]) = {
      val root = java.nio.file.Files
        .createTempDirectory("graft_chain_pq").toFile.getAbsolutePath + "/c"
      val body = CurationChain.ingestInto(root, compactEvery = 2,
        vecCellFloor = 8, vecNprobe = 2) _
      body(df((0 until 6).map(i => (i.toLong, doc(i), axisVec(i)))), 0L)
      body(df((6 until 12).map(i => (i.toLong, doc(i), axisVec(i)))), 1L)
      body(df(Seq((12L, doc(12), axisVec(12)))), 2L) // cadence: founds
      // the raw arm: the founded root loses its codebooks and coded
      // postings, the shape of a root founded before the coded layout,
      // so the screens take the raw cell probe
      if (!vecPq) Seq("vec_cells/codebooks", "vecpq").foreach(d =>
        org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(s"$root/$d")))
      // axis 40 is OUTSIDE the founding distribution (its subspace was
      // all-zero in training, so its posting decodes to ~0 there, ADC
      // error ~1): a calibrated GLOBAL margin measured on the founding
      // corpus would read ~0 and silently admit 102 below
      body(df(Seq(
        (100L, doc(100), axisVec(3)),      // dup of pre-founding doc 3
        (101L, doc(101), axisVec(40)))), 3L) // novel OOD — admits
      body(df(Seq(
        (102L, doc(102), axisVec(40)),     // dup of the OOD tail posting
        (103L, doc(103), axisVec(50)))), 4L) // novel — exact verify clears
      (root, spark.read.parquet(s"$root/admitted").select("doc_id")
        .collect().map(_.getLong(0)).sorted.toSeq)
    }
    val (pqRoot, pqAdmitted) = run(vecPq = true)
    assert(new java.io.File(s"$pqRoot/vec_cells/codebooks").exists(),
      "founding must publish the PQ codebooks with the centroids")
    assert(new java.io.File(s"$pqRoot/vec_cells/calib").exists())
    assert(pqAdmitted == ((0L until 13L) :+ 101L :+ 103L),
      s"OOD dup must reject through the per-posting margin: $pqAdmitted")
    // the coded postings cover the raw store row-for-row
    val vecIds = ScreenStore.Vecs.rows(spark, pqRoot)
      .select("vec_id").collect().map(_.getLong(0)).sorted.toSeq
    val pq = ScreenStore.VecPq.rows(spark, pqRoot)
    val pqIds = pq.select("vec_id").collect().map(_.getLong(0)).sorted.toSeq
    assert(vecIds == pqIds,
      s"coded postings must cover the raw store: $vecIds vs $pqIds")
    // the margin IS the quantization-error bound: ~0 for rows the
    // codebooks were trained on, large for the out-of-distribution rows
    val mrgByAxis = pq.select("vec_id", "mrg").collect()
      .map(r => (r.getLong(0), r.getDouble(1))).toMap
    assert(mrgByAxis(3L) < 0.1, s"in-distribution mrg: ${mrgByAxis(3L)}")
    assert(mrgByAxis(101L) > 0.5, s"OOD mrg must be large: ${mrgByAxis(101L)}")
    val (_, rawAdmitted) = run(vecPq = false)
    assert(rawAdmitted == pqAdmitted,
      s"raw and coded screens must agree: $rawAdmitted vs $pqAdmitted")
  }

  test("coded semantic screen x CDC: UPDATE/DELETE retire postings " +
      "in-trigger, retired vectors unblock re-offers, and the cadence " +
      "drops retired postings physically") {
    val s = spark
    import s.implicits._
    def axisVec(axis: Int): Array[Float] =
      Array.tabulate(64)(i => if (i == axis) 1.0f else 0.0f)
    def ops(rows: Seq[(String, Long, Long, String, Array[Float])]) =
      rows.toDF("op", "ord", "doc_id", "text", "embedding")
    val root = java.nio.file.Files
      .createTempDirectory("graft_chain_pq_cdc").toFile.getAbsolutePath + "/c"
    val body = CurationChain.ingestCdcInto(root, compactEvery = 2,
      vecCellFloor = 8, vecNprobe = 2) _
    def live() = CurationChain.readAdmitted(spark, root)
      .select("doc_id").collect().map(_.getLong(0)).sorted.toSeq

    body(ops((0 until 6).map(i =>
      ("INSERT", i.toLong, i.toLong, doc(i), axisVec(i)))), 0L)
    body(ops((6 until 12).map(i =>
      ("INSERT", i.toLong, i.toLong, doc(i), axisVec(i)))), 1L)
    body(ops(Seq(("INSERT", 1L, 12L, doc(12), axisVec(12)))), 2L) // founds
    assert(new java.io.File(s"$root/vec_cells/codebooks").exists())

    // one trigger, three retirement semantics: UPDATE 5 re-admits on a
    // novel axis THROUGH its own posting's retirement; INSERT 200
    // re-offers the retired axis-5 vector and admits; DELETE 3
    body(ops(Seq(
      ("UPDATE", 1L, 5L, doc(105), axisVec(55)),
      ("INSERT", 2L, 200L, doc(200), axisVec(5)),
      ("DELETE", 3L, 3L, doc(3), null.asInstanceOf[Array[Float]]))), 3L)
    assert(live() == (Seq(0L, 1L, 2L, 4L, 5L) ++ (6L to 12L) :+ 200L),
      s"in-trigger retirement: ${live()}")

    // cadence trigger: the DELETEd axis-3 vector no longer ghosts (300
    // admits), a standing axis still screens (400 rejects), and the
    // tombstone apply drops retired postings physically
    body(ops(Seq(
      ("INSERT", 1L, 300L, doc(300), axisVec(3)),
      ("INSERT", 2L, 400L, doc(400), axisVec(7)))), 4L)
    assert(live() == (Seq(0L, 1L, 2L, 4L, 5L) ++ (6L to 12L) ++
      Seq(200L, 300L)), s"post-apply decisions: ${live()}")
    val pqIds = ScreenStore.VecPq.rows(spark, root)
      .select("vec_id").collect().map(_.getLong(0)).sorted.toSeq
    assert(pqIds == live(), s"retired postings must drop physically: $pqIds")
    // exactly one posting per live doc — the UPDATEd doc's old vector
    // is gone, not shadowed
    assert(ScreenStore.VecPq.rows(spark, root).count() ==
      live().size.toLong)
    assertDeclaredSchemas(root)
  }

  test("a coded posting without its margin (a column older files lack) " +
      "verifies exactly instead of dropping the candidate") {
    val s = spark
    import s.implicits._
    def axisVec(axis: Int): Array[Float] =
      Array.tabulate(64)(i => if (i == axis) 1.0f else 0.0f)
    def df(rows: Seq[(Long, String, Array[Float])]) =
      rows.toDF("doc_id", "text", "embedding")
    val root = java.nio.file.Files
      .createTempDirectory("graft_chain_nomrg").toFile.getAbsolutePath + "/c"
    val body = CurationChain.ingestInto(root, compactEvery = 2,
      vecCellFloor = 8, vecNprobe = 2) _
    body(df((0 until 6).map(i => (i.toLong, doc(i), axisVec(i)))), 0L)
    body(df((6 until 12).map(i => (i.toLong, doc(i), axisVec(i)))), 1L)
    body(df(Seq((12L, doc(12), axisVec(12)))), 2L) // cadence: founds
    // an out-of-distribution posting: its ADC score is ~0, only its
    // margin keeps a true duplicate in the candidate set
    body(df(Seq((101L, doc(101), axisVec(40)))), 3L)
    Seq("vecpq", "vecpq_tail").map(d => s"$root/$d")
      .filter(new java.io.File(_).exists()).foreach { dir =>
        val stripped = spark.read.parquet(dir).drop("mrg")
        val out = dir + "_nomrg"
        (if (dir.endsWith("_tail")) stripped.write
          else stripped.write.partitionBy("cell")).parquet(out)
        org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(dir))
        assert(new java.io.File(out).renameTo(new java.io.File(dir)))
      }
    assert(!spark.read.parquet(s"$root/vecpq_tail").columns.contains("mrg"))
    body(df(Seq((102L, doc(102), axisVec(40)))), 5L)
    val admitted = CurationChain.readAdmitted(spark, root)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(admitted.contains(101L) && !admitted.contains(102L),
      s"the OOD duplicate must reject through the exact verify: $admitted")
  }
}
