package graft.streaming

import graft.SparkSpec
import org.apache.spark.JobCounter
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream

/** Streaming text near-dup admission: per-trigger MinHash signatures,
  * in-batch banded drop, standing signature-store screen — a
  * shingle-level near-dup of a doc admitted triggers ago must be
  * rejected, state stays one (doc_id, sig) row per admitted doc, and the
  * hot-bucket cap bounds candidate generation.
  */
class TextDedupStreamSpec extends SparkSpec {

  /** Spark jobs of one warm trigger carrying a near-duplicate (measured). */
  private val WarmTriggerJobs = 26


  /** ~40-word doc over an id-NAMESPACED vocabulary: distinct ids share
    * zero 3-shingles by construction (a first draft drew 38-shingle
    * windows from one shared stride cycle and late novels' windows
    * overlapped earlier ones — the closed-vocabulary fixture trap, again;
    * LSH recall under shared vocabulary is LshSpec's job, this suite
    * tests the screen mechanics). `edit = true` replaces one mid-doc
    * word — a 3-shingle change, Jaccard = 75/81 ≈ 0.93 against the base
    * (80 words, not 40: at J ≈ 0.85 the k = 32 MinHash estimate dips
    * under the 7/10 gate for ~0.4% of id pairs — two leaked across the
    * soak's ~180 planted dups; at 0.93 the dip is a 5σ event, so the
    * fixture measures the screen, not the estimator's tail), the
    * lightly-edited crawl duplicate the screen exists to reject.
    */
  private def doc(id: Long, edit: Boolean = false): String =
    (0 until 80).map { j =>
      if (edit && j == 40) s"edited$id" else s"w${id}x$j"
    }.mkString(" ")

  private def sigsOf(rows: Seq[(Long, String)]) = {
    import spark.implicits._
    TextDedupStream.signatures(rows.toDF("doc_id", "text"))
  }

  test("planted edit clears the estimate threshold; distinct docs do not") {
    import spark.implicits._
    val pairs = TextDedupStream.sigPairsAgainst(
        sigsOf(Seq((101L, doc(1, edit = true)), (102L, doc(2, edit = true)),
          (103L, doc(3)))),
        sigsOf(Seq((1L, doc(1)), (2L, doc(2)), (4L, doc(4)))))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2)))
    assert(pairs.map(p => (p._1, p._2)).toSet == Set((101L, 1L), (102L, 2L)),
      s"exactly the planted edits pair with their bases: ${pairs.toSeq}")
    // the estimate is comfortably above the 7/10 gate, not a squeaker
    pairs.foreach(p => assert(p._3 * 10 >= 7 * 32, s"estimate too low: $p"))
  }

  private def storeIdsAt(dir: String): Set[Long] =
    ScreenStore.Sigs.entries(spark, dir)
      .select("doc_id").collect().map(_.getLong(0)).toSet

  test("ingest: greedy drop, store screen, idle") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("textdedup_admit")
      .resolve("store").toString
    val batch = Seq((1L, doc(1)), (2L, doc(2)),
      (103L, doc(1, edit = true))).toDF("doc_id", "text")
    TextDedupStream.ingestInto(dir)(batch, 0L)
    val boot = storeIdsAt(dir)
    assert(boot == Set(1L, 2L), s"greedy rule keeps the lower id: $boot")

    val next = Seq((4L, doc(4)), (105L, doc(2, edit = true)))
      .toDF("doc_id", "text")
    TextDedupStream.ingestInto(dir)(next, 1L)
    val admitted = storeIdsAt(dir) -- boot
    assert(admitted == Set(4L), s"store near-dup must be rejected: $admitted")

    TextDedupStream.ingestInto(dir)(batch.limit(0), 2L)
    assert(storeIdsAt(dir) == Set(1L, 2L, 4L))
  }

  test("crash windows heal; replay equals clean") {
    import spark.implicits._
    def root(name: String) = java.nio.file.Files.createTempDirectory(name)
      .resolve("store").toString
    val (clean, crashed) = (root("textdedup_clean"), root("textdedup_replay"))
    def storeRows(r: String) = ScreenStore.Sigs.rows(spark, r)
      .select("doc_id", "band", "bh", "b").as[(Long, Int, Long, Long)]
      .collect().sorted.toSeq
    def sameAsClean(): Unit = assert(storeRows(crashed) == storeRows(clean),
      "the replayed store must equal the uncrashed run")
    val b0 = Seq((1L, doc(1)), (2L, doc(2))).toDF("doc_id", "text")
    // 3 and 4 are novel, 101 edits doc 1
    val b1 = Seq((3L, doc(3)), (101L, doc(1, edit = true)), (4L, doc(4)))
      .toDF("doc_id", "text")
    Seq(clean, crashed).foreach(TextDedupStream.ingestInto(_)(b0, 0L))

    // mid-PUBLISH: batch 1 sealed (adaptive execution off, so its tail
    // spans several files), then only some of its tail files moved. The
    // replay must finish the publish without recompute: recomputing would
    // reject 3 and 4 as duplicates of their own half-published band rows
    // and never write the rest.
    CrashWindows.unadaptive(spark)(TextDedupStream.stageBatch(crashed)(b1, 1L))
    assert(CrashWindows.publishSome(spark, crashed, 1L, "sigs_tail") > 0)
    TextDedupStream.ingestInto(crashed)(b1, 1L)
    TextDedupStream.ingestInto(clean)(b1, 1L)
    sameAsClean()
    assert(storeIdsAt(crashed) == Set(1L, 2L, 3L, 4L))

    // committed replay: a pure no-op
    TextDedupStream.ingestInto(crashed)(b1, 1L)
    sameAsClean()

    // mid-STAGING: unsealed junk is discarded and the batch recomputed
    val b2 = Seq((5L, doc(5)), (102L, doc(2, edit = true)))
      .toDF("doc_id", "text")
    CrashWindows.junkStaging(spark, crashed, 2L, "sigs_tail")
    TextDedupStream.ingestInto(crashed)(b2, 2L)
    TextDedupStream.ingestInto(clean)(b2, 2L)
    sameAsClean()
    assert(storeIdsAt(crashed) == Set(1L, 2L, 3L, 4L, 5L),
      "5 must survive the discarded junk staging; 102 edits doc 2")
    assert(CrashWindows.noStaged(spark, crashed),
      "published batches must leave no staged residue")
  }

  test("foreachBatch ingest: cross-trigger near-dup rejected, bounded store") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("textdedup_stream")
      .resolve("store").toString
    val in = MemoryStream[(Long, String)]
    val query = in.toDS().toDF("doc_id", "text")
      .writeStream
      .foreachBatch(TextDedupStream.ingestInto(dir) _)
      .start()
    try {
      def storeIds() = ScreenStore.Sigs.entries(spark, dir)
        .select("doc_id").collect().map(_.getLong(0)).toSet
      // trigger 1 (bootstrap): 103 is an in-batch edit of 1
      in.addData((1L, doc(1)), (2L, doc(2)), (103L, doc(1, edit = true)))
      query.processAllAvailable()
      assert(storeIds() == Set(1L, 2L))
      // trigger 2: 4 novel, 104 edits store doc 2
      in.addData((4L, doc(4)), (104L, doc(2, edit = true)))
      query.processAllAvailable()
      assert(storeIds() == Set(1L, 2L, 4L))
      // trigger 3: 105 edits a doc admitted TWO triggers ago, 106 edits
      // one admitted last trigger, 7 is novel
      in.addData((105L, doc(1, edit = true)), (106L, doc(4, edit = true)),
        (7L, doc(7)))
      query.processAllAvailable()
      assert(storeIds() == Set(1L, 2L, 4L, 7L))
      // the store is BOUNDED: one logical (doc_id, sig) row per admitted
      // doc — k minima + id, never text, never a re-appended id.
      // Physically the banded layout holds exactly 8 band rows per doc.
      val rows = ScreenStore.Sigs.entries(spark, dir)
      assert(rows.columns.toSet == Set("doc_id", "sig"))
      assert(rows.count() == 4L)
      val counts = spark.read.parquet(s"$dir/sigs_tail")
        .groupBy("doc_id").count()
        .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
      assert(counts.values.forall(_ == 8L), counts)
      // a doc too short to shingle carries no signature: admitted-by-
      // -absence (the exact screen upstream owns it), never a crash
      in.addData((900L, "only two"))
      query.processAllAvailable()
      assert(storeIds() == Set(1L, 2L, 4L, 7L))
    } finally query.stop()
  }

  test("60-trigger soak: text edits at lags from 1 to 30 triggers all " +
      "rejected, store is exactly the planted novels", SoakTest) {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    // novel id space spread so distinct vocabulary draws stay apart
    def novelId(t: Int): Long = 50000L + t * 97L
    val dir = java.nio.file.Files.createTempDirectory("textdedup_soak")
      .resolve("store").toString
    val in = MemoryStream[(Long, String)]
    // compactEvery exercises the layout's merge cadence mid-soak: tails
    // fold into the bucketed main, the bloom front rebuilds, and later
    // triggers screen against BOTH main and fresh tail
    val query = in.toDS().toDF("doc_id", "text")
      .writeStream
      .foreachBatch(TextDedupStream.ingestInto(dir, compactEvery = 8) _)
      .start()
    try {
      for (t <- 0 until 60) {
        val rows = Seq.newBuilder[(Long, String)]
        rows += ((novelId(t), doc(novelId(t))))
        // in-batch edit, every trigger
        rows += ((200000L + t, doc(novelId(t), edit = true)))
        if (t > 0) { // edit of a novel admitted `lag` triggers ago
          val lag = t / 2 + 1
          val target = math.max(0, t - lag)
          rows += ((300000L + t, doc(novelId(target), edit = true)))
        }
        in.addData(rows.result(): _*)
        query.processAllAvailable()
      }
      val ids = ScreenStore.Sigs.entries(spark, dir).select("doc_id")
        .collect().map(_.getLong(0)).toSeq
      assert(ids.toSet == (0 until 60).map(novelId).toSet,
        s"store must be exactly the 60 planted novels, got ${ids.sorted.take(70)}")
      assert(ids.length == 60, "exactly one row per admitted id")
    } finally query.stop()
  }

  test("composes downstream of CorpusIngest: quality gate and exact screen " +
      "first, the near-dup signature screen last") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("textdedup_compose")
      .resolve("store").toString
    // empty static corpus (bootstrap), with the contract's hash column
    val corpus = Seq.empty[String].toDF("text")
      .select(CorpusIngest.contentHash(
        graft.llm.NormalizeText(org.apache.spark.sql.functions.col("text")))
        .as("content_hash"))
    val in = MemoryStream[(Long, String)]
    // the full ingest chain: normalize → quality gates → in-stream exact
    // dedup → corpus screen (CorpusIngest) → near-dup signature screen
    // (this operator) — one writeStream
    val query = CorpusIngest.curate(in.toDS().toDF("doc_id", "text"), corpus)
      .writeStream
      .foreachBatch(TextDedupStream.ingestInto(dir) _)
      .start()
    try {
      def storeIds() = ScreenStore.Sigs.entries(spark, dir)
        .select("doc_id").collect().map(_.getLong(0)).toSet
      // trigger 1: 1 is novel; 50 is an EXACT dup of 1 (curate's
      // in-stream hash dedup owns it); 60 carries a blocklisted phrase
      // (the gate owns it) — neither reaches the signature store
      in.addData((1L, doc(1)), (50L, doc(1)),
        (60L, doc(60) + " table scan inside"))
      query.processAllAvailable()
      assert(storeIds() == Set(1L))
      // trigger 2: 2 is novel; 105 is an EDIT of doc 1 — new content
      // hash, so it passes every exact screen, and only the near-dup
      // signature screen can (and must) reject it
      in.addData((2L, doc(2)), (105L, doc(1, edit = true)))
      query.processAllAvailable()
      assert(storeIds() == Set(1L, 2L),
        "the edit must be rejected by the near-dup screen, the novel admitted")
    } finally query.stop()
  }

  test("a PRE-LAYOUT standalone store (flat parquet at the root) fails " +
      "loudly instead of silently bootstrapping over it") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("textdedup_legacy")
      .resolve("store").toString
    // the r14-and-earlier standalone layout: (doc_id, sig) parts written
    // DIRECTLY under storeDir
    Seq((1L, Seq(1L, 2L, 3L))).toDF("doc_id", "sig")
      .write.parquet(dir)
    val e = intercept[IllegalStateException] {
      TextDedupStream.ingestInto(dir)(
        Seq((2L, doc(2))).toDF("doc_id", "text"), 0L)
    }
    assert(e.getMessage.contains("_layout"),
      s"migration must fail loudly, got: ${e.getMessage}")
    // the legacy rows are untouched — nothing bootstrapped over them
    assert(spark.read.parquet(dir).count() == 1L)
  }

  test("hot-bucket cap: an over-cap store band drops from candidates; " +
      "a true pair survives on its other bands") {
    import spark.implicits._
    // signatures built DIRECTLY (k = 32, 8 bands × 4 minima): store rows
    // share band 0 (minima 1..4) but differ everywhere else — with
    // maxBucket = 2 that band is non-discriminative and must drop
    def sig(band0: Seq[Long], rest: Long): Seq[Long] =
      band0 ++ (4 until 32).map(i => rest * 100 + i)
    val store = Seq(
      (10L, sig(Seq(1L, 2L, 3L, 4L), 10)),
      (11L, sig(Seq(1L, 2L, 3L, 4L), 11)),
      (12L, sig(Seq(1L, 2L, 3L, 4L), 12))
    ).toDF("doc_id", "sig")
    // the probe matches store row 10 in bands 1–7 (28/32 minima ≥ the
    // 7/10 gate) AND in the capped band 0; rows 11/12 share ONLY band 0
    val probe = Seq((99L, sig(Seq(1L, 2L, 3L, 4L), 10)))
      .toDF("doc_id", "sig")
    val pairs = TextDedupStream
      .sigPairsAgainst(probe, store, maxBucket = 2)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(pairs.toSet == Set((99L, 10L)),
      s"true pair must survive via uncapped bands: ${pairs.toSeq}")
  }

  test("a warm standalone trigger carrying a near-duplicate runs a fixed " +
      "number of Spark jobs") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("textdedup_jobs")
      .resolve("store").toString
    val in = MemoryStream[(Long, String)]
    val query = in.toDS().toDF("doc_id", "text")
      .writeStream
      .foreachBatch(TextDedupStream.ingestInto(dir) _)
      .start()
    val jobs = try {
      in.addData((1L, doc(1)), (2L, doc(2)))
      query.processAllAvailable()
      in.addData((3L, doc(3)))
      query.processAllAvailable()
      val queryId = query.id.toString
      // the third trigger: one novel doc, one edit of a bootstrap doc
      JobCounter.count(spark.sparkContext, e => Option(e.properties).exists(p =>
          p.getProperty("sql.streaming.queryId") == queryId &&
            p.getProperty("streaming.sql.batchId") == "2")) {
        in.addData((4L, doc(4)), (105L, doc(1, edit = true)))
        query.processAllAvailable()
      }._2
    } finally query.stop()
    assert(ScreenStore.Sigs.entries(spark, dir).select("doc_id").collect().map(_.getLong(0)).toSet == Set(1L, 2L, 3L, 4L))
    info(s"warm trigger: $jobs Spark jobs")
    assert(jobs == WarmTriggerJobs,
      s"a warm trigger ran $jobs Spark jobs (expected $WarmTriggerJobs)")
  }

  test("a root in the older standalone shape — tail rows without `b`, a " +
      "Spark-written front — still rejects its duplicates, before and " +
      "after a compaction") {
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    val dir = java.nio.file.Files.createTempDirectory("textdedup_older")
      .resolve("store").toString
    val P = StoreLayout.ensureLayout(spark, dir, Seq("sigs"))
    // the older body's delta: band rows tagged with their bucket, no `b`,
    // and the front delta over their keys written by a Spark job first
    val bands = TextDedupStream.bandRows(
        sigsOf(Seq((1L, doc(1)), (2L, doc(2)))), "doc_id")
      .withColumn("pb", StoreLayout.bucketOf(
        StoreLayout.keyHash(col("band"), col("bh")), P))
    val keys = bands.select(StoreLayout.keyHash(col("band"), col("bh")), col("pb"))
      .collect().map(r => (r.getLong(0), r.getInt(1)))
    StoreLayout.bloomDeltaLocal(keys, keys.length.toLong, P).toDF("pb", "bloom")
      .coalesce(1).write.mode("append").parquet(s"$dir/sigbloom")
    bands.repartition(col("pb")).write.mode("append").parquet(s"$dir/sigs_tail")
    assert(!spark.read.parquet(s"$dir/sigs_tail").columns.contains("b"))
    def storeIds() = ScreenStore.Sigs.entries(spark, dir)
      .select("doc_id").collect().map(_.getLong(0)).toSet

    // 101 edits doc 1; 3 is novel
    TextDedupStream.ingestInto(dir, compactEvery = 2)(
      Seq((3L, doc(3)), (101L, doc(1, edit = true))).toDF("doc_id", "text"), 1L)
    assert(storeIds() == Set(1L, 2L, 3L))
    // the cadence merges the older rows into the main and rebuilds the
    // front from them; 102 edits doc 2, 4 is novel
    TextDedupStream.ingestInto(dir, compactEvery = 2)(
      Seq((4L, doc(4)), (102L, doc(2, edit = true))).toDF("doc_id", "text"), 2L)
    assert(storeIds() == Set(1L, 2L, 3L, 4L))
    assert(new java.io.File(s"$dir/sigs").exists(), "the tail merged into the main")
    // after the rebuild: 103 edits doc 1 again, 5 is novel
    TextDedupStream.ingestInto(dir, compactEvery = 2)(
      Seq((5L, doc(5)), (103L, doc(1, edit = true))).toDF("doc_id", "text"), 3L)
    assert(storeIds() == Set(1L, 2L, 3L, 4L, 5L))
  }

  test("a front write cut short leaves only a hidden file, which the next " +
      "trigger's front read skips") {
    import spark.implicits._
    val base = java.nio.file.Files.createTempDirectory("textdedup_front_crash")
    val dir = base.resolve("store").toString
    TextDedupStream.ingestInto(dir)(
      Seq((1L, doc(1)), (2L, doc(2))).toDF("doc_id", "text"), 0L)
    // the crash: a front write cut between create and close leaves its
    // half-written file under the hidden name it is renamed from
    val front = new java.io.File(s"$dir/sigbloom")
    val whole = front.listFiles().filter(_.getName.startsWith("b0-part-")).head
    val bytes = java.nio.file.Files.readAllBytes(whole.toPath)
    val residue = s".${whole.getName.replace("part-", "part-cut-")}.tmp"
    java.nio.file.Files.write(new java.io.File(front, residue).toPath,
      bytes.take(bytes.length / 2))
    // a restarted driver holds no cached front, so the next probe reads
    // the front directory: a copy of the root under a new path
    val restarted = base.resolve("restarted").toString
    org.apache.commons.io.FileUtils.copyDirectory(new java.io.File(dir),
      new java.io.File(restarted))
    // 101 edits doc 1; 3 is novel
    TextDedupStream.ingestInto(restarted)(
      Seq((3L, doc(3)), (101L, doc(1, edit = true))).toDF("doc_id", "text"), 1L)
    assert(ScreenStore.Sigs.entries(spark, restarted).select("doc_id").collect()
      .map(_.getLong(0)).toSet == Set(1L, 2L, 3L))
    assert(new java.io.File(s"$restarted/sigbloom").list()
      .filter(_.endsWith(".tmp")).toSeq == Seq(residue),
      "the trigger's own front file was renamed into place")
  }
}
