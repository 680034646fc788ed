package graft.streaming

import graft.SparkSpec
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream

/** Streaming semantic dedup: in-batch greedy drop + standing-corpus
  * screen per trigger, the corpus growing by exactly the admitted rows —
  * a paraphrase of something admitted two triggers ago must be rejected
  * like one admitted at bootstrap.
  */
class SemDedupStreamSpec extends SparkSpec {

  private val dim = 8
  private def basis(i: Int): Seq[Float] =
    Seq.tabulate(dim)(j => if (j == i) 1.0f else 0.0f)
  /** A near-duplicate of basis(i): cosine > 0.99, well over threshold. */
  private def nearDup(i: Int): Seq[Float] =
    Seq.tabulate(dim)(j => if (j == i) 1.0f else 0.01f)

  test("admitBatch: bootstrap in-batch screen, then corpus screen") {
    import spark.implicits._
    val batch = Seq(
      (1L, basis(0)), (2L, basis(1)), (3L, nearDup(0)) // 3 dups 1 in-batch
    ).toDF("vec_id", "embedding")
    val boot = SemDedupStream.admitBatch(batch, spark.emptyDataFrame, 0.9)
      .select("vec_id").collect().map(_.getLong(0)).toSet
    assert(boot == Set(1L, 2L), s"greedy in-batch rule keeps the lower id: $boot")

    val corpus = Seq((1L, basis(0)), (2L, basis(1))).toDF("vec_id", "embedding")
    val next = Seq((4L, basis(2)), (5L, nearDup(1))).toDF("vec_id", "embedding")
    val admitted = SemDedupStream.admitBatch(next, corpus, 0.9)
      .select("vec_id").collect().map(_.getLong(0)).toSet
    assert(admitted == Set(4L), s"corpus near-dup must be rejected: $admitted")

    // an idle trigger is a no-op, not a crash
    assert(SemDedupStream.admitBatch(batch.limit(0), corpus, 0.9).isEmpty)
  }

  test("foreachBatch ingest: the corpus compounds across triggers") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    // four vectors stay below the index floor, so every trigger screens
    // through admitBatch against the live corpus
    val root = java.nio.file.Files.createTempDirectory("semdedup_stream")
      .resolve("root").toString
    val dir = s"$root/corpus"
    val in = MemoryStream[(Long, Seq[Float])]
    val query = in.toDS().toDF("vec_id", "embedding")
      .writeStream
      .foreachBatch(SemDedupStream.ingestIntoIndexed(root, 0.9) _)
      .start()
    try {
      def corpusIds() =
        spark.read.parquet(dir).select("vec_id")
          .collect().map(_.getLong(0)).toSet
      // trigger 1 (bootstrap): 3 is an in-batch near-dup of 1
      in.addData((1L, basis(0)), (2L, basis(1)), (3L, nearDup(0)))
      query.processAllAvailable()
      assert(corpusIds() == Set(1L, 2L))
      // trigger 2: 4 novel, 5 duplicates corpus vector 2
      in.addData((4L, basis(2)), (5L, nearDup(1)))
      query.processAllAvailable()
      assert(corpusIds() == Set(1L, 2L, 4L))
      // trigger 3: 6 duplicates a vector admitted TWO triggers ago,
      // 7 duplicates one admitted last trigger, 8 is novel
      in.addData((6L, nearDup(0)), (7L, nearDup(2)), (8L, basis(3)))
      query.processAllAvailable()
      assert(corpusIds() == Set(1L, 2L, 4L, 8L))
      // the store holds exactly one row per admitted id (no double append
      // from plan re-execution — the persist() guard)
      val counts = spark.read.parquet(dir).groupBy("vec_id").count()
        .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
      assert(counts.values.forall(_ == 1L), counts)
    } finally query.stop()
  }

  test("indexed lifecycle: screens run through the persisted IVF index, " +
      "hot-skewed appends trip the rebuild policy, the rebuild retrains, " +
      "and admit decisions on replayed offers are unchanged") {
    import spark.implicits._
    // region i ∈ [0,4) carries weight 0.6 on axis i; slot k spreads the
    // 0.8-weight complement around a 30° circle in the (e4, e5) plane:
    // within-region pair cosine = 0.36 + 0.64·cos(30°·Δk) ≤ 0.914 and
    // cross-region ≤ 0.64 — both under the 0.95 gate — while a dup offer
    // (coord-0 nudge) stays ≈ 0.9999 above it.
    def rv(region: Int, k: Int): Seq[Float] = {
      val th = math.toRadians(30.0 * k)
      Seq.tabulate(8) { j =>
        if (j == region) 0.6f
        else if (j == 4) (0.8 * math.cos(th)).toFloat
        else if (j == 5) (0.8 * math.sin(th)).toFloat
        else 0.0f
      }
    }
    // the HOT family: region 0's 0.6·e0 spine but the complement ring in
    // the ORTHOGONAL (e6, e7) plane — every bootstrap centroid sees the
    // same ~0 complement dot, so the 0.36 spine term makes ALL hot
    // vectors assign to region 0's frozen cell (the deterministic skew),
    // while within-hot pairs stay at 0.36 + 0.64·cos(45°·Δk) ≤ 0.81
    def hv(k: Int): Seq[Float] = {
      val th = math.toRadians(45.0 * k)
      Seq.tabulate(8) { j =>
        if (j == 0) 0.6f
        else if (j == 6) (0.8 * math.cos(th)).toFloat
        else if (j == 7) (0.8 * math.sin(th)).toFloat
        else 0.0f
      }
    }
    def dupOf(v: Seq[Float]): Seq[Float] =
      v.zipWithIndex.map { case (x, i) => x + (if (i == 0) 0.01f else 0f) }
    def df(rows: Seq[(Long, Seq[Float])]) = rows.toDF("vec_id", "embedding")

    val root = java.nio.file.Files.createTempDirectory("semdedup_idx")
      .resolve("root").toString
    val body = SemDedupStream.ingestIntoIndexed(root, threshold = 0.95,
      nlist = 4, nprobe = 2, rebuildCheckEvery = 4, rebuildFactor = 1.5) _
    def corpusIds() = spark.read.parquet(s"$root/corpus")
      .select("vec_id").collect().map(_.getLong(0)).toSet
    def indexExists = new java.io.File(s"$root/ivf/centroids").exists()

    // triggers 0-1: bootstrap below the index floor (4·nlist = 16) —
    // the per-trigger screen still rejects a dup offer
    body(df((0 until 4).flatMap(r => Seq(0, 1).map(k =>
      (r * 100L + k, rv(r, k))))), 0L)
    assert(!indexExists, "no index below the floor")
    body(df((0 until 4).flatMap(r => Seq(2, 3).map(k =>
      (r * 100L + k, rv(r, k)))) :+ (99L, dupOf(rv(0, 0)))), 1L)
    assert(!corpusIds().contains(99L), "pre-index dup offer must reject")
    assert(corpusIds().size == 16 && indexExists,
      "the index founds once the corpus clears the floor")

    // triggers 2-3: hot-skewed appends — every novel lands in region 0's
    // cell under the FROZEN centroids; a lag-2 dup offer must reject
    // through the index screen
    body(df(Seq(0, 1, 2, 3).map(k => (20L + k, hv(k))) :+
      (98L, dupOf(rv(1, 0)))), 2L)
    assert(!corpusIds().contains(98L), "index-screen dup offer must reject")
    body(df(Seq(4, 5, 6, 7).map(k => (30L + k, hv(k)))), 3L)
    assert(corpusIds().size == 24)
    assert(graft.llm.Similarity.ivfNeedsRebuild(spark, s"$root/ivf", 1.5),
      "12 of 24 postings in one cell must trip the 1.5× fair-share policy")

    // trigger 4 hits the rebuildCheckEvery cadence: the policy fires,
    // the rebuild retrains over the skewed corpus, balance is restored
    body(df(Seq((40L, rv(1, 4)))), 4L)
    assert(corpusIds().contains(40L))
    assert(!graft.llm.Similarity.ivfNeedsRebuild(spark, s"$root/ivf", 1.5),
      "the retrained quantizer must absorb the hot region")

    // replayed offers post-rebuild: dups of vectors admitted in every
    // phase (bootstrap / hot / post-rebuild) still reject, novels admit —
    // the rebuild changed the index layout, not the decisions
    body(df(Seq(
      (50L, dupOf(rv(0, 0))), (51L, dupOf(hv(3))),
      (52L, dupOf(rv(1, 4))), (53L, rv(3, 4)))), 5L)
    val after = corpusIds()
    assert(!after.contains(50L) && !after.contains(51L) && !after.contains(52L),
      s"replayed dup offers must stay rejected after the rebuild: $after")
    assert(after.contains(53L))

    // at-least-once replay of a committed batch is a pure no-op
    val before = after
    body(df(Seq(
      (50L, dupOf(rv(0, 0))), (51L, dupOf(hv(3))),
      (52L, dupOf(rv(1, 4))), (53L, rv(3, 4)))), 5L)
    assert(corpusIds() == before)
    assert(spark.read.parquet(s"$root/corpus").count() == before.size.toLong,
      "one corpus row per admitted id — no replay double-append")
  }

  test("CDC × indexed lifecycle: DELETE tombstones the index posting so " +
      "a deleted doc's paraphrase re-admits through the indexed screen, " +
      "an UPDATE retires its own vector, and the cadence applies " +
      "tombstones to corpus AND postings physically") {
    import spark.implicits._
    def rv(region: Int, k: Int): Seq[Float] = {
      val th = math.toRadians(30.0 * k)
      Seq.tabulate(8) { j =>
        if (j == region) 0.6f
        else if (j == 4) (0.8 * math.cos(th)).toFloat
        else if (j == 5) (0.8 * math.sin(th)).toFloat
        else 0.0f
      }
    }
    def dupOf(v: Seq[Float]): Seq[Float] =
      v.zipWithIndex.map { case (x, i) => x + (if (i == 0) 0.01f else 0f) }
    def ops(rows: Seq[(String, Long, Long, Seq[Float])]) =
      rows.toDF("op", "ord", "vec_id", "embedding")
    val root = java.nio.file.Files.createTempDirectory("semdedup_cdc_idx")
      .resolve("root").toString
    val body = SemDedupStream.ingestCdcIntoIndexed(root, threshold = 0.95,
      nlist = 4, nprobe = 2, rebuildCheckEvery = 0, compactEvery = 4) _
    def liveIds() = {
      val c = spark.read.parquet(s"$root/corpus")
      val t = new java.io.File(s"$root/tombstones")
      val live = if (!t.exists()) c else {
        val tt = spark.read.parquet(s"$root/tombstones")
          .groupBy("vec_id").agg(org.apache.spark.sql.functions.max("asOf").as("asOf"))
        c.join(tt, Seq("vec_id"), "left")
          .filter(org.apache.spark.sql.functions.col("asOf").isNull ||
            org.apache.spark.sql.functions.col("b") >=
              org.apache.spark.sql.functions.col("asOf"))
      }
      live.select("vec_id").collect().map(_.getLong(0)).toSet
    }

    // triggers 0-1: 16 INSERTs found the index
    body(ops((0 until 4).flatMap(r => Seq(0, 1).map(k =>
      ("INSERT", (r * 2 + k).toLong, r * 100L + k, rv(r, k))))), 0L)
    body(ops((0 until 4).flatMap(r => Seq(2, 3).map(k =>
      ("INSERT", (r * 2 + k).toLong, r * 100L + k, rv(r, k))))), 1L)
    assert(new java.io.File(s"$root/ivf/centroids").exists(),
      "index founds past the floor")

    // trigger 2: DELETE vec 0 (rv(0,0)); an UPDATE of vec 101 with a
    // paraphrase of ITSELF (must re-admit through its own retirement);
    // a dup of the still-standing vec 100 must keep rejecting
    body(ops(Seq(
      ("DELETE", 1L, 0L, rv(0, 0)),
      ("UPDATE", 2L, 101L, dupOf(rv(1, 1))),
      ("INSERT", 3L, 900L, dupOf(rv(1, 0))))), 2L)
    val l2 = liveIds()
    assert(!l2.contains(0L), "DELETE must retire vec 0")
    assert(l2.contains(101L), "an UPDATE's paraphrase of itself must re-admit")
    assert(!l2.contains(900L), "a dup of standing vec 100 must reject")

    // trigger 3: the DELETED vector's paraphrase re-offers under a fresh
    // id — the index posting for vec 0 is tombstoned, so it must ADMIT
    // (r13 verdict item 7: without the exclusion it stays probeable
    // forever); a dup of a standing vector still rejects
    body(ops(Seq(
      ("INSERT", 1L, 901L, dupOf(rv(0, 0))),
      ("INSERT", 2L, 902L, dupOf(rv(2, 2))))), 3L)
    val l3 = liveIds()
    assert(l3.contains(901L),
      "a deleted doc's paraphrase must re-admit through the indexed screen")
    assert(!l3.contains(902L), "standing vectors still screen")

    // trigger 4 hits the cadence: tombstones apply physically to corpus
    // AND postings, then clear
    body(ops(Seq(("INSERT", 1L, 903L, rv(3, 6)))), 4L)
    assert(!new java.io.File(s"$root/tombstones").exists(),
      "applied tombstones must clear")
    val corpusIds = spark.read.parquet(s"$root/corpus")
      .select("vec_id").collect().map(_.getLong(0)).toSeq
    assert(!corpusIds.contains(0L), "vec 0 must be physically gone")
    assert(corpusIds.count(_ == 101L) == 1,
      "the UPDATE's retired old row must be physically gone")
    val postIds = spark.read.parquet(s"$root/ivf/postings")
      .select("neighbor_id").collect().map(_.getLong(0)).toSeq
    assert(!postIds.contains(0L), "vec 0's posting must be physically gone")
    assert(postIds.count(_ == 101L) == 1)
    // and the re-admitted paraphrase is the standing memory now
    body(ops(Seq(("INSERT", 1L, 904L, dupOf(rv(0, 0))))), 5L)
    assert(!liveIds().contains(904L),
      "the re-admitted content is the corpus memory after the apply")
  }

  test("CDC × indexed: a PURE-DELETE batch publishes its tombstones " +
      "without crashing (r14 ADVICE high — zero offers must skip the " +
      "candidate/verify jobs, not die in the tombstone filter)") {
    import spark.implicits._
    def rv(region: Int, k: Int): Seq[Float] = {
      val th = math.toRadians(30.0 * k)
      Seq.tabulate(8) { j =>
        if (j == region) 0.6f
        else if (j == 4) (0.8 * math.cos(th)).toFloat
        else if (j == 5) (0.8 * math.sin(th)).toFloat
        else 0.0f
      }
    }
    def dupOf(v: Seq[Float]): Seq[Float] =
      v.zipWithIndex.map { case (x, i) => x + (if (i == 0) 0.01f else 0f) }
    def ops(rows: Seq[(String, Long, Long, Seq[Float])]) =
      rows.toDF("op", "ord", "vec_id", "embedding")
    val root = java.nio.file.Files.createTempDirectory("semdedup_cdc_del")
      .resolve("root").toString
    val body = SemDedupStream.ingestCdcIntoIndexed(root, threshold = 0.95,
      nlist = 4, nprobe = 2, rebuildCheckEvery = 0) _
    // found the index with 16 INSERTs
    body(ops((0 until 4).flatMap(r => (0 until 4).map(k =>
      ("INSERT", (r * 4 + k).toLong, r * 100L + k, rv(r, k))))), 0L)
    assert(new java.io.File(s"$root/ivf/centroids").exists())
    // trigger 1 is DELETEs ONLY: no offers at all
    body(ops(Seq(
      ("DELETE", 1L, 0L, rv(0, 0)), ("DELETE", 2L, 100L, rv(1, 0)))), 1L)
    val tombIds = spark.read.parquet(s"$root/tombstones")
      .select("vec_id").collect().map(_.getLong(0)).toSet
    assert(tombIds == Set(0L, 100L),
      s"the pure-DELETE batch's tombstones must publish: $tombIds")
    // and they are effective: the deleted vectors' paraphrases re-admit,
    // a standing vector's dup still rejects
    body(ops(Seq(
      ("INSERT", 1L, 900L, dupOf(rv(0, 0))),
      ("INSERT", 2L, 901L, dupOf(rv(2, 0))))), 2L)
    val corpus = spark.read.parquet(s"$root/corpus")
      .select("vec_id").collect().map(_.getLong(0)).toSet
    assert(corpus.contains(900L), "deleted vec 0's paraphrase must re-admit")
    assert(!corpus.contains(901L), "standing vec 200's dup must reject")
    // a replayed-empty batch (zero rows entirely) is also a no-op commit
    body(ops(Seq.empty[(String, Long, Long, Seq[Float])]), 3L)
  }

  /** Region i ∈ [0,4) at weight 0.6 on axis i, slot k on a 30° circle in
    * the (e4, e5) plane at weight 0.8: distinct (i, k) pairs sit below
    * cosine 0.95, as in the lifecycle cases above.
    */
  private def ringVec(region: Int, k: Int): Seq[Float] = {
    val th = math.toRadians(30.0 * k)
    Seq.tabulate(8) { j =>
      if (j == region) 0.6f
      else if (j == 4) (0.8 * math.cos(th)).toFloat
      else if (j == 5) (0.8 * math.sin(th)).toFloat
      else 0.0f
    }
  }
  private def nudged(v: Seq[Float]): Seq[Float] =
    v.zipWithIndex.map { case (x, i) => x + (if (i == 0) 0.01f else 0f) }

  /** Two roots founded past the index floor by the same 16 vectors. */
  private def foundedRoots(tag: String): (String, String) = {
    import spark.implicits._
    val Seq(a, b) = Seq("a", "b").map(r => java.nio.file.Files
      .createTempDirectory(s"semdedup_$tag").resolve(r).toString)
    Seq(a, b).foreach { root =>
      Seq(Seq(0, 1), Seq(2, 3)).zipWithIndex.foreach { case (ks, t) =>
        SemDedupStream.ingestIntoIndexed(root, threshold = 0.95, nlist = 4,
            rebuildCheckEvery = 0)(
          (0 until 4).flatMap(r => ks.map(k => (r * 100L + k, ringVec(r, k))))
            .toDF("vec_id", "embedding"), t.toLong)
      }
      assert(new java.io.File(s"$root/ivf/centroids").exists(),
        "the index founds past the floor")
    }
    (a, b)
  }

  test("indexed root past its floor: crash windows heal, committed " +
      "batches no-op, and the replayed corpus and postings equal an " +
      "uncrashed run") {
    import spark.implicits._
    val (clean, root) = foundedRoots("replay")
    def body(r: String) = SemDedupStream.ingestIntoIndexed(r, threshold = 0.95,
      nlist = 4, rebuildCheckEvery = 0) _
    def corpusRows(r: String) = spark.read.parquet(s"$r/corpus")
      .select("vec_id", "b").as[(Long, Long)].collect().sorted.toSeq
    def postingRows(r: String) = spark.read.parquet(s"$r/ivf/postings")
      .select("neighbor_id", "b").as[(Long, Long)].collect().sorted.toSeq
    def sameAsClean(): Unit = {
      assert(corpusRows(root) == corpusRows(clean),
        "replayed corpus must equal the uncrashed run")
      assert(postingRows(root) == postingRows(clean),
        "replayed postings must equal the uncrashed run")
    }
    // batch 2: two novels, a dup of a founding vector, an in-batch dup
    val b2 = Seq((40L, ringVec(0, 6)), (41L, ringVec(2, 7)),
      (42L, nudged(ringVec(1, 1))), (43L, nudged(ringVec(0, 6))))
      .toDF("vec_id", "embedding")

    // crash window 1 — mid-PUBLISH: batch 2 fully staged, then only the
    // corpus files moved before the crash. The replay must finish the
    // publish without recompute (recomputing would reject 40 and 41 as
    // duplicates of their own half-published rows).
    SemDedupStream.stageBatch(root, 0.95)(b2, 2L)
    val fs = org.apache.hadoop.fs.FileSystem.get(
      spark.sparkContext.hadoopConfiguration)
    val stagedCorpus = new org.apache.hadoop.fs.Path(s"$root/_staged/2/corpus")
    val moved = fs.listStatus(stagedCorpus).map(_.getPath)
      .filterNot(p => p.getName.startsWith("_") || p.getName.startsWith("."))
      .map { p =>
        require(fs.rename(p, new org.apache.hadoop.fs.Path(s"$root/corpus/b2-${p.getName}")))
        1
      }.sum
    assert(moved > 0, "staging must have produced corpus files")
    body(root)(b2, 2L) // the replay
    body(clean)(b2, 2L)
    sameAsClean()
    assert(corpusRows(root).map(_._1).toSet.intersect(Set(40L, 41L, 42L, 43L)) ==
      Set(40L, 41L))
    assert(corpusRows(root).size == 18, "one corpus row per admitted id")

    // committed replay: a pure no-op
    body(root)(b2, 2L)
    sameAsClean()

    // crash window 2 — mid-STAGING: unsealed junk is discarded and the
    // batch recomputed
    val b3 = Seq((50L, ringVec(3, 8)), (51L, nudged(ringVec(2, 7))))
      .toDF("vec_id", "embedding")
    val staged3 = new org.apache.hadoop.fs.Path(s"$root/_staged/3/corpus")
    fs.mkdirs(staged3)
    fs.create(new org.apache.hadoop.fs.Path(staged3, "part-junk.parquet"), true)
      .close()
    body(root)(b3, 3L)
    body(clean)(b3, 3L)
    sameAsClean()
    assert(corpusRows(root).map(_._1).contains(50L) &&
      !corpusRows(root).map(_._1).contains(51L),
      "50 must survive the discarded junk staging; 51 duplicates 41")
    assert(!fs.exists(new org.apache.hadoop.fs.Path(s"$root/_staged")),
      "published batches must leave no staged residue")
  }

  test("indexed root: postings without their margin (a column older files " +
      "lack) verify exactly and admit the same set as postings with it") {
    import spark.implicits._
    val (withMrg, noMrg) = foundedRoots("nomrg")
    // an out-of-distribution vector (axis 7 carries no founding weight):
    // its ADC score against its own duplicate is far under the threshold,
    // so only its margin — or, without one, the always-verify rule —
    // keeps the duplicate in the candidate set
    val ood = Seq.tabulate(8)(j => if (j == 7) 1.0f else 0.0f)
    Seq(withMrg, noMrg).foreach { root =>
      SemDedupStream.ingestIntoIndexed(root, threshold = 0.95, nlist = 4,
        rebuildCheckEvery = 0)(Seq((60L, ood)).toDF("vec_id", "embedding"), 2L)
    }
    val dir = s"$noMrg/ivf/postings"
    val stripped = spark.read.parquet(dir).drop("mrg")
    stripped.write.partitionBy("cell").parquet(dir + "_nomrg")
    org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(dir))
    assert(new java.io.File(dir + "_nomrg").renameTo(new java.io.File(dir)))
    assert(!spark.read.parquet(dir).columns.contains("mrg"))
    val admitted = Seq(withMrg, noMrg).map { root =>
      SemDedupStream.ingestIntoIndexed(root, threshold = 0.95, nlist = 4,
          rebuildCheckEvery = 0)(
        Seq((61L, nudged(ood)), (62L, nudged(ringVec(3, 3))),
          (63L, ringVec(1, 9))).toDF("vec_id", "embedding"), 3L)
      spark.read.parquet(s"$root/corpus").select("vec_id")
        .as[Long].collect().toSet
    }
    assert(admitted(0) == admitted(1),
      s"with and without margins: ${admitted(0)} vs ${admitted(1)}")
    assert(admitted(1).contains(63L) && !admitted(1).contains(61L) &&
      !admitted(1).contains(62L),
      s"the OOD duplicate must reject through the exact verify: ${admitted(1)}")
  }

  test("60-trigger soak: dup lags from 1 to 30 triggers all rejected, " +
      "corpus is exactly the planted novels", SoakTest) {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val d32 = 32
    val rnd = new scala.util.Random(42)
    // deterministic unit novels; seeded so the precondition is stable
    val novels = Array.fill(60) {
      val v = Array.fill(d32)(rnd.nextGaussian())
      val n = math.sqrt(v.map(x => x * x).sum)
      v.map(x => (x / n).toFloat).toSeq
    }
    // precondition of the plant: novels are pairwise FAR below threshold
    for (i <- novels.indices; j <- 0 until i) {
      val cos = novels(i).zip(novels(j)).map { case (a, b) => a * b }.sum
      assert(math.abs(cos) < 0.8, s"seeded novels degenerate at ($i,$j): $cos")
    }
    def dupOf(v: Seq[Float]): Seq[Float] =
      v.zipWithIndex.map { case (x, i) => x + (if (i == 0) 0.01f else 0f) }

    // 60 novels stay below the index floor (4 × the 16-cell minimum), so
    // every trigger screens through admitBatch against the live corpus
    val root = java.nio.file.Files.createTempDirectory("semdedup_soak")
      .resolve("root").toString
    val dir = s"$root/corpus"
    val in = MemoryStream[(Long, Seq[Float])]
    val query = in.toDS().toDF("vec_id", "embedding")
      .writeStream
      .foreachBatch(SemDedupStream.ingestIntoIndexed(root, 0.9) _)
      .start()
    try {
      for (t <- 0 until 60) {
        val novelId = 1000L + t
        val rows = Seq.newBuilder[(Long, Seq[Float])]
        rows += ((novelId, novels(t)))
        rows += ((2000L + t, dupOf(novels(t)))) // in-batch dup, every trigger
        if (t > 0) { // dup of a novel admitted `lag` triggers ago
          val lag = t / 2 + 1
          val target = math.max(0, t - lag)
          rows += ((3000L + t, dupOf(novels(target))))
        }
        in.addData(rows.result(): _*)
        query.processAllAvailable()
      }
      val ids = spark.read.parquet(dir).select("vec_id")
        .collect().map(_.getLong(0)).toSeq
      assert(ids.toSet == (0 until 60).map(1000L + _).toSet,
        s"corpus must be exactly the 60 planted novels, got ${ids.sorted.take(70)}")
      assert(ids.length == 60, "exactly one row per admitted id")
    } finally query.stop()
  }
}
