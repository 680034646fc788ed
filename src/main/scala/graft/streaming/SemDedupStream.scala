package graft.streaming

import graft.llm.Similarity
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Streaming SEMANTIC dedup — the embedding-side of [[CorpusIngest]] and
  * the production form of the q208 incremental operator: every ingest
  * micro-batch is screened against the STANDING embedding corpus (and
  * against itself), and only semantically novel vectors are admitted —
  * the corpus then grows by exactly the admitted rows, so a paraphrase
  * of something admitted two triggers ago is rejected just like one
  * admitted two years ago.
  *
  * Shape: `foreachBatch` (the [[CdcSnapshot]] idiom) — inside a trigger
  * the batch is a static DataFrame, so the screen IS the batch operator
  * (`Similarity.semDedupPairsAgainst`: corpus-trained cells, batch side
  * multi-probes, only new×corpus pairs scored) followed by the in-batch
  * keep-lowest drop (`semDedupPairs`, the q71 greedy rule). No new
  * semantics exist here — the streaming layer only sequences the
  * oracle-gated batch operators and owns the corpus append.
  *
  * Scale: [[admitBatch]]'s per-trigger work is |batch|·cellSize cosines
  * plus one corpus cell-assignment pass. The trigger body
  * ([[ingestIntoIndexed]]) runs it against the whole corpus only below
  * the index floor; past it the PERSISTED index (frozen cells, PQ-coded
  * postings, candidate-bounded exact verify) keeps per-trigger cost
  * flat in corpus size.
  */
object SemDedupStream {

  /** Screen one micro-batch: drop in-batch near-dup higher ids (greedy
    * q71 rule), then drop everything with a near-dup neighbor in the
    * corpus. Both screens share the corpus-trained cell space when the
    * corpus is non-empty; an empty corpus (bootstrap trigger) applies
    * only the in-batch screen with cells trained on the batch itself.
    * Pure batch-side function — `foreachBatch` calls it per trigger.
    */
  /** Below one cell's worth of vectors the exact screen (nlist = 1) is
    * cheaper than training a cell map — and cell geometry degenerates
    * when k outgrows the trainable sample anyway.
    */
  private val ExactScreenCeiling = 512L

  /** Sentinel for `adcMargin`: resolve the margin from the index's own
    * calibration ([[Similarity.adcCalibratedMargin]] — the p99 PQ residual
    * norm measured at build time, the Cauchy–Schwarz bound on per-pair ADC
    * cosine error). PQ quantization error is data-dependent; a fixed
    * margin silently under-screens corpora whose error exceeds it
    * (r14 ADVICE medium). Explicit margins are honored but warned about
    * when they fall below the measured p99.
    */
  val AutoMargin: Double = -1.0

  /** Fallback when no calibration is persisted (pre-calibration index). */
  private val DefaultMargin = 0.08

  private val log = org.slf4j.LoggerFactory.getLogger(getClass)

  // calib parquet memo: the one-row file only changes when a rebuild
  // swaps the index dir, so per-trigger re-reads are a fixed job for a
  // constant (the r14-item-2 overhead class). Keyed by the calib file's
  // (mtime, len) — one metadata call per trigger instead of a read job.
  private val calibCache = new java.util.concurrent.ConcurrentHashMap[
    String, (String, Option[Double])]()

  private def calibratedMargin(spark: org.apache.spark.sql.SparkSession,
      indexDir: String): Option[Double] = {
    val p = new org.apache.hadoop.fs.Path(s"$indexDir/calib")
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(p)) return None
    val stamp = fs.listStatus(p)
      .map(st => s"${st.getPath.getName}:${st.getLen}:${st.getModificationTime}")
      .sorted.mkString(",")
    val hit = calibCache.get(indexDir)
    if (hit != null && hit._1 == stamp) hit._2
    else {
      val v = Similarity.adcCalibratedMargin(spark, indexDir)
      calibCache.put(indexDir, (stamp, v))
      v
    }
  }

  private def resolveMargin(spark: org.apache.spark.sql.SparkSession,
      indexDir: String, requested: Double): Double = {
    val calib = calibratedMargin(spark, indexDir)
    if (requested < 0) calib.getOrElse(DefaultMargin)
    else {
      calib.filter(_ > requested).foreach { p99 =>
        log.warn(s"adcMargin $requested below measured p99 ADC error " +
          s"$p99 for $indexDir — near-threshold duplicates may be " +
          "silently admitted")
      }
      requested
    }
  }

  def admitBatch(batch: DataFrame, corpus: DataFrame, threshold: Double,
      probes: Int = 4): DataFrame = {
    // one count serves both the idle-trigger gate and the exact-screen
    // sizing (isEmpty + count was two jobs on the same tiny frame)
    val batchN = batch.count()
    if (batchN == 0) return batch // an idle trigger has nothing to train on
    val inBatchDrops = {
      val exact = batchN <= ExactScreenCeiling
      Similarity.semDedupPairs(batch, threshold,
          nlist = if (exact) 1 else 0, probes = if (exact) 1 else probes)
        .select(col("db").as("vec_id")).distinct()
    }
    val survivors = batch.join(inBatchDrops, Seq("vec_id"), "left_anti")
    val corpusN = if (corpus.columns.isEmpty) 0L else corpus.count()
    if (corpusN == 0) survivors
    else {
      val exact = corpusN <= ExactScreenCeiling
      val dupIds = Similarity
        .semDedupPairsAgainst(survivors, corpus, threshold,
          nlist = if (exact) 1 else 0, probes = if (exact) 1 else probes)
        .select(col("new_id").as("vec_id")).distinct()
      survivors.join(dupIds, Seq("vec_id"), "left_anti")
    }
  }

  /** How many corpus rows must exist before the persisted index is worth
    * founding: below ~4 vectors/cell the trained quantizer is noise and
    * the per-trigger screens are cheap anyway.
    */
  private def indexFloor(nlist: Int): Long = 4L * nlist

  /** The streaming-regime cell-count policy (r14 verdict item 3):
    * `ceil(√(n/10))`, clamped to [16, 4096] — deliberately SLOWER than
    * the batch index's nlist ~ √N, because a streaming trigger pays a
    * per-CELL maintenance cost the batch probe never sees (staged
    * append = one file per touched cell + publish renames; measured:
    * 1M rows at nlist=1000 cost 14.1–16.6 s/trigger vs 7.5–9.5 at 316,
    * while the postings-read term stayed trivial at 16 bytes/vector).
    * The constant pins the policy to the measured-good point: 316 cells
    * at 1M rows, 1000 at 10M. Used whenever the caller passes
    * `nlist = 0` (the auto sentinel, the default); an explicit nlist is
    * honored unchanged.
    */
  private[graft] def nlistFor(n: Long): Int =
    math.max(16, math.min(4096,
      math.ceil(math.sqrt(n / 10.0)).toInt))

  private def dirHasData(spark: org.apache.spark.sql.SparkSession,
      dir: String): Boolean = StoreCompact.hasData(spark, dir)

  /** The LIVE corpus rows (vec_id, embedding, b): minus rows retired by
    * a newer tombstone — the CDC-extended indexed root keeps the same
    * (id, b < asOf) convention as [[CurationChain]].
    */
  private def liveCorpus(spark: org.apache.spark.sql.SparkSession,
      rootDir: String): Option[DataFrame] = {
    val corpusDir = s"$rootDir/corpus"
    if (!dirHasData(spark, corpusDir)) return None
    val raw = spark.read.parquet(corpusDir)
    // an externally seeded corpus (bench bootstrap) may predate the
    // batch-stamp column — batch 0 is the correct reading for such rows
    val df = (if (raw.columns.contains("b")) raw
      else raw.withColumn("b", lit(0L))).select("vec_id", "embedding", "b")
    Some(tombstonesOf(spark, rootDir) match {
      case None => df
      case Some(t) =>
        df.join(t.withColumnRenamed("asOf", "_asof"), Seq("vec_id"), "left")
          .filter(col("_asof").isNull || col("b") >= col("_asof"))
          .drop("_asof")
    })
  }

  private def tombstonesOf(spark: org.apache.spark.sql.SparkSession,
      rootDir: String): Option[DataFrame] = {
    val dir = s"$rootDir/tombstones"
    if (!dirHasData(spark, dir)) None
    else Some(spark.read.parquet(dir)
      .groupBy("vec_id").agg(max("asOf").as("asOf")))
  }

  /** Retrain the index from the LIVE corpus rows and swap it in with the
    * [[StoreCompact]] rename discipline (retire → publish → drop), so a
    * crash inside the swap window is healed by the `recover` call at the
    * top of the next trigger instead of reading half an index. The
    * layout is [[Similarity.buildIvfCodeIndex]] (r13 verdict item 2):
    * coarse cells prune, FULL-VECTOR PQ codes score — postings are
    * N·(8+m+8) bytes instead of N·dim·8, the 64×-class read reduction
    * the screen pays per trigger.
    */
  private def rebuildIndex(spark: org.apache.spark.sql.SparkSession,
      rootDir: String, indexDir: String, nlist: Int, m: Int,
      ksub: Int): Unit = {
    val fs = new org.apache.hadoop.fs.Path(indexDir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val tmp = new org.apache.hadoop.fs.Path(indexDir + "_compact_tmp")
    val old = new org.apache.hadoop.fs.Path(indexDir + "_compact_old")
    fs.delete(tmp, true); fs.delete(old, true)
    Similarity.buildIvfCodeIndex(
      liveCorpus(spark, rootDir).getOrElse(
        throw new IllegalStateException(s"rebuild with no corpus at $rootDir")),
      tmp.toString, nlist, m, ksub)
    val live = new org.apache.hadoop.fs.Path(indexDir)
    if (fs.exists(live))
      require(fs.rename(live, old), s"rebuild: could not retire $indexDir")
    require(fs.rename(tmp, live), s"rebuild: could not publish $tmp")
    fs.delete(old, true)
    ()
  }


  /** The trigger body: screen each batch against the standing corpus and
    * admit the novel vectors, with the persisted-index lifecycle composed
    * in (r12 verdict item 2). Wire as
    * `stream.writeStream.foreachBatch(SemDedupStream.ingestIntoIndexed(root, t) _)`.
    * Layout under `rootDir`:
    * `corpus` (vec_id, embedding, b — the source of truth) and `ivf`
    * (centroids + PQ codebooks + cell-partitioned m-byte CODE postings —
    * derived; [[Similarity.buildIvfCodeIndex]], r13 verdict item 2: the
    * old raw-vector postings made every screening trigger read
    * ~dim·8 bytes/vector of its probed cells — the code layout reads
    * 8+m, the 64×-class reduction at dim 64, and most triggers touch
    * the raw corpus not at all). Per trigger:
    *
    *  1. screen — in-batch greedy drop, then the corpus side through the
    *     STANDING index: probe nprobe cells, ADC-score the pruned code
    *     postings (≈ cosine, full-vector codes), and exact-verify only
    *     the candidates clearing `threshold - mrg` — each posting's OWN
    *     exact ADC error bound, written at encode time
    *     ([[graft.llm.PqAdcMargin]]; recall-safe for any query by
    *     Cauchy–Schwarz, with `adcMargin` surviving only as the global
    *     fallback for pre-margin indexes) — against the raw corpus
    *     (id-pushdown fetch; an all-novel batch produces ZERO
    *     candidates and never opens a corpus file). Before the index
    *     exists — corpus below [[indexFloor]] — the per-trigger
    *     [[admitBatch]] path screens, so bootstrap semantics are the
    *     gated operator's;
    *  2. publish — admitted rows stage to BOTH the corpus and the
    *     index's postings (frozen-centroid assignment + frozen-codebook
    *     encode, no posting rewrite) and land through [[StoreTxn]]'s
    *     exactly-once protocol: with TWO stores a replay after a crash
    *     between appends would otherwise re-admit (index stale →
    *     duplicate corpus rows) or lose rows (index ahead → rejected
    *     before the corpus append);
    *  3. maintain — once the corpus clears the floor the index is
    *     founded; every `rebuildCheckEvery` triggers
    *     [[Similarity.ivfNeedsRebuild]] runs (appends land under frozen
    *     centroids, so a cell drifting past `rebuildFactor`× its fair
    *     share means the corpus outgrew its quantizer and probes of the
    *     hot cell degrade toward a scan) and [[rebuildIndex]] retrains
    *     when it fires. Maintenance runs AFTER commit on derived state
    *     only, swap-healed — admit decisions never depend on a
    *     half-built index.
    */
  def ingestIntoIndexed(rootDir: String, threshold: Double,
      nlist: Int = 0, nprobe: Int = 4, probes: Int = 4,
      rebuildCheckEvery: Int = 4, rebuildFactor: Double = 4.0,
      m: Int = 8, ksub: Int = 256, adcMargin: Double = AutoMargin)(
      batch: DataFrame, batchId: Long): Unit =
    ingestIndexedImpl(rootDir, threshold, nlist, nprobe, probes,
      rebuildCheckEvery, rebuildFactor, m, ksub, adcMargin,
      compactEvery = 0, cdc = false)(batch, batchId)

  /** The CDC form of [[ingestIntoIndexed]] (r13 verdict item 7 — the
    * mutable corpus previously had no index path, so an UPDATEd/DELETEd
    * doc's vector stayed probeable forever): batches of
    * (op, ord, vec_id, embedding), last op per id wins, UPDATE/DELETE
    * tombstone the id's standing corpus row AND index posting (the same
    * (id, b < asOf) exclusion, applied to candidates before the verify
    * and to the corpus read inside it), INSERT/UPDATE vectors re-offer
    * through the screen against the corpus MINUS the retired rows —
    * one staged publish. `compactEvery` applies tombstones physically
    * (corpus + postings rewrite, then the tombstone store clears).
    */
  def ingestCdcIntoIndexed(rootDir: String, threshold: Double,
      nlist: Int = 0, nprobe: Int = 4, probes: Int = 4,
      rebuildCheckEvery: Int = 4, rebuildFactor: Double = 4.0,
      m: Int = 8, ksub: Int = 256, adcMargin: Double = AutoMargin,
      compactEvery: Int = 0)(
      batch: DataFrame, batchId: Long): Unit =
    ingestIndexedImpl(rootDir, threshold, nlist, nprobe, probes,
      rebuildCheckEvery, rebuildFactor, m, ksub, adcMargin,
      compactEvery, cdc = true)(batch, batchId)

  private def ingestIndexedImpl(rootDir: String, threshold: Double,
      nlist: Int, nprobe: Int, probes: Int,
      rebuildCheckEvery: Int, rebuildFactor: Double,
      m: Int, ksub: Int, adcMargin: Double,
      compactEvery: Int, cdc: Boolean)(
      batch: DataFrame, batchId: Long): Unit = {
    val spark = batch.sparkSession
    val corpusDir = s"$rootDir/corpus"
    val indexDir = s"$rootDir/ivf"
    StoreTxn.guardMonotone(spark, rootDir, batchId)
    StoreCompact.recover(spark, corpusDir)
    StoreCompact.recover(spark, indexDir) // heal an interrupted rebuild swap
    val indexed = dirHasData(spark, s"$indexDir/centroids")
    if (!StoreTxn.isCommitted(spark, rootDir, batchId)) {
      if (!StoreTxn.isStaged(spark, rootDir, batchId)) {
        StoreTxn.clearForeignStaged(spark, rootDir, batchId)
        // CDC: the LAST op per id wins; UPDATE/DELETE retire as of this
        // batch; INSERT/UPDATE vectors re-offer
        val (offers0, tombIds) =
          if (!cdc) (batch, None: Option[DataFrame])
          else {
            val wOrd = org.apache.spark.sql.expressions.Window
              .partitionBy("vec_id").orderBy(col("ord").desc)
            val last = batch.withColumn("rn", row_number().over(wOrd))
              .filter(col("rn") === 1).drop("rn")
            (last.filter(col("op").isin("INSERT", "UPDATE"))
              .select("vec_id", "embedding"),
              Some(last.filter(col("op").isin("UPDATE", "DELETE"))
                .select("vec_id")))
          }
        val pinned = offers0.persist()
        // effective retirement for THIS trigger's screens: standing
        // tombstones ∪ this batch's (so an UPDATE screens against the
        // corpus minus its own old vector, in the same trigger)
        val freshTomb = tombIds.map(_.distinct()
          .withColumn("asOf", lit(batchId)).persist())
        val standing = tombstonesOf(spark, rootDir)
        val tombAll: Option[DataFrame] = (standing, freshTomb) match {
          case (None, None) => None
          case (a, b) => Some((a.toSeq ++ b.toSeq).reduce(_ unionByName _)
            .groupBy("vec_id").agg(max("asOf").as("asOf")))
        }
        def liveOf(df: DataFrame): DataFrame = tombAll match {
          case None => df
          case Some(t) =>
            df.join(t.select(col("vec_id"), col("asOf").as("_asof")),
                Seq("vec_id"), "left")
              .filter(col("_asof").isNull || col("b") >= col("_asof"))
              .drop("_asof")
        }
        var surv0: Option[DataFrame] = None
        try {
          val admitted =
            if (indexed) {
              // the in-batch screen result feeds the isEmpty probe, the
              // candidate probe collect, the verify join, and the staged
              // write — pin it, or each action re-runs the screen subplan
              val surv = admitBatch(pinned, spark.emptyDataFrame,
                threshold, probes).persist() // in-batch screen only
              surv0 = Some(surv)
              // A pure-DELETE (or replayed-empty) CDC batch has zero
              // offers — skip the candidate/verify jobs entirely and
              // fall through to staging, so the batch's TOMBSTONES
              // still publish (the ADVICE r14 high: the old path died
              // in liveOf on the candidate frame and lost the DELETEs)
              if (surv.isEmpty) surv
              else {
                // ADC candidates (postings pruned to the probed cells, m
                // bytes/vector), each kept at `adc ≥ threshold − mrg` —
                // the posting's own exact error bound, so recall never
                // depends on the calibrated global margin (that margin
                // survives only as the fallback for indexes built
                // before `mrg` existed); retired postings excluded by
                // (id, b), then the candidate-bounded exact verify
                val cand = liveOf(Similarity.ivfCodeThresholdCandidatesExact(
                    indexDir, surv, threshold, nprobe,
                    resolveMargin(spark, indexDir, adcMargin))
                  .withColumnRenamed("neighbor_id", "vec_id"))
                  .withColumnRenamed("vec_id", "neighbor_id")
                val dupIds = verifyCandidatesLive(spark, rootDir, surv, cand,
                  threshold, tombAll)
                surv.join(dupIds, Seq("vec_id"), "left_anti")
              }
            } else {
              val corpus = liveCorpus(spark, rootDir)
                .map(liveOf).map(_.select("vec_id", "embedding"))
                .getOrElse(spark.emptyDataFrame)
              admitBatch(pinned, corpus, threshold, probes)
            }
          // the staged writes must not re-read the stores the publish
          // below grows — truncate the lineage to the computed rows
          val keep = admitted.select("vec_id", "embedding")
            .withColumn("b", lit(batchId)).localCheckpoint()
          keep.write.mode("overwrite")
            .parquet(StoreTxn.stagePath(rootDir, batchId, "corpus"))
          if (indexed)
            Similarity.stageIvfCodeAppend(keep, indexDir,
              StoreTxn.stagePath(rootDir, batchId, "ivf") + "/postings")
          freshTomb.foreach {
            _.write.mode("overwrite")
              .parquet(StoreTxn.stagePath(rootDir, batchId, "tombstones"))
          }
          StoreTxn.seal(spark, rootDir, batchId)
        } finally {
          pinned.unpersist(); freshTomb.foreach(_.unpersist())
          surv0.foreach(_.unpersist()); ()
        }
      }
      StoreTxn.publish(spark, rootDir, batchId)
    }
    // maintenance — derived state only, after commit
    if (cdc && compactEvery > 0 && batchId > 0 &&
        batchId % compactEvery == 0) {
      applyIndexedTombstones(spark, rootDir)
    }
    // (re)builds SIZE the cell count from the live corpus when the auto
    // sentinel rides (nlist = 0) — a drift rebuild re-sizes, so the
    // quantizer tracks corpus growth under the streaming policy
    def sizedNlist(n: Long): Int = if (nlist > 0) nlist else nlistFor(n)
    if (!indexed) {
      val n = liveCorpus(spark, rootDir).map(_.count()).getOrElse(0L)
      if (n > 0 && n >= indexFloor(sizedNlist(n)))
        rebuildIndex(spark, rootDir, indexDir, sizedNlist(n), m, ksub)
    } else if (rebuildCheckEvery > 0 && batchId > 0 &&
        batchId % rebuildCheckEvery == 0 &&
        Similarity.ivfNeedsRebuild(spark, indexDir, rebuildFactor)) {
      val n = liveCorpus(spark, rootDir).map(_.count()).getOrElse(0L)
      rebuildIndex(spark, rootDir, indexDir, sizedNlist(n), m, ksub)
    }
  }

  /** [[verifyCandidates]] with the trigger's effective tombstones (the
    * standing store alone misses THIS batch's retirements).
    */
  private def verifyCandidatesLive(spark: org.apache.spark.sql.SparkSession,
      rootDir: String, queries: DataFrame, cand: DataFrame,
      threshold: Double, tombAll: Option[DataFrame]): DataFrame = {
    val pairs = cand.select("query_id", "neighbor_id").distinct()
    val idRows = pairs.select("neighbor_id").distinct().limit(10001).collect()
    val corpus0 = liveCorpus(spark, rootDir).getOrElse(
      return pairs.select(col("query_id").as("vec_id")).limit(0))
    val corpus = tombAll match {
      case None => corpus0
      case Some(t) =>
        corpus0.join(t.select(col("vec_id"), col("asOf").as("_asof")),
            Seq("vec_id"), "left")
          .filter(col("_asof").isNull || col("b") >= col("_asof"))
          .drop("_asof")
    }
    val fetched =
      if (idRows.length <= 10000)
        corpus.filter(col("vec_id").isin(
          idRows.map(r => java.lang.Long.valueOf(r.getLong(0))).toSeq: _*))
      else
        corpus.join(pairs.select(col("neighbor_id").as("vec_id")).distinct(),
          Seq("vec_id"), "left_semi")
    pairs
      .join(fetched.select(col("vec_id").as("neighbor_id"),
        col("embedding").cast("array<double>").as("cv")), Seq("neighbor_id"))
      .join(queries.select(col("vec_id").as("query_id"),
        col("embedding").cast("array<double>").as("qv")), Seq("query_id"))
      .filter(Similarity.cosine(col("qv"), col("cv")) >= threshold)
      .select(col("query_id").as("vec_id")).distinct()
  }

  /** Physically drop tombstone-retired rows from the corpus AND the
    * index postings (both carry `b`; a row retires when a tombstone with
    * `asOf > b` exists for its id), then clear the tombstone store —
    * the indexed root's [[CurationChain.applyTombstones]].
    */
  def applyIndexedTombstones(spark: org.apache.spark.sql.SparkSession,
      rootDir: String): Unit = {
    val tombDir = s"$rootDir/tombstones"
    if (!dirHasData(spark, tombDir)) return
    val t = spark.read.parquet(tombDir)
      .groupBy("vec_id").agg(max("asOf").as("_asof"))
      .localCheckpoint()
    Seq(s"$rootDir/corpus" -> "vec_id",
        s"$rootDir/ivf/postings" -> "neighbor_id").foreach {
      case (dir, key) =>
        if (dirHasData(spark, dir))
          StoreCompact.rewrite(spark, dir, df =>
            df.join(t.select(col("vec_id").as(key), col("_asof")),
                Seq(key), "left")
              .filter(col("_asof").isNull || col("b") >= col("_asof"))
              .drop("_asof"))
    }
    val p = new org.apache.hadoop.fs.Path(tombDir)
    p.getFileSystem(spark.sparkContext.hadoopConfiguration).delete(p, true)
    ()
  }
}
