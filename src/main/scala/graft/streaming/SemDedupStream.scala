package graft.streaming

import graft.llm.Similarity
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

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
  * postings, candidate-bounded exact verify — [[screenCoded]], the
  * screen [[CurationChain]]'s semantic stage runs too) keeps per-trigger
  * cost flat in corpus size.
  */
object SemDedupStream {

  /** Below one cell's worth of vectors the exact screen (nlist = 1) is
    * cheaper than training a cell map — and cell geometry degenerates
    * when k outgrows the trainable sample anyway.
    */
  private val ExactScreenCeiling = 512L

  /** Screen one micro-batch: drop in-batch near-dup higher ids (greedy
    * q71 rule), then drop everything with a near-dup neighbor in the
    * corpus. Both screens share the corpus-trained cell space when the
    * corpus is non-empty; an empty corpus (bootstrap trigger) applies
    * only the in-batch screen with cells trained on the batch itself.
    * Pure batch-side function — `foreachBatch` calls it per trigger.
    */
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

  /** A frozen semantic quantizer: coarse centroids plus PQ sub-codebooks,
    * laid out as [[Similarity.buildIvfCodeIndex]] writes them under `dir`
    * (`centroids`, `codebooks`). `codebooks` is None for a quantizer
    * founded before the coded layout existed.
    */
  private[streaming] final case class Quantizer(cents: Array[Array[Double]],
      codebooks: Option[Array[Array[Array[Double]]]])

  /** Driver memo of the quantizers: the arrays only change when a
    * (re)build swaps the directory, so per-trigger centroid/codebook
    * reads would be fixed jobs for constants. Keyed by a listing of the
    * two subdirectories — one metadata sweep per trigger instead of two
    * read jobs.
    */
  private val quantCache = new java.util.concurrent.ConcurrentHashMap[
    String, (String, Quantizer)]()

  /** The quantizer under `dir`; None until its centroids exist. */
  private[streaming] def loadQuantizer(spark: SparkSession,
      dir: String): Option[Quantizer] = {
    if (!StoreCompact.hasData(spark, s"$dir/centroids")) return None
    val root = new org.apache.hadoop.fs.Path(dir)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val stamp = new StringBuilder()
    Seq("centroids", "codebooks").map(new org.apache.hadoop.fs.Path(root, _))
      .filter(fs.exists).foreach { p =>
        val it = fs.listFiles(p, true)
        while (it.hasNext) {
          val st = it.next()
          stamp.append(st.getPath.getName).append(':').append(st.getLen)
            .append(':').append(st.getModificationTime).append(',')
        }
      }
    val key = stamp.toString()
    val hit = quantCache.get(dir)
    if (hit != null && hit._1 == key) Some(hit._2)
    else {
      val q = Quantizer(Similarity.readIvfCentroids(spark, dir),
        if (StoreCompact.hasData(spark, s"$dir/codebooks"))
          Some(Similarity.readCodebooks(spark, s"$dir/codebooks"))
        else None)
      quantCache.put(dir, (key, q))
      Some(q)
    }
  }

  /** The CODED screen of a (vec_id, embedding) batch against a founded
    * corpus — both semantic roots run it. The in-batch greedy drop runs
    * first; then each survivor probes its `nprobe` nearest cells, the
    * probed cells' PQ postings (8+m+8 bytes/vector instead of dim·8) are
    * ADC-scored, and a posting stays a candidate at
    * `adc ≥ threshold − mrg`: `mrg` is the posting's own exact ADC error
    * bound ([[graft.llm.PqAdcMargin]]), so the filter never drops a true
    * pair, and a posting without one (a null `mrg`, as older files read)
    * always verifies. ONLY the candidates then verify exactly against the
    * raw vectors, fetched by id pushdown (past 10k candidates, a
    * semi-join over the probed cells) — an all-novel batch reads code
    * postings and zero raw vectors. `postings(cells)` gives the live
    * (vec_id, cell, codes, mrg) rows of those cells, `vectors(cells)` the
    * live (vec_id, embedding) rows. Returns the admitted rows of `vecs`.
    */
  private[streaming] def screenCoded(pins: CorpusRoot.Pins, vecs: DataFrame,
      cents: Array[Array[Double]], codebooks: Array[Array[Array[Double]]],
      nprobe: Int, threshold: Double,
      postings: Seq[Int] => Option[DataFrame],
      vectors: Seq[Int] => Option[DataFrame]): DataFrame = {
    // the in-batch survivors feed the probe collect, the candidate
    // materialization and the final anti-join — pinned, or each re-runs
    // the whole upstream screen subplan (the q226 lesson)
    val surv = pins.pin(admitBatch(vecs, vecs.sparkSession.emptyDataFrame,
      threshold))
    Similarity.adcProbes(surv.select("vec_id", "embedding"), cents,
        codebooks, nprobe) match {
      case None => surv // zero offers survived the batch screen
      case Some(pr) =>
        postings(pr.probedCells.toSeq).map { st =>
          val cand = pins.pin(Similarity.adcScoreCandidates(
              st.withColumnRenamed("vec_id", "neighbor_id"), pr,
              Double.MinValue)
            .filter(col("mrg").isNull ||
              col("adc") >= lit(threshold) - col("mrg"))
            .select("query_id", "neighbor_id", "cell"))
          val idRows = cand.select("neighbor_id", "cell")
            .distinct().limit(10001).collect()
          val fetched =
            if (idRows.isEmpty) None
            else if (idRows.length <= 10000)
              vectors(idRows.map(_.getInt(1)).distinct.sorted.toSeq)
                .map(_.filter(col("vec_id").isin(idRows.map(r =>
                  java.lang.Long.valueOf(r.getLong(0))).toSeq: _*)))
            else
              vectors(pr.probedCells.toSeq).map(_.join(
                cand.select(col("neighbor_id").as("vec_id")).distinct(),
                Seq("vec_id"), "left_semi"))
          fetched.map { f =>
            val dup = cand.select("query_id", "neighbor_id").distinct()
              .join(f.select(col("vec_id").as("neighbor_id"),
                col("embedding").cast("array<double>").as("cv")),
                Seq("neighbor_id"))
              .join(surv.select(col("vec_id").as("query_id"),
                col("embedding").cast("array<double>").as("qv")),
                Seq("query_id"))
              .filter(Similarity.cosine(col("qv"), col("cv")) >= threshold)
              .select(col("query_id").as("vec_id")).distinct()
            surv.join(broadcast(dup), Seq("vec_id"), "left_anti")
          }.getOrElse(surv)
        }.getOrElse(surv)
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

  private def corpusDir(rootDir: String): String = s"$rootDir/corpus"
  private def indexDir(rootDir: String): String = s"$rootDir/ivf"

  /** The declared columns of the indexed root's corpus and postings:
    * reads name them, so none runs Spark's footer-inference job. Float
    * embeddings widen on read; a column absent from an older file reads
    * as null.
    */
  private val CorpusSchema = StructType(Seq(StructField("vec_id", LongType),
    StructField("embedding", ArrayType(DoubleType)), StructField("b", LongType)))
  private val PostingsSchema = StructType(Seq(
    StructField("neighbor_id", LongType), StructField("cell", IntegerType),
    StructField("codes", ArrayType(IntegerType)), StructField("b", LongType),
    StructField("mrg", DoubleType)))

  /** Every corpus row (vec_id, embedding, b). An externally seeded corpus
    * (bench bootstrap) may predate the batch-stamp column — batch 0 is
    * the correct reading for such rows.
    */
  private def readCorpus(spark: SparkSession, rootDir: String): Option[DataFrame] =
    if (!StoreCompact.hasData(spark, corpusDir(rootDir))) None
    else Some(spark.read.schema(CorpusSchema).parquet(corpusDir(rootDir))
      .withColumn("b", coalesce(col("b"), lit(0L))))

  /** The corpus rows live under the standing tombstones. */
  private def liveCorpus(spark: SparkSession, rootDir: String): Option[DataFrame] =
    readCorpus(spark, rootDir).map(CorpusRoot.live(spark, rootDir, "vec_id", _))

  /** Retrain the index from the LIVE corpus rows and swap it in
    * ([[StoreCompact.swap]]), so a crash inside the swap window is healed
    * by the `recover` at the top of the next trigger instead of reading
    * half an index. The layout is [[Similarity.buildIvfCodeIndex]]:
    * coarse cells prune, FULL-VECTOR PQ codes score — postings are
    * N·(8+m+8) bytes instead of N·dim·8, the 64×-class read reduction the
    * screen pays per trigger.
    */
  private def rebuildIndex(spark: SparkSession, rootDir: String,
      nlist: Int): Unit =
    StoreCompact.swap(spark, indexDir(rootDir)) { tmp =>
      Similarity.buildIvfCodeIndex(liveCorpus(spark, rootDir).getOrElse(
        throw new IllegalStateException(s"rebuild with no corpus at $rootDir")),
        tmp, nlist)
    }

  /** The trigger body: screen each batch against the standing corpus and
    * admit the novel vectors, with the persisted-index lifecycle composed
    * in (r12 verdict item 2). Wire as
    * `stream.writeStream.foreachBatch(SemDedupStream.ingestIntoIndexed(root, t) _)`.
    * Layout under `rootDir`:
    * `corpus` (vec_id, embedding, b — the source of truth) and `ivf`
    * (centroids + PQ codebooks + cell-partitioned m-byte CODE postings —
    * derived; [[Similarity.buildIvfCodeIndex]]). Per trigger, on the
    * [[CorpusRoot]] spine:
    *
    *  1. screen — past the index floor, [[screenCoded]] through the
    *     STANDING index (probe `nprobe` cells, ADC-score the pruned code
    *     postings, exact-verify only the candidates against the raw
    *     corpus); below it — corpus under [[indexFloor]] — the
    *     per-trigger [[admitBatch]] path, so bootstrap semantics are the
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
    *
    * Jobs are labelled `graft.sem <stage>` ([[JobLabel]]).
    */
  def ingestIntoIndexed(rootDir: String, threshold: Double,
      nlist: Int = 0, nprobe: Int = 4,
      rebuildCheckEvery: Int = 4, rebuildFactor: Double = 4.0)(
      batch: DataFrame, batchId: Long): Unit =
    ingestIndexed(rootDir, threshold, nlist, nprobe, rebuildCheckEvery,
      rebuildFactor, compactEvery = 0, cdc = false)(batch, batchId)

  /** The CDC form of [[ingestIntoIndexed]] (r13 verdict item 7 — the
    * mutable corpus previously had no index path, so an UPDATEd/DELETEd
    * doc's vector stayed probeable forever): batches of
    * (op, ord, vec_id, embedding), last op per id wins, UPDATE/DELETE
    * tombstone the id's standing corpus row AND index posting (the
    * [[CorpusRoot]] tombstone protocol, applied to the candidate
    * postings and to the corpus read of the verify), INSERT/UPDATE
    * vectors re-offer through the screen against the corpus MINUS the
    * retired rows — one staged publish. `compactEvery` applies
    * tombstones physically (corpus + postings rewrite, then the
    * tombstone store clears).
    */
  def ingestCdcIntoIndexed(rootDir: String, threshold: Double,
      nlist: Int = 0, nprobe: Int = 4,
      rebuildCheckEvery: Int = 4, rebuildFactor: Double = 4.0,
      compactEvery: Int = 0)(
      batch: DataFrame, batchId: Long): Unit =
    ingestIndexed(rootDir, threshold, nlist, nprobe, rebuildCheckEvery,
      rebuildFactor, compactEvery, cdc = true)(batch, batchId)

  private def ingestIndexed(rootDir: String, threshold: Double,
      nlist: Int, nprobe: Int, rebuildCheckEvery: Int, rebuildFactor: Double,
      compactEvery: Int, cdc: Boolean)(
      batch: DataFrame, batchId: Long): Unit = {
    val spark = batch.sparkSession
    val postingsDir = s"${indexDir(rootDir)}/postings"
    CorpusRoot.trigger(spark, rootDir, batchId,
        Seq(corpusDir(rootDir), indexDir(rootDir), postingsDir)) {
      if (!cdc) stageIndexed(rootDir, threshold, nprobe, batch, None, batchId)
      else CorpusRoot.lastOps(batch, "vec_id") { (offers, retired) =>
        stageIndexed(rootDir, threshold, nprobe, offers, Some(retired), batchId)
      }
    }
    // maintenance — derived state only, after commit
    if (cdc && compactEvery > 0 && batchId > 0 && batchId % compactEvery == 0)
      CorpusRoot.applyTombstones(spark, rootDir, "vec_id",
        Seq(corpusDir(rootDir) -> "vec_id", postingsDir -> "neighbor_id"))
    // (re)builds SIZE the cell count from the live corpus when the auto
    // sentinel rides (nlist = 0) — a drift rebuild re-sizes, so the
    // quantizer tracks corpus growth under the streaming policy
    def sizedNlist(n: Long): Int = if (nlist > 0) nlist else nlistFor(n)
    def liveN: Long = liveCorpus(spark, rootDir).map(_.count()).getOrElse(0L)
    if (!loadQuantizer(spark, indexDir(rootDir)).exists(_.codebooks.isDefined)) {
      val n = liveN
      if (n > 0 && n >= indexFloor(sizedNlist(n)))
        rebuildIndex(spark, rootDir, sizedNlist(n))
    } else if (rebuildCheckEvery > 0 && batchId > 0 &&
        batchId % rebuildCheckEvery == 0 &&
        Similarity.ivfNeedsRebuild(spark, indexDir(rootDir), rebuildFactor))
      rebuildIndex(spark, rootDir, sizedNlist(liveN))
  }

  /** Stage and seal a plain batch without publishing it — where the
    * crash-replay spec stops.
    */
  private[streaming] def stageBatch(rootDir: String, threshold: Double)(
      batch: DataFrame, batchId: Long): Unit =
    CorpusRoot.staged(batch.sparkSession, rootDir, batchId)(
      stageIndexed(rootDir, threshold, nprobe = 4, batch, None, batchId))

  /** Screen `offers` (vec_id, embedding) against the live corpus — the
    * standing tombstones plus this batch's `retired` ids excluded — and
    * stage the admitted rows to the corpus and the postings, and the
    * retired ids to the tombstones.
    */
  private def stageIndexed(rootDir: String, threshold: Double, nprobe: Int,
      offers: DataFrame, retired: Option[DataFrame], batchId: Long): Unit = {
    val spark = offers.sparkSession
    def labeled[T](stage: String)(f: => T): T =
      JobLabel(spark, s"graft.sem $stage")(f)
    def staged(store: String): String = StoreTxn.stagePath(rootDir, batchId, store)
    val pins = new CorpusRoot.Pins(spark)
    try {
      val retire = CorpusRoot.retire(pins, rootDir, "vec_id", retired,
        batchId, "graft.sem tombstones")
      def live(df: DataFrame): DataFrame = retire.fold(df)(_(df, "vec_id"))
      val corpus = readCorpus(spark, rootDir)
        .map(c => live(c).select("vec_id", "embedding"))
      val vecs = pins.pin(offers.select("vec_id", "embedding"))
      val coded = loadQuantizer(spark, indexDir(rootDir))
        .flatMap(q => q.codebooks.map(q.cents -> _))
      val postingsDir = s"${indexDir(rootDir)}/postings"
      val admitted = labeled("screen") {
        coded match {
          case Some((cents, cbs)) =>
            screenCoded(pins, vecs, cents, cbs, nprobe, threshold,
              postings = cells =>
                if (!StoreCompact.hasData(spark, postingsDir)) None
                else Some(live(spark.read.schema(PostingsSchema).parquet(postingsDir)
                    .filter(col("cell").isin(cells.map(Integer.valueOf): _*))
                    .withColumnRenamed("neighbor_id", "vec_id"))
                  .select("vec_id", "cell", "codes", "mrg")),
              vectors = _ => corpus)
          case None =>
            admitBatch(vecs, corpus.getOrElse(spark.emptyDataFrame), threshold)
        }
      }
      // the staged writes must not re-read the stores the publish grows —
      // truncate the lineage to the computed rows
      val keep = labeled("checkpoint") {
        admitted.select("vec_id", "embedding")
          .withColumn("b", lit(batchId)).localCheckpoint()
      }
      labeled("stage-corpus") {
        keep.write.mode("overwrite").parquet(staged("corpus"))
      }
      coded.foreach { case (cents, cbs) =>
        labeled("stage-postings") {
          Similarity.encodeIvfCode(keep, cents, cbs, withMargin = true)
            .write.mode("overwrite").partitionBy("cell")
            .parquet(staged("ivf") + "/postings")
        }
      }
      retired.foreach { ids =>
        labeled("stage-tombstones") {
          CorpusRoot.stageTombstones(rootDir, batchId, ids, "vec_id")
        }
      }
    } finally pins.release()
  }
}
