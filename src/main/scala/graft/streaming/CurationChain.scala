package graft.streaming

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** The WHOLE streaming curation pipeline as ONE trigger body — the LLM
  * analogue of the CDC side's composed wire chain (ReplicaStream →
  * TxnStream → Pipeline): each micro-batch of documents runs

  *  1. quality gate — normalize, word window, repetition ratio,
  *     blocklist ([[CorpusIngest.gateBatch]], per-row kernels);
  *  2. EXACT screen — in-batch first-of-hash, then the standing
  *     content-hash store ([[ScreenStage.Exact]], cheapest first);
  *  3. PERCEPTUAL media screen, when the batch carries a `content`
  *     binary column ([[ScreenStage.Perceptual]]) — a re-crop/re-encode
  *     of media admitted fifty triggers ago is rejected even under novel
  *     text;
  *  4. NEAR-DUP text screen — MinHash signatures banded against the
  *     standing signature store ([[ScreenStage.Sig]]);
  *  5. SEMANTIC screen, when the batch carries an `embedding` column
  *     ([[ScreenStage.Semantic]]);
  *
  * and only documents surviving EVERY stage are admitted. All the
  * stores then grow by exactly the admitted rows — a doc rejected at a
  * late stage leaves NO residue in any store, so future arrivals are
  * always judged against admitted content only (a rejected doc's exact
  * hash must not block its own re-arrival from being re-judged: the
  * stores are the corpus's memory, not the reject log's).
  *
  * Stage order is cost order: the exact hash anti-join kills recrawl
  * storms before anything decodes, the perceptual screen (one linear
  * decode pass, 16 bytes/row after it) kills media recrawls before the
  * shuffle-heavy signature agg runs, and the signature screen kills
  * light edits before any cosine is computed.
  *
  * STORE LAYOUT: every screen store is a [[ScreenStore]] (`exact`,
  * `phash`, `sigs`, `vecs`, `vecpq`; layout, fronts and reads described
  * there), so a trigger reads candidate buckets only and its screen cost
  * is bounded by the batch and its true duplicates, not by store size.
  * `vecs` is cell-partitioned under frozen trained centroids once past
  * the founding floor (retrain-per-trigger below it), and `vecpq` is its
  * PQ-CODED posting twin: the screen ADC-scores the probed cells'
  * postings (8+m+8 bytes/vector instead of dim·8), keeps candidates at
  * `adc ≥ threshold − mrg`, each posting's own exact error bound
  * ([[graft.llm.PqAdcMargin]]), then exact-verifies ONLY candidates
  * against the raw store by id pushdown (a founded root whose postings
  * are not built yet keeps the raw cell probe). Stores compact on the
  * `compactEvery` cadence (fronts rebuild, cells refound on drift) and
  * heal via [[StoreCompact.recover]] after a mid-swap crash. This body
  * keeps only its own steps: the gate, first-of-hash, the budget, the
  * `admitted` and `tombstones` writes, and the vec-cell maintenance.
  *
  * EXACTLY-ONCE store publication (r12 ADVICE): `foreachBatch` is
  * at-least-once, and the naive sequential appends break under replay —
  * a crash after the exact-store append but before the admitted append
  * leaves the replayed batch's docs anti-joined away by their OWN
  * half-written hashes, permanently dropping them while their reject
  * residue persists. So the trigger body never appends directly: the
  * admitted rows are derived once (against pre-batch store state) and
  * go through [[StoreTxn]]'s stage → seal → publish → commit protocol on
  * the [[CorpusRoot]] spine — replay of a committed batch no-ops, a
  * mid-publish crash finishes publication without recompute, a
  * mid-staging crash recomputes safely.
  *
  * MUTABLE-corpus curation (r13): a CDC-fed documents table UPDATEs and
  * DELETEs, and without retirement a doc's new version is forever
  * rejected as a near-dup of its own past (and a deleted doc's re-offer
  * is blocked by a ghost). [[ingestCdcInto]] takes (op, ord, doc_id,
  * text, …) batches: the LAST op per doc wins, UPDATE/DELETE write a
  * TOMBSTONE (doc_id, asOf = batchId) through the same staged commit,
  * every store row carries its admit batch `b`, and the screens exclude
  * rows with a tombstone newer than their batch ([[CorpusRoot]]'s
  * tombstone protocol) — so an UPDATE's new text is screened against
  * the corpus MINUS its own retired version, in the same trigger,
  * exactly-once. Tombstones are logical until the
  * `compactEvery` cadence runs [[applyTombstones]] — a crash-healed
  * rewrite ([[StoreCompact.rewrite]] swap) that removes retired rows
  * physically and clears the tombstone store; a crash mid-apply leaves
  * tombstones in place, so the logical exclusion still holds and the
  * next cadence finishes (idempotent).
  *
  * Wire as `stream.writeStream.foreachBatch(CurationChain.ingestInto(root) _)`
  * with a (doc_id, text[, content][, embedding]) batch; admitted docs
  * append to `root/admitted`. For the CDC shape, wire
  * [[ingestCdcInto]] (see [[CdcCorpusChain.startCdc]]).
  */
object CurationChain {

  /** The unbucketed stores: the admitted corpus and the budget ledger. */
  private val FlatStores = Seq("admitted", "budget")

  /** Every store the root's layout marker guards. */
  private val StoreNames = ScreenStore.All.map(_.name) ++ FlatStores

  /** The columns of every store this object writes, declared once (the
    * screen stores' in [[ScreenStore]]): every read names its schema, so
    * no read runs Spark's footer-inference job. Older narrower files
    * widen on read (float embeddings read as double, as every kernel
    * casts them anyway); a column absent from an older file reads as
    * null.
    */
  private[streaming] val StoreSchemas: Map[String, StructType] = {
    def s(cols: (String, DataType)*): StructType =
      StructType(cols.map { case (n, t) => StructField(n, t) })
    ScreenStore.All.map(st => st.name -> st.schema).toMap ++ Map(
      "admitted" -> s("doc_id" -> LongType, "text" -> StringType,
        "content_hash" -> StringType, "b" -> LongType),
      "budget" -> s("source" -> StringType, "toks" -> LongType,
        "b" -> LongType),
      "tombstones" -> CorpusRoot.tombstoneSchema("doc_id"),
      "bloom" -> StoreLayout.FrontSchema,
      "sigbloom" -> StoreLayout.FrontSchema)
  }

  /** Every directory the per-trigger recover sweep heals. */
  private def recoverDirs(rootDir: String): Seq[String] =
    ScreenStore.All.flatMap(_.dirs(rootDir)) ++ FlatStores.map(s => s"$rootDir/$s")

  /** Read a flat store directory (`<root>/<store>`) under its declared schema. */
  private def readStore(spark: SparkSession, dir: String,
      cols: Seq[String]): Option[DataFrame] =
    if (!StoreCompact.hasData(spark, dir)) None
    else Some(spark.read.schema(StoreSchemas(dir.split('/').last)).parquet(dir)
      .select(cols.map(col): _*))

  /** Derive the admitted set against the CURRENT store state and stage
    * all outputs under `_staged/<batchId>/` ([[CorpusRoot.trigger]]
    * seals them). Touches no store — the crash window before
    * [[StoreTxn.publish]] is recompute-safe. `batchTombstones` (doc_id
    * rows), when
    * present, retire those docs' standing store rows as of THIS batch —
    * the screens below exclude them, and the tombstone delta stages
    * into the same atomic publish.
    */
  private[streaming] def stageCurated(rootDir: String, threshold: Double,
      offers: DataFrame, batchTombstones: Option[DataFrame],
      batchId: Long, vecNprobe: Int = 4,
      budgets: Map[String, Long] = Map.empty,
      budgetDefault: Long = Long.MaxValue): Unit = {
    val spark = offers.sparkSession
    val budgeted = budgets.nonEmpty
    if (budgeted) require(offers.columns.contains("source"),
      "budgeted ingest needs a `source` column on the batch")
    def staged(store: String): String = StoreTxn.stagePath(rootDir, batchId, store)
    val semantic = offers.columns.contains("embedding")
    val media = offers.columns.contains("content")
    // every frame this body pins and every broadcast variable it ships
    // are released together when the trigger returns — after the staging
    // pool has drained, because the pooled sig deltas still read the
    // pinned sig survivors. The live-row filter runs under the effective
    // tombstones (standing ∪ this batch's) — [[CorpusRoot.retire]].
    ScreenStage.withTrigger(spark, rootDir, batchId, StoreNames, "graft.chain")(
        CorpusRoot.retire(_, rootDir, "doc_id", batchTombstones, batchId,
          "graft.chain tombstones")) { t =>
      // stage order is cost order (see the object doc)
      val stages: Seq[ScreenStage] =
        Seq(ScreenStage.Exact) ++
          (if (media) Seq(ScreenStage.Perceptual) else Nil) ++
          Seq(ScreenStage.Sig) ++
          (if (semantic) Seq(ScreenStage.Semantic(
            SemDedupStream.loadQuantizer(spark, s"$rootDir/vec_cells"),
            threshold, vecNprobe)) else Nil)
      // gate, then first-of-hash within the batch. Plain batches tiebreak
      // by lowest id (the near-dup screens' greedy rule); CDC batches
      // carry `ord` and tiebreak by STREAM ORDER — when two different
      // docs offer identical text in one batch, the first writer of that
      // content wins, consistent with last-op-wins elsewhere in the CDC
      // path (r13 ADVICE: id-order diverged from event order).
      val cdcOrdered = offers.columns.contains("ord")
      val hashOrder: Seq[Column] =
        if (cdcOrdered) Seq(col("ord"), col("doc_id")) else Seq(col("doc_id"))
      val wH = org.apache.spark.sql.expressions.Window
        .partitionBy("content_hash")
        .orderBy(hashOrder: _*)
      val gated = CorpusIngest.gateBatch(offers,
          passThrough = Seq("doc_id") ++ (if (cdcOrdered) Seq("ord") else Nil) ++
            (if (budgeted) Seq("source") else Nil) ++
            (if (media) Seq("content") else Nil) ++
            (if (semantic) Seq("embedding") else Nil))
        .withColumn("rn", row_number().over(wH))
        .filter(col("rn") === 1).drop("rn", "ord")
      // the gated projection feeds every screen and foreachBatch
      // re-executes the plan per action — pin it (the q226 lesson)
      val (admitted, deltas) = ScreenStage.fold(t, stages, t.pin(gated))

      // per-source TOKEN BUDGET — the step between "curation" and
      // "corpus construction" (r13 verdict item 6; [[BudgetAdmit]]'s
      // semantics on the chain's exactly-once spine): per source, docs
      // apply in doc_id order and admit iff the source's admitted-token
      // total still fits — first-come-first-served WITH SKIP (a rejected
      // doc consumes nothing, so a later smaller doc that fits is still
      // admitted). Spent totals persist in the `budget` store through the
      // same staged publish; a budget-rejected doc reaches no store at
      // all (the no-residue contract extends to this stage). Retirement
      // never refunds — admitted tokens are spent even if the doc later
      // tombstones (the conservative corpus-construction reading).
      val admittedB = t.labeled("budget") {
        if (!budgeted) admitted
        else {
          val sess = spark
          import sess.implicits._
          val used = readStore(spark, s"$rootDir/budget",
              Seq("source", "toks"))
            .map(_.groupBy("source").agg(sum("toks").as("used")))
            .getOrElse(Seq.empty[(String, Long)].toDF("source", "used"))
          val budgetDf = budgets.toSeq.toDF("source", "budget")
          val folded = admitted
            // one source of truth for the token definition — budgets are
            // denominated in the same tokens the packer counts
            .withColumn("ntok", graft.llm.Packing.tokenCount(col("text")))
            .groupBy("source")
            .agg(collect_list(struct(col("doc_id"), col("ntok"))).as("docs"))
            .join(used, Seq("source"), "left")
            .join(broadcast(budgetDf), Seq("source"), "left")
            .withColumn("used", coalesce(col("used"), lit(0L)))
            .withColumn("budget", coalesce(col("budget"), lit(budgetDefault)))
            .withColumn("adm", aggregate(
              array_sort(col("docs")),
              struct(col("used").as("u"),
                array().cast("array<bigint>").as("ids")),
              (acc, d) => {
                val fits = acc.getField("u") + d.getField("ntok") <= col("budget")
                struct(
                  when(fits, acc.getField("u") + d.getField("ntok"))
                    .otherwise(acc.getField("u")).as("u"),
                  when(fits, concat(acc.getField("ids"),
                      array(d.getField("doc_id"))))
                    .otherwise(acc.getField("ids")).as("ids"))
              }))
            .select(col("source"), col("adm.ids").as("ids"),
              (col("adm.u") - col("used")).as("spent"))
            .persist()
          // the spent delta stages with the other stores (exactly-once)
          folded.filter(col("spent") > 0)
            .select(col("source"), col("spent").as("toks"))
            .withColumn("b", lit(batchId))
            .write.mode("overwrite").parquet(staged("budget"))
          val okIds = folded.select(explode(col("ids")).as("doc_id"))
          val out = admitted.join(broadcast(okIds), Seq("doc_id"), "left_semi")
            .localCheckpoint()
          folded.unpersist()
          out
        }
      }

      // The admitted plan READS the very stores the publish step will
      // grow, and a later read invalidation would silently recompute
      // against half-updated stores — localCheckpoint truncates the
      // lineage to the computed ROWS, so nothing downstream can reach
      // back into the plan.
      // (media bytes never reach a store or the checkpoint — the stores
      // hold hashes, not pixels)
      val keep = t.labeled("admit-checkpoint") {
        admittedB.drop("content", "source").localCheckpoint()
      }
      // every store row carries its admit batch: the tombstone exclusion
      // and the physical apply are both keyed on (id, b < asOf). The
      // screen stores' deltas and fronts stage through the SAME publish
      // as the admitted rows — a front can only ever lag its store by
      // rows that were never published, i.e. never.
      ScreenStage.Writer.run(t, keep) { w =>
        deltas.foreach(_(w))
        w.staging("stage-admitted") {
          keep.select("doc_id", "text", "content_hash")
            .withColumn("b", lit(batchId))
            .write.mode("overwrite").parquet(staged("admitted"))
        }
        batchTombstones.foreach { tb =>
          w.staging("stage-tombstones") {
            CorpusRoot.stageTombstones(rootDir, batchId, tb, "doc_id")
          }
        }
      }
    }
  }

  /** Stage and seal a plain batch without publishing it — where the
    * crash-replay spec stops.
    */
  private[streaming] def stageBatch(rootDir: String, threshold: Double)(
      batch: DataFrame, batchId: Long): Unit =
    CorpusRoot.staged(batch.sparkSession, rootDir, batchId)(
      stageCurated(rootDir, threshold, batch, None, batchId))

  /** The compaction cadence's store maintenance: each screen store merges
    * its tail and rebuilds its front ([[ScreenStore.View.compact]]), then
    * the flat stores compact. Runs between triggers, after any tombstone
    * apply, so the rebuilt fronts shed the retired keys.
    */
  private def compactStores(spark: SparkSession, rootDir: String): Unit = {
    val P = StoreLayout.ensureLayout(spark, rootDir, StoreNames)
    ScreenStore.All.foreach(_.at(spark, rootDir, P).compact())
    FlatStores.map(s => s"$rootDir/$s")
      .filter(StoreCompact.hasData(spark, _))
      .foreach(StoreCompact.compact(spark, _))
  }

  /** Default founding floor of the `vecs` cell layout: below it the
    * retrain-per-trigger screen is cheaper than maintaining a quantizer
    * (and the trained cells would be noise anyway).
    */
  val VecCellFloorDefault: Int = 1024

  /** FOUND or RE-FOUND the vecs store's frozen cell layout (cadence
    * maintenance, derived state only): once the store clears `floor`,
    * train centroids (nlist ~ √n — the standard IVF sizing), rewrite the
    * store partitioned by cell, and publish the centroids LAST via a
    * directory rename — every crash window leaves either no centroids
    * (screens fall back to the full-store read: correct, just unpruned)
    * or a centroid set that matches the store's cell assignment. On
    * later cadences a hottest-cell drift past 4× fair share (appends
    * land under frozen centroids) triggers the same retrain — the
    * [[graft.llm.Similarity.ivfNeedsRebuild]] policy on the chain's own
    * store. The quantizer lives under `vec_cells` in the streaming
    * index's layout ([[SemDedupStream.loadQuantizer]]): `centroids`,
    * `codebooks` and `calib` (quality telemetry only — the screen's
    * recall bound is the per-posting `mrg`).
    */
  private def maintainVecCells(spark: SparkSession, rootDir: String,
      floor: Int, rebuildFactor: Double): Unit = {
    val vecDir = ScreenStore.Vecs.dir(rootDir)
    val vecpqDir = ScreenStore.VecPq.dir(rootDir)
    val cellsDir = s"$rootDir/vec_cells"
    val cellsPath = new org.apache.hadoop.fs.Path(cellsDir)
    val fs = cellsPath.getFileSystem(spark.sparkContext.hadoopConfiguration)
    // stale residue from a crashed (re)founding: the store is the truth
    // and absent centroids only cost pruning, so residue just deletes
    fs.delete(new org.apache.hadoop.fs.Path(cellsDir + "_tmp"), true)
    fs.delete(new org.apache.hadoop.fs.Path(cellsDir + "_old"), true)
    if (!StoreCompact.hasData(spark, vecDir)) return
    val needs = SemDedupStream.loadQuantizer(spark, cellsDir) match {
      case None =>
        ScreenStore.Vecs.read(spark, vecDir).count() >= floor
      case Some(q) if q.codebooks.isEmpty =>
        true // founded before the coded layout existed — upgrade refound
      case Some(q) =>
        val counts = ScreenStore.Vecs.read(spark, vecDir).groupBy("cell")
          .agg(count(lit(1)).as("n"))
          .agg(max("n").as("hot"), sum("n").as("total")).head
        !counts.isNullAt(0) &&
          counts.getLong(0).toDouble * q.cents.length >
            rebuildFactor * counts.getLong(1)
    }
    if (!needs) return
    // EVERY read of the pre-rewrite store happens here, before the
    // swaps below delete the files those plans listed
    val src = ScreenStore.Vecs.read(spark, vecDir).select("vec_id", "embedding")
    val n = src.count()
    val nlist = math.max(2, math.min(4096, math.ceil(math.sqrt(n.toDouble)).toInt))
    val newCents = graft.llm.Similarity.trainCentroids(src, nlist)
    val newCbs: Option[Array[Array[Array[Double]]]] =
      src.filter(col("embedding").isNotNull)
        .select(size(col("embedding")).as("d")).limit(1).collect()
        .headOption.map { r =>
          // the largest subspace count ≤ 8 that divides the dim (PQ
          // needs equal sub-vectors; m = 1 degrades to plain VQ)
          val m = Seq(8, 4, 2, 1).find(r.getInt(0) % _ == 0).get
          graft.llm.Similarity.trainPqCodebooks(src, m)
        }
    // the new quantizer stages wholly under _tmp first (crash residue
    // deletes at the top of the next cadence)
    val spark2 = spark
    import spark2.implicits._
    newCents.zipWithIndex.map { case (v, i) => (i, v.toSeq) }.toSeq
      .toDF("cell", "centroid")
      .coalesce(1).write.mode("overwrite")
      .parquet(cellsDir + "_tmp/centroids")
    newCbs.foreach { cbs =>
      graft.llm.Similarity.writeCodebooks(spark, cbs,
        cellsDir + "_tmp/codebooks")
      graft.llm.Similarity.writeAdcCalibration(src, cbs,
        cellsDir + "_tmp/calib")
    }
    // retire the OLD quantizer before touching the stores: a crash
    // anywhere past this point reads as "no centroids" → full-scan
    // fallback, never a centroid/assignment mismatch
    if (fs.exists(cellsPath))
      require(fs.rename(cellsPath,
        new org.apache.hadoop.fs.Path(cellsDir + "_old")),
        s"vec_cells: could not retire $cellsDir")
    StoreCompact.rewrite(spark, vecDir, df =>
      df.drop("cell").withColumn("cell", graft.llm.IvfCell(
        col("embedding").cast("array<double>"), newCents)),
      repartitionTo = Some(Seq("cell")))
    // wholesale re-encode of the coded postings under the new quantizer
    // (swap-healed; sequenced BEFORE the quantizer publish, so published
    // centroids always imply complete postings)
    newCbs.foreach { cbs =>
      def encoded(ignored: DataFrame): DataFrame =
        graft.llm.Similarity.encodeIvfCode(
            ScreenStore.Vecs.read(spark, vecDir).select("vec_id", "embedding", "b"),
            newCents, cbs, withMargin = true)
          .withColumnRenamed("neighbor_id", "vec_id")
      if (StoreCompact.hasData(spark, vecpqDir))
        StoreCompact.rewrite(spark, vecpqDir, encoded,
          repartitionTo = Some(Seq("cell")))
      else encoded(spark.emptyDataFrame).write.mode("overwrite")
        .partitionBy("cell").parquet(vecpqDir)
    }
    require(fs.rename(new org.apache.hadoop.fs.Path(cellsDir + "_tmp"),
      cellsPath), s"vec_cells: could not publish $cellsDir")
    fs.delete(new org.apache.hadoop.fs.Path(cellsDir + "_old"), true)
    ()
  }

  /** The full trigger body. `rootDir` holds the stores (`exact`,
    * `phash`, `sigs`, `vecs`, `admitted` — `phash`/`vecs` only when
    * media/embeddings ride); `threshold` is the semantic screen's cosine
    * gate; `compactEvery` > 0 compacts every store on that trigger
    * cadence. Idempotent per `batchId` — see the commit protocol in the
    * object doc.
    */
  def ingestInto(rootDir: String, threshold: Double = 0.92,
      compactEvery: Int = 0, vecCellFloor: Int = VecCellFloorDefault,
      vecNprobe: Int = 4, budgets: Map[String, Long] = Map.empty,
      budgetDefault: Long = Long.MaxValue,
      vecRebuildFactor: Double = 4.0)(
      batch: DataFrame, batchId: Long): Unit = {
    val spark = batch.sparkSession
    CorpusRoot.trigger(spark, rootDir, batchId, recoverDirs(rootDir)) {
      stageCurated(rootDir, threshold, batch, None, batchId, vecNprobe,
        budgets, budgetDefault)
    }
    if (compactEvery > 0 && batchId > 0 && batchId % compactEvery == 0) {
      compactStores(spark, rootDir)
      maintainVecCells(spark, rootDir, vecCellFloor, vecRebuildFactor)
    }
  }

  /** The LIVE admitted corpus: the admitted store minus rows retired by
    * a newer tombstone — what a consumer reads between tombstone-apply
    * cadences (after [[applyTombstones]] the raw store and this view are
    * identical).
    */
  def readAdmitted(spark: SparkSession, rootDir: String): DataFrame =
    readStore(spark, s"$rootDir/admitted",
        Seq("doc_id", "text", "content_hash", "b"))
      .map(CorpusRoot.live(spark, rootDir, "doc_id", _)
        .select("doc_id", "text", "content_hash"))
      .getOrElse(spark.emptyDataFrame)

  /** Physically remove tombstoned rows from every store — the bucketed
    * mains AND their un-merged flat tails — then clear the tombstone
    * store ([[CorpusRoot.applyTombstones]]: crash-healed, idempotent).
    */
  def applyTombstones(spark: SparkSession, rootDir: String): Unit =
    CorpusRoot.applyTombstones(spark, rootDir, "doc_id",
      (ScreenStore.All.map(st => st.name -> st.id) :+ ("admitted" -> "doc_id"))
        .flatMap { case (store, key) =>
          Seq(s"$rootDir/$store" -> key, s"$rootDir/${store}_tail" -> key)
        })

  /** The CDC trigger body — [[ingestInto]] for a batch of ROW OPERATIONS
    * `(op, ord, doc_id, text[, content][, embedding])` with `op` ∈
    * INSERT/UPDATE/DELETE and `ord` the within-batch event order (see
    * [[CdcCorpusChain.cdcDocsFromChunks]]). The LAST op per doc wins
    * ([[CorpusRoot.lastOps]]); UPDATE and DELETE tombstone the doc's
    * standing store rows as of this batch, and INSERT/UPDATE texts
    * re-offer through the full screen chain against the corpus MINUS the
    * retired rows — all under ONE staged publish, so replay cannot
    * half-apply a retire/re-admit pair. An UPDATE whose new text fails
    * the gate (or screens against OTHER docs) removes the doc from the
    * corpus entirely — the current version failed curation. Tombstones
    * apply physically on the `compactEvery` cadence, before compaction.
    */
  def ingestCdcInto(rootDir: String, threshold: Double = 0.92,
      compactEvery: Int = 0, vecCellFloor: Int = VecCellFloorDefault,
      vecNprobe: Int = 4, budgets: Map[String, Long] = Map.empty,
      budgetDefault: Long = Long.MaxValue,
      vecRebuildFactor: Double = 4.0)(
      batch: DataFrame, batchId: Long): Unit = {
    val spark = batch.sparkSession
    CorpusRoot.trigger(spark, rootDir, batchId, recoverDirs(rootDir)) {
      // `ord` rides into stageCurated so the in-batch first-of-hash
      // tiebreak follows stream order for CDC batches
      CorpusRoot.lastOps(batch, "doc_id") { (offers, retired) =>
        stageCurated(rootDir, threshold, offers, Some(retired), batchId,
          vecNprobe, budgets, budgetDefault)
      }
    }
    if (compactEvery > 0 && batchId > 0 && batchId % compactEvery == 0) {
      applyTombstones(spark, rootDir)
      // front rebuild AFTER the tombstone apply + merge: the fronts shed
      // the retired keys here (they were a safe superset until now) and
      // the rebuilt blobs cover the merged mains completely
      compactStores(spark, rootDir)
      maintainVecCells(spark, rootDir, vecCellFloor, vecRebuildFactor)
    }
  }
}
