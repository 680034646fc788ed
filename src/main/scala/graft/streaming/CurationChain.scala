package graft.streaming

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** The WHOLE streaming curation pipeline as ONE trigger body — the LLM
  * analogue of the CDC side's composed wire chain (ReplicaStream →
  * TxnStream → Pipeline): each micro-batch of documents runs

  *  1. quality gate — normalize, word window, repetition ratio,
  *     blocklist ([[CorpusIngest.gateBatch]], per-row kernels);
  *  2. EXACT screen — in-batch first-of-hash, then anti-join against the
  *     standing content-hash store (cheapest screen first);
  *  3. PERCEPTUAL media screen (only when the batch carries a `content`
  *     binary column) — each doc's media bytes hash through the ONE
  *     modality-dispatching kernel
  *     ([[graft.multimodal.MultimodalQueries.perceptualHash]]: image
  *     dHash / audio envelope / video temporal-mean dHash) into a SHARED
  *     8-band hamming store screened by [[ImageDedupStream]]'s banded
  *     join (hot-bucket cap on the store side, exact
  *     bit_count(xor) ≤ 7 verify) — a re-crop/re-encode of media
  *     admitted fifty triggers ago is rejected here even under novel
  *     text; docs whose bytes don't decode pass unscreened (decode
  *     failure is data, not an error);
  *  4. NEAR-DUP text screen — MinHash signatures banded against the
  *     standing signature store ([[TextDedupStream]]);
  *  5. SEMANTIC screen (only when the batch carries an `embedding`
  *     column) — cosine screen against the standing embedding store
  *     ([[SemDedupStream]]);
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
  * against the raw store by id pushdown (`vecPq = false` keeps the raw
  * probe). Stores compact on the `compactEvery` cadence (fronts rebuild,
  * cells refound on drift) and heal via [[StoreCompact.recover]] after a
  * mid-swap crash.
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

  private def hasData(spark: SparkSession, dir: String): Boolean =
    StoreCompact.hasData(spark, dir)

  /** Read a flat store directory (`<root>/<store>`) under its declared schema. */
  private def readStore(spark: SparkSession, dir: String,
      cols: Seq[String]): Option[DataFrame] =
    if (!hasData(spark, dir)) None
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
      budgetDefault: Long = Long.MaxValue, vecPq: Boolean = true): Unit = {
    val spark = offers.sparkSession
    val P = StoreLayout.ensureLayout(spark, rootDir, StoreNames)
    val budgeted = budgets.nonEmpty
    if (budgeted) require(offers.columns.contains("source"),
      "budgeted ingest needs a `source` column on the batch")
    def staged(store: String): String = StoreTxn.stagePath(rootDir, batchId, store)
    val semantic = offers.columns.contains("embedding")
    val media = offers.columns.contains("content")
    val vecQuant: Option[SemDedupStream.Quantizer] =
      if (semantic) SemDedupStream.loadQuantizer(spark, s"$rootDir/vec_cells")
      else None
    val vecCents: Option[Array[Array[Double]]] = vecQuant.map(_.cents)

    // every frame this body pins and every broadcast variable it ships,
    // released together in the outer finally — after the staging pool has
    // drained, because the pooled sig deltas still read the pinned sig
    // survivors
    val pins = new CorpusRoot.Pins(spark)
    import pins.{pin, ship}
    def labeled[T](stage: String)(f: => T): T =
      JobLabel(spark, s"graft.chain $stage")(f)
    try {
      // the live-row filter under the effective tombstones (standing ∪
      // this batch's) — [[CorpusRoot.retire]]
      val retire = CorpusRoot.retire(pins, rootDir, "doc_id", batchTombstones,
        batchId, "graft.chain tombstones")
      // the screen stores as this trigger reads them: live rows only
      val Seq(exactStore, phashStore, sigStore, vecStore, pqStore) =
        ScreenStore.All.map(_.at(spark, rootDir, P, retire))

      // stage 1+2a: gate, then first-of-hash within the batch. Plain
      // batches tiebreak by lowest id (the near-dup screens' greedy rule);
      // CDC batches carry `ord` and tiebreak by STREAM ORDER — when two
      // different docs offer identical text in one batch, the first writer
      // of that content wins, consistent with last-op-wins elsewhere in
      // the CDC path (r13 ADVICE: id-order diverged from event order).
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
      // the gated projection feeds every later stage and foreachBatch
      // re-executes the plan per action — pin it (the q226 lesson)
      val pinned = pin(gated)
      // stage 2b: exact screen against the standing hash store, bloom
      // front first: batch hashes whose bucket's blobs all miss are
      // DEFINITELY absent (one-sided: the blobs cover every published
      // hash), so typically only true dups + ε·|batch| false positives
      // pull their candidate buckets — the anti-join reads those buckets
      // only instead of scanning the whole store per trigger.
      val afterExact = labeled("exact-screen") {
        if (!exactStore.present) pinned
        else {
          // the front probes through the DRIVER-CACHED blobs (one filter
          // inside the batch plan); the candidate buckets are a
          // driver-side collect bounded by the layout's bucket count
          val maybe = exactStore.probe(
            exactStore.keyed(pinned.select("content_hash").distinct()),
            Seq("content_hash", "pb"))
          // the survivors feed the sig screen, the semantic counts and
          // the admit checkpoint — pin them, or each re-runs the store
          // read and anti-join
          exactStore.candidates(Seq("content_hash"), maybe)
            .map(st => pin(pinned.join(st, Seq("content_hash"), "left_anti")))
            .getOrElse(pinned)
        }
      }

      // stage 3: perceptual media screen (in-batch + shared band store).
      // The decode is the expensive kernel and feeds BOTH the screen and
      // the staged phash append — hash once, persist the 16-byte/row
      // projection (the q226/ImageDedupStream lesson). Docs carrying no
      // decodable media pass unscreened.
      // (the survivors, and the pinned 16-byte/row hash projection the
      // staged phash append reuses)
      val (afterPerc, hashed) = labeled("perceptual-screen") {
        if (!media) (afterExact, None)
        else {
          val ph = udf((b: Array[Byte]) =>
            graft.multimodal.MultimodalQueries.perceptualHash(b))
          // the decode kernel inherits the INPUT's partitioning and a
          // media batch is small in BYTES but big in compute — a 5 MB
          // batch reads as ONE partition and would decode
          // single-threaded; spread it across the executors before the
          // kernel (one shuffle of the batch's media bytes). Measured
          // NEUTRAL at bench scale, where the kernel is ms-class and the
          // stage cost is its ~8 fixed jobs — the guard exists for
          // decode-heavy media (video, large images) where one reader
          // partition would serialize the whole trigger.
          val media = afterExact.filter(col("content").isNotNull)
            .select(col("doc_id").as("media_id"), col("content"))
          // only spread when the batch is under-partitioned: an already
          // well-partitioned large media batch must not pay a full byte
          // shuffle per trigger (r14 ADVICE low). getNumPartitions plans
          // the physical RDD but runs no job — cheap next to the shuffle
          // it guards.
          val par = spark.sparkContext.defaultParallelism
          val spread =
            if (media.rdd.getNumPartitions >= par) media
            else media.repartition(par)
          val h = pin(spread
            .select(col("media_id"), ph(col("content")).as("h"))
            .filter(col("h").isNotNull))
          // in-batch screen, then the standing BANDED store pruned to the
          // batch's (band, v) buckets ((band, v) has only 2048 values, so
          // no bloom front: a populated store saturates every key and the
          // pruning itself is what bounds the read — effective while the
          // batch's band-key set is small against the bucket count)
          // every semi/anti right side in this body that derives from the
          // BATCH (drop ids, survivor ids, admitted keys) is
          // trigger-batch-bounded, never store-bounded — broadcast them
          // explicitly (guide §3.1): the sizes are unknowable to the
          // planner (plans over fresh parquet/cached frames), and adaptive
          // execution is off in the trigger body, so without the hint each
          // ~500-row semi-join runs as a two-Exchange SMJ. A broadcast is
          // not free either: each executed BroadcastExchange is its own
          // job, in every action that runs it (broadcasts are not shared
          // between actions) — so a batch-side set that several actions
          // read is pinned upstream, or held on the driver and shipped as
          // a broadcast variable. The store-side joins (exact/sig/vec
          // candidates) keep their shuffle plans — those sides grow with
          // the corpus.
          val inDropsM = graft.multimodal.MultimodalQueries
            .hammingNearDupPairs(h)
            .select(col("db").as("media_id")).distinct()
          val survM = h.join(broadcast(inDropsM), Seq("media_id"), "left_anti")
          val bandKeys = phashStore.tagged(graft.multimodal.MultimodalQueries
            .bandExplode(survM, "new_id")
            .select(col("b").as("band"), col("v")).distinct())
          val okIds = phashStore.candidates(Seq("media_id", "h", "band", "v"), bandKeys)
            .map { st =>
              val dup = ImageDedupStream.hammingPairsAgainstBands(survM, st)
                .select(col("new_id").as("media_id")).distinct()
              survM.join(broadcast(dup), Seq("media_id"), "left_anti")
            }
            .getOrElse(survM)
            .select(col("media_id").as("doc_id"))
          // pin the drop DECISION, not just the hashes: every downstream
          // action (sig isEmpty probe, semantic counts, checkpoint, five
          // staged writes) re-executes this subplan otherwise, and the
          // band self-join + store join re-running ~10× per trigger
          // measured 3× the whole trigger time (the q226/sigs lesson
          // applied one stage earlier)
          val dropIds = pin(h.select(col("media_id").as("doc_id"))
            .join(broadcast(okIds), Seq("doc_id"), "left_anti"))
          (afterExact.join(broadcast(dropIds), Seq("doc_id"), "left_anti"),
            Some(h))
        }
      }

      // stage 4: near-dup signature screen (in-batch + store). The sig
      // pipeline (shingle explode + k-minima agg + band joins) is the
      // most expensive stage and feeds BOTH the admitted set and the
      // store append — pin it, or the kept sig rows re-run it end to end.
      // The store side is PRE-BANDED and bucketed by (band, bh), fronted
      // by its own bloom: a batch band key whose blobs miss has no store
      // partner by construction (only near-dups collide on a band hash),
      // so a novel batch skips the store read entirely and a dup-bearing
      // one reads its candidates' buckets only.
      val sigs = pin(TextDedupStream.signatures(afterPerc))
      val inDropsS = TextDedupStream.sigSelfPairs(sigs)
        .select(col("db").as("doc_id")).distinct()
      // the in-batch survivors and the front-filtered band keys each feed
      // the bucket collect AND the survivors' materialization — pinned, or
      // the in-batch pair self-join runs once per action
      val survS = pin(sigs.join(broadcast(inDropsS), Seq("doc_id"), "left_anti"))
      val afterSig = labeled("sig-screen") {
        val screened =
          if (!sigStore.present) survS
          else {
            val maybe = pin(sigStore.probe(
              sigStore.keyed(TextDedupStream.bandRows(survS, "new_id")),
              Seq("new_id", "band", "bh")))
            sigStore.candidates(Seq("doc_id", "sig", "band", "bh"), maybe)
              .map { st =>
                val dup = TextDedupStream.sigPairsAgainstBands(maybe, st)
                  .select(col("new_id").as("doc_id")).distinct()
                survS.join(broadcast(dup), Seq("doc_id"), "left_anti")
              }
              .getOrElse(survS)
          }
        pin(screened.select("doc_id", "sig"))
      }
      // the semantic screen's counts, its final semi-join and the admit
      // checkpoint all read the sig survivors — pin them once
      val survivedSig = pin(afterPerc.join(broadcast(afterSig),
        Seq("doc_id"), "left_semi"))

      // stage 5: semantic screen (in-batch + store), when embeddings
      // ride. Once the cell layout has founded (frozen centroids under
      // vec_cells — [[maintainVecCells]]), the store side probes like
      // the persisted q220 index: batch vectors probe their nprobe
      // nearest cells, ONLY those cell partitions are read, exact cosine
      // verifies. Pre-founding (store below the floor) keeps the
      // retrain-per-trigger screen — cheap at that size and
      // semantics-identical to the gated batch operator.
      val admitted = labeled("semantic-screen") {
        if (!semantic) survivedSig
        else {
          val vecs = survivedSig
            .select(col("doc_id").as("vec_id"), col("embedding"))
          val ok = vecQuant match {
            // coded probe (the founded default): the store side reads
            // the PQ POSTINGS of the probed cells and exact-verifies ONLY
            // the candidates against the raw store by id pushdown
            case Some(q) if vecPq && q.codebooks.isDefined && pqStore.present =>
              SemDedupStream.screenCoded(pins, vecs, q.cents, q.codebooks.get,
                vecNprobe, threshold,
                postings = cells =>
                  pqStore.read(Seq("vec_id", "cell", "codes", "mrg"), Some(cells)),
                vectors = cells =>
                  vecStore.read(Seq("vec_id", "embedding"), Some(cells)))
            // raw cell probe: a founded root whose coded postings have
            // not (re)built yet — correct, just dim·8 bytes per probed row
            case Some(q) if vecStore.present =>
              val cents = q.cents
              val survV = SemDedupStream
                .admitBatch(vecs, spark.emptyDataFrame, threshold)
              val qv = survV.select(col("vec_id"),
                  col("embedding").cast("array<double>").as("qv"))
                .withColumn("cell", explode(graft.llm.IvfProbe(col("qv"),
                  cents, math.min(vecNprobe, cents.length))))
              vecStore.candidates(Seq("vec_id", "embedding", "cell"), qv)
                .map { st =>
                  val dup = qv.join(st.select(col("cell"),
                        col("vec_id").as("neighbor_id"),
                        col("embedding").cast("array<double>").as("cv")),
                      Seq("cell"))
                    .filter(graft.llm.Similarity
                      .cosine(col("qv"), col("cv")) >= threshold)
                    .select("vec_id").distinct()
                  survV.join(broadcast(dup), Seq("vec_id"), "left_anti")
                }
                .getOrElse(survV)
            case _ => SemDedupStream
              .admitBatch(vecs,
                vecStore.read(Seq("vec_id", "embedding"))
                  .getOrElse(spark.emptyDataFrame), threshold)
          }
          survivedSig.join(broadcast(ok.select(col("vec_id").as("doc_id"))),
            Seq("doc_id"), "left_semi")
        }
      }

      // stage 6 (optional): per-source TOKEN BUDGET — the step between
      // "curation" and "corpus construction" (r13 verdict item 6;
      // [[BudgetAdmit]]'s semantics on the chain's exactly-once spine):
      // per source, docs apply in doc_id order and admit iff the
      // source's admitted-token total still fits — first-come-first-
      // served WITH SKIP (a rejected doc consumes nothing, so a later
      // smaller doc that fits is still admitted). Spent totals persist
      // in the `budget` store through the same staged publish; a
      // budget-rejected doc reaches no store at all (the no-residue
      // contract extends to this stage). Retirement never refunds —
      // admitted tokens are spent even if the doc later tombstones (the
      // conservative corpus-construction reading).
      val admittedB = labeled("budget") {
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
      val keep = labeled("admit-checkpoint") {
        admittedB.drop("content", "source").localCheckpoint()
      }
      // every store row carries its admit batch: the tombstone exclusion
      // and the physical apply are both keyed on (id, b < asOf). Screen
      // store deltas stage into their `_tail` ([[ScreenStore]]), and the
      // front deltas stage through the SAME publish — the front can only
      // ever lag the store by rows that were never published, i.e. never.
      // After the checkpoint above every staged delta below reads only
      // MATERIALIZED rows (`keep`, the pinned `afterSig` and `hashed`
      // projections), so the staged writes and the two driver-side blob
      // builds are mutually independent — they are submitted
      // CONCURRENTLY from a small pool (guide §2.6: overlap independent
      // jobs). The trigger's fixed cost is its action CHAIN, not any
      // single job (a warm trigger runs ~25 sub-second jobs back to back,
      // a third of them here), and overlapping lets each small job's tail
      // back-fill the executors with the next job's tasks. The protocol
      // is untouched: seal happens only after EVERY future has finished,
      // and a failure in any future fails the trigger BEFORE seal (the
      // crash-mid-staging path: unsealed residue is discarded and the
      // batch recomputed on replay) — but only after the others have
      // drained, so a foreachBatch retry never races a still-writing
      // task from the failed attempt.
      val pool = java.util.concurrent.Executors.newFixedThreadPool(4)
      implicit val stagingEc: scala.concurrent.ExecutionContext =
        scala.concurrent.ExecutionContext.fromExecutorService(pool)
      def staging[T](stage: String)(f: => T): scala.concurrent.Future[T] =
        scala.concurrent.Future { labeled(stage)(f) }
      /** Shut the pool and wait out every staged write; the failure to
        * raise if one is STILL RUNNING past the wait (r15 ADVICE):
        * returning anyway would let a foreachBatch retry race the
        * in-flight task in _staged, the exact race the protocol forbids.
        * Keeps draining for 30 minutes with a loud stderr stamp first.
        */
      def drain(): Option[IllegalStateException] = {
        pool.shutdown()
        var drained = pool.awaitTermination(10, java.util.concurrent.TimeUnit.MINUTES)
        var waited = 1
        while (!drained && waited < 3) {
          System.err.println(
            s"[graft.chain] staged-write pool still draining after ${waited * 10} min")
          drained = pool.awaitTermination(10, java.util.concurrent.TimeUnit.MINUTES)
          waited += 1
        }
        if (drained) None
        else Some(new IllegalStateException(
          "staged writes did not drain within 30 minutes; failing the " +
          "trigger so a foreachBatch retry cannot race an in-flight " +
          "write in _staged"))
      }
      try {
        // the admitted keys' hashes collect to the driver (batch-scale —
        // KB of longs per trigger) so the front delta builds and is
        // written there, and can merge into the DRIVER-CACHED front after
        // the publish ([[ScreenStore.View.writeFront]]). The same collect
        // brings the kept doc ids, sorted, for the sig deltas below.
        val fExactFront = staging("stage-exact-front") {
          val kept = exactStore.keyed(keep.select("doc_id", "content_hash"))
            .select("doc_id", "__h", "pb").collect()
          val exactBlobs = exactStore.writeFront(staged("bloom"),
            kept.map(r => (r.getLong(1), r.getInt(2))))
          (exactBlobs, kept.filterNot(_.isNullAt(0)).map(_.getLong(0)).sorted)
        }
        val fExactTail = staging("stage-exact-tail") {
          exactStore.writeDelta(keep.select("doc_id", "content_hash")
            .withColumn("b", lit(batchId)), staged("exact_tail"), "overwrite")
        }
        val fPhash = hashed.map { h =>
          staging("stage-phash-tail") {
            phashStore.writeDelta(graft.multimodal.MultimodalQueries.bandExplode(
                h.join(broadcast(keep.select(col("doc_id").as("media_id"))),
                  Seq("media_id"), "left_semi"), "media_id")
              .select(col("media_id"), col("h"), col("b").as("band"), col("v"))
              .withColumn("b", lit(batchId)), staged("phash_tail"), "overwrite")
          }
        }
        // the kept sig rows: the pinned `afterSig` filtered by the kept
        // ids the exact-front collect brought back, shipped once as a
        // broadcast variable — no checkpoint job and no broadcast job. The
        // two sig deltas CHAIN on that collect (no thread blocks waiting)
        // and are still awaited before seal; `afterSig` unpersists in the
        // outer finally, after the await, because they read it.
        val fKeptBands = fExactFront.map { case (_, keptIds) =>
          val kept = ship(keptIds)
          val isKept = udf((id: Long) =>
            java.util.Arrays.binarySearch(kept.value, id) >= 0)
          sigStore.tagged(TextDedupStream.bandRows(
              afterSig.filter(isKept(col("doc_id"))), "doc_id")
            .withColumn("b", lit(batchId)))
        }
        val fSigsTail = fKeptBands.flatMap(keptBands =>
          staging("stage-sigs-tail") {
            sigStore.writeDelta(keptBands, staged("sigs_tail"), "overwrite")
          })
        val fSigFront = fKeptBands.flatMap(keptBands =>
          staging("stage-sig-front") {
            sigStore.writeFront(staged("sigbloom"), sigStore.frontKeys(keptBands))
          })
        val fVecs =
          if (!semantic) None
          else Some(staging("stage-vecs-tail") {
            vecStore.writeDelta(keep.select(col("doc_id").as("vec_id"), col("embedding"))
              .withColumn("b", lit(batchId))
              .withColumn("cell", vecCents match {
                case Some(cents) => graft.llm.IvfCell(
                  col("embedding").cast("array<double>"), cents)
                case None => lit(0)
              }), staged("vecs_tail"), "overwrite")
          })
        // the coded postings delta: the SAME admitted rows, frozen-
        // centroid cell + frozen-codebook encode (which clusters its
        // output by cell), through the SAME staged publish — the postings
        // can never lag the raw store
        val fVecPq =
          if (!semantic || !vecPq) None
          else vecQuant.filter(_.codebooks.isDefined).map { q =>
            staging("stage-vecpq-tail") {
              graft.llm.Similarity.encodeIvfCode(
                  keep.select(col("doc_id").as("vec_id"), col("embedding"))
                    .withColumn("b", lit(batchId)),
                  q.cents, q.codebooks.get, withMargin = true)
                .withColumnRenamed("neighbor_id", "vec_id")
                .write.mode("overwrite").parquet(staged("vecpq_tail"))
            }
          }
        val fAdmitted = staging("stage-admitted") {
          keep.select("doc_id", "text", "content_hash")
            .withColumn("b", lit(batchId))
            .write.mode("overwrite").parquet(staged("admitted"))
        }
        val fTomb = batchTombstones.map { t =>
          staging("stage-tombstones") {
            CorpusRoot.stageTombstones(rootDir, batchId, t, "doc_id")
          }
        }
        val all: Seq[scala.concurrent.Future[Any]] =
          Seq(fExactFront, fExactTail, fSigsTail, fSigFront, fAdmitted) ++
            fPhash ++ fVecs ++ fVecPq ++ fTomb
        val outcomes = scala.concurrent.Await.result(
          scala.concurrent.Future.sequence(
            all.map(_.transform(scala.util.Success(_)))),
          scala.concurrent.duration.Duration.Inf)
        outcomes.collectFirst { case scala.util.Failure(e) => e }
          .foreach(e => throw e)
        pendingFronts.put((rootDir, batchId),
          Seq(ScreenStore.Exact -> scala.concurrent.Await.result(fExactFront,
              scala.concurrent.duration.Duration.Inf)._1,
            ScreenStore.Sigs -> scala.concurrent.Await.result(fSigFront,
              scala.concurrent.duration.Duration.Inf)))
      } catch {
        // the body's error stays the primary one; a drain failure on top
        // of it rides along as suppressed
        case e: Throwable => drain().foreach(e.addSuppressed); throw e
      }
      drain().foreach(e => throw e)
    } finally pins.release()
  }

  /** Stage and seal a plain batch without publishing it — where the
    * crash-replay spec stops.
    */
  private[streaming] def stageBatch(rootDir: String, threshold: Double)(
      batch: DataFrame, batchId: Long): Unit =
    CorpusRoot.staged(batch.sparkSession, rootDir, batchId)(
      stageCurated(rootDir, threshold, batch, None, batchId))

  /** Front deltas staged by [[stageCurated]], waiting for their publish
    * to land so they can merge into the driver-cached fronts
    * ([[ScreenStore.noteFront]]). A replay that skips staging never
    * creates an entry — the cache then re-reads on its fingerprint
    * mismatch, which is the safe fallback.
    */
  private val pendingFronts = new java.util.concurrent.ConcurrentHashMap[
    (String, Long), Seq[(ScreenStore, Seq[(Int, Array[Byte])])]]()

  private def mergePendingFronts(spark: SparkSession, rootDir: String,
      batchId: Long): Unit =
    Option(pendingFronts.remove((rootDir, batchId))).foreach(_.foreach {
      case (store, blobs) => store.noteFront(spark, rootDir, blobs)
    })

  /** The compaction cadence's store maintenance: each screen store merges
    * its tail and rebuilds its front ([[ScreenStore.View.compact]]), then
    * the flat stores compact. Runs between triggers, after any tombstone
    * apply, so the rebuilt fronts shed the retired keys.
    */
  private def compactStores(spark: SparkSession, rootDir: String): Unit = {
    val P = StoreLayout.ensureLayout(spark, rootDir, StoreNames)
    ScreenStore.All.foreach(_.at(spark, rootDir, P).compact())
    FlatStores.map(s => s"$rootDir/$s")
      .filter(hasData(spark, _))
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
      floor: Int, rebuildFactor: Double = 4.0,
      vecPq: Boolean = true): Unit = {
    val vecDir = ScreenStore.Vecs.dir(rootDir)
    val vecpqDir = ScreenStore.VecPq.dir(rootDir)
    val cellsDir = s"$rootDir/vec_cells"
    val cellsPath = new org.apache.hadoop.fs.Path(cellsDir)
    val fs = cellsPath.getFileSystem(spark.sparkContext.hadoopConfiguration)
    // stale residue from a crashed (re)founding: the store is the truth
    // and absent centroids only cost pruning, so residue just deletes
    fs.delete(new org.apache.hadoop.fs.Path(cellsDir + "_tmp"), true)
    fs.delete(new org.apache.hadoop.fs.Path(cellsDir + "_old"), true)
    if (!hasData(spark, vecDir)) return
    val needs = SemDedupStream.loadQuantizer(spark, cellsDir) match {
      case None =>
        ScreenStore.Vecs.read(spark, vecDir).count() >= floor
      case Some(q) if vecPq && q.codebooks.isEmpty =>
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
      if (!vecPq) None
      else src.filter(col("embedding").isNotNull)
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
      if (hasData(spark, vecpqDir))
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
      vecRebuildFactor: Double = 4.0, vecPq: Boolean = true)(
      batch: DataFrame, batchId: Long): Unit = {
    val spark = batch.sparkSession
    CorpusRoot.trigger(spark, rootDir, batchId, recoverDirs(rootDir),
        mergePendingFronts(spark, rootDir, batchId)) {
      stageCurated(rootDir, threshold, batch, None, batchId, vecNprobe,
        budgets, budgetDefault, vecPq)
    }
    if (compactEvery > 0 && batchId > 0 && batchId % compactEvery == 0) {
      compactStores(spark, rootDir)
      maintainVecCells(spark, rootDir, vecCellFloor, vecRebuildFactor, vecPq)
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
      vecRebuildFactor: Double = 4.0, vecPq: Boolean = true)(
      batch: DataFrame, batchId: Long): Unit = {
    val spark = batch.sparkSession
    CorpusRoot.trigger(spark, rootDir, batchId, recoverDirs(rootDir),
        mergePendingFronts(spark, rootDir, batchId)) {
      // `ord` rides into stageCurated so the in-batch first-of-hash
      // tiebreak follows stream order for CDC batches
      CorpusRoot.lastOps(batch, "doc_id") { (offers, retired) =>
        stageCurated(rootDir, threshold, offers, Some(retired), batchId,
          vecNprobe, budgets, budgetDefault, vecPq)
      }
    }
    if (compactEvery > 0 && batchId > 0 && batchId % compactEvery == 0) {
      applyTombstones(spark, rootDir)
      // front rebuild AFTER the tombstone apply + merge: the fronts shed
      // the retired keys here (they were a safe superset until now) and
      // the rebuilt blobs cover the merged mains completely
      compactStores(spark, rootDir)
      maintainVecCells(spark, rootDir, vecCellFloor, vecRebuildFactor, vecPq)
    }
  }
}
