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
  * STORE LAYOUT (r13 verdict item 1 — the screens used to re-read and
  * re-band the FULL store every trigger, O(admitted corpus) per
  * micro-batch forever): every screen store is laid out on its join key
  * ([[StoreLayout]]) so a trigger reads candidate buckets only —
  * `exact` bucketed by content-hash and FRONTED by per-trigger bloom
  * blobs (`bloom`: batch hashes whose blobs miss never touch the
  * store); `sigs` persisted PRE-BANDED and bucketed by the (band, bh)
  * join key with its own front (`sigbloom`: only band keys that collide
  * with something admitted pull their buckets — for a novel batch that
  * is none); `phash` pre-banded and bucketed by (band, v); `vecs` cell-
  * partitioned under frozen trained centroids once past the founding
  * floor (retrain-per-trigger below it) with `vecpq`, its PQ-CODED
  * posting twin (r15): the founding/drift cadence also trains
  * sub-codebooks, and the screen ADC-scores the probed cells' postings
  * — 8+m+8 bytes/vector instead of dim·8 — keeping candidates at
  * `adc ≥ threshold − mrg`, each posting's own exact error bound
  * ([[graft.llm.PqAdcMargin]]), then exact-verifies ONLY candidates
  * against the raw store by id pushdown (an all-novel trigger reads
  * zero raw vectors; `vecPq = false` keeps the raw probe). Per-trigger
  * screen cost is then bounded by the
  * batch and its true duplicates, not by store size. Stores compact per
  * bucket on the `compactEvery` cadence (blooms rebuild, cells refound
  * on drift) and heal via [[StoreCompact.recover]] after a mid-swap
  * crash.
  *
  * EXACTLY-ONCE store publication (r12 ADVICE): `foreachBatch` is
  * at-least-once, and the naive sequential appends break under replay —
  * a crash after the exact-store append but before the admitted append
  * leaves the replayed batch's docs anti-joined away by their OWN
  * half-written hashes, permanently dropping them while their reject
  * residue persists. So the trigger body never appends directly: the
  * admitted rows are derived once (against pre-batch store state) and
  * go through [[StoreTxn]]'s stage → seal → publish → commit protocol —
  * replay of a committed batch no-ops, a mid-publish crash finishes
  * publication without recompute, a mid-staging crash recomputes
  * safely.
  *
  * MUTABLE-corpus curation (r13): a CDC-fed documents table UPDATEs and
  * DELETEs, and without retirement a doc's new version is forever
  * rejected as a near-dup of its own past (and a deleted doc's re-offer
  * is blocked by a ghost). [[ingestCdcInto]] takes (op, ord, doc_id,
  * text, …) batches: the LAST op per doc wins, UPDATE/DELETE write a
  * TOMBSTONE (doc_id, asOf = batchId) through the same staged commit,
  * every store row carries its admit batch `b`, and the screens exclude
  * rows with a tombstone newer than their batch — so an UPDATE's new
  * text is screened against the corpus MINUS its own retired version,
  * in the same trigger, exactly-once. Tombstones are logical until the
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

  /** The store subdirectories recovery and compaction iterate over.
    * ([[StoreTxn.publish]] itself moves EVERY staged subdir — this list
    * only scopes the per-trigger recover sweep and the compaction
    * cadence.)
    */
  private val StoreNames =
    Seq("exact", "phash", "sigs", "vecs", "vecpq", "admitted", "budget")

  /** The columns of every store this object writes, declared once: every
    * read names its schema, so no read runs Spark's footer-inference job
    * (one job per store read per trigger, for columns written here). A
    * `_tail` shares its main's schema; the bucket column (`pb`/`cell`)
    * is a data column in a tail and a partition column in a main. Older
    * narrower files widen on read (float embeddings read as double, as
    * every kernel casts them anyway). A column absent from an older file
    * reads as null, and no null can drop a store row from a screen: a
    * null `b` counts as live ([[liveAsOf]]), a null `vecpq.mrg` means
    * "verify exactly", a null front blob means "maybe present". Every
    * other column has been written since its store first existed.
    */
  private[streaming] val StoreSchemas: Map[String, StructType] = {
    def s(cols: (String, DataType)*): StructType =
      StructType(cols.map { case (n, t) => StructField(n, t) })
    Map(
      "exact" -> s("doc_id" -> LongType, "content_hash" -> StringType,
        "b" -> LongType, "pb" -> IntegerType),
      "phash" -> s("media_id" -> LongType, "h" -> LongType,
        "band" -> IntegerType, "v" -> LongType, "b" -> LongType,
        "pb" -> IntegerType),
      "sigs" -> s("doc_id" -> LongType, "sig" -> ArrayType(LongType),
        "band" -> IntegerType, "bh" -> LongType, "b" -> LongType,
        "pb" -> IntegerType),
      "vecs" -> s("vec_id" -> LongType, "embedding" -> ArrayType(DoubleType),
        "b" -> LongType, "cell" -> IntegerType),
      "vecpq" -> s("vec_id" -> LongType, "cell" -> IntegerType,
        "codes" -> ArrayType(IntegerType), "b" -> LongType,
        "mrg" -> DoubleType),
      "admitted" -> s("doc_id" -> LongType, "text" -> StringType,
        "content_hash" -> StringType, "b" -> LongType),
      "budget" -> s("source" -> StringType, "toks" -> LongType,
        "b" -> LongType),
      "tombstones" -> s("doc_id" -> LongType, "asOf" -> LongType),
      "bloom" -> StoreLayout.FrontSchema,
      "sigbloom" -> StoreLayout.FrontSchema)
  }

  /** The declared schema of the store at `dir` (`<root>/<store>[_tail]`). */
  private def schemaOf(dir: String): StructType =
    StoreSchemas(dir.split('/').last.stripSuffix("_tail"))

  /** Read a store directory under its declared schema. */
  private def read(spark: SparkSession, dir: String): DataFrame =
    spark.read.schema(schemaOf(dir)).parquet(dir)

  /** A store row is live unless a tombstone NEWER than its admit batch
    * `b` retires it (a row written by the retiring batch itself survives
    * — that is how an UPDATE's new version coexists with its own
    * tombstone). A null `b` (a file older than the column) stays live:
    * screening against a possibly-retired row can only reject, never
    * admit a duplicate.
    */
  private def liveAsOf(asOf: Column): Column =
    asOf.isNull || col("b").isNull || col("b") >= asOf

  /** The bucketed screen stores and their partition columns — each has a
    * flat `_tail` sibling holding the deltas since the last merge.
    */
  private val BucketedStores = Seq("exact" -> Seq("pb"),
    "phash" -> Seq("pb"), "sigs" -> Seq("pb"), "vecs" -> Seq("cell"),
    "vecpq" -> Seq("cell"))
  private val FlatStores = Seq("admitted", "budget")

  /** Every directory the per-trigger recover sweep heals. */
  private def recoverDirs(rootDir: String): Seq[String] =
    (StoreNames ++ StoreNames.map(_ + "_tail") ++ DerivedNames)
      .map(s => s"$rootDir/$s")

  /** ALL rows of a screen store: the bucketed main plus the un-merged
    * flat tail — what a consumer (or a spec) reads; the screens
    * themselves read the main pruned to candidate buckets plus the
    * whole (cadence-bounded) tail.
    */
  def storeRows(spark: SparkSession, rootDir: String,
      store: String): DataFrame = {
    val parts = Seq(s"$rootDir/$store", s"$rootDir/${store}_tail")
      .filter(hasData(spark, _)).map(read(spark, _))
    require(parts.nonEmpty, s"store $store has no data under $rootDir")
    if (parts.size == 1) parts.head else parts.head.unionByName(parts.last)
  }

  private def hadoopFs(spark: SparkSession, dir: String) = {
    val path = new org.apache.hadoop.fs.Path(dir)
    (path.getFileSystem(spark.sparkContext.hadoopConfiguration), path)
  }

  private def hasData(spark: SparkSession, dir: String): Boolean =
    StoreCompact.hasData(spark, dir)

  private def readStore(spark: SparkSession, dir: String,
      cols: Seq[String]): Option[DataFrame] =
    if (hasData(spark, dir)) Some(read(spark, dir).select(cols.map(col): _*))
    else None

  /** Size guard for holding the tombstone set on the driver (r15 verdict
    * item 4 / ADVICE): tombstones are bounded by churn since the last
    * COMPACTION, not by the trigger batch — `compactEvery` defaults to 0,
    * so under sustained CDC churn the store can grow without bound and a
    * driver-held copy (the trigger body's collected set, or a broadcast()
    * hint) would eventually fail on driver memory or Spark's 8 GB
    * broadcast cap, where the unhinted join falls back to a shuffle.
    * Cheap driver-side file-bytes check (a listing, no job): under the
    * threshold the set goes to the driver; past it the tombstone joins go
    * unhinted and the planner/AQE picks the strategy. The default 64 MB
    * of parquet-encoded (doc_id, asOf) longs is tens of millions of rows
    * — far above any healthy churn window, comfortably below the cap
    * after in-memory expansion. Conf-keyed so deployments (and the
    * oversized-tombstone spec) can move it.
    */
  private[streaming] val TombBroadcastMaxBytesKey = "spark.graft.tombBroadcastMaxBytes"
  private[streaming] val TombBroadcastMaxBytesDefault: Long = 64L << 20
  private def tombstonesBroadcastable(spark: SparkSession, rootDir: String): Boolean = {
    val dir = s"$rootDir/tombstones"
    val maxBytes = spark.conf.get(TombBroadcastMaxBytesKey,
      TombBroadcastMaxBytesDefault.toString).toLong
    if (!hasData(spark, dir)) true
    else {
      val (fs, p) = hadoopFs(spark, dir)
      var bytes = 0L
      val it = fs.listFiles(p, true)
      while (bytes <= maxBytes && it.hasNext) bytes += it.next().getLen
      bytes <= maxBytes
    }
  }

  /** The frozen semantic quantizer of the `vecs`/`vecpq` stores (None
    * until the cell layout founds — see [[maintainVecCells]]): coarse
    * centroids plus PQ sub-codebooks. Layout mirrors the streaming index
    * ([[graft.llm.Similarity.buildIvfCodeIndex]]): `vec_cells/centroids`,
    * `vec_cells/codebooks`, `vec_cells/calib` (the calib quantiles are
    * quality telemetry here — the screen's recall bound is the
    * per-posting `mrg`, not a calibrated global margin). `codebooks` is
    * None on a root founded before the coded layout existed — the next
    * cadence upgrades it.
    */
  private final case class VecQuantizer(cents: Array[Array[Double]],
      codebooks: Option[Array[Array[Array[Double]]]])

  /** Driver memo of the quantizer: the arrays only change when a
    * (re)found swaps `vec_cells`, so the per-trigger centroid/codebook/
    * calib reads are fixed jobs for constants (the r14-item-2 overhead
    * class). Keyed by the cells dir's recursive file listing — one
    * metadata sweep per trigger instead of three read jobs.
    */
  private val quantCache = new java.util.concurrent.ConcurrentHashMap[
    String, (String, VecQuantizer)]()

  private def loadVecQuantizer(spark: SparkSession,
      rootDir: String): Option[VecQuantizer] = {
    val cellsDir = s"$rootDir/vec_cells"
    if (!hasData(spark, s"$cellsDir/centroids")) return None
    val (fs, p) = hadoopFs(spark, cellsDir)
    val stamp = new StringBuilder()
    val it = fs.listFiles(p, true)
    while (it.hasNext) {
      val st = it.next()
      stamp.append(st.getPath.getName).append(':').append(st.getLen)
        .append(':').append(st.getModificationTime).append(',')
    }
    val key = stamp.toString()
    val hit = quantCache.get(cellsDir)
    if (hit != null && hit._1 == key) Some(hit._2)
    else {
      val cents = graft.llm.Similarity.readIvfCentroids(spark, cellsDir)
      val cbs =
        if (hasData(spark, s"$cellsDir/codebooks"))
          Some(graft.llm.Similarity.readCodebooks(spark, s"$cellsDir/codebooks"))
        else None
      val q = VecQuantizer(cents, cbs)
      quantCache.put(cellsDir, (key, q))
      Some(q)
    }
  }

  /** Derive the admitted set against the CURRENT store state and stage
    * all outputs under `_staged/<batchId>/`, sealing with `_STAGED`.
    * Touches no store — the crash window before [[StoreTxn.publish]] is
    * recompute-safe. Split from [[ingestInto]] so the crash-replay spec
    * can stop exactly here. `batchTombstones` (doc_id rows), when
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
    val exactDir = s"$rootDir/exact"
    val phashDir = s"$rootDir/phash"
    val sigDir = s"$rootDir/sigs"
    val vecDir = s"$rootDir/vecs"
    val vecpqDir = s"$rootDir/vecpq"
    val bloomDir = s"$rootDir/bloom"
    val sigBloomDir = s"$rootDir/sigbloom"
    def staged(store: String): String = StoreTxn.stagePath(rootDir, batchId, store)
    val semantic = offers.columns.contains("embedding")
    val media = offers.columns.contains("content")
    val vecQuant: Option[VecQuantizer] =
      if (semantic) loadVecQuantizer(spark, rootDir) else None
    val vecCents: Option[Array[Array[Double]]] = vecQuant.map(_.cents)

    // every frame this body pins, released together in the outer finally
    // — after the staging pool has drained, because the pooled sig
    // deltas still read the pinned sig survivors
    val pins = scala.collection.mutable.ArrayBuffer.empty[DataFrame]
    def pin(df: DataFrame): DataFrame = { val p = df.persist(); pins += p; p }
    // every broadcast variable this body ships (the staging pool ships
    // too, hence the concurrent queue), destroyed with the pins
    val shipped = new java.util.concurrent.ConcurrentLinkedQueue[
      org.apache.spark.broadcast.Broadcast[_]]()
    def ship[T: scala.reflect.ClassTag](v: T) = {
      val b = spark.sparkContext.broadcast(v); shipped.add(b); b
    }
    // stamp each stage's eagerly-running jobs (bucket collects, counts,
    // checkpoints, staged writes) with a stage label, so the Spark UI,
    // perfbench's per-label chain metrics and tools/joblog.py attribute
    // the trigger's jobs to stages instead of anonymous callsites. A
    // pinned frame computes under the label of the FIRST action that
    // reads it, so per-label job counts move when a pin moves work
    // between stages.
    def labeled[T](stage: String)(f: => T): T = {
      spark.sparkContext.setJobDescription(s"graft.chain $stage")
      try f finally spark.sparkContext.setJobDescription(null)
    }
    try {
      // effective tombstones: standing (un-applied) ∪ this batch's, one
      // max-asOf row per doc (bounded by churn since the last cadence)
      val tombOpt: Option[DataFrame] = {
        val standing = readStore(spark, s"$rootDir/tombstones",
          Seq("doc_id", "asOf"))
        val fresh = batchTombstones.map(
          _.select(col("doc_id")).withColumn("asOf", lit(batchId)))
        (standing, fresh) match {
          case (None, None) => None
          case (a, b) => Some((a.toSeq ++ b.toSeq).reduce(_ unionByName _)
            .groupBy("doc_id").agg(max("asOf").as("asOf")))
        }
      }
      // `retire(df, key)` keeps df's live rows ([[liveAsOf]]). While the
      // standing store is provably small (tombstonesBroadcastable) the set
      // collects to the driver ONCE and ships as one broadcast variable
      // that every store read filters through — adaptive execution is off
      // in the trigger body, so a hinted join would pay its own broadcast
      // job in every action that reads a store. Rows the join could never
      // match (a null doc_id) or never retire (a null asOf) are left out.
      // Past the threshold the set stays distributed: pinned, and joined
      // unhinted so the planner may shuffle it.
      val retire: Option[(DataFrame, String) => DataFrame] = tombOpt.map { t =>
        if (tombstonesBroadcastable(spark, rootDir)) {
          val byId = labeled("tombstones") {
            t.filter(col("doc_id").isNotNull && col("asOf").isNotNull).collect()
          }.map(r => (r.getLong(0), r.getLong(1))).sortBy(_._1)
          val bc = ship((byId.map(_._1), byId.map(_._2)))
          val live = udf { (id: Long, b: Long) =>
            val (ids, asOf) = bc.value
            val i = java.util.Arrays.binarySearch(ids, id)
            i < 0 || b >= asOf(i)
          }
          (df: DataFrame, key: String) =>
            df.filter(col(key).isNull || col("b").isNull || live(col(key), col("b")))
        } else {
          val pinned = pin(t)
          (df: DataFrame, key: String) =>
            df.join(pinned.select(col("doc_id").as(key), col("asOf").as("_asof")),
                Seq(key), "left")
              .filter(liveAsOf(col("_asof")))
        }
      }
      /** A store's LIVE rows ([[liveAsOf]]). `prune` restricts the scan
        * to candidate buckets of the store's partition column — static
        * partition pruning, the bucketed-layout read path (an empty
        * bucket list means the caller already knows nothing matches:
        * skip the read entirely).
        */
      def readLive(dir: String, key: String, cols: Seq[String],
          prune: Option[(String, Seq[Int])] = None): Option[DataFrame] = {
        val tailDir = dir + "_tail"
        val hasMain = hasData(spark, dir)
        val hasTail = hasData(spark, tailDir)
        if (!hasMain && !hasTail) return None
        if (prune.exists(_._2.isEmpty)) return None
        val need = (Seq(key) ++ cols :+ "b").distinct
        // the bucketed main reads candidate buckets only (static partition
        // pruning); the FLAT tail — this cadence interval's few small
        // delta files — reads whole (bounded by the merge cadence)
        val parts = Seq(
          if (hasMain) Some((prune match {
            case Some((pc, vals)) =>
              StoreLayout.prunedRead(spark, dir, pc, vals, Some(schemaOf(dir)))
            case None => read(spark, dir)
          }).select(need.map(col): _*)) else None,
          if (hasTail) Some(read(spark, tailDir).select(need.map(col): _*))
          else None).flatten
        val df = parts.reduce(_ unionByName _)
        Some(retire.fold(df)(_(df, key)).select(cols.map(col): _*))
      }
      def storePresent(dir: String): Boolean =
        hasData(spark, dir) || hasData(spark, dir + "_tail")

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
        if (!storePresent(exactDir)) pinned
        else {
          val batchKeys = pinned.select("content_hash").distinct()
            .withColumn("__h", StoreLayout.keyHash(col("content_hash")))
            .withColumn("pb", StoreLayout.bucketOf(col("__h"), P))
          // the front probes through the DRIVER-CACHED blobs (one filter
          // inside the batch plan — r14 verdict item 2: the read+join
          // probe was two fixed jobs per trigger; the blobs only change
          // when this body publishes or the cadence rebuilds, which the
          // cache's listing fingerprint catches)
          val maybe = StoreLayout.bloomScreen(spark, bloomDir, batchKeys) match {
            case Some(filtered) => filtered.select("content_hash", "pb").distinct()
            case None => batchKeys.select("content_hash", "pb")
          }
          // candidate buckets: a driver-side collect bounded by the
          // layout's bucket count (the probed-cell contract)
          // the survivors feed the sig screen, the semantic counts and
          // the admit checkpoint — pin them, or each re-runs the store
          // read and anti-join
          readLive(exactDir, "doc_id", Seq("content_hash"),
              Some(("pb", StoreLayout.bucketsPresent(maybe))))
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
          val bandKeys = graft.multimodal.MultimodalQueries
            .bandExplode(survM, "new_id")
            .select(col("b").as("band"), col("v")).distinct()
            .withColumn("pb", StoreLayout.bucketOf(
              StoreLayout.keyHash(col("band"), col("v")), P))
          val okIds = readLive(phashDir, "media_id",
              Seq("media_id", "h", "band", "v"),
              Some(("pb", StoreLayout.bucketsPresent(bandKeys))))
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
          if (!storePresent(sigDir)) survS
          else {
            val nBands = TextDedupStream.bandRows(survS, "new_id")
              .withColumn("__h", StoreLayout.keyHash(col("band"), col("bh")))
              .withColumn("pb", StoreLayout.bucketOf(col("__h"), P))
            val maybe = pin(StoreLayout.bloomScreen(spark, sigBloomDir, nBands)
              .map(_.dropDuplicates("new_id", "band", "bh"))
              .getOrElse(nBands))
            readLive(sigDir, "doc_id", Seq("doc_id", "sig", "band", "bh"),
                Some(("pb", StoreLayout.bucketsPresent(maybe))))
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
            // the PQ POSTINGS of the probed cells — 8+m+8 bytes/vector
            // instead of dim·8 — ADC-scores them at a calibrated margin
            // below the threshold, and exact-verifies ONLY the
            // candidates against the raw store by id pushdown. An
            // all-novel batch reads code postings and zero raw vectors.
            case Some(q) if vecPq && q.codebooks.isDefined &&
                storePresent(vecpqDir) =>
              // the in-batch screen result feeds THREE actions on this
              // path (the probe collect, the candidate materialization,
              // and the final anti-join) — pin it, or each re-runs the
              // whole upstream screen subplan (the q226 lesson)
              val survV = pin(SemDedupStream
                .admitBatch(vecs, spark.emptyDataFrame, threshold))
              graft.llm.Similarity.adcProbes(
                  survV.select("vec_id", "embedding"), q.cents,
                  q.codebooks.get, vecNprobe) match {
                case None => survV // zero offers survived the batch screen
                case Some(pr) =>
                  readLive(vecpqDir, "vec_id",
                      Seq("vec_id", "cell", "codes", "mrg"),
                      Some(("cell", pr.probedCells.toSeq)))
                    .map { st =>
                      // each posting carries its EXACT ADC error bound
                      // `mrg` ([[graft.llm.PqAdcMargin]]) — the filter
                      // can never drop a true pair, and a posting the
                      // codebooks quantize badly just verifies exactly;
                      // a posting with no bound (null `mrg`) verifies too
                      val cand = pin(graft.llm.Similarity.adcScoreCandidates(
                          st.withColumnRenamed("vec_id", "neighbor_id"), pr,
                          Double.MinValue)
                        .filter(col("mrg").isNull ||
                          col("adc") >= lit(threshold) - col("mrg"))
                        .select("query_id", "neighbor_id", "cell"))
                      // id-pushdown fetch: candidate rows only, pruned to
                      // their cells (the SemDedupStream verify contract —
                      // past 10k candidates fall back to a semi-join)
                      val idRows = cand.select("neighbor_id", "cell")
                        .distinct().limit(10001).collect()
                      val fetched =
                        if (idRows.isEmpty) None
                        else if (idRows.length <= 10000)
                          readLive(vecDir, "vec_id", Seq("vec_id", "embedding"),
                              Some(("cell",
                                idRows.map(_.getInt(1)).distinct.sorted.toSeq)))
                            .map(_.filter(col("vec_id").isin(idRows.map(r =>
                              java.lang.Long.valueOf(r.getLong(0))).toSeq: _*)))
                        else
                          readLive(vecDir, "vec_id", Seq("vec_id", "embedding"),
                              Some(("cell", pr.probedCells.toSeq)))
                            .map(_.join(
                              cand.select(col("neighbor_id").as("vec_id"))
                                .distinct(), Seq("vec_id"), "left_semi"))
                      fetched.map { f =>
                        val dup = cand.select("query_id", "neighbor_id")
                          .distinct()
                          .join(f.select(col("vec_id").as("neighbor_id"),
                            col("embedding").cast("array<double>").as("cv")),
                            Seq("neighbor_id"))
                          .join(survV.select(col("vec_id").as("query_id"),
                            col("embedding").cast("array<double>").as("qv")),
                            Seq("query_id"))
                          .filter(graft.llm.Similarity
                            .cosine(col("qv"), col("cv")) >= threshold)
                          .select(col("query_id").as("vec_id")).distinct()
                        survV.join(broadcast(dup), Seq("vec_id"), "left_anti")
                      }.getOrElse(survV)
                    }
                    .getOrElse(survV)
              }
            // raw cell probe: a founded root whose coded postings have
            // not (re)built yet — correct, just dim·8 bytes per probed row
            case Some(q) if storePresent(vecDir) =>
              val cents = q.cents
              val survV = SemDedupStream
                .admitBatch(vecs, spark.emptyDataFrame, threshold)
              val qv = survV.select(col("vec_id"),
                  col("embedding").cast("array<double>").as("qv"))
                .withColumn("cell", explode(graft.llm.IvfProbe(col("qv"),
                  cents, math.min(vecNprobe, cents.length))))
              val cells = qv.select(col("cell").as("pb"))
              readLive(vecDir, "vec_id", Seq("vec_id", "embedding", "cell"),
                  Some(("cell", StoreLayout.bucketsPresent(cells))))
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
                readLive(vecDir, "vec_id", Seq("vec_id", "embedding"))
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
      // store deltas stage FLAT into the store's `_tail` sibling with
      // the bucket value as a data column — a handful of files per
      // trigger instead of one per `key=value` dir (measured ~2× whole-
      // trigger cost when every micro-batch fanned across the bucket
      // dirs); [[StoreCompact.mergeTail]] folds tails into the bucketed
      // mains on the compaction cadence, which bounds what the pruned
      // reads pay for the un-merged tail. The bloom deltas stage through
      // the SAME publish — the front can only ever lag the store by rows
      // that were never published, i.e. never.
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
        // KB of longs per trigger) so the delta BLOBS build locally
        // (StoreLayout.bloomDeltaLocal — no distributed agg job), are
        // written by the driver (StoreLayout.writeFrontLocal — no 1-task
        // write job), and can merge into the DRIVER-CACHED front after the
        // publish (without that merge the cache could never hit, since
        // every publish changes the blob listing — r14 verdict item 2).
        // The same collect brings the kept doc ids, sorted, for the sig
        // deltas below.
        val fExactFront = staging("stage-exact-front") {
          val kept = keep
            .select(col("doc_id"),
              StoreLayout.keyHash(col("content_hash")).as("__h"))
            .withColumn("pb", StoreLayout.bucketOf(col("__h"), P))
            .collect()
          val exactKeys = kept.map(r => (r.getLong(1), r.getInt(2)))
          val exactBlobs = StoreLayout.bloomDeltaLocal(exactKeys,
            math.max(1L, exactKeys.length.toLong), P)
          StoreLayout.writeFrontLocal(spark, staged("bloom"), exactBlobs)
          (exactBlobs, kept.filterNot(_.isNullAt(0)).map(_.getLong(0)).sorted)
        }
        val fExactTail = staging("stage-exact-tail") {
          keep.select("doc_id", "content_hash").withColumn("b", lit(batchId))
            .withColumn("pb", StoreLayout.bucketOf(
              StoreLayout.keyHash(col("content_hash")), P))
            .repartition(col("pb"))
            .write.mode("overwrite").parquet(staged("exact_tail"))
        }
        val fPhash = hashed.map { h =>
          staging("stage-phash-tail") {
            graft.multimodal.MultimodalQueries.bandExplode(
                h.join(broadcast(keep.select(col("doc_id").as("media_id"))),
                  Seq("media_id"), "left_semi"), "media_id")
              .select(col("media_id"), col("h"), col("b").as("band"), col("v"))
              .withColumn("b", lit(batchId))
              .withColumn("pb", StoreLayout.bucketOf(
                StoreLayout.keyHash(col("band"), col("v")), P))
              .repartition(col("pb"))
              .write.mode("overwrite").parquet(staged("phash_tail"))
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
          TextDedupStream.bandRows(afterSig.filter(isKept(col("doc_id"))), "doc_id")
            .withColumn("b", lit(batchId))
            .withColumn("pb", StoreLayout.bucketOf(
              StoreLayout.keyHash(col("band"), col("bh")), P))
        }
        val fSigsTail = fKeptBands.flatMap(keptBands =>
          staging("stage-sigs-tail") {
            keptBands.repartition(col("pb"))
              .write.mode("overwrite").parquet(staged("sigs_tail"))
          })
        val fSigFront = fKeptBands.flatMap(keptBands =>
          staging("stage-sig-front") {
            val sigKeys = keptBands
              .select(StoreLayout.keyHash(col("band"), col("bh")).as("__h"),
                col("pb"))
              .collect().map(r => (r.getLong(0), r.getInt(1)))
            val sigBlobs = StoreLayout.bloomDeltaLocal(sigKeys,
              math.max(1L, sigKeys.length.toLong), P)
            StoreLayout.writeFrontLocal(spark, staged("sigbloom"), sigBlobs)
            sigBlobs
          })
        val fVecs =
          if (!semantic) None
          else Some(staging("stage-vecs-tail") {
            keep.select(col("doc_id").as("vec_id"), col("embedding"))
              .withColumn("b", lit(batchId))
              .withColumn("cell", vecCents match {
                case Some(cents) => graft.llm.IvfCell(
                  col("embedding").cast("array<double>"), cents)
                case None => lit(0)
              })
              .repartition(col("cell"))
              .write.mode("overwrite").parquet(staged("vecs_tail"))
          })
        // the coded postings delta: the SAME admitted rows, frozen-
        // centroid cell + frozen-codebook encode, through the SAME
        // staged publish — the postings can never lag the raw store
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
            t.select(col("doc_id")).distinct().withColumn("asOf", lit(batchId))
              .write.mode("overwrite").parquet(staged("tombstones"))
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
          Seq(bloomDir -> scala.concurrent.Await.result(fExactFront,
              scala.concurrent.duration.Duration.Inf)._1,
            sigBloomDir -> scala.concurrent.Await.result(fSigFront,
              scala.concurrent.duration.Duration.Inf)))
      } catch {
        // the body's error stays the primary one; a drain failure on top
        // of it rides along as suppressed
        case e: Throwable => drain().foreach(e.addSuppressed); throw e
      }
      drain().foreach(e => throw e)
      StoreTxn.seal(spark, rootDir, batchId)
    } finally {
      pins.foreach(_.unpersist())
      shipped.forEach(_.destroy())
    }
  }

  private[streaming] def stageBatch(rootDir: String, threshold: Double,
      vecNprobe: Int = 4, budgets: Map[String, Long] = Map.empty,
      budgetDefault: Long = Long.MaxValue, vecPq: Boolean = true)(
      batch: DataFrame, batchId: Long): Unit =
    stageCurated(rootDir, threshold, batch, None, batchId, vecNprobe,
      budgets, budgetDefault, vecPq)

  /** Derived state the recover sweep also heals (their cadence rebuilds
    * go through the same rename swap as compaction).
    */
  private val DerivedNames = Seq("bloom", "sigbloom")

  /** Blob deltas staged by [[stageCurated]], waiting for their publish
    * to land so they can merge into the driver-cached fronts
    * ([[StoreLayout.noteFrontDelta]]). A replay that skips staging never
    * creates an entry — the cache then re-reads on its fingerprint
    * mismatch, which is the safe fallback.
    */
  private val pendingFronts = new java.util.concurrent.ConcurrentHashMap[
    (String, Long), Seq[(String, Seq[(Int, Array[Byte])])]]()

  private def mergePendingFronts(spark: SparkSession, rootDir: String,
      batchId: Long): Unit =
    Option(pendingFronts.remove((rootDir, batchId))).foreach(_.foreach {
      case (dir, blobs) => StoreLayout.noteFrontDelta(spark, dir, blobs)
    })

  /** Rebuild the bloom fronts from the CURRENT store rows — the cadence
    * maintenance that collapses the per-trigger delta blobs into one
    * blob per bucket and drops tombstone-retired keys (the deltas are a
    * safe superset until then). Runs after the stores compact, in the
    * same between-triggers slot.
    */
  private def rebuildBlooms(spark: SparkSession, rootDir: String): Unit = {
    val P = StoreLayout.ensureLayout(spark, rootDir, StoreNames)
    def rebuild(storeDir: String, bloomDir: String,
        keys: DataFrame => DataFrame): Unit =
      if (hasData(spark, storeDir)) {
        val keyed = keys(read(spark, storeDir))
          .withColumn("pb", StoreLayout.bucketOf(col("__h"), P))
        val blobs = StoreLayout.bloomDelta(keyed,
          math.max(1L, keyed.count()), P)
        if (hasData(spark, bloomDir))
          StoreCompact.rewrite(spark, bloomDir, _ => blobs, targetFiles = 1)
        else blobs.coalesce(1).write.mode("overwrite").parquet(bloomDir)
      }
    rebuild(s"$rootDir/exact", s"$rootDir/bloom",
      _.select(StoreLayout.keyHash(col("content_hash")).as("__h")))
    rebuild(s"$rootDir/sigs", s"$rootDir/sigbloom",
      _.select(StoreLayout.keyHash(col("band"), col("bh")).as("__h")))
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
    * store.
    */
  private def maintainVecCells(spark: SparkSession, rootDir: String,
      floor: Int, rebuildFactor: Double = 4.0,
      vecPq: Boolean = true): Unit = {
    val vecDir = s"$rootDir/vecs"
    val vecpqDir = s"$rootDir/vecpq"
    val cellsDir = s"$rootDir/vec_cells"
    val (fs, cellsPath) = hadoopFs(spark, cellsDir)
    // stale residue from a crashed (re)founding: the store is the truth
    // and absent centroids only cost pruning, so residue just deletes
    fs.delete(new org.apache.hadoop.fs.Path(cellsDir + "_tmp"), true)
    fs.delete(new org.apache.hadoop.fs.Path(cellsDir + "_old"), true)
    if (!hasData(spark, vecDir)) return
    val quant = loadVecQuantizer(spark, rootDir)
    val needs = quant match {
      case None =>
        read(spark, vecDir).count() >= floor
      case Some(q) if vecPq && q.codebooks.isEmpty =>
        true // founded before the coded layout existed — upgrade refound
      case Some(q) =>
        val counts = read(spark, vecDir).groupBy("cell")
          .agg(count(lit(1)).as("n"))
          .agg(max("n").as("hot"), sum("n").as("total")).head
        !counts.isNullAt(0) &&
          counts.getLong(0).toDouble * q.cents.length >
            rebuildFactor * counts.getLong(1)
    }
    if (!needs) return
    // EVERY read of the pre-rewrite store happens here, before the
    // swaps below delete the files those plans listed
    val src = read(spark, vecDir).select("vec_id", "embedding")
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
            read(spark, vecDir).select("vec_id", "embedding", "b"),
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
    StoreTxn.guardMonotone(spark, rootDir, batchId)
    recoverDirs(rootDir).foreach(StoreCompact.recover(spark, _))
    if (!StoreTxn.isCommitted(spark, rootDir, batchId)) {
      if (!StoreTxn.isStaged(spark, rootDir, batchId)) {
        StoreTxn.clearForeignStaged(spark, rootDir, batchId)
        stageBatch(rootDir, threshold, vecNprobe, budgets, budgetDefault,
          vecPq)(batch, batchId)
      }
      // a sealed staged copy (this call's, or a mid-publish crash's)
      // publishes WITHOUT recompute — the stores may already hold some of
      // its files, and recomputing against them is the replay bug
      StoreTxn.publish(spark, rootDir, batchId)
      mergePendingFronts(spark, rootDir, batchId)
    }
    if (compactEvery > 0 && batchId > 0 && batchId % compactEvery == 0) {
      BucketedStores.foreach { case (s, pc) =>
        StoreCompact.mergeTail(spark, s"$rootDir/$s", pc)
      }
      FlatStores.map(s => s"$rootDir/$s")
        .filter(hasData(spark, _))
        .foreach(StoreCompact.compact(spark, _))
      rebuildBlooms(spark, rootDir)
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
        Seq("doc_id", "text", "content_hash", "b")).map { adm =>
      readStore(spark, s"$rootDir/tombstones", Seq("doc_id", "asOf")) match {
        case None => adm.select("doc_id", "text", "content_hash")
        case Some(t0) =>
          val t = t0.groupBy("doc_id").agg(max("asOf").as("_asof"))
          // churn-bounded tombstone metadata vs the corpus-scale store;
          // hint size-guarded (tombstonesBroadcastable — unbounded when
          // no compaction cadence ever applies them)
          val hint: DataFrame => DataFrame =
            if (tombstonesBroadcastable(spark, rootDir)) broadcast else identity
          adm.join(hint(t), Seq("doc_id"), "left")
            .filter(liveAsOf(col("_asof")))
            .select("doc_id", "text", "content_hash")
      }
    }.getOrElse(spark.emptyDataFrame)

  /** Which id column retires a store's rows when its doc tombstones. */
  private val StoreKeys = Seq("exact" -> "doc_id", "phash" -> "media_id",
    "sigs" -> "doc_id", "vecs" -> "vec_id", "vecpq" -> "vec_id",
    "admitted" -> "doc_id")

  /** Physically remove tombstoned rows (a row retires when a tombstone
    * with `asOf > b` exists for its doc) from every store, then clear
    * the tombstone store. Each rewrite goes through the
    * [[StoreCompact.rewrite]] swap, so a crash mid-apply is healed by
    * the next trigger's recover; a crash BEFORE the final clear leaves
    * tombstones standing — the logical exclusion still holds and the
    * next cadence finishes the apply (idempotent: rewriting an
    * already-clean store drops nothing).
    */
  def applyTombstones(spark: SparkSession, rootDir: String): Unit = {
    val tombDir = s"$rootDir/tombstones"
    if (!hasData(spark, tombDir)) return
    // size-guard BEFORE the checkpoint reads the store (the guard is a
    // driver-side listing of the same dir)
    val hint: DataFrame => DataFrame =
      if (tombstonesBroadcastable(spark, rootDir)) broadcast else identity
    val t = read(spark, tombDir)
      .groupBy("doc_id").agg(max("asOf").as("_asof"))
      .localCheckpoint() // the rewrites below retire the dirs this reads
    StoreKeys.foreach { case (store, key) =>
      // the bucketed main AND its un-merged flat tail both hold live rows
      Seq(s"$rootDir/$store", s"$rootDir/${store}_tail").foreach { dir =>
        if (hasData(spark, dir))
          StoreCompact.rewrite(spark, dir, df =>
            // churn-bounded metadata vs a store-scale rewrite: hint
            // size-guarded above
            df.join(hint(t.select(col("doc_id").as(key), col("_asof"))),
                Seq(key), "left")
              .filter(liveAsOf(col("_asof")))
              .drop("_asof"))
      }
    }
    val (fs, p) = hadoopFs(spark, tombDir)
    fs.delete(p, true)
    ()
  }

  /** The CDC trigger body — [[ingestInto]] for a batch of ROW OPERATIONS
    * `(op, ord, doc_id, text[, content][, embedding])` with `op` ∈
    * INSERT/UPDATE/DELETE and `ord` the within-batch event order (see
    * [[CdcCorpusChain.cdcDocsFromChunks]]). The LAST op per doc wins;
    * UPDATE and DELETE tombstone the doc's standing store rows as of
    * this batch, and INSERT/UPDATE texts re-offer through the full
    * screen chain against the corpus MINUS the retired rows — all under
    * ONE staged publish, so replay cannot half-apply a retire/re-admit
    * pair. An UPDATE whose new text fails the gate (or screens against
    * OTHER docs) removes the doc from the corpus entirely — the current
    * version failed curation. Tombstones apply physically on the
    * `compactEvery` cadence, before compaction.
    */
  def ingestCdcInto(rootDir: String, threshold: Double = 0.92,
      compactEvery: Int = 0, vecCellFloor: Int = VecCellFloorDefault,
      vecNprobe: Int = 4, budgets: Map[String, Long] = Map.empty,
      budgetDefault: Long = Long.MaxValue,
      vecRebuildFactor: Double = 4.0, vecPq: Boolean = true)(
      batch: DataFrame, batchId: Long): Unit = {
    val spark = batch.sparkSession
    StoreTxn.guardMonotone(spark, rootDir, batchId)
    recoverDirs(rootDir).foreach(StoreCompact.recover(spark, _))
    if (!StoreTxn.isCommitted(spark, rootDir, batchId)) {
      if (!StoreTxn.isStaged(spark, rootDir, batchId)) {
        StoreTxn.clearForeignStaged(spark, rootDir, batchId)
        val wOrd = org.apache.spark.sql.expressions.Window
          .partitionBy("doc_id").orderBy(col("ord").desc)
        val last = batch
          .withColumn("rn", row_number().over(wOrd))
          .filter(col("rn") === 1).drop("rn")
          .persist()
        try {
          val tombIds = last
            .filter(col("op").isin("UPDATE", "DELETE")).select("doc_id")
          // `ord` rides into stageCurated so the in-batch first-of-hash
          // tiebreak follows stream order for CDC batches
          val offers = last
            .filter(col("op").isin("INSERT", "UPDATE")).drop("op")
          stageCurated(rootDir, threshold, offers, Some(tombIds), batchId,
            vecNprobe, budgets, budgetDefault, vecPq)
        } finally { last.unpersist(); () }
      }
      StoreTxn.publish(spark, rootDir, batchId)
      mergePendingFronts(spark, rootDir, batchId)
    }
    if (compactEvery > 0 && batchId > 0 && batchId % compactEvery == 0) {
      applyTombstones(spark, rootDir)
      BucketedStores.foreach { case (s, pc) =>
        StoreCompact.mergeTail(spark, s"$rootDir/$s", pc)
      }
      FlatStores.map(s => s"$rootDir/$s")
        .filter(hasData(spark, _))
        .foreach(StoreCompact.compact(spark, _))
      // bloom rebuild AFTER the tombstone apply + merge: the fronts shed
      // the retired keys here (they were a safe superset until now) and
      // the rebuilt blobs cover the merged mains completely
      rebuildBlooms(spark, rootDir)
      maintainVecCells(spark, rootDir, vecCellFloor, vecRebuildFactor, vecPq)
    }
  }
}
