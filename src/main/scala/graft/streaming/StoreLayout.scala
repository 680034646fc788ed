package graft.streaming

import graft.llm.{Bloom, BloomAgg, BloomContains, BloomKernels}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{BinaryType, IntegerType, StructField, StructType}

/** The streaming screen stores' ON-DISK layout: every store a screen
  * re-reads per trigger is hive-partitioned by a BUCKET of its join key,
  * so a trigger reads candidate buckets instead of scanning the whole
  * store (r13 verdict item 1 — the one remaining O(corpus)-per-trigger
  * regime in the composed chain):
  *
  *  - `exact`   — bucket of the content hash; fronted by `bloom`
  *  - `sigs`    — PRE-BANDED rows, bucket of the (band, bh) join key;
  *                fronted by `sigbloom` over the same band keys
  *  - `phash`   — PRE-BANDED rows, bucket of the (band, v) byte-band key
  *  - `vecs`    — IVF cell under frozen trained centroids (the q220
  *                postings layout), probe-pruned like the persisted index
  *
  * The BLOOM FRONT is what makes the per-trigger cost sublinear in store
  * size rather than merely divided by the bucket count: each trigger's
  * admitted keys stage one (bucket, blob) delta row through the same
  * [[StoreTxn]] publish as the store rows themselves (so the front can
  * never miss a published key — a false NEGATIVE would re-admit a
  * duplicate, while the front's false positives only fall through to the
  * exact anti-join, which stays correct). A batch key whose blobs all
  * miss is DEFINITELY novel and its bucket is never read; only 'maybe'
  * keys (true dups + the designed ε of false positives) pull their
  * buckets. Tombstoned rows stay in the blobs until the compaction
  * cadence rebuilds them from the live store — a superset, safe by the
  * same one-sidedness.
  *
  * Bucket count is fixed per store root at creation (`_layout` marker):
  * bucket assignment is a pure function of the key and the count, so
  * changing the count under existing stores would silently read the
  * wrong buckets — a root written under a different count fails loudly
  * instead. The division of labor: the BLOOM front makes the all-novel
  * trigger free (zero buckets read at the designed ε), and the BUCKET
  * count bounds what a dup-bearing trigger pays (each true duplicate
  * key reads its bucket = 1/buckets of the store); at 100 TB raise
  * [[DefaultBuckets]] for new roots to keep that per-dup slice small.
  */
object StoreLayout {

  /** Buckets for NEW store roots; existing roots read their marker.
    * Sized against the DUP-bearing trigger: a batch carrying d true
    * duplicates pulls ~8d signature buckets, and the read is that
    * fraction of the store — 256 buckets keep a few-dup trigger at a few
    * percent of the store where 64 would read half of it.
    */
  val DefaultBuckets: Int = 256

  /** Designed false-positive rate of the bloom fronts. Deliberately
    * tight: a trigger tests ~8·|batch| band keys, and at 1e-4 the
    * expected false-positive count stays below one — so an all-novel
    * batch reads ZERO store buckets and the per-trigger cost is bounded
    * by true duplicates, not store size. The price is ~19 bits per
    * admitted key (vs ~10 at 1%), still a small fraction of the store
    * rows the blobs front.
    */
  val BloomFp: Double = 1e-4

  private def fsOf(spark: SparkSession, dir: String) = {
    val path = new org.apache.hadoop.fs.Path(dir)
    (path.getFileSystem(spark.sparkContext.hadoopConfiguration), path)
  }

  /** Read the root's bucket count, creating the `_layout` marker on a
    * fresh root. A root that already holds store data but no marker
    * predates the bucketed layout — fail loudly (silently bucketing new
    * rows over flat old rows would make the pruned reads miss them).
    */
  def ensureLayout(spark: SparkSession, rootDir: String,
      stores: Seq[String]): Int = {
    val (fs, p) = fsOf(spark, s"$rootDir/_layout")
    if (fs.exists(p)) {
      val in = fs.open(p)
      try new String(in.readAllBytes(), "UTF-8").trim.toInt finally in.close()
    } else {
      // pre-layout data in the declared store SUBDIRS (the chain's old
      // shape), or any plain data FILE at the root itself (the
      // standalone bodies' old shape: parquet parts written directly
      // under storeDir) — both mean an existing store that the bucketed
      // reads would silently treat as bootstrap, re-admitting
      // everything it ever rejected
      val rootPath = new org.apache.hadoop.fs.Path(rootDir)
      val legacyRootFiles = fs.exists(rootPath) &&
        fs.listStatus(rootPath).exists { st =>
          val n = st.getPath.getName
          st.isFile && !n.startsWith("_") && !n.startsWith(".")
        }
      if (legacyRootFiles ||
          stores.exists(s => StoreCompact.hasData(spark, s"$rootDir/$s")))
        throw new IllegalStateException(
          s"store root $rootDir holds data but no _layout marker — it " +
            "predates the bucketed store layout. Re-ingest into a fresh " +
            "root (or write a _layout marker after manually rewriting " +
            "every store partitioned by its bucket column).")
      val out = fs.create(p, true)
      try out.write(s"$DefaultBuckets\n".getBytes("UTF-8")) finally out.close()
      DefaultBuckets
    }
  }

  /** The 64-bit join-key hash — feeds BOTH the bucket (high 32 bits) and
    * the bloom bit positions (full hash), so the two stay independent
    * (the [[Bloom]] shard trick: a bucket constraint on the same bits
    * the blob probes would concentrate the probes on 1/buckets of the
    * bit array and inflate ε).
    */
  def keyHash(keys: Column*): Column = xxhash64(keys: _*)

  /** Bucket of a [[keyHash]] value. */
  def bucketOf(h: Column, buckets: Int): Column =
    pmod(shiftrightunsigned(h, 32), lit(buckets.toLong)).cast("int")

  /** The distinct bucket values present in `df.pb` — a driver-side
    * collect BOUNDED by the root's bucket count (the same contract as
    * the IVF probed-cell collect).
    */
  def bucketsPresent(df: DataFrame): Seq[Int] =
    df.select("pb").distinct().collect().map(_.getInt(0)).toSeq.sorted

  /** Read only `parts` of a `partCol`-partitioned store — static
    * partition pruning keeps unlisted buckets' files unopened. A known
    * `schema` skips the footer-inference job of a plain read.
    */
  def prunedRead(spark: SparkSession, dir: String, partCol: String,
      parts: Seq[Int], schema: Option[StructType] = None): DataFrame =
    schema.fold(spark.read)(spark.read.schema(_)).parquet(dir)
      .filter(col(partCol).isin(parts.map(Integer.valueOf): _*))

  /** The columns of a bloom front: one sealed blob per bucket per delta
    * ([[bloomDelta]], [[bloomDeltaLocal]]). Fronts are read under it, so
    * a probe never pays a footer-inference job; a null blob (a column
    * absent from a file) reads as "maybe present", the side a front may
    * err on.
    */
  val FrontSchema: StructType = StructType(Seq(
    StructField("pb", IntegerType), StructField("bloom", BinaryType)))

  private def readFront(spark: SparkSession, dir: String): DataFrame =
    spark.read.schema(FrontSchema).parquet(dir)

  /** One sealed bloom blob per bucket over `keyed`'s (`__h`, `pb`) rows.
    * `n` is the delta's TOTAL key count and `buckets` the root's bucket
    * count — each blob is sized for its expected per-bucket share
    * (sizing every blob for the whole delta would make the blobs — and
    * the aggregation buffers — `buckets`× too large; a mis-estimate only
    * moves ε, never creates a false negative).
    */
  def bloomDelta(keyed: DataFrame, n: Long, buckets: Int): DataFrame = {
    val (mBits, k) = BloomKernels.params(
      math.max(64L, n / math.max(1, buckets)), BloomFp)
    val agg = udaf(new BloomAgg(mBits, k))
    keyed.groupBy("pb").agg(agg(col("__h")).as("bloom"))
  }

  /** The subset of `batchKeys` (carrying `__h` and `pb`) that SOME blob
    * in their bucket reports present — everything else is definitely
    * novel and need not touch the store. May emit duplicate key rows
    * when several blobs hit; callers distinct on their key columns.
    */
  def bloomMaybe(batchKeys: DataFrame, blooms: DataFrame): DataFrame =
    batchKeys.join(blooms, Seq("pb"))
      .filter(col("bloom").isNull || BloomContains(col("__h"), col("bloom")))
      .drop("bloom")

  /** Ceiling for the driver-side front cache: a front whose blob files
    * exceed this falls back to the distributed join probe
    * ([[bloomMaybe]]). ~19 bits/key at the designed ε means the cap
    * covers fronts up to the ~10⁸-key class; past that the blobs stop
    * being driver metadata and the join is the right shape.
    */
  val FrontCacheMaxBytes: Long = 64L << 20

  // dir → (fingerprint, broadcast blobs-by-bucket). The fingerprint is
  // the blob directory's file listing (name:length:mtime), so any delta
  // append, cadence rebuild, or recover invalidates without reading data.
  private val frontCache = new java.util.concurrent.ConcurrentHashMap[
    String,
    (String, org.apache.spark.broadcast.Broadcast[
      Map[Int, Array[Array[Byte]]]])]()

  private def frontFingerprint(spark: SparkSession,
      dir: String): Option[(String, Long)] = {
    val (fs, p) = fsOf(spark, dir)
    if (!fs.exists(p)) return None
    val entries = fs.listStatus(p).toSeq
      .filter { st =>
        val n = st.getPath.getName
        !n.startsWith("_") && !n.startsWith(".")
      }
      .sortBy(_.getPath.getName)
    if (entries.isEmpty) None
    else Some((
      spark.sparkContext.applicationId + "|" + entries
        .map(st => s"${st.getPath.getName}:${st.getLen}:" +
          s"${st.getModificationTime}")
        .mkString(","),
      entries.map(_.getLen).sum))
  }

  /** The front's blobs grouped by bucket, DRIVER-CACHED across triggers
    * (r14 verdict item 2: the per-trigger front reads were two fixed
    * Spark jobs per screen — the blobs are KB-to-MB-scale metadata that
    * only changes when THIS body appends a delta or the cadence
    * rebuilds, both of which change the directory listing and so the
    * fingerprint). None when the front is absent/empty or larger than
    * [[FrontCacheMaxBytes]] (caller falls back to [[bloomMaybe]]).
    */
  def cachedFront(spark: SparkSession, dir: String): Option[
      org.apache.spark.broadcast.Broadcast[Map[Int, Array[Array[Byte]]]]] =
    frontFingerprint(spark, dir).flatMap(cachedFrontAt(spark, dir, _))

  private def cachedFrontAt(spark: SparkSession, dir: String,
      fpAndBytes: (String, Long)): Option[
      org.apache.spark.broadcast.Broadcast[Map[Int, Array[Array[Byte]]]]] = {
    val (fp, bytes) = fpAndBytes
    if (bytes > FrontCacheMaxBytes) None
    else {
      val hit = frontCache.get(dir)
      if (hit != null && hit._1 == fp) Some(hit._2)
      else {
        val rows = readFront(spark, dir).collect()
          .map(r => (r.getInt(0), r.getAs[Array[Byte]](1))).toSeq
        Some(putFront(spark, dir, fp, byBucket(rows)))
      }
    }
  }

  private def byBucket(
      blobs: Seq[(Int, Array[Byte])]): Map[Int, Array[Array[Byte]]] =
    blobs.groupBy(_._1).map { case (pb, rs) => pb -> rs.map(_._2).toArray }

  /** Cache `front` for `dir` under fingerprint `fp`, releasing the entry
    * it displaces — which may belong to a stopped SparkContext
    * (fingerprints carry the app id, so it can never be REUSED across
    * contexts — but unpersist on a dead one throws).
    */
  private def putFront(spark: SparkSession, dir: String, fp: String,
      front: Map[Int, Array[Array[Byte]]])
      : org.apache.spark.broadcast.Broadcast[Map[Int, Array[Array[Byte]]]] = {
    val bc = spark.sparkContext.broadcast(front)
    val old = frontCache.put(dir, (fp, bc))
    if (old != null)
      try old._2.unpersist(false) catch { case _: Exception => () }
    bc
  }

  /** ONE probe job instead of read+join+collect: filter `batchKeys`
    * through the driver-cached front (broadcast lookup inside the
    * batch's own plan — no blob scan job, no join). Falls back to the
    * distributed [[bloomMaybe]] when the front outgrew the cache cap.
    * Returns None when no front exists (caller keeps all keys).
    */
  def bloomScreen(spark: SparkSession, dir: String,
      batchKeys: DataFrame): Option[DataFrame] = {
    // one listing serves both the existence test and the cache check
    val fp = frontFingerprint(spark, dir)
    if (fp.isEmpty) return None
    Some(cachedFrontAt(spark, dir, fp.get) match {
      case Some(bc) =>
        val hit = udf((h: Long, pb: Int) => bc.value.get(pb)
          .exists(_.exists(b => b == null || BloomKernels.contains(b, h))))
        batchKeys.filter(hit(col("__h"), col("pb")))
      case None => bloomMaybe(batchKeys, readFront(spark, dir))
    })
  }

  /** Driver-side build of a trigger delta's per-bucket blobs — the
    * batch-scale form of [[bloomDelta]] for bodies that already hold the
    * admitted keys' (hash, bucket) pairs on the driver (a trigger's
    * delta is KB–MB of longs, so the distributed agg's job is pure
    * overhead against it). Seal format identical
    * ([[BloomKernels]].params/add/seal), so [[bloomMaybe]] and the
    * cached probe read both forms interchangeably.
    */
  def bloomDeltaLocal(hashes: Array[(Long, Int)], n: Long,
      buckets: Int): Seq[(Int, Array[Byte])] = {
    val (mBits, k) = BloomKernels.params(
      math.max(64L, n / math.max(1, buckets)), BloomFp)
    hashes.groupBy(_._2).toSeq.map { case (pb, hs) =>
      val bits = new Array[Byte](((mBits + 7) >>> 3).toInt)
      hs.foreach { case (h, _) => BloomKernels.add(bits, mBits, k, h) }
      (pb, BloomKernels.seal(bits, mBits, k))
    }.sortBy(_._1)
  }

  /** Write `blobs` (a [[bloomDeltaLocal]] delta) into `dir` as ONE
    * [[FrontSchema]] parquet file, from the driver: the blobs are already
    * here, so a Spark write would be a 1-task job that only ships them
    * out and back. Replaces whatever `dir` held (an overwrite, as a
    * staged write is). An empty delta writes a file with no rows, as
    * Spark does, so the directory always holds exactly one data file —
    * the shape [[noteFrontDelta]] seeds from.
    */
  def writeFrontLocal(spark: SparkSession, dir: String,
      blobs: Seq[(Int, Array[Byte])]): Unit = {
    import org.apache.parquet.example.data.simple.SimpleGroupFactory
    import org.apache.parquet.hadoop.ParquetFileWriter
    import org.apache.parquet.hadoop.example.ExampleParquetWriter
    import org.apache.parquet.hadoop.metadata.CompressionCodecName
    import org.apache.parquet.hadoop.util.HadoopOutputFile
    import org.apache.parquet.io.api.Binary
    import org.apache.parquet.schema.MessageTypeParser
    val (fs, p) = fsOf(spark, dir)
    fs.delete(p, true)
    fs.mkdirs(p)
    val schema = MessageTypeParser.parseMessageType(
      "message spark_schema { optional int32 pb; optional binary bloom; }")
    val conf = spark.sparkContext.hadoopConfiguration
    val file = new org.apache.hadoop.fs.Path(p,
      s"part-00000-${java.util.UUID.randomUUID()}.snappy.parquet")
    val writer = ExampleParquetWriter
      .builder(HadoopOutputFile.fromPath(file, conf))
      .withConf(conf)
      .withType(schema)
      .withCompressionCodec(CompressionCodecName.SNAPPY)
      .withWriteMode(ParquetFileWriter.Mode.OVERWRITE)
      .build()
    try {
      val rows = new SimpleGroupFactory(schema)
      blobs.foreach { case (pb, blob) =>
        writer.write(rows.newGroup().append("pb", pb)
          .append("bloom", Binary.fromConstantByteArray(blob)))
      }
    } finally writer.close()
  }

  /** Merge a just-PUBLISHED delta's blobs into the cached front and
    * re-stamp the fingerprint, so the next trigger's probe stays
    * driver-cached even though the publish changed the blob directory's
    * listing (without this the cache can never hit — every trigger
    * publishes a delta). Correctness is the fingerprint's: it is
    * computed from the listing AFTER the publish landed, so any
    * out-of-band change (crash replay, recover, cadence rebuild,
    * another writer) mismatches at the next probe and falls back to a
    * full re-read — the cache can go stale-and-dropped, never
    * silently wrong.
    *
    * With no cached front yet (a root's first publish in this driver),
    * a non-empty delta SEEDS the cache when the listing holds exactly
    * one blob file: that file must be the delta just published, so the
    * driver already holds every blob in the front and the next probe
    * needs no read job. Any other listing (or a front past the cap)
    * leaves the cache empty and the next probe reads the front.
    */
  def noteFrontDelta(spark: SparkSession, dir: String,
      delta: Seq[(Int, Array[Byte])]): Unit = {
    val prior = frontCache.get(dir)
    def entriesOf(fp: String): Set[String] =
      fp.dropWhile(_ != '|').drop(1).split(',').filter(_.nonEmpty).toSet
    frontFingerprint(spark, dir) match {
      case Some((fp, bytes)) if bytes <= FrontCacheMaxBytes && prior == null =>
        if (delta.nonEmpty && entriesOf(fp).size == 1)
          putFront(spark, dir, fp, byBucket(delta))
      case Some((fp, bytes)) if bytes <= FrontCacheMaxBytes &&
          // the merge is only sound if the listing changed by EXACTLY
          // our one appended blob file since the cached fingerprint —
          // a foreign file landing inside the probe→publish window
          // (two writers on one root, the ops mistake guardMonotone
          // exists for elsewhere) would otherwise be stamped into the
          // fingerprint while its keys are missing from the cache, a
          // silent false-negative front. Any other shape drops the
          // entry and the next probe re-reads.
          entriesOf(fp).size == entriesOf(prior._1).size + 1 &&
          entriesOf(prior._1).subsetOf(entriesOf(fp)) =>
        val merged = delta.foldLeft(prior._2.value) {
          case (m, (pb, blob)) => m.updated(pb, m.getOrElse(pb,
            Array.empty[Array[Byte]]) :+ blob)
        }
        putFront(spark, dir, fp, merged)
      case _ if prior != null =>
        frontCache.remove(dir)
        try prior._2.unpersist(false) catch { case _: Exception => () }
      case _ => ()
    }
  }
}
