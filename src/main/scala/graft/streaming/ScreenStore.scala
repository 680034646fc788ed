package graft.streaming

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** A SCREEN STORE: a store a streaming screen re-reads every trigger —
  * the standalone [[TextDedupStream]] (`sigs`) and [[ImageDedupStream]]
  * (`phash`) bodies' one store each, and the composed [[CurationChain]]'s
  * five. This module is the only code that knows a screen store's
  * on-disk layout; the screen stages ([[ScreenStage]]) read, stage,
  * front and rebuild their stores through it.
  *
  * LAYOUT. Under a store root, whose `_layout` marker fixes the bucket
  * count `P` ([[StoreLayout.ensureLayout]]), store `<s>` is:
  *
  *  - `<s>` — the MAIN: every row carries the BUCKET of its join key.
  *    Below [[StoreCompact.mergeTail]]'s floor the main is flat (the
  *    bucket a data column); past it, hive-partitioned by the bucket, so
  *    a pruned read never opens an unlisted bucket's files;
  *  - `<s>_tail` — the FLAT deltas since the last merge, the bucket a
  *    data column (a handful of files per trigger instead of one per
  *    bucket directory). The compaction cadence folds it into the main,
  *    which bounds what a trigger pays to read it whole;
  *  - the optional BLOOM FRONT (`bloom` for `exact`, `sigbloom` for
  *    `sigs`): one sealed blob per bucket per delta ([[StoreLayout]]'s
  *    `FrontSchema`), covering the key of every published row. A batch
  *    key whose blobs all miss is DEFINITELY absent, so a novel batch
  *    reads zero main buckets; a false positive only costs a bucket
  *    read. The front must never miss a published key (a false negative
  *    re-admits a duplicate): every body stages each front delta into
  *    the same [[StoreTxn]] publish as its rows ([[ScreenStage.Writer]]),
  *    so the front can only lag its store by rows that were never
  *    published. Retired rows stay in the blobs until the cadence
  *    rebuilds the front from the live store.
  *
  * | store   | rows (id first)                | join key   | bucket | front    |
  * |---------|--------------------------------|------------|--------|----------|
  * | `exact` | doc_id, content_hash           | content_hash | `pb` | `bloom`  |
  * | `phash` | media_id, h, band, v           | (band, v)  | `pb`   | —        |
  * | `sigs`  | doc_id, sig, band, bh          | (band, bh) | `pb`   | `sigbloom` |
  * | `vecs`  | vec_id, embedding              | IVF cell   | `cell` | —        |
  * | `vecpq` | vec_id, cell, codes, mrg       | IVF cell   | `cell` | —        |
  *
  * `pb` is [[StoreLayout.bucketOf]] of [[StoreLayout.keyHash]] over the
  * join key; `cell` is the IVF cell under the chain's frozen centroids
  * (0 before they found), which the caller computes. `phash` and `sigs`
  * hold PRE-BANDED rows (8 per image or doc), so a screen joins on the
  * band key without re-banding the store. `phash` has no front: (band,
  * v) takes only 2048 values, so a populated store saturates every key.
  * Every row also carries `b`, the batch that admitted it, for the
  * tombstone rule (standalone roots written before they staged through
  * [[StoreTxn]] hold tail rows without it, which read as live).
  *
  * Every read names the store's declared [[schema]], so no read runs
  * Spark's footer-inference job. A column absent from an older file
  * reads as null, and no null drops a row from a screen: a null `b`
  * counts as live, a null `mrg` means "verify exactly", a null blob
  * means "maybe present".
  *
  * A trigger's CANDIDATE read ([[View.candidates]]): tag the batch's
  * keys with their buckets, filter them through the front
  * ([[View.probe]]), collect the buckets present (bounded by `P`), and
  * read the main pruned to those buckets plus the whole tail, through the
  * caller's live-row filter. An empty bucket list reads nothing. A
  * DELTA ([[View.stageDelta]], [[View.stageFront]]): bucket-tagged rows
  * clustered by bucket into the batch's staged tail, and the front
  * delta's blobs built on the driver from keys collected there, written
  * by the driver as one staged parquet file (under a hidden name,
  * renamed once whole), then merged into the driver-cached front once
  * they are published ([[noteFront]]). [[StoreTxn.publish]] moves both
  * into the store under `b<batchId>-…` names.
  * COMPACTION ([[View.compact]]): merge the tail into the main, then
  * rebuild the front from the merged rows.
  */
final case class ScreenStore(name: String, id: String, keys: Seq[String],
    bucket: String, front: Option[String], entry: Seq[String],
    schema: StructType) {

  def dir(root: String): String = s"$root/$name"
  def tail(root: String): String = s"$root/${name}_tail"
  def frontDir(root: String): Option[String] = front.map(f => s"$root/$f")

  /** Every directory of the store, for the recover sweep. */
  def dirs(root: String): Seq[String] =
    Seq(dir(root), tail(root)) ++ frontDir(root)

  def present(spark: SparkSession, root: String): Boolean =
    StoreCompact.hasData(spark, dir(root)) || StoreCompact.hasData(spark, tail(root))

  /** The declared read of one of the store's directories. */
  private[streaming] def read(spark: SparkSession, d: String): DataFrame =
    spark.read.schema(schema).parquet(d)

  /** ALL rows: the main plus the un-merged tail, every declared column —
    * what a consumer or a spec reads.
    */
  def rows(spark: SparkSession, root: String): DataFrame = {
    val parts = Seq(dir(root), tail(root))
      .filter(StoreCompact.hasData(spark, _)).map(read(spark, _))
    require(parts.nonEmpty, s"store $name has no data under $root")
    parts.reduce(_ unionByName _)
  }

  /** The store's logical content: one row per admitted entry (a banded
    * store holds 8 physical rows for each).
    */
  def entries(spark: SparkSession, root: String): DataFrame =
    rows(spark, root).select(entry.map(col): _*).distinct()

  /** The 64-bit hash of the join key ([[StoreLayout.keyHash]]). */
  def hash: Column = StoreLayout.keyHash(keys.map(col): _*)

  /** Merge a published front delta into the driver-cached front. */
  def noteFront(spark: SparkSession, root: String,
      blobs: Seq[(Int, Array[Byte])]): Unit =
    frontDir(root).foreach(StoreLayout.noteFrontDelta(spark, _, blobs))

  /** The store under `root` as one trigger sees it: the root's bucket
    * count `P` and the trigger's live-row filter, given the rows and the
    * name of their id column.
    */
  def at(spark: SparkSession, root: String, P: Int,
      live: Option[(DataFrame, String) => DataFrame] = None): ScreenStore.View =
    new ScreenStore.View(this, spark, root, P, live)
}

object ScreenStore {

  private def s(cols: (String, DataType)*): StructType =
    StructType(cols.map { case (n, t) => StructField(n, t) })

  val Exact: ScreenStore = ScreenStore("exact", "doc_id", Seq("content_hash"),
    "pb", Some("bloom"), Seq("doc_id", "content_hash"),
    s("doc_id" -> LongType, "content_hash" -> StringType, "b" -> LongType,
      "pb" -> IntegerType))

  val Phash: ScreenStore = ScreenStore("phash", "media_id", Seq("band", "v"),
    "pb", None, Seq("media_id", "h"),
    s("media_id" -> LongType, "h" -> LongType, "band" -> IntegerType,
      "v" -> LongType, "b" -> LongType, "pb" -> IntegerType))

  val Sigs: ScreenStore = ScreenStore("sigs", "doc_id", Seq("band", "bh"),
    "pb", Some("sigbloom"), Seq("doc_id", "sig"),
    s("doc_id" -> LongType, "sig" -> ArrayType(LongType),
      "band" -> IntegerType, "bh" -> LongType, "b" -> LongType,
      "pb" -> IntegerType))

  val Vecs: ScreenStore = ScreenStore("vecs", "vec_id", Nil, "cell", None,
    Seq("vec_id", "embedding"),
    s("vec_id" -> LongType, "embedding" -> ArrayType(DoubleType),
      "b" -> LongType, "cell" -> IntegerType))

  val VecPq: ScreenStore = ScreenStore("vecpq", "vec_id", Nil, "cell", None,
    Seq("vec_id", "codes"),
    s("vec_id" -> LongType, "cell" -> IntegerType,
      "codes" -> ArrayType(IntegerType), "b" -> LongType,
      "mrg" -> DoubleType))

  val All: Seq[ScreenStore] = Seq(Exact, Phash, Sigs, Vecs, VecPq)

  /** Read only `parts` of the `partCol` buckets of `dir` under `schema`:
    * static partition pruning keeps a partitioned main's unlisted
    * buckets unopened, and a flat main filters on the data column.
    */
  private def prunedRead(spark: SparkSession, dir: String, partCol: String,
      parts: Seq[Int], schema: StructType): DataFrame =
    spark.read.schema(schema).parquet(dir)
      .filter(col(partCol).isin(parts.map(Integer.valueOf): _*))

  final class View private[ScreenStore] (store: ScreenStore,
      spark: SparkSession, root: String, P: Int,
      live: Option[(DataFrame, String) => DataFrame]) {
    import store.{bucket, hash, id}
    private val main = store.dir(root)
    private val tailDir = store.tail(root)
    private val frontDir = store.frontDir(root)

    def present: Boolean = store.present(spark, root)

    /** `df` plus its join key's hash `__h` and bucket `pb`. */
    def keyed(df: DataFrame): DataFrame =
      df.withColumn("__h", hash).withColumn("pb", StoreLayout.bucketOf(col("__h"), P))

    /** `df` with its bucket column: `pb` computed from the join key (kept
      * when present); a `cell` store's rows arrive with theirs.
      */
    def tagged(df: DataFrame): DataFrame =
      if (bucket != "pb" || df.columns.contains("pb")) df
      else df.withColumn("pb", StoreLayout.bucketOf(hash, P))

    /** The [[keyed]] batch keys that may have a partner in the store:
      * filtered through the front when there is one (a key whose blobs
      * all miss is definitely absent), else all of them. A front probe
      * may repeat a key, so its hits are deduplicated on `unique`.
      */
    def probe(keys: DataFrame, unique: Seq[String]): DataFrame =
      frontDir.flatMap(StoreLayout.bloomScreen(spark, _, keys))
        .map(_.dropDuplicates(unique)).getOrElse(keys)

    /** The distinct buckets of `df` — a driver-side collect bounded by
      * the bucket count (the probed-cell contract).
      */
    private def buckets(df: DataFrame): Seq[Int] =
      df.select(bucket).distinct().collect().map(_.getInt(0)).toSeq.sorted

    /** The store's live `cols`: the main (pruned to `only`'s buckets when
      * given) plus the whole tail, through the live-row filter. None when
      * the store is empty or `only` lists no bucket.
      */
    def read(cols: Seq[String], only: Option[Seq[Int]] = None): Option[DataFrame] = {
      val hasMain = StoreCompact.hasData(spark, main)
      val hasTail = StoreCompact.hasData(spark, tailDir)
      if ((!hasMain && !hasTail) || only.exists(_.isEmpty)) return None
      val need = live.fold(cols)(_ => (id +: cols :+ "b").distinct)
      val parts = Seq(
        if (hasMain) Some(only.fold(store.read(spark, main))(
          prunedRead(spark, main, bucket, _, store.schema))) else None,
        if (hasTail) Some(store.read(spark, tailDir)) else None)
        .flatten.map(_.select(need.map(col): _*))
      val df = parts.reduce(_ unionByName _)
      Some(live.fold(df)(_(df, id)).select(cols.map(col): _*))
    }

    /** [[read]] pruned to the buckets of `keys` (carrying the bucket
      * column, e.g. from [[probe]]).
      */
    def candidates(cols: Seq[String], keys: DataFrame): Option[DataFrame] =
      read(cols, Some(buckets(keys)))

    /** Stage a delta's rows as batch `batchId`'s tail delta, tagged and
      * clustered by bucket so each bucket lands in one task.
      */
    def stageDelta(rows: DataFrame, batchId: Long): Unit =
      tagged(rows).repartition(col(bucket)).write.mode("overwrite")
        .parquet(StoreTxn.stagePath(root, batchId, s"${store.name}_tail"))

    /** The (hash, bucket) pairs of `rows`' join keys, collected to the
      * driver — a trigger's delta is KB of longs.
      */
    def frontKeys(rows: DataFrame): Array[(Long, Int)] =
      tagged(rows).select(hash.as("__h"), col("pb")).collect()
        .map(r => (r.getLong(0), r.getInt(1)))

    /** Build a front delta over `keys` on the driver and stage it as batch
      * `batchId`'s one front file. Returns the blobs for [[noteFront]].
      */
    def stageFront(keys: Array[(Long, Int)], batchId: Long): Seq[(Int, Array[Byte])] = {
      val blobs = StoreLayout.bloomDeltaLocal(keys,
        math.max(1L, keys.length.toLong), P)
      StoreLayout.writeFrontLocal(spark,
        StoreTxn.stagePath(root, batchId, store.front.get), blobs)
      blobs
    }

    /** Bulk-load `rows` as the store's whole main, partitioned by bucket
      * (through [[StoreCompact.swap]]), and rebuild the front from them —
      * how a bench seeds a store of a given size.
      */
    def seed(rows: DataFrame): Unit = {
      StoreCompact.swap(spark, main)(tmp => tagged(rows)
        .repartition(8, col(bucket)).write.partitionBy(bucket).parquet(tmp))
      compact()
    }

    /** The compaction cadence: fold the tail into the main, then rebuild
      * the front from the merged rows — one blob per bucket, retired keys
      * dropped (the per-trigger deltas were a safe superset until now).
      */
    def compact(): Unit = {
      StoreCompact.mergeTail(spark, main, Seq(bucket))
      frontDir.filter(_ => present).foreach { fd =>
        val keyed = store.rows(spark, root).select(hash.as("__h"))
          .withColumn("pb", StoreLayout.bucketOf(col("__h"), P))
        val blobs = StoreLayout.bloomDelta(keyed, math.max(1L, keyed.count()), P)
        if (StoreCompact.hasData(spark, fd))
          StoreCompact.rewrite(spark, fd, _ => blobs, targetFiles = 1)
        else blobs.coalesce(1).write.mode("overwrite").parquet(fd)
      }
    }
  }
}
