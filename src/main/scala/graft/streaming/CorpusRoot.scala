package graft.streaming

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** A CORPUS ROOT: a directory of stores that one `foreachBatch` body
  * grows exactly once per batch and that CDC UPDATEs and DELETEs retire
  * by tombstone — the composed [[CurationChain]] root,
  * [[SemDedupStream]]'s indexed root, and the standalone
  * [[TextDedupStream]] and [[ImageDedupStream]] roots (the last two never
  * tombstone). This module is the only code that runs the trigger spine
  * and the tombstone protocol; a body supplies its staged writes and its
  * maintenance.
  *
  * THE SPINE ([[trigger]]): refuse a batchId below the root's latest
  * commit ([[StoreTxn.guardMonotone]]), heal any interrupted store swap
  * ([[StoreCompact.recover]]), and — unless the batch is committed —
  * stage and seal it (skipped when a sealed copy is already there: the
  * mid-publish crash publishes it WITHOUT recompute, because the stores
  * may already hold some of its files and recomputing against them is
  * the replay bug), publish it, and run the body's after-publish step.
  * Stages are written through [[StoreTxn]]'s protocol, so a replayed
  * committed batch no-ops and a mid-staging crash recomputes.
  *
  * TOMBSTONES. A CDC body folds its batch to the LAST op per id
  * ([[lastOps]]); the UPDATE and DELETE ids stage as (id, asOf = batchId)
  * rows into the root's `tombstones` store ([[stageTombstones]]) under the
  * same publish as the batch's rows. Every store row carries its admit
  * batch `b`, and a row is live unless a tombstone newer than `b`
  * retires it ([[liveAsOf]]), so an UPDATE's new row, written by the
  * retiring batch itself, coexists with its own tombstone. A trigger
  * screens through [[retire]] (the standing tombstones plus its own),
  * a consumer reads through [[live]], and the body's cadence removes
  * retired rows physically ([[applyTombstones]]).
  */
private[streaming] object CorpusRoot {

  /** The exactly-once trigger spine (see the object doc): `stage` writes
    * every store delta under `StoreTxn.stagePath(rootDir, batchId, _)`;
    * once the batch's files have landed, the screen-store fronts it
    * staged merge into the driver cache ([[ScreenStage.published]]).
    * `heal` lists every directory a swap may have left half-renamed.
    */
  def trigger(spark: SparkSession, rootDir: String, batchId: Long,
      heal: Seq[String])(stage: => Unit): Unit = {
    StoreTxn.guardMonotone(spark, rootDir, batchId)
    heal.foreach(StoreCompact.recover(spark, _))
    if (!StoreTxn.isCommitted(spark, rootDir, batchId)) {
      if (!StoreTxn.isStaged(spark, rootDir, batchId)) {
        StoreTxn.clearForeignStaged(spark, rootDir, batchId)
        staged(spark, rootDir, batchId)(stage)
      }
      StoreTxn.publish(spark, rootDir, batchId)
      ScreenStage.published(spark, rootDir, batchId)
    }
  }

  /** Run `stage`, then seal its output: every store delta is on disk.
    * Split from [[trigger]] so a crash-replay spec can stop here.
    */
  def staged(spark: SparkSession, rootDir: String,
      batchId: Long)(stage: => Unit): Unit = {
    stage
    StoreTxn.seal(spark, rootDir, batchId)
  }

  /** The CDC fold: of a batch of `(op, ord, <id>, …)` row operations the
    * LAST op per id in stream order wins. `f` gets the offers (the
    * INSERT/UPDATE rows, without `op`) and the retired ids (UPDATE and
    * DELETE) while the folded batch is pinned.
    */
  def lastOps[T](batch: DataFrame, id: String)(
      f: (DataFrame, DataFrame) => T): T = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(id).orderBy(col("ord").desc)
    val last = batch.withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1).drop("rn")
      .persist()
    try f(last.filter(col("op").isin("INSERT", "UPDATE")).drop("op"),
      last.filter(col("op").isin("UPDATE", "DELETE")).select(id))
    finally { last.unpersist(); () }
  }

  /** Every frame a trigger pins and every broadcast variable it ships,
    * released together by [[release]]. Thread-safe: staged writes running
    * on a pool ship too.
    */
  final class Pins(val spark: SparkSession) {
    private val frames = new java.util.concurrent.ConcurrentLinkedQueue[DataFrame]()
    private val shipped = new java.util.concurrent.ConcurrentLinkedQueue[
      org.apache.spark.broadcast.Broadcast[_]]()

    def pin(df: DataFrame): DataFrame = { val p = df.persist(); frames.add(p); p }

    def ship[T: scala.reflect.ClassTag](v: T): org.apache.spark.broadcast.Broadcast[T] = {
      val b = spark.sparkContext.broadcast(v); shipped.add(b); b
    }

    def release(): Unit = {
      frames.forEach(df => { df.unpersist(); () })
      shipped.forEach(_.destroy())
    }
  }

  /** The tombstone store's columns: the retired id and the batch that
    * retired it.
    */
  def tombstoneSchema(id: String): StructType =
    StructType(Seq(StructField(id, LongType), StructField("asOf", LongType)))

  private def tombDir(rootDir: String): String = s"$rootDir/tombstones"

  /** The standing tombstone rows (several per id across batches), read
    * under their declared schema.
    */
  private def standing(spark: SparkSession, rootDir: String,
      id: String): Option[DataFrame] =
    if (!StoreCompact.hasData(spark, tombDir(rootDir))) None
    else Some(spark.read.schema(tombstoneSchema(id)).parquet(tombDir(rootDir)))

  private def latest(t: DataFrame, id: String): DataFrame =
    t.groupBy(id).agg(max("asOf").as("asOf"))

  /** THE live rule. A row is live unless a tombstone NEWER than its admit
    * batch `b` retires it (a row written by the retiring batch itself
    * survives). A null `b` (a file older than the column) stays live:
    * screening against a possibly-retired row can only reject, never
    * admit a duplicate.
    */
  private def liveAsOf(asOf: Column): Column =
    asOf.isNull || col("b").isNull || col("b") >= asOf

  /** `df`'s live rows, its `key` column joined to the (`id`, asOf)
    * tombstone rows `t` (one per id).
    */
  private def joinLive(df: DataFrame, key: String, t: DataFrame, id: String,
      hint: DataFrame => DataFrame): DataFrame =
    df.join(hint(t.select(col(id).as(key), col("asOf").as("_asof"))),
        Seq(key), "left")
      .filter(liveAsOf(col("_asof")))
      .drop("_asof")

  /** Size guard for holding the tombstone set on the driver: tombstones
    * are bounded by churn since the last COMPACTION, not by the trigger
    * batch — `compactEvery` defaults to 0, so under sustained CDC churn
    * the store can grow without bound and a driver-held copy (the
    * trigger's collected set, or a broadcast() hint) would eventually
    * fail on driver memory or Spark's 8 GB broadcast cap, where the
    * unhinted join falls back to a shuffle. A driver-side file-bytes
    * check (a listing, no job): under the threshold the set goes to the
    * driver; past it the tombstone joins go unhinted and the planner
    * picks the strategy. The default 64 MB of parquet-encoded
    * (id, asOf) longs is tens of millions of rows — far above any
    * healthy churn window, comfortably below the cap after in-memory
    * expansion. Conf-keyed so deployments (and the oversized-tombstone
    * spec) can move it.
    */
  val TombBroadcastMaxBytesKey = "spark.graft.tombBroadcastMaxBytes"
  private val TombBroadcastMaxBytesDefault: Long = 64L << 20

  private def broadcastable(spark: SparkSession, rootDir: String): Boolean = {
    val dir = tombDir(rootDir)
    val maxBytes = spark.conf.get(TombBroadcastMaxBytesKey,
      TombBroadcastMaxBytesDefault.toString).toLong
    if (!StoreCompact.hasData(spark, dir)) true
    else {
      val path = new org.apache.hadoop.fs.Path(dir)
      val it = path.getFileSystem(spark.sparkContext.hadoopConfiguration)
        .listFiles(path, true)
      var bytes = 0L
      while (bytes <= maxBytes && it.hasNext) bytes += it.next().getLen
      bytes <= maxBytes
    }
  }

  /** The size-guarded broadcast hint for a join against the standing set. */
  private def hintFor(spark: SparkSession, rootDir: String): DataFrame => DataFrame =
    if (broadcastable(spark, rootDir)) broadcast else identity

  /** A trigger's live-row filter `(rows, their id column) => live rows`
    * under the EFFECTIVE tombstones: the standing store's plus this
    * batch's `fresh` ids retired as of `batchId`, one max-asOf row per
    * id; None when there are none. While the standing store is small
    * ([[broadcastable]]) the set collects to the driver ONCE, under the
    * job description `label`, and ships as one broadcast variable that
    * every read filters through — a hinted join would pay its own
    * broadcast job in every action that reads a store, whether adaptive
    * execution is on in the body or not (see [[ScreenStage]] for which
    * bodies run with it). Rows the lookup could never match (a null
    * id) or never retire (a null asOf) are left out. Past the threshold
    * the set stays distributed: pinned, and joined unhinted so the
    * planner may shuffle it.
    */
  def retire(pins: Pins, rootDir: String, id: String,
      fresh: Option[DataFrame], batchId: Long,
      label: String): Option[(DataFrame, String) => DataFrame] = {
    val spark = pins.spark
    val rows = standing(spark, rootDir, id).toSeq ++
      fresh.map(_.select(col(id)).withColumn("asOf", lit(batchId)))
    rows.reduceOption(_ unionByName _).map(latest(_, id)).map { t =>
      if (broadcastable(spark, rootDir)) {
        val byId = JobLabel(spark, label) {
          t.filter(col(id).isNotNull && col("asOf").isNotNull).collect()
        }.map(r => (r.getLong(0), r.getLong(1))).sortBy(_._1)
        val bc = pins.ship((byId.map(_._1), byId.map(_._2)))
        val asOfOf = udf { (key: Long) =>
          val (ids, asOf) = bc.value
          val i = java.util.Arrays.binarySearch(ids, key)
          if (i < 0) null else java.lang.Long.valueOf(asOf(i))
        }
        (df: DataFrame, key: String) => df.filter(liveAsOf(asOfOf(col(key))))
      } else {
        val pinned = pins.pin(t)
        (df: DataFrame, key: String) => joinLive(df, key, pinned, id, identity)
      }
    }
  }

  /** `df`'s rows live under the standing tombstones, keyed by their `id`
    * column — what a consumer reads between cadences.
    */
  def live(spark: SparkSession, rootDir: String, id: String,
      df: DataFrame): DataFrame =
    standing(spark, rootDir, id).fold(df)(t =>
      joinLive(df, id, latest(t, id), id, hintFor(spark, rootDir)))

  /** Stage this batch's retired ids as (id, asOf = batchId) rows. */
  def stageTombstones(rootDir: String, batchId: Long, ids: DataFrame,
      id: String): Unit =
    ids.select(col(id)).distinct().withColumn("asOf", lit(batchId))
      .write.mode("overwrite")
      .parquet(StoreTxn.stagePath(rootDir, batchId, "tombstones"))

  /** Physically remove tombstoned rows from every `(dir, key column)` of
    * `stores`, then clear the tombstone store. Each rewrite goes through
    * the [[StoreCompact.rewrite]] swap, so a crash mid-apply is healed by
    * the next trigger's recover; a crash BEFORE the final clear leaves
    * tombstones standing — the logical exclusion still holds and the
    * next cadence finishes the apply (rewriting an already-clean store
    * drops nothing).
    */
  def applyTombstones(spark: SparkSession, rootDir: String, id: String,
      stores: Seq[(String, String)]): Unit =
    standing(spark, rootDir, id).foreach { rows =>
      // size-guard BEFORE the checkpoint reads the store (the guard is a
      // driver-side listing of the same dir)
      val hint = hintFor(spark, rootDir)
      val t = latest(rows, id).localCheckpoint() // the rewrites retire what this reads
      stores.foreach { case (dir, key) =>
        if (StoreCompact.hasData(spark, dir))
          StoreCompact.rewrite(spark, dir, joinLive(_, key, t, id, hint))
      }
      val p = new org.apache.hadoop.fs.Path(tombDir(rootDir))
      p.getFileSystem(spark.sparkContext.hadoopConfiguration).delete(p, true)
      ()
    }
}
