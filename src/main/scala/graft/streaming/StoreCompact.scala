package graft.streaming

import org.apache.spark.sql.SparkSession

/** Compaction for the append-accumulated parquet stores the streaming
  * bodies keep (the [[ScreenStore]]s of [[ImageDedupStream]],
  * [[TextDedupStream]] and [[CurationChain]], and the corpus, postings
  * and index of [[SemDedupStream]]'s indexed root): every trigger
  * appends one small file, so a one-trigger-per-minute
  * ingest leaves half a million files a year — the classic small-file
  * failure, where the per-trigger store RE-READ (the screens' exact
  * backstop) spends its time opening footers instead of scanning rows.
  *
  * `compact` rewrites the store into `targetFiles` coalesced files via a
  * temp directory and a rename swap ([[swap]], shared by every rewrite
  * here and by the index rebuild). The swap is two renames, not one
  * atomic operation — safe here because a foreachBatch ingest is the
  * store's ONLY writer and triggers run serially, so compaction runs
  * BETWEEN triggers (same maintenance slot as the index rebuilds), and a
  * crash INSIDE the rename window (store retired, replacement not yet
  * published) is healed by [[recover]], which the ingest bodies run
  * before every store read — without it a missing-store crash residue
  * would read as bootstrap and silently re-admit every rejected
  * duplicate. A concurrent reader outside the ingest would need a
  * manifest layer (CdcSnapshot's generation scheme) instead.
  */
object StoreCompact {

  /** True iff `dir` exists and holds at least one data entry (not a
    * `_`/`.`-prefixed marker) — the ONE bootstrap test every store-backed
    * trigger body runs before reading (previously four inline copies).
    */
  def hasData(spark: SparkSession, dir: String): Boolean = {
    val path = new org.apache.hadoop.fs.Path(dir)
    val fs = path.getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.exists(path) && fs.listStatus(path).exists { st =>
      val n = st.getPath.getName; !n.startsWith("_") && !n.startsWith(".")
    }
  }

  /** Recover from a compaction interrupted between the two renames: in
    * that window the store path does not exist but the retired copy at
    * `dir + "_compact_old"` holds every row — without this check the next
    * trigger's missing-store test would read as BOOTSTRAP and the screen
    * would silently re-admit everything it ever rejected. The ingest
    * bodies call this before reading (two fs.exists checks on the happy
    * path); `compact` calls it first for the same reason. Returns true if
    * a retired copy was restored. A tmp dir alongside a LIVE store is the
    * other crash residue (died before the first rename) — stale, deleted
    * by the next compact's rewrite.
    */
  def recover(spark: SparkSession, dir: String): Boolean = {
    val path = new org.apache.hadoop.fs.Path(dir)
    val fs = path.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val old = new org.apache.hadoop.fs.Path(dir + "_compact_old")
    if (!fs.exists(path) && fs.exists(old)) {
      require(fs.rename(old, path), s"recover: could not restore $old")
      true
    } else {
      // a retired copy ALONGSIDE a live store is the other crash residue
      // (died after publishing the replacement but before dropping the
      // old copy — e.g. SemDedupStream's index rebuild swap): the live
      // dir is the truth and the residue is a full stale copy that would
      // otherwise sit on disk until the next rewrite (r13 ADVICE)
      if (fs.exists(path) && fs.exists(old)) fs.delete(old, true)
      false
    }
  }

  /** The store's hive-partition keys, detected from `key=value` first
    * (or deeper) level directory names — the bucketed screen stores
    * ([[StoreLayout]]) carry one (`pb=`/`cell=`); flat stores none. The
    * compaction rewrites below must PRESERVE the layout or every pruned
    * read after the first compaction would scan the whole store again.
    */
  private def partitionKeysOf(fs: org.apache.hadoop.fs.FileSystem,
      path: org.apache.hadoop.fs.Path): Seq[String] =
    fs.listStatus(path).toSeq
      .filter(st => st.isDirectory && st.getPath.getName.contains("="))
      .map(_.getPath.getName.takeWhile(_ != '='))
      .filterNot(n => n.startsWith("_") || n.startsWith("."))
      .distinct

  /** Recursive data-file count (partitioned stores keep their files one
    * level down in the `key=value` dirs).
    */
  private def leafFiles(fs: org.apache.hadoop.fs.FileSystem,
      p: org.apache.hadoop.fs.Path): Int =
    fs.listStatus(p).map { st =>
      val n = st.getPath.getName
      if (n.startsWith("_") || n.startsWith(".")) 0
      else if (st.isDirectory) leafFiles(fs, st.getPath)
      else 1
    }.sum

  private def writeCompacted(df: org.apache.spark.sql.DataFrame,
      keys: Seq[String], targetFiles: Int, dest: String): Unit = {
    import org.apache.spark.sql.functions.col
    if (keys.isEmpty)
      df.coalesce(targetFiles).write.mode("overwrite").parquet(dest)
    else
      // hash-repartition by the partition keys: each bucket lands wholly
      // in one task, so the rewrite leaves ONE file per bucket (the
      // pruned-read unit) instead of targetFiles fragments of every bucket
      df.repartition(targetFiles, keys.map(col): _*)
        .write.mode("overwrite").partitionBy(keys: _*).parquet(dest)
  }

  /** Row-identical rewrite of `dir` into at most `targetFiles` files
    * (partitioned stores: one file per bucket). Returns
    * (filesBefore, filesAfter). No-op (returns counts) when the store is
    * already at or under the target.
    */
  def compact(spark: SparkSession, dir: String,
      targetFiles: Int = 8): (Int, Int) = {
    require(targetFiles >= 1, s"targetFiles $targetFiles")
    recover(spark, dir)
    val path = new org.apache.hadoop.fs.Path(dir)
    val fs = path.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val keys = partitionKeysOf(fs, path)
    val before = leafFiles(fs, path)
    val target =
      if (keys.isEmpty) targetFiles
      else math.max(targetFiles, fs.listStatus(path).count(_.isDirectory))
    if (before <= target) return (before, before)
    val after = swap(spark, dir) { tmp =>
      writeCompacted(spark.read.parquet(dir), keys, targetFiles, tmp)
      leafFiles(fs, new org.apache.hadoop.fs.Path(tmp))
    }
    (before, after)
  }

  /** Merge a store's FLAT tail into its bucketed main — the LSM step of
    * the [[StoreLayout]] design: triggers append small flat deltas to
    * `dir + "_tail"` (a handful of files each, with the bucket value as
    * a data column) instead of fanning every micro-batch across all the
    * `key=value` partition dirs (measured ~2× whole-trigger cost from
    * the ~600 files + renames per trigger that caused); the cadence
    * folds the tail into the partitioned main here, so pruned reads
    * stay pruned and the per-trigger read of the un-merged tail is
    * bounded by the cadence. `distinct()` makes a crash between the
    * main swap and the tail delete idempotent — the duplicated rows
    * collapse on the next merge, and between merges duplicates are
    * harmless to the screens (anti-joins and distinct'd candidates).
    */
  def mergeTail(spark: SparkSession, dir: String, partCols: Seq[String],
      targetFiles: Int = 8, partitionFloor: Long = 1000000L): Unit = {
    import org.apache.spark.sql.functions.col
    val tailDir = dir + "_tail"
    recover(spark, dir); recover(spark, tailDir)
    if (!hasData(spark, tailDir)) {
      if (hasData(spark, dir)) { compact(spark, dir, targetFiles); () }
      return
    }
    val parts = Seq(dir, tailDir).filter(hasData(spark, _))
      .map(spark.read.parquet(_))
    val merged = parts.reduce(_ unionByName _).distinct().persist()
    try {
      // ADAPTIVE layout: below the floor the main stays FLAT (the bucket
      // value filters as a data column — same plan, no dir pruning; a
      // small store's read cost is footers, and `buckets` tiny files per
      // bucket-dir would dominate it), above it the `key=value` dirs
      // materialize and pruned reads skip unlisted buckets' files
      val n = merged.count()
      swap(spark, dir) { tmp =>
        if (n >= partitionFloor)
          merged.repartition(targetFiles, partCols.map(col): _*)
            .write.mode("overwrite").partitionBy(partCols: _*).parquet(tmp)
        else
          merged.coalesce(targetFiles).write.mode("overwrite").parquet(tmp)
      }
      val tail = new org.apache.hadoop.fs.Path(tailDir)
      tail.getFileSystem(spark.sparkContext.hadoopConfiguration).delete(tail, true)
    } finally { merged.unpersist(); () }
    ()
  }

  /** Rewrite `dir` as `f(current rows)` under the same temp-dir + rename
    * swap (and so the same [[recover]] healing) as [[compact]] — the
    * physical-removal primitive behind tombstone application
    * ([[CorpusRoot.applyTombstones]]): logical deletes filter reads
    * until a cadence pass rewrites the store without the retired rows.
    * Partition layout is preserved; pass `repartitionTo` to CHANGE the
    * partition scheme (e.g. founding the vec-cell layout), where the
    * new partition columns come from `f`'s output.
    */
  def rewrite(spark: SparkSession, dir: String,
      f: org.apache.spark.sql.DataFrame => org.apache.spark.sql.DataFrame,
      targetFiles: Int = 8, repartitionTo: Option[Seq[String]] = None): Unit = {
    require(targetFiles >= 1, s"targetFiles $targetFiles")
    recover(spark, dir)
    val path = new org.apache.hadoop.fs.Path(dir)
    val fs = path.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val keys = repartitionTo.getOrElse(partitionKeysOf(fs, path))
    swap(spark, dir)(writeCompacted(f(spark.read.parquet(dir)), keys, targetFiles, _))
  }

  /** THE replacement of a store directory: `write` fills
    * `dir + "_compact_tmp"` (an earlier attempt's residue deleted first),
    * then the live `dir`, if any, retires to `dir + "_compact_old"`, the
    * replacement publishes, and the old copy drops. A crash between the
    * two renames leaves only the retired copy, which [[recover]] restores.
    */
  private[streaming] def swap[T](spark: SparkSession, dir: String)(
      write: String => T): T = {
    val path = new org.apache.hadoop.fs.Path(dir)
    val fs = path.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val tmp = new org.apache.hadoop.fs.Path(dir + "_compact_tmp")
    val old = new org.apache.hadoop.fs.Path(dir + "_compact_old")
    fs.delete(tmp, true); fs.delete(old, true)
    val out = write(tmp.toString)
    if (fs.exists(path))
      require(fs.rename(path, old), s"swap: could not retire $dir")
    require(fs.rename(tmp, path), s"swap: could not publish $tmp")
    fs.delete(old, true)
    out
  }
}
