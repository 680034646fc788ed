package graft.streaming

import org.apache.spark.sql.SparkSession

/** Exactly-once multi-store publication for `foreachBatch` trigger
  * bodies — ONE definition of the commit protocol (the band-layout
  * lesson), run by [[CorpusRoot.trigger]] for [[CurationChain]] and
  * [[SemDedupStream]]'s indexed root. `foreachBatch` is at-least-once,
  * and a body that appends to SEVERAL stores can wedge half-applied: a
  * crash between appends leaves the replayed batch's rows screened away
  * by their own half-written state in one store while absent from the
  * others (the r12 ADVICE failure). The protocol:
  *
  *  1. STAGE — write every store's delta under
  *     `<root>/_staged/<batchId>/<store>/…` (live stores untouched, so
  *     a crash here is recompute-safe);
  *  2. SEAL — an empty `_STAGED` marker says the staged copy is whole;
  *  3. PUBLISH — move each staged data file into its store under the
  *     deterministic name `b<batchId>-<file>` (recursive, preserving
  *     `key=value` partition subdirs; an existing target means a prior
  *     publish attempt already moved it — skip);
  *  4. COMMIT — an empty `_commits/b<batchId>` marker; older markers
  *     prune (triggers are serial, one suffices) and the staged dir
  *     drops.
  *
  * Replay of a committed batch no-ops on the marker; replay after a
  * mid-publish crash finishes the renames without recompute (the sealed
  * staged copy is the truth — recomputing against half-updated stores
  * is the bug); replay after a mid-staging crash discards the unsealed
  * residue and recomputes. Renames are per-file metadata operations —
  * the data is written once, in the staging step. Single-store bodies
  * ([[TextDedupStream]], [[ImageDedupStream]]) don't need this: with one
  * store a replayed admitted row is rejected as its own duplicate and
  * the store converges.
  */
object StoreTxn {

  private def fsOf(spark: SparkSession, dir: String) = {
    val path = new org.apache.hadoop.fs.Path(dir)
    (path.getFileSystem(spark.sparkContext.hadoopConfiguration), path)
  }

  /** Where [[publish]] expects `store`'s staged delta to be written. */
  def stagePath(rootDir: String, batchId: Long, store: String): String =
    s"$rootDir/_staged/$batchId/$store"

  /** True iff `batchId` was fully published and recorded — the trigger
    * body must no-op (the at-least-once replay of an applied batch).
    */
  def isCommitted(spark: SparkSession, rootDir: String,
      batchId: Long): Boolean = {
    val (fs, p) = fsOf(spark, s"$rootDir/_commits/b$batchId")
    fs.exists(p)
  }

  /** The highest batchId ever committed to `rootDir` (None before the
    * first commit). [[publish]] prunes all but the latest marker, so this
    * is one directory listing.
    */
  def maxCommitted(spark: SparkSession, rootDir: String): Option[Long] = {
    val (fs, p) = fsOf(spark, s"$rootDir/_commits")
    if (!fs.exists(p)) None
    else fs.listStatus(p).toSeq
      .map(_.getPath.getName)
      .collect { case n if n.startsWith("b") => n.drop(1).toLong }
      .maxOption
  }

  /** Fail LOUDLY when a trigger arrives with a batchId BELOW the store's
    * latest commit. The whole protocol assumes batchIds are monotone over
    * the store's lifetime: live-row filters exclude rows with
    * `b < asOf`, and publish prunes all but the newest marker — so if the
    * streaming checkpoint is reset/relocated while `rootDir` is kept (a
    * common ops mistake), batchIds restart at 0, replayed ids read as
    * uncommitted, and newly admitted rows land with small `b` that
    * standing tombstones from the old run silently retire: data loss with
    * no error. A batchId EQUAL to the max is the legitimate at-least-once
    * replay (the commit marker no-ops it); anything lower is a reset.
    */
  def guardMonotone(spark: SparkSession, rootDir: String,
      batchId: Long): Unit =
    maxCommitted(spark, rootDir).foreach { m =>
      if (batchId < m) throw new IllegalStateException(
        s"batchId $batchId arrived below the store's latest commit b$m " +
          s"at $rootDir — the streaming checkpoint was reset or relocated " +
          "while the store was kept. Reprocessing would let standing " +
          "tombstones silently retire the re-admitted rows; restore the " +
          "checkpoint or start a fresh store root.")
    }

  private def sealPath(rootDir: String, batchId: Long): String =
    s"$rootDir/_staged/$batchId/_STAGED"

  /** True iff `batchId` is sealed (fully staged) but possibly not yet
    * fully published — the replay-without-recompute window.
    */
  def isStaged(spark: SparkSession, rootDir: String,
      batchId: Long): Boolean = {
    val (fs, p) = fsOf(spark, sealPath(rootDir, batchId))
    fs.exists(p)
  }

  /** Seal `batchId`'s staged copy: every store delta is on disk. */
  def seal(spark: SparkSession, rootDir: String, batchId: Long): Unit = {
    val (fs, p) = fsOf(spark, sealPath(rootDir, batchId))
    fs.create(p, true).close()
  }

  /** Drop any staged residue that is NOT a sealed copy of `batchId` —
    * an unsealed dir is a mid-staging crash (stores untouched, recompute
    * is safe); a sealed dir for another batch cannot exist under serial
    * triggers but is garbage if found.
    */
  def clearForeignStaged(spark: SparkSession, rootDir: String,
      batchId: Long): Unit = {
    val (fs, p) = fsOf(spark, s"$rootDir/_staged")
    val sealedOwn = fs.exists(new org.apache.hadoop.fs.Path(sealPath(rootDir, batchId)))
    if (fs.exists(p)) fs.listStatus(p).foreach { st =>
      if (st.getPath.getName != batchId.toString || !sealedOwn)
        fs.delete(st.getPath, true)
    }
    ()
  }

  /** Move every data file under `src` into the same relative place under
    * `dst`, renamed `b<batchId>-<file>`; `key=value` partition subdirs
    * are preserved. Idempotent: an existing target file skips.
    */
  private def moveInto(fs: org.apache.hadoop.fs.FileSystem,
      src: org.apache.hadoop.fs.Path, dst: org.apache.hadoop.fs.Path,
      batchId: Long): Unit = {
    fs.mkdirs(dst)
    fs.listStatus(src).foreach { st =>
      val n = st.getPath.getName
      if (!n.startsWith("_") && !n.startsWith(".")) {
        if (st.isDirectory)
          moveInto(fs, st.getPath, new org.apache.hadoop.fs.Path(dst, n), batchId)
        else {
          val target = new org.apache.hadoop.fs.Path(dst, s"b$batchId-$n")
          if (!fs.exists(target))
            require(fs.rename(st.getPath, target),
              s"publish: could not move ${st.getPath} to $target")
        }
      }
    }
  }

  /** Publish a sealed staged batch (step 3+4) — idempotent: crash
    * anywhere and the next call finishes the remainder.
    */
  def publish(spark: SparkSession, rootDir: String, batchId: Long): Unit = {
    val staged = s"$rootDir/_staged/$batchId"
    val (fs, stagedPath) = fsOf(spark, staged)
    if (fs.exists(stagedPath)) {
      fs.listStatus(stagedPath).foreach { st =>
        val n = st.getPath.getName
        if (st.isDirectory && !n.startsWith("_") && !n.startsWith("."))
          moveInto(fs, st.getPath,
            new org.apache.hadoop.fs.Path(s"$rootDir/$n"), batchId)
      }
    }
    val commits = new org.apache.hadoop.fs.Path(s"$rootDir/_commits")
    fs.mkdirs(commits)
    fs.create(new org.apache.hadoop.fs.Path(commits, s"b$batchId"), true).close()
    fs.listStatus(commits).foreach { st =>
      if (st.getPath.getName != s"b$batchId") fs.delete(st.getPath, false)
    }
    fs.delete(new org.apache.hadoop.fs.Path(s"$rootDir/_staged"), true)
    ()
  }
}
