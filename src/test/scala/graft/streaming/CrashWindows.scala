package graft.streaming

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.SparkSession

/** Crash states planted in-process: a mid-publish crash (some of a
  * sealed batch's staged files already in their store) and a
  * mid-staging crash (unsealed junk).
  */
object CrashWindows {

  /** Move all but the last of batch `batchId`'s staged `store` files
    * into `root/store` the way [[StoreTxn.publish]] does — same relative
    * place, renamed `b<batchId>-<file>` — and leave the last one staged.
    * Returns how many files moved.
    */
  def publishSome(spark: SparkSession, root: String, batchId: Long,
      store: String): Int = {
    val fs = FileSystem.get(spark.sparkContext.hadoopConfiguration)
    def leaves(dir: Path): Seq[Path] = fs.listStatus(dir).toSeq.flatMap { st =>
      val n = st.getPath.getName
      if (n.startsWith("_") || n.startsWith(".")) Nil
      else if (st.isDirectory) leaves(st.getPath)
      else Seq(st.getPath)
    }
    val src = new Path(StoreTxn.stagePath(root, batchId, store))
    val files = leaves(src).sortBy(_.toString)
    require(files.size >= 2, s"a partial publish needs two staged files: $files")
    files.init.foreach { f =>
      val rel = f.getParent.toUri.getPath.stripPrefix(src.toUri.getPath)
      val dst = new Path(s"$root/$store$rel/b$batchId-${f.getName}")
      fs.mkdirs(dst.getParent)
      require(fs.rename(f, dst), s"could not move $f to $dst")
    }
    files.size - 1
  }

  /** Run `f` with adaptive execution off, so a staged delta keeps one
    * file per shuffle partition instead of coalescing into one.
    */
  def unadaptive[T](spark: SparkSession)(f: => T): T = {
    val key = "spark.sql.adaptive.enabled"
    val was = spark.conf.getOption(key)
    spark.conf.set(key, "false")
    try f finally was.fold(spark.conf.unset(key))(spark.conf.set(key, _))
  }

  /** Plant the residue of a crash mid-staging: an unsealed staged copy of
    * batch `batchId` holding one junk file under `store`.
    */
  def junkStaging(spark: SparkSession, root: String, batchId: Long,
      store: String): Unit = {
    val fs = FileSystem.get(spark.sparkContext.hadoopConfiguration)
    val dir = new Path(StoreTxn.stagePath(root, batchId, store))
    fs.mkdirs(dir)
    fs.create(new Path(dir, "part-junk.parquet"), true).close()
  }

  /** True iff no staged residue is left under `root`. */
  def noStaged(spark: SparkSession, root: String): Boolean =
    !FileSystem.get(spark.sparkContext.hadoopConfiguration)
      .exists(new Path(s"$root/_staged"))
}
