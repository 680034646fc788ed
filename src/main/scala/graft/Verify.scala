package graft
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    val (sfDir, outDir) = (args(0), args(1))
    // Optional third arg: comma-separated query names, for local iteration
    // on a subset (the driver always runs the full map).
    val only = args.lift(2).map(_.split(",").toSet)
    def keep(name: String): Boolean = only.forall(_.contains(name))
    val spark = LocalSpark.session(defaultCpus = 4)
    new java.io.File(outDir).mkdirs()
    SparkEntry.queries.filter(kv => keep(kv._1)).foreach { case (name, fn) =>
      try fn(spark, sfDir).coalesce(1).write.mode("overwrite")
        .parquet(s"$outDir/$name")
      catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
      }
    }
    import LocalSpark.jsonStr
    val json = SparkEntry.oracleSql.filter(kv => keep(kv._1))
      .map { case (k, v) => s"${jsonStr(k)}: ${jsonStr(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    // Consistency stamp: which code and which fixture generation this
    // dump came from, so a correctness artifact can be checked against a
    // bench artifact at the same (commit, fixture) pair.
    val stamp = LocalSpark.stamp(sfDir)
    Files.writeString(Paths.get(s"$outDir/meta.json"),
      s"""{"commit": ${jsonStr(stamp.commit)}, "fixture_mtime": ${jsonStr(stamp.fixtureMtime)}, """ +
        s""""sf_dir": ${jsonStr(sfDir)}}""")
    spark.stop()
  }
}
