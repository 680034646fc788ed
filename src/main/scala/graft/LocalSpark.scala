package graft

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.SparkSession

/** The one place a main builds its Spark session, plus the run stamp and
  * JSON string escaper the artifact-writing mains share.
  */
object LocalSpark {

  /** `local[$SPARK_GRAFT_CPUS]` (default `defaultCpus`) with shuffle
    * partitions = cpus, the UTC session zone, the UI off and log level
    * ERROR. ERROR, not WARN: [[Bench]]'s summary is json-parsed from the
    * tail of its combined output, and stray WARN lines on stderr landing
    * after the summary line broke that parse.
    */
  def session(defaultCpus: Int = 32): SparkSession = {
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", defaultCpus.toString)
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark
  }

  /** Which code and which fixture generation a run saw: a bench and a
    * correctness artifact form one consistent snapshot only at the same
    * (commit, fixture) pair. Either field is "unknown" when unreadable.
    */
  final case class Stamp(commit: String, fixtureMtime: String)

  def stamp(sfDir: String): Stamp = {
    val sha = try {
      val p = new ProcessBuilder("git", "rev-parse", "--short", "HEAD")
        .directory(new java.io.File(".")).start()
      val out = new String(p.getInputStream.readAllBytes(), "UTF-8").trim
      if (p.waitFor() == 0 && out.nonEmpty) out else "unknown"
    } catch { case _: Throwable => "unknown" }
    val mtime = try Files.getLastModifiedTime(Paths.get(sfDir, "lineitem.parquet"))
      .toInstant.toString
    catch { case _: Throwable => "unknown" }
    Stamp(sha, mtime)
  }

  /** JSON string literal: escapes backslash, quote, and ALL control chars
    * (< 0x20) — a tab or CR in a query's oracle SQL would otherwise make
    * a JSON reader of `oracle_sql.json` fail and drop every oracle check.
    */
  def jsonStr(s: String): String = "\"" + s.flatMap {
    case '"'  => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""
}
