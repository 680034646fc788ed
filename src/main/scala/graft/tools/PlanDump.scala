package graft.tools

import org.apache.spark.JobCounter

/** Plan-capture tool for the optimization rounds:
  * `runMain graft.tools.PlanDump <outDir> <tag> <query...>` writes each
  * named declared query's `.explain("formatted")` output to
  * `<outDir>/<query>_<tag>.txt` (tag = "before" / "after"), using the same
  * session shape as [[graft.Bench]] so the captured plan is the one the
  * bench actually executes. `all` expands to the whole corpus.
  */
object PlanDump {
  def main(args: Array[String]): Unit = {
    require(args.length >= 3, "usage: PlanDump <outDir> <tag> <query...|all>")
    val outDir = java.nio.file.Paths.get(args(0))
    val tag = args(1)
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val queries = graft.Bench.select(
      if (args.drop(2).sameElements(Array("all"))) None else Some(args.drop(2).mkString(",")))
    val spark = graft.LocalSpark.session()
    java.nio.file.Files.createDirectories(outDir)
    // GRAFT_PLANDUMP_EXEC=1: execute the query through the noop sink
    // FIRST, so the captured plan is the FINAL adaptive plan
    // (isFinalPlan=true) with runtime artifacts visible — AQE stage reuse
    // (ReusedQueryStage/ReusedExchange) and coalesced AQEShuffleReads do
    // not exist in the static explain, so a reuse claim is only provable
    // from this mode's capture.
    val exec = sys.env.get("GRAFT_PLANDUMP_EXEC").contains("1")
    // the noop write runs under its own QueryExecution (the command's, not
    // the DataFrame's), so the executed adaptive plan is only reachable
    // through the listener, which the listener bus calls asynchronously
    @volatile var lastQe: org.apache.spark.sql.execution.QueryExecution = null
    if (exec) spark.listenerManager.register(
      new org.apache.spark.sql.util.QueryExecutionListener {
        override def onSuccess(funcName: String,
            qe: org.apache.spark.sql.execution.QueryExecution, d: Long): Unit =
          lastQe = qe
        override def onFailure(funcName: String,
            qe: org.apache.spark.sql.execution.QueryExecution, e: Exception): Unit = ()
      })
    queries.foreach { q =>
      val name = q.name
      val df = q.fn(spark, sfDir)
      val txt = if (exec) {
        // drain first: a late event from a job that ran while the
        // DataFrame was built must not stand in for the save's
        JobCounter.drain(spark.sparkContext)
        lastQe = null
        df.write.format("noop").mode("overwrite").save()
        JobCounter.drain(spark.sparkContext)
        require(lastQe != null, s"listener never delivered the executed plan for $name")
        lastQe.explainString(org.apache.spark.sql.execution.FormattedMode)
      } else df.queryExecution.explainString(
        org.apache.spark.sql.execution.FormattedMode)
      java.nio.file.Files.write(outDir.resolve(s"${name}_$tag.txt"),
        txt.getBytes("UTF-8"))
      println(s"wrote ${name}_$tag.txt (${txt.length} chars)")
    }
    spark.stop()
  }
}
