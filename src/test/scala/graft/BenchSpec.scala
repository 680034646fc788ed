package graft

import com.fasterxml.jackson.databind.ObjectMapper
import org.apache.spark.JobCounter

import scala.jdk.CollectionConverters._

/** [[Bench]]'s query filter, its per-query job and stage counts, and the
  * summary line a tail parse reads.
  */
class BenchSpec extends SparkSpec {

  val dir = "/root/testdata/sf0.001"
  val cheap = Seq("q01_scan_region", "q04_join_inner")

  test("a filtered run counts each query's jobs as one plain noop run does") {
    val results = Bench.runQueries(spark, dir, Bench.select(Some(cheap.mkString(","))))
    assert(results.map(_.name) == cheap)
    results.foreach { r =>
      assert(r.error.isEmpty && r.secs >= 0 && r.spread >= 0, r.toString)
      spark.catalog.clearCache()
      spark.sparkContext.setJobDescription("plain")
      val (_, plain) = try JobCounter.count(spark.sparkContext, e =>
          Option(e.properties).exists(_.getProperty("spark.job.description") == "plain"))(
        SparkEntry.queries(r.name)(spark, dir).write.format("noop").mode("overwrite").save())
      finally spark.sparkContext.setJobDescription(null)
      assert(r.jobs > 0 && r.jobs == plain, s"${r.name}: bench ${r.jobs}, plain $plain")
      assert(r.stages >= r.jobs, r.toString)
    }
  }

  test("an unknown query name fails and lists the known ones") {
    val e = intercept[IllegalArgumentException](
      Bench.select(Some("q01_scan_region,no_such_query")))
    assert(e.getMessage.contains("no_such_query"))
    assert(SparkEntry.corpus.forall(q => e.getMessage.contains(q.name)))
    assert(Bench.select(None).size == SparkEntry.corpus.size)
  }

  test("the summary line parses as JSON with its documented keys; the full line adds jobs and stages") {
    val results = Seq(
      Bench.Result("q01_scan_region", 0.5, 0.1, 3, 4, None),
      Bench.Result("q04_join_inner", -1.0, 0.0, -1, -1, Some("Boom: \"quoted\"\n\tline")))
    val stamp = LocalSpark.Stamp("abc1234", "2026-01-01T00:00:00Z")
    val json = new ObjectMapper()
    val summary = json.readTree(Bench.summaryLine(results, 1234.5678, stamp, dir))
    assert(summary.fieldNames.asScala.toSeq == Seq("metric", "value", "unit", "n_queries",
      "queries", "queries_note", "failures", "failed", "errors", "cdc_rows_per_sec",
      "commit", "fixture_mtime", "sf"))
    assert(summary.get("failures").asInt == 1 && summary.get("failed").asBoolean)
    assert(summary.get("errors").get("q04_join_inner").asText == "Boom: \"quoted\"\n\tline")
    assert(summary.get("queries").fieldNames.asScala.toSeq == Seq("q01_scan_region"))
    val full = json.readTree(Bench.fullLine(results, 1234.5678, stamp, dir))
    assert(full.get("jobs").get("q01_scan_region").asInt == 3)
    assert(full.get("stages").get("q01_scan_region").asInt == 4)
    assert(full.get("queries").get("q04_join_inner").asDouble == -1.0)
  }
}
