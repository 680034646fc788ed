package graft.tools

import graft.{LocalSpark, Tables}
import graft.llm.Similarity
import org.apache.spark.sql.functions.col

/** Build/probe split for the persisted ANN indexes (q220/q231/q232):
  * `runMain graft.tools.IndexBench <sfDir>` times the one-off index BUILD
  * and the repeatable PROBE separately (probe min-of-3 after one warm-up)
  * — the amortization argument behind the persisted layouts, measured.
  */
object IndexBench {
  def main(args: Array[String]): Unit = {
    require(args.nonEmpty, "usage: IndexBench <sfDir>")
    val sfDir = args(0)
    val spark = LocalSpark.session()

    val e = Tables(spark, sfDir, "embeddings")
    val q = e.filter(col("vec_id") < 10)
    val root = java.nio.file.Files.createTempDirectory("graft_idx_bench_").toString

    def sec(f: => Unit): Double = {
      val t0 = System.nanoTime(); f; (System.nanoTime() - t0) / 1e9
    }
    def probeMin(f: => org.apache.spark.sql.DataFrame): Double = {
      def once(): Double = sec {
        f.write.format("noop").mode("overwrite").save()
      }
      once() // warm-up
      (1 to 3).map(_ => once()).min
    }

    val results = Seq(
      ("ivf", sec(Similarity.buildIvfIndex(e, s"$root/ivf")),
        probeMin(Similarity.probeIvfIndex(s"$root/ivf", q, k = 5))),
      ("pq", sec(Similarity.buildPqIndex(e, s"$root/pq")),
        probeMin(Similarity.probePqIndex(s"$root/pq", q, e, k = 5))),
      ("ivfpq", sec(Similarity.buildIvfPqIndex(e, s"$root/ivfpq")),
        probeMin(Similarity.probeIvfPqIndex(s"$root/ivfpq", q, e, k = 5))))

    results.foreach { case (n, b, p) => println(f"$n%-6s build $b%7.3f s  probe $p%7.3f s") }
    val js = results.map { case (n, b, p) =>
      f""""$n":{"build":$b%.3f,"probe":$p%.3f}""" }.mkString(",")
    println(s"""{"sf":"$sfDir",$js}""")
    spark.stop()
  }
}
