package graft.tools

import graft.LocalSpark
import org.apache.spark.sql.functions._

/** LevenshteinGuardRule effect: `runMain graft.tools.LevBench [nDocs]`
  * times an all-pairs `levenshtein <= k` filter with the rule on vs off
  * (same rows proved by count) — the PERFORMANCE.md evidence line.
  */
object LevBench {
  def main(args: Array[String]): Unit = {
    val n = if (args.nonEmpty) args(0).toInt else 3000
    val spark = LocalSpark.session()
    import spark.implicits._
    graft.GraftExtensions.register(spark)
    val rnd = new scala.util.Random(9)
    val bases = (0 until n / 5).map(_ =>
      (0 until 20 + rnd.nextInt(60)).map(_ => ('a' + rnd.nextInt(6)).toChar).mkString)
    val docs = (0 until n).map { i =>
      val b = bases(i % bases.length)
      (i.toLong, if (i < bases.length) b
        else b.map(c => if (rnd.nextInt(30) == 0) ('a' + rnd.nextInt(6)).toChar else c))
    }.toDF("id", "t").repartition(spark.sparkContext.defaultParallelism).cache()
    docs.count()
    val a = docs.select(col("id").as("ia"), col("t").as("ta"))
    val b = docs.select(col("id").as("ib"), col("t").as("tb"))
    def run(): (Long, Double) = {
      val t0 = System.nanoTime()
      val c = a.crossJoin(b).filter(col("ia") < col("ib"))
        .filter(levenshtein(col("ta"), col("tb")) <= 8).count()
      (c, (System.nanoTime() - t0) / 1e9)
    }
    run() // warm-up
    val (c1, on) = run()
    spark.conf.set("spark.graft.levguard.enabled", "false")
    run() // warm-up
    val (c2, off) = run()
    require(c1 == c2, s"rule changed results: $c1 vs $c2")
    println(f"""{"tool":"lev_bench","n":$n,"pairs_matched":$c1,""" +
      f""""rule_on_sec":$on%.2f,"rule_off_sec":$off%.2f,"speedup":${off / on}%.2f}""")
    spark.stop()
  }
}
