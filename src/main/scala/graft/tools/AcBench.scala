package graft.tools

import graft.{LocalSpark, Tables}
import graft.llm.{Blocklist, WordPhraseHits}
import org.apache.spark.sql.functions._

/** Micro-benchmark behind the q173 Aho–Corasick claim:
  * `runMain graft.tools.AcBench [sfDir] [nPhrases]` times the naive
  * per-phrase contains loop vs the one-pass automaton on the documents
  * table at a REAL blocklist size (default 400 phrases ≈ the public C4
  * list), asserting identical outputs. Phrases are vocabulary bigrams +
  * the q173 list, so a realistic fraction actually match.
  */
object AcBench {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val nPhrases = args.lift(1).map(_.toInt).getOrElse(400)
    val spark = LocalSpark.session()
    val vocab = Seq("spark", "batch", "part", "line", "column", "order", "small",
      "sort", "fast", "value", "scan", "hash", "slow", "group", "vector",
      "query", "agg", "table", "the", "key")
    val phrases = (Blocklist.phrases ++ (for {
      a <- vocab; b <- vocab
    } yield s"$a $b")).distinct.take(nPhrases)
    val d = Tables(spark, sfDir, "documents").cache()
    d.count()

    def run(df: org.apache.spark.sql.DataFrame): Long = {
      df.write.format("noop").mode("overwrite").save()
      0L
    }
    val naive = d.select(col("doc_id"), filter(
      array(phrases.map(lit): _*),
      p => concat(lit(" "), col("text"), lit(" "))
        .contains(concat(lit(" "), p, lit(" ")))).as("hits"))
    val ac = d.select(col("doc_id"), WordPhraseHits(col("text"), phrases).as("hits"))
    def time(df: org.apache.spark.sql.DataFrame): Double = {
      run(df) // warm
      (1 to 3).map { _ =>
        val t0 = System.nanoTime(); run(df); (System.nanoTime() - t0) / 1e9
      }.min
    }
    val tn = time(naive)
    val ta = time(ac)
    // identical outputs (order inside hits included)
    val mismatch = naive.withColumnRenamed("hits", "a")
      .join(ac.withColumnRenamed("hits", "b"), "doc_id")
      .filter(col("a") =!= col("b")).count()
    println(f"""{"phrases":$nPhrases,"naive_s":$tn%.3f,"ac_s":$ta%.3f,""" +
      f""""speedup":${tn / ta}%.1f,"mismatches":$mismatch}""")
    spark.stop()
  }
}
