package graft.tools

import graft.LocalSpark
import org.apache.spark.sql.SaveMode

/** Rich-vocabulary documents generator for tokenizer-scale measurements:
  * `runMain graft.tools.GenRichDocs <outDir> <nDocs> [vocabSize]` writes a
  * documents.parquet whose text draws from a `vocabSize` pseudo-word
  * vocabulary under a Zipf(1.1) frequency law — the Heaps/Zipf shape a
  * real corpus has, which the driver fixture's 31-word vocabulary cannot
  * exhibit (its BPE pair table collapses after ~105 merges; see
  * PERFORMANCE.md round 9). Deterministic: every row is a pure function
  * of its id.
  */
object GenRichDocs {
  private def rng(salt: Long, id: Long): java.util.Random =
    new java.util.Random((salt * 0x9E3779B97F4A7C15L) ^ (id * 0xC2B2AE3D27D4EB4FL) ^ 7L)

  /** Deterministic pseudo-word for a vocab slot: 3-12 lowercase chars. */
  def word(slot: Int): String = {
    val r = rng(11, slot.toLong)
    (0 until (3 + r.nextInt(10))).map(_ => ('a' + r.nextInt(26)).toChar).mkString
  }

  /** Zipf(s=1.1) slot sampler via inverse-CDF over precomputed weights. */
  final class Zipf(vocab: Int) extends Serializable {
    private val cdf: Array[Double] = {
      val w = Array.tabulate(vocab)(i => 1.0 / math.pow(i + 1, 1.1))
      val total = w.sum
      val c = new Array[Double](vocab)
      var acc = 0.0
      var i = 0
      while (i < vocab) { acc += w(i) / total; c(i) = acc; i += 1 }
      c
    }
    def slot(u: Double): Int = {
      val i = java.util.Arrays.binarySearch(cdf, u)
      math.min(if (i >= 0) i else -i - 1, cdf.length - 1)
    }
  }

  def docText(id: Long, zipf: Zipf): String = {
    val r = rng(12, id)
    (0 until (30 + r.nextInt(170)))
      .map(_ => word(zipf.slot(r.nextDouble()))).mkString(" ")
  }

  def main(args: Array[String]): Unit = {
    require(args.length >= 2, "usage: GenRichDocs <outDir> <nDocs> [vocabSize]")
    val out = args(0)
    val nDocs = args(1).toLong
    val vocab = if (args.length > 2) args(2).toInt else 50000
    val spark = LocalSpark.session()
    import spark.implicits._
    val zipf = new Zipf(vocab)
    spark.range(nDocs).repartition(math.max(8, spark.sparkContext.defaultParallelism))
      .map { id =>
        (id, docText(id, zipf), "en", s"src${(id % 8).toInt}", docText(id, zipf).length.toLong)
      }
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode(SaveMode.Overwrite).parquet(s"$out/documents.parquet")
    println(s"wrote $out/documents.parquet nDocs=$nDocs vocab=$vocab")
    spark.stop()
  }
}
