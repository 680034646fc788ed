package graft.tools

import graft.LocalSpark
import graft.llm.Similarity
import graft.streaming.SemDedupStream
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Per-trigger cost of the streaming semantic screen's persisted-index
  * lifecycle: `runMain graft.tools.SemIngestBench [corpusN] [batchN]
  * [nTriggers] [dim] [nlist]` seeds a corpus and its index, then drives
  * batches (90% novel, 10% exact dups of corpus vectors) through
  * `SemDedupStream.ingestIntoIndexed` (frozen centroids, partition-pruned
  * postings, exactly-once staged publication) and prints the index build
  * time, the calibrated ADC margin and the per-trigger time series.
  * Numbers land in PERFORMANCE.md.
  */
object SemIngestBench {
  def main(args: Array[String]): Unit = {
    val corpusN = if (args.length > 0) args(0).toLong else 100000L
    val batchN = if (args.length > 1) args(1).toInt else 1000
    val nTriggers = if (args.length > 2) args(2).toInt else 4
    val dim = if (args.length > 3) args(3).toInt else 64
    // default under the r15 streaming policy (ceil(√(n/10)), clamped):
    // slower than the batch √N because streaming triggers pay per-cell
    // maintenance — the 1M measurement preferred 316 cells over 1000
    val nlist = if (args.length > 4) args(4).toInt
      else SemDedupStream.nlistFor(corpusN)
    val spark = LocalSpark.session()

    // hash-dense embeddings: independent ids are ~orthogonal (|cos| ~
    // 1/√dim), an exact copy is cos 1 — only planted dups trip the gate
    def embOf(src: org.apache.spark.sql.Column) =
      transform(sequence(lit(0), lit(dim - 1)),
        i => (pmod(xxhash64(src, i), lit(2000)).cast("float") / 1000.0f)
          - lit(1.0f))

    val base = java.nio.file.Files
      .createTempDirectory("graft_semingest").toFile.getAbsolutePath
    val idxRoot = s"$base/indexed"
    val seed = spark.range(corpusN)
      .select(col("id").as("vec_id"), embOf(col("id")).as("embedding"))
    seed.withColumn("b", lit(0L)).write.parquet(s"$idxRoot/corpus")
    val t0 = System.nanoTime()
    // the r14 screen layout: cells prune, full-vector PQ codes score —
    // the postings read is (8+m) bytes/vector instead of dim·8
    Similarity.buildIvfCodeIndex(
      spark.read.parquet(s"$idxRoot/corpus"), s"$idxRoot/ivf", nlist)
    val buildS = (System.nanoTime() - t0) / 1e9

    def batchDf(trig: Int): DataFrame = {
      val novel = spark.range(
          corpusN + trig.toLong * batchN, corpusN + trig.toLong * batchN +
            (batchN - batchN / 10))
        .select(col("id").as("vec_id"), embOf(col("id")).as("embedding"))
      val dups = spark.range(batchN / 10)
        .select((col("id") + 2000000000L + trig.toLong * 100000L).as("vec_id"),
          embOf(pmod(xxhash64(col("id"), lit(trig)), lit(corpusN)))
            .as("embedding"))
      novel.unionByName(dups)
    }

    def drive(body: (DataFrame, Long) => Unit): Seq[Double] =
      (0 until nTriggers).map { trig =>
        val b = batchDf(trig)
        val s0 = System.nanoTime()
        body(b, trig.toLong)
        (System.nanoTime() - s0) / 1e9
      }

    // AUTO margin (the r15 default): the index build CALIBRATED the ADC
    // error on this corpus (p99 residual norm persisted in ivf/calib) —
    // the hash-dense fixture is PQ's worst case (no cluster structure,
    // ~1 bit/dim quantization), where the r14 bench had to hand-widen
    // the margin to 0.30; the calibrated default now covers it without
    // operator knowledge. A wide margin only costs verify work, never
    // correctness.
    val indexed = drive(
      SemDedupStream.ingestIntoIndexed(idxRoot, threshold = 0.92,
        nlist = nlist, nprobe = 4, rebuildCheckEvery = 4))
    val calib = Similarity.adcCalibratedMargin(spark, s"$idxRoot/ivf")
    val nIdx = spark.read.parquet(s"$idxRoot/corpus").count()
    def fmt(xs: Seq[Double]) = xs.map(x => f"$x%.2f").mkString("[", ",", "]")
    println(f"""{"corpus_n":$corpusN,"batch_n":$batchN,"dim":$dim,""" +
      f""""nlist":$nlist,"adc_margin_p99":${calib.getOrElse(-1.0)}%.3f,""" +
      f""""index_build_s":$buildS%.1f,""" +
      f""""indexed_trigger_s":${fmt(indexed)},""" +
      f""""indexed_total_s":${indexed.sum}%.1f,""" +
      f""""rows_indexed":$nIdx}""")
    spark.stop()
  }
}
