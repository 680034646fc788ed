package graft.tools

import graft.LocalSpark
import graft.llm.Similarity
import graft.streaming.{CurationChain, StoreLayout}
import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Measures what the chain's PQ-coded semantic postings buy over the
  * raw cell probe as the vec store grows: the raw path reads dim·8
  * bytes/row of every probed cell, the coded path reads the probed
  * cells' postings (8+m+4+8 bytes/row) and touches raw vectors only for
  * ADC candidates (id pushdown) — so an all-novel trigger reads zero
  * raw embeddings and the per-trigger cost curve should flatten.
  *
  * `runMain graft.tools.ChainVecBench [batch] [iters] [sizes...]`
  * seeds a founded chain root (cell-partitioned `vecs`, coded `vecpq`,
  * published quantizer) at each size, then times full chain triggers —
  * all-novel and ~4-true-dups batches — with `vecPq = true` vs `false`
  * on the same root, min-of-`iters`, one JSON line per size. Both arms
  * run the identical gate/exact/sig stages; the delta is the semantic
  * store side. A correctness cross-check asserts the dup triggers
  * reject exactly the planted dups in both arms.
  */
object ChainVecBench {
  private val Dim = 64

  private def timeIt(iters: Int)(f: => Unit): Double = {
    f // warm
    (1 to iters).map { _ =>
      val t0 = System.nanoTime(); f; (System.nanoTime() - t0) / 1e9
    }.min
  }

  /** The screen's store-side scan bytes for one trigger, computed
    * EXACTLY from the layout: the file bytes of the probed cells'
    * partition dirs plus the whole flat tail — what a partition-pruned
    * scan fetches at cluster scale. Wall time on this host hides the
    * difference (the stores sit in the page cache and Spark 4's local
    * parquet reader bypasses every byte counter we tried — task
    * inputMetrics AND Hadoop FS statistics both report ~0 for a
    * measured 170 MB scan), so the bench reports the byte term from
    * first principles instead of from a broken counter.
    */
  private def screenScanBytes(storeDir: String, cells: Set[Int]): Long = {
    def filesUnder(d: java.io.File): Long =
      if (!d.exists()) 0L
      else d.listFiles().map { f =>
        if (f.isDirectory) filesUnder(f)
        else if (f.getName.startsWith("_") || f.getName.startsWith(".")) 0L
        else f.length()
      }.sum
    val main = new java.io.File(storeDir)
    val mainBytes =
      if (!main.exists()) 0L
      else main.listFiles().collect {
        case d if d.isDirectory && d.getName.startsWith("cell=") &&
            cells.contains(d.getName.drop(5).toInt) => filesUnder(d)
      }.sum
    mainBytes + filesUnder(new java.io.File(storeDir + "_tail"))
  }

  /** Deterministic pseudo-random embedding: Dim hash-derived uniforms in
    * [-1, 1) — realistic cell spread, pairwise cosine ≪ the 0.92 gate.
    */
  private def embOf(idc: Column): Column =
    array((0 until Dim).map(i =>
      (pmod(xxhash64(idc, lit(i)), lit(100000L)).cast("double") /
        lit(50000.0)) - lit(1.0)): _*)

  private def doc(id: Long): String =
    (0 until 40).map(j => s"w${id}x$j").mkString(" ")

  def main(args: Array[String]): Unit = {
    val batchN = if (args.length > 0) args(0).toInt else 256
    val iters = if (args.length > 1) args(1).toInt else 3
    val sizes: Seq[Int] =
      if (args.length > 2) args.drop(2).map(_.toInt).toSeq
      else Seq(100000, 400000, 1600000)
    val spark = LocalSpark.session()
    import spark.implicits._

    val results = sizes.map { n =>
      val root = java.nio.file.Files.createTempDirectory("graft_cvb")
        .toFile.getAbsolutePath + "/c"
      // ---- seed a FOUNDED root: marker first (the legacy guard), then
      // the raw cell store, the coded postings, and the quantizer — the
      // exact layout a founding cadence publishes
      StoreLayout.ensureLayout(spark, root,
        Seq("exact", "phash", "sigs", "vecs", "vecpq", "admitted", "budget"))
      val store = spark.range(n.toLong)
        .select(col("id").as("vec_id"), embOf(col("id")).as("embedding"),
          lit(0L).as("b"))
      val nlist = math.max(2, math.min(4096,
        math.ceil(math.sqrt(n.toDouble)).toInt))
      val cents = Similarity.trainCentroids(
        store.select("vec_id", "embedding"), nlist)
      val cbs = Similarity.trainPqCodebooks(
        store.select("vec_id", "embedding"), 8)
      store.withColumn("cell",
          graft.llm.IvfCell(col("embedding").cast("array<double>"), cents))
        .repartition(col("cell"))
        .write.partitionBy("cell").parquet(s"$root/vecs")
      Similarity.encodeIvfCode(store, cents, cbs, withMargin = true)
        .withColumnRenamed("neighbor_id", "vec_id")
        .write.partitionBy("cell").parquet(s"$root/vecpq")
      cents.zipWithIndex.map { case (v, i) => (i, v.toSeq) }.toSeq
        .toDF("cell", "centroid")
        .coalesce(1).write.parquet(s"$root/vec_cells/centroids")
      Similarity.writeCodebooks(spark, cbs, s"$root/vec_cells/codebooks")
      Similarity.writeAdcCalibration(store.select("vec_id", "embedding"),
        cbs, s"$root/vec_cells/calib")

      def novelBatch(off: Long) = spark.range(batchN.toLong)
        .select((col("id") + 3000000000L + off).as("doc_id"))
        .withColumn("text", concat_ws(" ", (0 until 40).map(j =>
          concat(lit("w"), col("doc_id"), lit(s"x$j"))): _*))
        .withColumn("embedding", embOf(col("doc_id")))
      def dupBatch(off: Long) = novelBatch(off + 500000000L)
        // 4 true dups of seeded rows: novel text, a STORE row's embedding
        .withColumn("embedding", when(col("doc_id") % batchN < 4,
          embOf(col("doc_id") % batchN)).otherwise(col("embedding")))

      var trig = 0L
      def nextTrig(): Long = { trig += 1; trig }
      def admitted(): Long = spark.read.parquet(s"$root/admitted").count()

      def arm(vecPq: Boolean): (Double, Double) = {
        val novel = timeIt(iters) {
          CurationChain.ingestInto(root, vecPq = vecPq)(
            novelBatch(trig * 10000), nextTrig())
        }
        val before = admitted()
        val dup = timeIt(iters) {
          CurationChain.ingestInto(root, vecPq = vecPq)(
            dupBatch(trig * 10000), nextTrig())
        }
        val perTrigger = (admitted() - before) / (iters + 1)
        require(perTrigger == batchN - 4,
          s"dup triggers must admit batch-4 rows, got $perTrigger/trigger")
        (novel, dup)
      }
      val (pqNovel, pqDup) = arm(vecPq = true)
      val (rawNovel, rawDup) = arm(vecPq = false)
      // the probed-cell set of a representative batch (the probe logic
      // the screen itself runs) → exact post-pruning scan bytes per arm
      val probed = Similarity.adcProbes(
        novelBatch(777777L).select(col("doc_id").as("vec_id"),
          col("embedding")), cents, cbs, 4).get.probedCells.toSet
      val pqNB = screenScanBytes(s"$root/vecpq", probed).toDouble
      val rawNB = screenScanBytes(s"$root/vecs", probed).toDouble
      println(f"""{"store_rows":$n,"batch":$batchN,"nlist":$nlist,""" +
        f""""probed_cells":${probed.size},""" +
        f""""pq_novel_s":$pqNovel%.3f,"pq_dup_s":$pqDup%.3f,""" +
        f""""raw_novel_s":$rawNovel%.3f,"raw_dup_s":$rawDup%.3f,""" +
        f""""pq_scan_mb":${pqNB / 1e6}%.1f,"raw_scan_mb":${rawNB / 1e6}%.1f}""")
      (n, pqNovel, pqDup, rawNovel, rawDup, pqNB, rawNB)
    }
    val (n0, pn0, pd0, rn0, rd0, pb0, rb0) = results.head
    val (n1, pn1, pd1, rn1, rd1, pb1, rb1) = results.last
    println(f"""{"size_ratio":${n1.toDouble / n0}%.1f,""" +
      f""""pq_novel_growth":${pn1 / pn0}%.2f,"pq_dup_growth":${pd1 / pd0}%.2f,""" +
      f""""raw_novel_growth":${rn1 / rn0}%.2f,"raw_dup_growth":${rd1 / rd0}%.2f,""" +
      f""""pq_bytes_growth":${pb1 / pb0}%.2f,"raw_bytes_growth":${rb1 / rb0}%.2f,""" +
      f""""bytes_ratio_at_max":${rb1 / pb1}%.1f}""")
    spark.stop()
  }
}
