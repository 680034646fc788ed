package graft.tools

import graft.LocalSpark
import graft.streaming.{ImageDedupStream, StoreLayout, TextDedupStream}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Measures the STANDALONE ingest bodies' per-trigger cost against store
  * size (r14 verdict item 1: `TextDedupStream.ingestInto` and
  * `ImageDedupStream.ingestInto` used to re-read and re-band a FLAT
  * store every trigger — O(admitted corpus) per micro-batch; they now
  * ride the same [[StoreLayout]] bucketed + bloom-fronted layout as the
  * composed chain, so the curve should go ~flat where the old one
  * tracked store size).
  *
  * Unlike ChainStoreBench (which times the two screen PLANS in
  * isolation), this drives the REAL trigger bodies end to end —
  * signature agg, screens, bloom append, tail append — because the
  * claim under test is about the shipped standalone API, not its inner
  * joins.
  *
  * `runMain graft.tools.StandaloneStoreBench [batch] [iters] [sizes...]`
  * seeds stores at each size (default 1e5, 4e5, 1.6e6 logical rows),
  * times one all-novel trigger and one dup-bearing trigger through each
  * body (min-of-`iters` after a warm pass), and prints one JSON line per
  * size plus a growth summary.
  */
object StandaloneStoreBench {
  private def timeIt(iters: Int)(f: => Unit): Double = {
    f // warm (also absorbs the first trigger's admit-append)
    (1 to iters).map { _ =>
      val t0 = System.nanoTime(); f; (System.nanoTime() - t0) / 1e9
    }.min
  }

  private def doc(id: Long): String =
    (0 until 40).map(j => s"w${id}x$j").mkString(" ")

  // one canonical marker writer: ensureLayout on the still-empty root
  // (hand-writing the format here would drift from the shipped code)
  private def writeLayoutMarker(spark: SparkSession, root: String,
      store: String): Unit = {
    StoreLayout.ensureLayout(spark, root, Seq(store)); ()
  }

  def main(args: Array[String]): Unit = {
    val batchN = if (args.length > 0) args(0).toInt else 256
    val iters = if (args.length > 1) args(1).toInt else 3
    val sizes: Seq[Int] =
      if (args.length > 2) args.drop(2).map(_.toInt).toSeq
      else Seq(100000, 400000, 1600000)
    val spark = LocalSpark.session()
    import spark.implicits._
    val P = StoreLayout.DefaultBuckets

    // 64 REAL docs whose signatures seed the store so a dup batch can
    // plant true edits of them; the synthetic bulk fills the rest
    val knownIds = (0 until 64).map(i => 1000000000L + i)
    val knownSigs = TextDedupStream.signatures(
      knownIds.map(id => (id, doc(id))).toDF("doc_id", "text"))

    val results = sizes.map { n =>
      val textRoot = java.nio.file.Files
        .createTempDirectory("graft_ssb_text").toFile.getAbsolutePath
      val imgRoot = java.nio.file.Files
        .createTempDirectory("graft_ssb_img").toFile.getAbsolutePath

      // ---- text store: n synthetic sigs + the 64 real ones, pre-banded
      // (marker first: ensureLayout fails loudly on data-before-marker)
      writeLayoutMarker(spark, textRoot, "sigs")
      val sigOf = (0 until 32).map(i => xxhash64(col("doc_id") * 37 + lit(i)))
      val sigStore = spark.range(n.toLong)
        .select(col("id").as("doc_id"), array(sigOf: _*).as("sig"))
        .unionByName(knownSigs)
      val banded = TextDedupStream.bandRows(sigStore, "doc_id")
        .withColumn("pb", StoreLayout.bucketOf(
          StoreLayout.keyHash(col("band"), col("bh")), P))
      banded.repartition(col("pb"))
        .write.mode("overwrite").partitionBy("pb").parquet(s"$textRoot/sigs")
      StoreLayout.bloomDelta(
          banded.select(
            StoreLayout.keyHash(col("band"), col("bh")).as("__h"), col("pb")),
          8L * (n + 64L), P)
        .coalesce(1).write.mode("overwrite").parquet(s"$textRoot/sigbloom")

      // ---- image store: n synthetic hashes + 64 real PNG hashes
      writeLayoutMarker(spark, imgRoot, "phash")
      val knownPngs = knownIds.map(id =>
        (id, graft.multimodal.ImageCodec.formulaPng2(id, patch = false)))
      val knownHashes = knownPngs.map { case (id, b) =>
        (id, graft.multimodal.ImageCodec.dHashOf(b).get)
      }
      val hStore = spark.range(n.toLong)
        .select(col("id").as("media_id"),
          xxhash64(col("id") * 41 + lit(7)).as("h"))
        .unionByName(knownHashes.toDF("media_id", "h"))
      val hBanded = graft.multimodal.MultimodalQueries
        .bandExplode(hStore, "media_id")
        .select(col("media_id"), col("h"), col("b").as("band"), col("v"))
        .withColumn("pb", StoreLayout.bucketOf(
          StoreLayout.keyHash(col("band"), col("v")), P))
      hBanded.repartition(col("pb"))
        .write.mode("overwrite").partitionBy("pb").parquet(s"$imgRoot/phash")

      // ---- trigger batches: all-novel, and ~4 true dups of known rows
      def novelBatch(off: Long) = (0 until batchN)
        .map(i => (3000000000L + off + i, doc(2000000000L + off + i)))
        .toDF("doc_id", "text")
      def dupBatch(off: Long) = ((0 until 4).map(i =>
          (4000000000L + off + i, doc(knownIds(i)) + " tailword")) ++
        (4 until batchN).map(i =>
          (4100000000L + off + i, doc(2100000000L + off + i))))
        .toDF("doc_id", "text")
      var trig = 0L
      def nextTrig(): Long = { trig += 1; trig }

      val textNovel = timeIt(iters) {
        TextDedupStream.ingestInto(textRoot)(novelBatch(trig * 10000),
          nextTrig())
      }
      val textDup = timeIt(iters) {
        TextDedupStream.ingestInto(textRoot)(dupBatch(trig * 10000),
          nextTrig())
      }

      def novelImgBatch(off: Long) = (0 until batchN).map(i =>
          (3000000000L + off + i, graft.multimodal.ImageCodec
            .formulaPng2(5000000L + off + i, patch = false)))
        .toDF("media_id", "content")
      def dupImgBatch(off: Long) = ((0 until 4).map(i =>
          (4000000000L + off + i, graft.multimodal.ImageCodec
            .formulaPng2(knownIds(i), patch = true))) ++
        (4 until batchN).map(i =>
          (4100000000L + off + i, graft.multimodal.ImageCodec
            .formulaPng2(5200000L + off + i, patch = false))))
        .toDF("media_id", "content")
      val imgNovel = timeIt(iters) {
        ImageDedupStream.ingestInto(imgRoot)(novelImgBatch(trig * 10000),
          nextTrig())
      }
      val imgDup = timeIt(iters) {
        ImageDedupStream.ingestInto(imgRoot)(dupImgBatch(trig * 10000),
          nextTrig())
      }

      println(f"""{"store_rows":$n,"batch":$batchN,""" +
        f""""text_novel_s":$textNovel%.3f,"text_dup_s":$textDup%.3f,""" +
        f""""img_novel_s":$imgNovel%.3f,"img_dup_s":$imgDup%.3f}""")
      (n, textNovel, textDup, imgNovel, imgDup)
    }
    val (n0, tn0, td0, in0, id0) = results.head
    val (n1, tn1, td1, in1, id1) = results.last
    println(f"""{"size_ratio":${n1.toDouble / n0}%.1f,""" +
      f""""text_novel_growth":${tn1 / tn0}%.2f,"text_dup_growth":${td1 / td0}%.2f,""" +
      f""""img_novel_growth":${in1 / in0}%.2f,"img_dup_growth":${id1 / id0}%.2f}""")
    spark.stop()
  }
}
