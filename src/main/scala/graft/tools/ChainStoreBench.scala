package graft.tools

import graft.LocalSpark
import graft.streaming.{StoreLayout, TextDedupStream}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Measures what the bucketed store layout + bloom front buys (r13
  * verdict item 1): the chain's screens used to anti-join / band-join a
  * micro-batch against the FULL standing store every trigger — cost
  * linear in admitted-corpus size, forever. With the [[StoreLayout]]
  * layout the exact screen consults the bloom front (novel hashes never
  * touch the store) and reads candidate buckets only, and the signature
  * screen does the same on (band, bh) keys.
  *
  * `runMain graft.tools.ChainStoreBench [batch] [iters] [sizes...]`
  * builds exact + sig stores at each size (default 1e5, 4e5, 1.6e6 rows),
  * times one trigger's exact + sig screens the OLD way (full-store scan)
  * and the NEW way (bloom front + pruned buckets), min-of-`iters`, and
  * prints one JSON line per size plus a sublinearity summary: the pruned
  * cost curve should stay ~flat while the full-scan curve tracks store
  * size.
  */
object ChainStoreBench {
  private def timeIt(iters: Int)(f: => Unit): Double = {
    f // warm
    (1 to iters).map { _ =>
      val t0 = System.nanoTime(); f; (System.nanoTime() - t0) / 1e9
    }.min
  }

  private def noop(df: DataFrame): Unit =
    df.write.format("noop").mode("overwrite").save()

  def main(args: Array[String]): Unit = {
    val batchN = if (args.length > 0) args(0).toInt else 256
    val iters = if (args.length > 1) args(1).toInt else 3
    val sizes: Seq[Int] =
      if (args.length > 2) args.drop(2).map(_.toInt).toSeq
      else Seq(100000, 400000, 1600000)
    val spark = LocalSpark.session()
    val P = StoreLayout.DefaultBuckets

    val results = sizes.map { n =>
      val dir = java.nio.file.Files.createTempDirectory("graft_csb")
        .toFile.getAbsolutePath
      val exactDir = s"$dir/exact"; val bloomDir = s"$dir/bloom"
      val sigDir = s"$dir/sigs"; val sigBloomDir = s"$dir/sigbloom"

      // ---- exact store: n content hashes, bucketed; one rebuilt bloom
      val store = spark.range(n.toLong)
        .select(col("id").as("doc_id"), sha2(conv(col("id"), 10, 16), 256)
          .as("content_hash"))
        .withColumn("b", lit(0L))
        .withColumn("pb", StoreLayout.bucketOf(
          StoreLayout.keyHash(col("content_hash")), P))
      store.repartition(col("pb"))
        .write.mode("overwrite").partitionBy("pb").parquet(exactDir)
      StoreLayout.bloomDelta(
          store.select(StoreLayout.keyHash(col("content_hash")).as("__h"),
            col("pb")), n.toLong, P)
        .coalesce(1).write.mode("overwrite").parquet(bloomDir)

      // ---- sig store: n signatures (k=32 longs), pre-banded + bucketed
      val sigOf = (0 until 32).map(i =>
        xxhash64(col("doc_id") * 37 + lit(i)))
      val sigStore = spark.range(n.toLong)
        .select(col("id").as("doc_id"), array(sigOf: _*).as("sig"))
      val bandedStore = TextDedupStream.bandRows(sigStore, "doc_id")
        .withColumn("b", lit(0L))
        .withColumn("pb", StoreLayout.bucketOf(
          StoreLayout.keyHash(col("band"), col("bh")), P))
      bandedStore.repartition(col("pb"))
        .write.mode("overwrite").partitionBy("pb").parquet(sigDir)
      StoreLayout.bloomDelta(
          bandedStore.select(
            StoreLayout.keyHash(col("band"), col("bh")).as("__h"), col("pb")),
          8L * n, P)
        .coalesce(1).write.mode("overwrite").parquet(sigBloomDir)

      // ---- one trigger's batch: batchN docs, ~4 true dups of store rows
      val batch = spark.range(batchN.toLong)
        .select((col("id") + 2000000000L).as("doc_id"),
          when(col("id") < 4, sha2(conv(col("id") * 1000, 10, 16), 256))
            .otherwise(sha2(conv(col("id") + 3000000000L, 10, 16), 256))
            .as("content_hash"))
        .persist()
      batch.count()
      val batchSigs = spark.range(batchN.toLong)
        .select((col("id") + 2000000000L).as("src"),
          when(col("id") < 4, col("id") * 1000)
            .otherwise(col("id") + 3000000000L).as("base"))
        .select(col("src").as("doc_id"), array((0 until 32).map(i =>
          xxhash64(col("base") * 37 + lit(i))): _*).as("sig"))
        .persist()
      batchSigs.count()

      // ---- exact screen, old: anti-join the FULL store
      val exactFull = timeIt(iters) {
        noop(batch.join(spark.read.parquet(exactDir).select("content_hash"),
          Seq("content_hash"), "left_anti"))
      }
      // ---- exact screen, new: bloom front → candidate buckets only
      val exactPruned = timeIt(iters) {
        val keys = batch.select("content_hash").distinct()
          .withColumn("__h", StoreLayout.keyHash(col("content_hash")))
          .withColumn("pb", StoreLayout.bucketOf(col("__h"), P))
        val maybe = StoreLayout.bloomMaybe(keys,
            spark.read.parquet(bloomDir).select("pb", "bloom"))
          .select("content_hash", "pb").distinct()
        val pbs = StoreLayout.bucketsPresent(maybe)
        noop(batch.join(
          StoreLayout.prunedRead(spark, exactDir, "pb", pbs)
            .select("content_hash"),
          Seq("content_hash"), "left_anti"))
      }

      // ---- sig screen, old: band-join the FULL banded store
      val sigFull = timeIt(iters) {
        noop(TextDedupStream.sigPairsAgainstBands(
          TextDedupStream.bandRows(batchSigs, "new_id"),
          spark.read.parquet(sigDir).select("doc_id", "sig", "band", "bh")))
      }
      // ---- sig screen, new: sigbloom front → candidate buckets only
      val sigPruned = timeIt(iters) {
        val nBands = TextDedupStream.bandRows(batchSigs, "new_id")
          .withColumn("__h", StoreLayout.keyHash(col("band"), col("bh")))
          .withColumn("pb", StoreLayout.bucketOf(col("__h"), P))
        val maybe = StoreLayout.bloomMaybe(nBands,
            spark.read.parquet(sigBloomDir).select("pb", "bloom"))
          .dropDuplicates("new_id", "band", "bh")
        val pbs = StoreLayout.bucketsPresent(maybe)
        noop(TextDedupStream.sigPairsAgainstBands(maybe,
          StoreLayout.prunedRead(spark, sigDir, "pb", pbs)
            .select("doc_id", "sig", "band", "bh")))
      }
      batch.unpersist(); batchSigs.unpersist()
      println(f"""{"store_rows":$n,"batch":$batchN,""" +
        f""""exact_full_s":$exactFull%.3f,"exact_pruned_s":$exactPruned%.3f,""" +
        f""""sig_full_s":$sigFull%.3f,"sig_pruned_s":$sigPruned%.3f}""")
      (n, exactFull, exactPruned, sigFull, sigPruned)
    }
    // sublinearity summary: cost growth across the size sweep
    val (n0, ef0, ep0, sf0, sp0) = results.head
    val (n1, ef1, ep1, sf1, sp1) = results.last
    println(f"""{"size_ratio":${n1.toDouble / n0}%.1f,""" +
      f""""exact_full_growth":${ef1 / ef0}%.2f,"exact_pruned_growth":${ep1 / ep0}%.2f,""" +
      f""""sig_full_growth":${sf1 / sf0}%.2f,"sig_pruned_growth":${sp1 / sp0}%.2f}""")
    spark.stop()
  }
}
