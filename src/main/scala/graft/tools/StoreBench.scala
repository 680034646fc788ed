package graft.tools

import graft.LocalSpark
import graft.streaming.{ImageDedupStream, StoreCompact}
import org.apache.spark.sql.functions._

/** Measures what [[StoreCompact]] buys: the streaming screens re-read
  * their parquet band/signature store every trigger, and a
  * one-file-per-trigger append history turns that read into footer
  * opening. `runMain graft.tools.StoreBench [nRows] [nFiles] [iters]`
  * builds an (media_id, h) store fragmented into `nFiles` files (the
  * layout `nFiles` triggers leave behind), times the exact screen probe
  * ([[ImageDedupStream.hammingPairsAgainst]] of a 256-hash batch against
  * the store) min-of-`iters`, compacts, re-times, and prints one JSON
  * line with both numbers and the file counts.
  */
object StoreBench {
  def main(args: Array[String]): Unit = {
    val nRows = if (args.length > 0) args(0).toInt else 200000
    val nFiles = if (args.length > 1) args(1).toInt else 2048
    val iters = if (args.length > 2) args(2).toInt else 3
    val spark = LocalSpark.session()

    val dir = java.nio.file.Files.createTempDirectory("graft_storebench")
      .toFile.getAbsolutePath + "/store"
    // nFiles-file layout in one write job — same footers-per-row shape an
    // nFiles-trigger append history leaves, without nFiles write jobs
    spark.range(nRows.toLong)
      .select(col("id").as("media_id"),
        xxhash64(col("id")).as("h"))
      .repartition(nFiles)
      .write.mode("overwrite").parquet(dir)

    val batch = spark.range(256)
      .select((col("id") + 1000000000L).as("media_id"),
        xxhash64(col("id") * 7919L).as("h"))
      .persist()
    batch.count()

    def probe(): Double = {
      val t0 = System.nanoTime()
      val store = spark.read.parquet(dir).select("media_id", "h")
      ImageDedupStream.hammingPairsAgainst(batch, store)
        .write.format("noop").mode("overwrite").save()
      (System.nanoTime() - t0) / 1e9
    }
    probe() // warm-up
    val fragmented = (1 to iters).map(_ => probe()).min

    val (before, after) = StoreCompact.compact(spark, dir, targetFiles = 8)
    probe() // warm-up on the new layout
    val compacted = (1 to iters).map(_ => probe()).min

    println(f"""{"rows":$nRows,"files_before":$before,"files_after":$after,""" +
      f""""probe_fragmented_s":$fragmented%.3f,"probe_compacted_s":$compacted%.3f,""" +
      f""""speedup":${fragmented / compacted}%.2f}""")
    spark.stop()
  }
}
