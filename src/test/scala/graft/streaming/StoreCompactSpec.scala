package graft.streaming

import graft.SparkSpec

/** Store compaction for the append-accumulated parquet band/signature
  * stores: row-identical rewrite, file count bounded by the target,
  * no-op under the target, and the screens' store re-read still works
  * over the compacted layout.
  */
class StoreCompactSpec extends SparkSpec {

  private def tmpDir(name: String): String = {
    val d = java.nio.file.Files.createTempDirectory(name).toFile
    d.delete() // parquet writer wants to create it
    d.getAbsolutePath
  }

  private def listDataFiles(dir: String): Seq[String] = {
    val f = new java.io.File(dir)
    if (!f.exists()) Seq.empty
    else f.listFiles().map(_.getName)
      .filter(n => !n.startsWith("_") && !n.startsWith(".")).toSeq
  }

  test("compact rewrites a many-file store row-identically under the target") {
    val s = spark
    import s.implicits._
    val dir = tmpDir("graft_compact")
    // 20 one-row appends = 20+ files, the per-trigger append pattern of
    // ImageDedupStream/TextDedupStream stores.
    (0 until 20).foreach { i =>
      Seq((i.toLong, i.toLong * 1000003L)).toDF("media_id", "h")
        .coalesce(1).write.mode("append").parquet(dir)
    }
    val beforeRows = spark.read.parquet(dir).as[(Long, Long)].collect().sorted
    assert(listDataFiles(dir).size >= 20)

    val (before, after) = StoreCompact.compact(spark, dir, targetFiles = 4)
    assert(before >= 20)
    assert(after <= 4 && after >= 1)
    assert(listDataFiles(dir).size == after)

    val afterRows = spark.read.parquet(dir).as[(Long, Long)].collect().sorted
    assert(afterRows.toSeq == beforeRows.toSeq) // row-identical, schema intact
    // no temp/retired dirs left behind
    assert(!new java.io.File(dir + "_compact_tmp").exists())
    assert(!new java.io.File(dir + "_compact_old").exists())
  }

  test("compact is a no-op at or under the target") {
    val s = spark
    import s.implicits._
    val dir = tmpDir("graft_compact_noop")
    Seq((1L, 2L), (3L, 4L)).toDF("media_id", "h")
      .coalesce(2).write.mode("append").parquet(dir)
    val files0 = listDataFiles(dir)
    val (before, after) = StoreCompact.compact(spark, dir, targetFiles = 8)
    assert(before == files0.size && after == files0.size)
    assert(listDataFiles(dir) == files0) // untouched, not rewritten
  }

  test("targetFiles must be positive") {
    intercept[IllegalArgumentException] {
      StoreCompact.compact(spark, tmpDir("graft_compact_bad"), targetFiles = 0)
    }
  }

  private def leafDataFiles(dir: String): Int = {
    def walk(f: java.io.File): Int =
      if (!f.exists()) 0
      else if (f.isFile) {
        val n = f.getName
        if (n.startsWith("_") || n.startsWith(".")) 0 else 1
      } else f.listFiles().map(walk).sum
    walk(new java.io.File(dir))
  }

  test("ingestInto(compactEvery) keeps the store's file count bounded " +
      "without changing what was admitted") {
    val s = spark
    import s.implicits._
    val base = tmpDir("graft_compact_ingest")
    val plain = base + "/plain"
    val compacted = base + "/compacted"
    // 9 triggers of 3 novel docs each (id-namespaced vocab: zero shared
    // 3-shingles across ids, so every doc is admitted) through both a
    // merge-free ingest (tail files accumulate per trigger) and one
    // folding the tail into the bucketed main every 3 triggers.
    def doc(id: Long): String = (0 until 40).map(j => s"w${id}x$j").mkString(" ")
    (0L until 9L).foreach { trig =>
      val batch = (0 until 3)
        .map(i => (trig * 3 + i, doc(trig * 3 + i))).toDF("doc_id", "text")
      TextDedupStream.ingestInto(plain)(batch, trig)
      TextDedupStream.ingestInto(compacted, compactEvery = 3)(batch, trig)
    }
    val plainRows = ScreenStore.Sigs.entries(spark, plain)
      .select("doc_id").as[Long].collect().sorted.toSeq
    val compactedRows = ScreenStore.Sigs.entries(spark, compacted)
      .select("doc_id").as[Long].collect().sorted.toSeq
    assert(plainRows == (0L until 27L)) // all novel docs admitted
    assert(compactedRows == plainRows) // the merge never changes content
    // last merge fired at trigger 6; triggers 7, 8 appended to the tail
    // after it — the merged layout stays bounded, the merge-free one
    // accumulates per-trigger tail files
    val plainFiles = leafDataFiles(s"$plain/sigs_tail")
    val mergedFiles = leafDataFiles(s"$compacted/sigs") +
      leafDataFiles(s"$compacted/sigs_tail")
    assert(mergedFiles < plainFiles,
      s"merged $mergedFiles vs plain $plainFiles")
    assert(leafDataFiles(s"$compacted/sigs_tail") <= 2 * 2,
      "tail holds only the post-merge triggers' deltas")
  }

  test("a merge crash between the renames is healed, not read as " +
      "bootstrap") {
    val s = spark
    import s.implicits._
    val base = tmpDir("graft_compact_crash")
    val dir = base + "/store"
    def doc(id: Long): String = (0 until 40).map(j => s"w${id}x$j").mkString(" ")
    // trigger 0 admits docs 0..2; trigger 1 merges the tail into the
    // bucketed main (compactEvery = 1 fires at batchId 1)
    val b0 = (0L until 3L).map(i => (i, doc(i))).toDF("doc_id", "text")
    TextDedupStream.ingestInto(dir, compactEvery = 1)(b0, 0L)
    val b1 = Seq((3L, doc(3))).toDF("doc_id", "text")
    TextDedupStream.ingestInto(dir, compactEvery = 1)(b1, 1L)
    assert(new java.io.File(s"$dir/sigs").exists(), "merge built the main")
    // simulate dying between mergeTail's two renames: the main retired
    // to _compact_old, replacement never published
    val f = new java.io.File(s"$dir/sigs")
    assert(f.renameTo(new java.io.File(s"$dir/sigs_compact_old")))
    assert(!f.exists())
    // next trigger re-offers doc 1 (an exact re-crawl) plus a novel doc —
    // without recovery the missing main reads as bootstrap and doc 1 is
    // re-admitted
    val b2 = Seq((10L, doc(1)), (11L, doc(11))).toDF("doc_id", "text")
    TextDedupStream.ingestInto(dir)(b2, 2L)
    val ids = ScreenStore.Sigs.entries(spark, dir).select("doc_id")
      .as[Long].collect().sorted.toSeq
    assert(ids == Seq(0L, 1L, 2L, 3L, 11L)) // 10 rejected against the healed store
    assert(!new java.io.File(s"$dir/sigs_compact_old").exists())
  }

  test("the dedup screen reads the compacted store unchanged") {
    val s = spark
    import s.implicits._
    val dir = tmpDir("graft_compact_screen")
    // Same shape ImageDedupStream.ingestInto appends: admitted hashes.
    (0 until 12).foreach { i =>
      Seq((i.toLong, 0x0f0f0f0fL * (i + 1))).toDF("media_id", "h")
        .coalesce(1).write.mode("append").parquet(dir)
    }
    StoreCompact.compact(spark, dir, targetFiles = 2)
    val store = spark.read.parquet(dir).select("media_id", "h")
    assert(store.count() == 12)
    assert(store.columns.toSeq == Seq("media_id", "h"))
  }
}
