package graft.tools

import graft.LocalSpark
import graft.streaming.CurationChain
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Throughput of the COMPOSED curation chain (gate → exact → MinHash →
  * semantic screens, all four stores): `runMain graft.tools.ChainBench
  * [docsPerTrigger] [nTriggers] [dupPct] [media]` drives nTriggers
  * batches of synthetic docs — `dupPct`% of each batch re-offers /
  * lightly edits / semantically duplicates docs admitted in earlier
  * triggers — through `CurationChain.ingestInto` and prints one JSON
  * line with end-to-end docs/sec and the first/last per-trigger times
  * (the tail shows the cost of screening against a GROWN store — the
  * number that matters for a long-running ingest).
  *
  * `media` = 1 turns the PERCEPTUAL stage on: every novel doc carries a
  * per-id PNG (the q222 fixture family), the dup mix gains a fourth
  * kind (novel text + novel embedding + a patched re-encode of an
  * earlier admitted doc's image — only the shared band store can reject
  * it), and the measured trigger includes the decode+dHash pass plus the
  * phash-store screen. `media` = 0 keeps the r12 batch shape (no content
  * column, stage skipped) for round-over-round comparability.
  *
  * Embeddings are deterministic hash-dense vectors: independent ids are
  * ~orthogonal (|cos| concentrates at ~1/√dim, nowhere near the 0.92
  * gate), while a semantic dup copies its source's vector exactly
  * (cos 1) — so only planted dups ever trip the semantic screen.
  */
object ChainBench {
  private val Dim = 64

  /** Bench-scale image family: 36×24 PNG of per-(id, x, y) hash noise —
    * dHashes are ~uniform 64-bit, so accidental hamming ≤ 7 collisions
    * are negligible even at 10⁵ images (the q222 `formulaPng2` family is
    * built for ~500-image spec fixtures and repeats dHashes at bench
    * density — measured 32 false rejects per 16k). `patch` inverts a 6×6
    * corner: ~4-6 dHash cells touched, inside the near-dup gate.
    */
  private[tools] def noisePng(id: Long, patch: Boolean): Array[Byte] = {
    val w = 36; val h = 24
    val img = new java.awt.image.BufferedImage(w, h,
      java.awt.image.BufferedImage.TYPE_INT_RGB)
    var y = 0
    while (y < h) {
      var x = 0
      while (x < w) {
        var v = id * 0x9E3779B97F4A7C15L + x * 1315423911L + y * 2654435761L
        v ^= v >>> 33; v *= 0xFF51AFD7ED558CCDL; v ^= v >>> 33
        var g = (v >>> 32).toInt & 0xff
        if (patch && x < 6 && y < 6) g = 255 - g
        img.setRGB(x, y, (g << 16) | (g << 8) | g)
        x += 1
      }
      y += 1
    }
    val out = new java.io.ByteArrayOutputStream()
    javax.imageio.ImageIO.write(img, "png", out)
    out.toByteArray
  }

  def main(args: Array[String]): Unit = {
    val perTrigger = if (args.length > 0) args(0).toInt else 2000
    val nTriggers = if (args.length > 1) args(1).toInt else 10
    val dupPct = if (args.length > 2) args(2).toInt else 20
    val media = args.length > 3 && args(3).toInt != 0
    val spark = LocalSpark.session()

    val root = java.nio.file.Files
      .createTempDirectory("graft_chainbench").toFile.getAbsolutePath + "/c"
    val nDup = perTrigger * dupPct / 100
    val nNovel = perTrigger - nDup

    // hash-dense embedding keyed on src: entries uniform in [-1, 1)
    def embOf(src: org.apache.spark.sql.Column) =
      transform(sequence(lit(0), lit(Dim - 1)),
        i => (pmod(xxhash64(src, i), lit(2000)).cast("float") / 1000.0f)
          - lit(1.0f))

    // 60 words over a src-namespaced vocabulary; kind 0 reproduces src's
    // text exactly, kind 1 changes one word, kind 2 is fully novel text
    def textOf(src: org.apache.spark.sql.Column,
        kind: org.apache.spark.sql.Column,
        docId: org.apache.spark.sql.Column) =
      concat_ws(" ", (0 until 60).map { j =>
        when(kind === 2, concat(lit(s"n${j}x"), docId))
          .otherwise(when(kind === 1 && lit(j) === 30,
            concat(lit("edited"), docId))
            .otherwise(concat(lit(s"w${j}x"), src)))
      }: _*)

    // kind 3 (media mode only): novel text + novel embedding + a patched
    // re-encode of the source's image — rejectable by the perceptual
    // band store alone
    val nKinds = if (media) 4 else 3
    val png = udf((src: Long, dup: Boolean) => ChainBench.noisePng(src, dup))

    def batchDf(trig: Int): DataFrame = {
      val novel = spark.range(trig.toLong * perTrigger,
          trig.toLong * perTrigger + nNovel)
        .select(col("id").as("doc_id"), col("id").as("src"),
          lit(0).as("kind"))
      val all =
        if (trig == 0) novel
        else {
          // each dup targets a uniformly random EARLIER novel:
          // src = earlierTrigger * perTrigger + offsetWithinItsNovels
          val dups = spark.range(nDup.toLong)
            .select(
              (col("id") + 1000000000L + trig.toLong * 100000L).as("doc_id"),
              ((pmod(xxhash64(col("id"), lit(trig)), lit(trig)))
                * perTrigger
                + pmod(xxhash64(col("id"), lit(trig + 7)), lit(nNovel)))
                .as("src"),
              (col("id") % nKinds).cast("int").as("kind"))
          novel.unionByName(dups)
        }
      val base = all.select(col("doc_id"),
        when(col("kind") === 3,
            textOf(col("src"), lit(2), col("doc_id")))
          .otherwise(textOf(col("src"), col("kind"), col("doc_id"))).as("text"),
        when(col("kind") === 3, embOf(col("doc_id")))
          .otherwise(embOf(col("src"))).as("embedding"),
        col("src"), col("kind"))
      if (!media) base.drop("src", "kind")
      else base.select(col("doc_id"), col("text"), col("embedding"),
        when(col("kind") === 3, png(col("src"), lit(true)))
          .when(col("src") === col("doc_id"), png(col("src"), lit(false)))
          .otherwise(lit(null).cast("binary")).as("content"))
    }

    // pre-materialize each trigger's batch (a real stream DELIVERS bytes;
    // rendering the synthetic fixture — ImageIO PNG encode per row in
    // media mode — must not ride inside the measured trigger)
    val batchDirs = (0 until nTriggers).map { trig =>
      val dir = s"$root-batches/$trig"
      batchDf(trig).write.parquet(dir)
      dir
    }
    val times = (0 until nTriggers).map { trig =>
      val b = spark.read.parquet(batchDirs(trig))
      val t0 = System.nanoTime()
      CurationChain.ingestInto(root, compactEvery = 4)(b, trig.toLong)
      (System.nanoTime() - t0) / 1e9
    }
    val total = times.sum
    // trigger 0 carries only its novels (no earlier trigger exists to
    // duplicate), so the denominator-side doc count is nNovel there, not
    // perTrigger — dividing perTrigger*nTriggers overstated docs/sec by
    // ~dupPct/nTriggers percent (r12 ADVICE)
    val docsOffered = nNovel.toLong +
      (if (nTriggers > 1) perTrigger.toLong * (nTriggers - 1) else 0L)
    val admitted = spark.read.parquet(s"$root/admitted").count()
    println(f"""{"docs_per_trigger":$perTrigger,"triggers":$nTriggers,""" +
      f""""dup_pct":$dupPct,"media":${if (media) 1 else 0},""" +
      f""""admitted":$admitted,"expected":${
        nNovel.toLong * nTriggers},"docs_offered":$docsOffered,""" +
      f""""docs_per_sec":${docsOffered / total}%.0f,""" +
      f""""first_trigger_s":${times.head}%.2f,"last_trigger_s":${times.last}%.2f,""" +
      f""""per_trigger_s":${times.map(t => f"$t%.1f").mkString("[", ",", "]")},""" +
      f""""total_s":$total%.1f}""")
    spark.stop()
  }
}
