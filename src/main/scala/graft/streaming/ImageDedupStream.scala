package graft.streaming

import graft.multimodal.{ImageCodec, MultimodalQueries}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Streaming IMAGE dedup — [[SemDedupStream]]'s pattern on the pixel
  * modality, composing q222's decode+dHash kernel into the ingest path:
  * every micro-batch of images is hashed once (ImageIO decode → 64-bit
  * dHash), screened against ITSELF (banded hamming pairs, greedy
  * keep-lowest) and against the STANDING band store, and only
  * perceptually novel images are admitted — a re-crop/re-encode of an
  * image admitted two triggers ago is rejected like one admitted at
  * bootstrap. Batch dedup (q226) answers "what is duplicated"; this
  * answers "don't store it twice" at ingest time.
  *
  * State is BOUNDED by content, not by rows ingested: the store holds
  * one logical (media_id, h) row — 16 bytes + id — per ADMITTED image,
  * never the pixels, kept as the bucketed [[ScreenStore.Phash]] store the
  * composed [[CurationChain]] also keeps, so a trigger reads candidate
  * buckets instead of re-banding the whole store. The screen reuses the
  * q222 machinery: 8×8-bit band join with the q42 hot-bucket cap on the
  * STORE side (an over-cap band value is non-discriminative and alone
  * would put |bucket|·|batch| candidates on one reducer; a true pair
  * keeps its 7 other bands), exact bit_count(xor) ≤ maxHamming verify.
  */
object ImageDedupStream {

  /** Banded hamming pairs BETWEEN `newH` and `storeH` (both
    * (media_id, h)): candidates share one of the 8 byte-bands, pairs
    * verify exact hamming ≤ `maxHamming`. Lossless at maxHamming ≤ 7 by
    * the q222 pigeonhole, up to the hot-bucket cap applied to the store
    * side. Returns (new_id, store_id, hamming).
    */
  def hammingPairsAgainst(newH: DataFrame, storeH: DataFrame,
      maxHamming: Int = 7, maxBucket: Int = 1024): DataFrame =
    // the 8-band layout is losslessness-critical and has ONE definition
    // (r11 verdict item 5) — shared with the batch pair join
    hammingPairsAgainstBands(newH,
      MultimodalQueries.bandExplode(storeH, "media_id")
        .select(col("media_id"), col("h"), col("b").as("band"), col("v")),
      maxHamming, maxBucket)

  /** [[hammingPairsAgainst]] when the store side is ALREADY band rows
    * (media_id, h, band, v) — the bucketed store layout persists the
    * phash store pre-banded and bucketed by the (band, v) join key, so a
    * trigger's screen reads candidate buckets instead of re-exploding
    * the whole store. Store side is restricted to the batch's exact band
    * keys (a group-key filter, so the hot-bucket cap still counts whole
    * buckets), capped, then verified by exact hamming.
    */
  def hammingPairsAgainstBands(newH: DataFrame, storeBands: DataFrame,
      maxHamming: Int = 7, maxBucket: Int = 1024): DataFrame = {
    val nB = MultimodalQueries.bandExplode(newH, "new_id")
      .select(col("new_id"), col("h").as("hn"), col("b").as("band"), col("v"))
    val w = org.apache.spark.sql.expressions.Window.partitionBy("band", "v")
    val storeB = storeBands
      .select(col("media_id").as("store_id"), col("h").as("hs"),
        col("band"), col("v"))
      .join(nB.select("band", "v").distinct(), Seq("band", "v"), "left_semi")
      .withColumn("bsz", count(lit(1)).over(w))
      .filter(col("bsz") <= maxBucket).drop("bsz")
    nB.join(storeB, Seq("band", "v"))
      .select(col("new_id"), col("store_id"), col("hn"), col("hs"))
      .distinct()
      .select(col("new_id"), col("store_id"),
        bit_count(col("hn").bitwiseXOR(col("hs"))).as("hamming"))
      .filter(col("hamming") <= maxHamming)
  }

  /** Screen one micro-batch of hashes: drop in-batch near-dup higher ids
    * (the greedy q71/q226 keep-lowest rule), then drop everything with a
    * near-dup in the store. Pure batch-side function.
    */
  def admitBatch(batchH: DataFrame, storeH: DataFrame,
      maxHamming: Int = 7, maxBucket: Int = 1024): DataFrame = {
    if (batchH.isEmpty) return batchH
    val inBatchDrops = MultimodalQueries
      .hammingNearDupPairs(batchH, maxHamming, maxBucket)
      .select(col("db").as("media_id")).distinct()
    val survivors = batchH.join(inBatchDrops, Seq("media_id"), "left_anti")
    if (storeH.isEmpty) survivors
    else {
      val dupIds = hammingPairsAgainst(survivors, storeH, maxHamming, maxBucket)
        .select(col("new_id").as("media_id")).distinct()
      survivors.join(dupIds, Seq("media_id"), "left_anti")
    }
  }

  /** The full trigger body for a parquet-backed band store root: hash the
    * batch's image bytes (decode failures are data — dropped, not
    * errors), screen against the standing store (missing/empty =
    * bootstrap), admit the novel images. Wire as
    * `stream.writeStream.foreachBatch(ImageDedupStream.ingestInto(dir) _)`
    * with a (media_id, content) batch.
    *
    * `storeDir` is a root holding the [[ScreenStore.Phash]] store: a
    * trigger reads only the buckets its batch's ~8·|batch| band keys map
    * to, plus the cadence-bounded tail, so its cost is bounded by the
    * batch, not by store size. A replayed batch's rows reject as their
    * own duplicates (hamming 0), so nothing double-appends.
    *
    * `compactEvery` > 0 folds the tail into the main every that-many
    * triggers (keyed on batchId, so restarts don't reset the cadence) —
    * the append-per-trigger tail otherwise fragments into the small-file
    * layout StoreBench measures at 2.3–6.3× probe cost.
    */
  def ingestInto(storeDir: String, maxHamming: Int = 7, maxBucket: Int = 1024,
      compactEvery: Int = 0)(
      batch: DataFrame, batchId: Long): Unit = {
    val spark = batch.sparkSession
    ScreenStore.Phash.dirs(storeDir).foreach(StoreCompact.recover(spark, _))
    val store = ScreenStore.Phash.at(spark, storeDir,
      StoreLayout.ensureLayout(spark, storeDir, Seq("phash")))
    val dh = udf((b: Array[Byte]) => ImageCodec.dHashOf(b))
    // the decode is the expensive kernel and foreachBatch re-executes the
    // plan per action (screen jobs + append) — hash once, persist the
    // 16-byte/row projection (the q226 lesson)
    val hashed = batch
      .select(col("media_id"), dh(col("content")).as("h"))
      .filter(col("h").isNotNull)
      .persist()
    try {
      if (!hashed.isEmpty) {
        val inDrops = MultimodalQueries
          .hammingNearDupPairs(hashed, maxHamming, maxBucket)
          .select(col("db").as("media_id")).distinct()
        val survivors = hashed.join(inDrops, Seq("media_id"), "left_anti")
        val admitted =
          if (!store.present) survivors
          else {
            val bandKeys = store.tagged(MultimodalQueries
              .bandExplode(survivors, "new_id")
              .select(col("b").as("band"), col("v")).distinct())
            store.candidates(Seq("media_id", "h", "band", "v"), bandKeys) match {
              case None => survivors
              case Some(st) =>
                val dups = hammingPairsAgainstBands(survivors, st,
                    maxHamming, maxBucket)
                  .select(col("new_id").as("media_id")).distinct()
                survivors.join(dups, Seq("media_id"), "left_anti")
            }
          }
        // the admitted plan reads the store the append grows — truncate
        // the lineage before writing
        store.writeDelta(
          store.tagged(MultimodalQueries.bandExplode(admitted, "media_id")
            .select(col("media_id"), col("h"), col("b").as("band"), col("v")))
            .localCheckpoint(),
          ScreenStore.Phash.tail(storeDir), "append")
      }
    } finally { hashed.unpersist(); () }
    if (compactEvery > 0 && batchId > 0 && batchId % compactEvery == 0)
      store.compact()
  }
}
