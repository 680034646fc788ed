package graft.streaming

import graft.multimodal.MultimodalQueries
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Streaming IMAGE dedup — [[SemDedupStream]]'s pattern on the pixel
  * modality, composing q222's decode+dHash kernel into the ingest path:
  * every micro-batch of media is hashed once (the chain's
  * modality-dispatching kernel: image dHash, audio envelope, video
  * temporal-mean dHash), screened against ITSELF (banded hamming pairs,
  * greedy keep-lowest) and against the STANDING band store, and only
  * perceptually novel items are admitted — a re-crop/re-encode of an
  * image admitted two triggers ago is rejected like one admitted at
  * bootstrap. Batch dedup (q226) answers "what is duplicated"; this
  * answers "don't store it twice" at ingest time.
  *
  * State is BOUNDED by content, not by rows ingested: the store holds
  * one logical (media_id, h) row — 16 bytes + id — per ADMITTED item,
  * never the pixels, kept as the bucketed [[ScreenStore.Phash]] store the
  * composed [[CurationChain]] also keeps, so a trigger reads candidate
  * buckets instead of re-banding the whole store. The screen is the
  * chain's [[ScreenStage.Perceptual]]; this object holds its pair
  * kernels, the q222 machinery: 8×8-bit band join with the q42
  * hot-bucket cap on the STORE side (an over-cap band value is
  * non-discriminative and alone would put |bucket|·|batch| candidates on
  * one reducer; a true pair keeps its 7 other bands), exact
  * bit_count(xor) ≤ maxHamming verify.
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

  /** The full trigger body for a [[ScreenStore.Phash]] store root: the
    * chain's media stage ([[ScreenStage.Perceptual]]) as a one-stage
    * [[ScreenStage.standalone]] fold over the batch's (media_id, content)
    * rows — the novel items' band rows publish through [[StoreTxn]] on
    * the [[CorpusRoot]] spine, so a trigger's cost is bounded by the
    * batch and a replay is exactly-once. The bytes hash through the
    * chain's modality-dispatching kernel, so WAV and AVI items screen
    * beside images; bytes that decode as none of them leave no store row.
    * Wire as `stream.writeStream.foreachBatch(ImageDedupStream.ingestInto(dir) _)`.
    * `compactEvery` > 0 folds the tail into the main every that-many
    * triggers. Jobs are labelled `graft.image <stage>` ([[JobLabel]]).
    */
  def ingestInto(storeDir: String, compactEvery: Int = 0)(
      batch: DataFrame, batchId: Long): Unit =
    ScreenStage.standalone(storeDir, "graft.image", ScreenStage.Perceptual,
      compactEvery)(offers(batch), batchId)

  /** Stage and seal a batch without publishing it — where the
    * crash-replay spec stops.
    */
  private[streaming] def stageBatch(storeDir: String)(
      batch: DataFrame, batchId: Long): Unit =
    ScreenStage.stageBatch(storeDir, "graft.image", ScreenStage.Perceptual)(
      offers(batch), batchId)

  /** A (media_id, content) batch as the stage's offers. */
  private def offers(batch: DataFrame): DataFrame =
    batch.select(col("media_id").as("doc_id"), col("content"))
}
