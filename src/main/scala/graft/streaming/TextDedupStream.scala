package graft.streaming

import graft.llm.Dedup
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Streaming TEXT near-dup admission — [[SemDedupStream]] /
  * [[ImageDedupStream]]'s pattern on the text modality, composing the q42
  * MinHash machinery into the ingest path (r11 verdict item 3):
  * [[CorpusIngest]] rejects exact (normalized-content-hash) duplicates
  * only, so a lightly-edited crawl duplicate sailed through to the next
  * batch dedup; this screen rejects it AT INGEST, whether its original
  * arrived in the same trigger or was admitted fifty triggers ago.
  *
  * Mechanics: each micro-batch's docs get k-minima MinHash signatures
  * (ONE hash agg per trigger — the q42 kernel via [[Dedup]]), are
  * screened against themselves (banded candidates, greedy keep-lowest)
  * and against the STANDING signature store (band join with the q42
  * hot-bucket cap on the store side), and only novel docs' signatures
  * append. Verification uses the MinHash ESTIMATE — matching minima /
  * k ≥ num/den — on both sides of the screen: one admission rule, and
  * the store never needs text (the unbiased estimator is the standard
  * trade for bounding state by signatures instead of shingle sets;
  * TextDedupStreamSpec measures the planted-dup estimates clearing the
  * threshold). Docs too short to shingle (< 3 words) carry no signature
  * and leave no store row — near-dup screening is undefined on them, and
  * the exact screen upstream already holds.
  *
  * State is BOUNDED by admitted content: one logical (doc_id, sig) row —
  * k longs + id — per admitted doc, never text, kept as the bucketed,
  * bloom-fronted [[ScreenStore.Sigs]] store the composed [[CurationChain]]
  * also keeps, so a trigger reads candidate buckets instead of
  * re-banding the whole store. The screen itself is the chain's
  * [[ScreenStage.Sig]]; this object holds its signature and pair kernels.
  */
object TextDedupStream {

  /** (doc_id, text) → (doc_id, sig ARRAY<LONG>[k]) via the shared q42
    * signature kernel — ONE definition of the minima (seeded
    * permutations), so batch dedup and streaming admission agree.
    */
  def signatures(docs: DataFrame, k: Int = 32): DataFrame =
    Dedup.minhashSignatures(docs, "text", "doc_id", k)
      .select(col("sid").as("doc_id"),
        array((0 until k).map(i => col(s"m$i")): _*).as("sig"))

  /** Band rows from signature arrays: the q42 band layout on the array
    * form, through the ONE shared layout definition
    * ([[Dedup.bandStructs]] — r12 verdict item 3: the batch and
    * streaming paths screen the same corpus, so the recall-critical
    * minima→band grouping must have a single source of truth).
    * Public as the STORE row shape: [[graft.streaming.CurationChain]]
    * persists the signature store pre-banded and bucketed by the
    * (band, bh) join key, so a trigger's screen reads candidate buckets
    * instead of re-exploding (and re-scanning) the whole store.
    */
  def bandRows(sigs: DataFrame, idAs: String, bands: Int = 8,
      k: Int = 32): DataFrame = {
    require(k % bands == 0, s"bands ($bands) must divide k ($k)")
    bandize(sigs, idAs, bands, k / bands)
  }

  private def bandize(sigs: DataFrame, idAs: String, bands: Int,
      rows: Int): DataFrame = {
    val bandCols =
      Dedup.bandStructs(i => element_at(col("sig"), i + 1), bands, rows)
    sigs.select(col("doc_id").as(idAs), col("sig"),
        explode(array(bandCols: _*)).as("bk"))
      .select(col(idAs), col("sig"), col("bk.band").as("band"),
        col("bk.bh").as("bh"))
  }

  /** Matching minima between two equal-length signature arrays — k times
    * the unbiased MinHash Jaccard estimate.
    */
  private def sigMatches(a: Column, b: Column): Column =
    aggregate(zip_with(a, b, (x, y) => when(x === y, 1).otherwise(0)),
      lit(0), _ + _)

  /** Near-dup pairs BETWEEN `newSigs` and `storeSigs` (both
    * (doc_id, sig)): candidates share a band bucket (store side
    * hot-bucket capped — an over-cap band value is non-discriminative
    * and alone would put |bucket|·|batch| candidates on one reducer; a
    * true pair keeps its other bands), verified by the signature
    * estimate matches·den ≥ num·k. Returns (new_id, store_id, matches).
    */
  def sigPairsAgainst(newSigs: DataFrame, storeSigs: DataFrame,
      bands: Int = 8, k: Int = 32, num: Int = 7, den: Int = 10,
      maxBucket: Int = 10000): DataFrame = {
    require(k % bands == 0, s"bands ($bands) must divide k ($k)")
    sigPairsAgainstBands(bandize(newSigs, "new_id", bands, k / bands),
      bandize(storeSigs, "store_id", bands, k / bands)
        .select(col("store_id").as("doc_id"), col("sig"), col("band"), col("bh")),
      k, num, den, maxBucket)
  }

  /** [[sigPairsAgainst]] when the store side is ALREADY band rows
    * (doc_id, sig, band, bh) — the bucketed store layout persists them
    * that way, pruned to the batch's candidate buckets before this call.
    * The store side is first restricted to the batch's exact (band, bh)
    * keys (a filter ON the group key, so the hot-bucket cap still counts
    * whole buckets), then capped, then verified by the signature
    * estimate. Returns (new_id, store_id, matches).
    */
  def sigPairsAgainstBands(newBands: DataFrame, storeBands: DataFrame,
      k: Int = 32, num: Int = 7, den: Int = 10,
      maxBucket: Int = 10000): DataFrame = {
    val nB = newBands.select(col("new_id"),
      col("sig").as("sig_n"), col("band"), col("bh"))
    val w = org.apache.spark.sql.expressions.Window.partitionBy("band", "bh")
    val storeB = storeBands
      .select(col("doc_id").as("store_id"), col("sig").as("sig_s"),
        col("band"), col("bh"))
      .join(nB.select("band", "bh").distinct(), Seq("band", "bh"), "left_semi")
      .withColumn("bsz", count(lit(1)).over(w))
      .filter(col("bsz") <= maxBucket).drop("bsz")
    nB.join(storeB, Seq("band", "bh"))
      .select("new_id", "store_id", "sig_n", "sig_s").distinct()
      .select(col("new_id"), col("store_id"),
        sigMatches(col("sig_n"), col("sig_s")).as("matches"))
      .filter(col("matches") * den >= num * k)
  }

  /** In-batch near-dup pairs (da < db) under the same band + estimate
    * rule — the self-join form of [[sigPairsAgainst]].
    */
  def sigSelfPairs(sigs: DataFrame, bands: Int = 8, k: Int = 32,
      num: Int = 7, den: Int = 10, maxBucket: Int = 10000): DataFrame = {
    require(k % bands == 0, s"bands ($bands) must divide k ($k)")
    val rows = k / bands
    val w = org.apache.spark.sql.expressions.Window.partitionBy("band", "bh")
    val sized = bandize(sigs, "doc_id", bands, rows)
      .withColumn("bsz", count(lit(1)).over(w))
      .filter(col("bsz") <= maxBucket).drop("bsz")
    sized.as("a").join(sized.as("b"),
        col("a.band") === col("b.band") && col("a.bh") === col("b.bh") &&
          col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("da"), col("b.doc_id").as("db"),
        col("a.sig").as("sig_a"), col("b.sig").as("sig_b"))
      .distinct()
      .select(col("da"), col("db"),
        sigMatches(col("sig_a"), col("sig_b")).as("matches"))
      .filter(col("matches") * den >= num * k)
  }

  /** The full trigger body for a [[ScreenStore.Sigs]] store root: the
    * chain's near-dup stage ([[ScreenStage.Sig]]) as a one-stage
    * [[ScreenStage.standalone]] fold over the batch's (doc_id, text) rows
    * — the novel docs' signatures and front delta publish through
    * [[StoreTxn]] on the [[CorpusRoot]] spine, so a trigger's cost is
    * bounded by the batch and its true duplicates and a replay is
    * exactly-once. Wire as
    * `stream.writeStream.foreachBatch(TextDedupStream.ingestInto(dir) _)`,
    * downstream of [[CorpusIngest]]'s gate when composing the full
    * ingest. `compactEvery` > 0 folds the tail into the main and rebuilds
    * the front every that-many triggers. Jobs are labelled
    * `graft.text <stage>` ([[JobLabel]]).
    */
  def ingestInto(storeDir: String, compactEvery: Int = 0)(
      batch: DataFrame, batchId: Long): Unit =
    ScreenStage.standalone(storeDir, "graft.text", ScreenStage.Sig,
      compactEvery)(batch.select("doc_id", "text"), batchId)

  /** Stage and seal a batch without publishing it — where the
    * crash-replay spec stops.
    */
  private[streaming] def stageBatch(storeDir: String)(
      batch: DataFrame, batchId: Long): Unit =
    ScreenStage.stageBatch(storeDir, "graft.text", ScreenStage.Sig)(
      batch.select("doc_id", "text"), batchId)
}
