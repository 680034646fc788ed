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
  * and are admitted — near-dup screening is undefined on them, and the
  * exact screen upstream already holds.
  *
  * State is BOUNDED by admitted content: one logical (doc_id, sig) row —
  * k longs + id — per admitted doc, never text, kept as the bucketed,
  * bloom-fronted [[ScreenStore.Sigs]] store the composed [[CurationChain]]
  * also keeps, so a trigger reads candidate buckets instead of
  * re-banding the whole store.
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

  /** Screen one micro-batch of signatures: drop in-batch near-dup higher
    * ids (the greedy q71 keep-lowest rule), then drop everything with a
    * near-dup in the store. Pure batch-side function.
    */
  def admitBatch(batchSigs: DataFrame, storeSigs: DataFrame,
      bands: Int = 8, k: Int = 32, num: Int = 7, den: Int = 10,
      maxBucket: Int = 10000): DataFrame = {
    if (batchSigs.isEmpty) return batchSigs
    val inBatchDrops = sigSelfPairs(batchSigs, bands, k, num, den, maxBucket)
      .select(col("db").as("doc_id")).distinct()
    val survivors = batchSigs.join(inBatchDrops, Seq("doc_id"), "left_anti")
    if (storeSigs.isEmpty) survivors
    else {
      val dupIds =
        sigPairsAgainst(survivors, storeSigs, bands, k, num, den, maxBucket)
          .select(col("new_id").as("doc_id")).distinct()
      survivors.join(dupIds, Seq("doc_id"), "left_anti")
    }
  }

  /** The full trigger body for a parquet-backed signature store root:
    * sign the batch's (doc_id, text) rows, screen against the standing
    * store (missing/empty = bootstrap), admit the novel docs. Wire as
    * `stream.writeStream.foreachBatch(TextDedupStream.ingestInto(dir) _)`
    * — downstream of [[CorpusIngest]]'s quality + exact-hash gate when
    * composing the full curation ingest.
    *
    * `storeDir` is a root holding the [[ScreenStore.Sigs]] store (its
    * layout and front are described there): a trigger probes the front,
    * reads the candidates' buckets plus the tail, and screens via
    * [[sigPairsAgainstBands]], so its cost is bounded by the batch and
    * its true duplicates, not by store size.
    *
    * CONVERGENCE without a txn: the front delta is written BEFORE the
    * band rows, so every crash window leaves the front a safe SUPERSET
    * of the store, and the front file lands by rename
    * ([[StoreLayout.writeFrontLocal]]), so a crash mid-write leaves no
    * half-written blob file. A replayed batch re-screens against the
    * grown store and its rows reject as their own duplicates, so nothing
    * double-appends.
    *
    * `compactEvery` > 0 folds the tail into the main and rebuilds the
    * front every that-many triggers (keyed on batchId so restarts keep
    * the cadence).
    */
  def ingestInto(storeDir: String, bands: Int = 8, k: Int = 32,
      num: Int = 7, den: Int = 10, maxBucket: Int = 10000,
      compactEvery: Int = 0)(
      batch: DataFrame, batchId: Long): Unit = {
    val spark = batch.sparkSession
    ScreenStore.Sigs.dirs(storeDir).foreach(StoreCompact.recover(spark, _))
    val store = ScreenStore.Sigs.at(spark, storeDir,
      StoreLayout.ensureLayout(spark, storeDir, Seq("sigs")))
    // the signature agg is the expensive stage and foreachBatch re-executes
    // the plan per action (screen jobs + append) — sign once, persist the
    // k-long/row projection (the q226/SemDedupStream lesson)
    val signed = signatures(batch, k).persist()
    try {
      if (!signed.isEmpty) {
        val inDrops = sigSelfPairs(signed, bands, k, num, den, maxBucket)
          .select(col("db").as("doc_id")).distinct()
        val survivors = signed.join(inDrops, Seq("doc_id"), "left_anti")
        val admitted =
          if (!store.present) survivors
          else {
            val maybe = store.probe(
              store.keyed(bandize(survivors, "new_id", bands, k / bands)),
              Seq("new_id", "band", "bh"))
            store.candidates(Seq("doc_id", "sig", "band", "bh"), maybe) match {
              case None => survivors
              case Some(st) =>
                val dups = sigPairsAgainstBands(maybe, st, k, num, den,
                    maxBucket)
                  .select(col("new_id").as("doc_id")).distinct()
                survivors.join(dups, Seq("doc_id"), "left_anti")
            }
          }
        // the appends read nothing they grow, but the admitted plan DOES
        // read the store — truncate the lineage before writing
        val keepBands = store.tagged(bandize(admitted, "doc_id", bands, k / bands))
          .localCheckpoint()
        val keys = store.frontKeys(keepBands)
        if (keys.nonEmpty) {
          // front FIRST (superset-safe, see above), then rows
          val front = ScreenStore.Sigs.frontDir(storeDir).get
          val blobs = store.writeFront(front, keys)
          ScreenStore.Sigs.noteFront(spark, storeDir, blobs)
          store.writeDelta(keepBands, ScreenStore.Sigs.tail(storeDir), "append")
        }
      }
    } finally { signed.unpersist(); () }
    if (compactEvery > 0 && batchId > 0 && batchId % compactEvery == 0)
      store.compact()
  }
}
