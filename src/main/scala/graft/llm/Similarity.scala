package graft.llm

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Similarity search over an embedding column (SURVEY.md §2B):
  * brute-force cosine top-k as the exact baseline, and a random-hyperplane
  * LSH-bucketed variant as the scale path.
  *
  * Dot products use `zip_with`+`aggregate` higher-order functions — a
  * sequential fold in array order, so double results are deterministic.
  *
  * Scale: brute force broadcasts the (small) query set and scans candidates
  * once per partition — O(|Q|·N) work but a single pass over N with no
  * all-to-all shuffle; the window top-k then shuffles only |Q|·N scored ids.
  * The LSH variant cuts the scored set to same-bucket candidates; recall is
  * tested (LshSpec), not assumed.
  */
object Similarity {

  /** Sequential-fold dot product of two array<double> columns. */
  def dot(a: Column, b: Column): Column =
    aggregate(zip_with(a, b, (x, y) => x * y), lit(0.0d), (acc, v) => acc + v)

  def norm(a: Column): Column =
    sqrt(aggregate(transform(a, x => x * x), lit(0.0d), (acc, v) => acc + v))

  /** Cosine similarity via the codegen'd [[CosineSim]] kernel — one fused
    * JIT'd pass instead of three interpreted HOF folds, bit-identical to
    * `dot(a,b)/(norm(a)*norm(b))` (ascending-index accumulation).
    */
  def cosine(a: Column, b: Column): Column = CosineSim(a, b)

  private def asDouble(c: Column): Column = c.cast(ArrayType(DoubleType))

  /** Exact cosine top-k: for each query vector, the k nearest other vectors.
    * Emits (query_id, rank, neighbor_id) — ids and integer ranks only, so
    * results are engine-portable (scores stay double-deterministic per pair
    * but tie-ordering across engines is resolved by the id tie-break).
    *
    * Scale: scoring is one broadcast-queries pass over the candidates (no
    * all-to-all); the scored rows are then compacted to per-partition
    * top-k heaps before the global rank, so the only shuffle carries
    * |Q|·k·partitions rows instead of |Q|·N — the global top-k is a subset
    * of the union of partition top-ks, so results are exactly unchanged.
    */
  def bruteForceTopK(queries: DataFrame, candidates: DataFrame, k: Int): DataFrame =
    bruteForceTopKScored(queries, candidates, k)
      .select("query_id", "rank", "neighbor_id")

  /** [[bruteForceTopK]] keeping the cosine column — (query_id, rank,
    * neighbor_id, cos). The margin-scoring consumers (q221 bitext mining)
    * need the score, not just the rank; same contract and plan otherwise.
    */
  def bruteForceTopKScored(queries: DataFrame, candidates: DataFrame, k: Int): DataFrame = {
    val spark = queries.sparkSession
    import spark.implicits._
    val q = queries.select(col("vec_id").as("query_id"), asDouble(col("embedding")).as("qv"))
    val c = candidates.select(col("vec_id").as("neighbor_id"), asDouble(col("embedding")).as("cv"))
    val scored = broadcast(q).crossJoin(c)
      .filter(col("query_id") =!= col("neighbor_id"))
      .select(col("query_id"), col("neighbor_id"), cosine(col("qv"), col("cv")).as("cos"))
    // Max of this ordering = the WORST kept neighbor (lowest cos, then
    // highest id) — the same total order the final window rank uses.
    val worstFirst: Ordering[(Double, Long)] =
      Ordering.by { case (cos, nid) => (-cos, nid) }
    val compacted = scored.as[(Long, Long, Double)].mapPartitions { it =>
      val heaps = scala.collection.mutable.Map
        .empty[Long, scala.collection.mutable.PriorityQueue[(Double, Long)]]
      it.foreach { case (qid, nid, cos) =>
        val h = heaps.getOrElseUpdate(qid,
          scala.collection.mutable.PriorityQueue.empty[(Double, Long)](worstFirst))
        if (h.size < k) h.enqueue((cos, nid))
        else if (worstFirst.compare((cos, nid), h.head) < 0) {
          h.dequeue(); h.enqueue((cos, nid))
        }
      }
      heaps.iterator.flatMap { case (qid, h) =>
        h.iterator.map { case (cos, nid) => (qid, nid, cos) }
      }
    }.toDF("query_id", "neighbor_id", "cos")
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("query_id").orderBy(col("cos").desc, col("neighbor_id"))
    compacted.select(col("query_id"), col("neighbor_id"), col("cos"),
        row_number().over(w).as("rank"))
      .filter(col("rank") <= k)
      .select("query_id", "rank", "neighbor_id", "cos")
  }

  /** Exact embedding-cosine near-dup pairs: every (a < b) pair whose cosine
    * meets the threshold, computed as a fully distributed **block-pair
    * (triangle) join** — the classic 1-bucket-theta layout. Each vector is
    * assigned block p = vec_id mod B and replicated into the B tasks
    * {(min(p,t), max(p,t)) : t < B}; every unordered vector pair then meets
    * in exactly one of the B(B+1)/2 tasks, where a JIT'd loop runs the dot
    * products (HOF folds are interpreted, ~10x slower at this shape).
    *
    * Scale: no driver collect, no full-matrix broadcast — one shuffle of
    * N·B replicated rows into independent tasks holding ≤ 2N/B vectors
    * each; `blocks` dials task memory vs replication (B = √(2N·dim·8 /
    * taskMem) keeps a task in budget at any N). The O(N²) comparison cost
    * is inherent to the *exact* operator — this is the oracle baseline; at
    * 100 TB use the LSH-bucketed [[lshTopK]] family instead. The cosine is
    * evaluated as dot/(sqrt(aa)*sqrt(bb)) with ascending-index accumulation
    * to mirror the SQL oracle's arithmetic exactly.
    */
  def cosineNearDupPairs(emb: DataFrame, threshold: Double, blocks: Int = 8): DataFrame = {
    require(blocks > 0, "blocks must be positive")
    val spark = emb.sparkSession
    import spark.implicits._
    val b = blocks
    val replicated = emb.select(col("vec_id"), asDouble(col("embedding")))
      .as[(Long, Seq[Double])]
      .flatMap { case (id, v) =>
        val arr = v.toArray
        val p = java.lang.Math.floorMod(id, b.toLong).toInt
        (0 until b).map { t =>
          (math.min(p, t) * b + math.max(p, t), p, id, arr)
        }
      }
    replicated.groupByKey(_._1).flatMapGroups { (key, it) =>
      val blockI = key / b
      val blockJ = key % b
      val rows = it.map { case (_, p, id, v) =>
        var aa = 0.0; var k = 0
        while (k < v.length) { aa += v(k) * v(k); k += 1 }
        (p, id, v, math.sqrt(aa))
      }.toArray
      val out = scala.collection.mutable.ArrayBuffer.empty[(Long, Long)]
      def score(a: (Int, Long, Array[Double], Double), c: (Int, Long, Array[Double], Double)): Unit = {
        val (va, vc) = (a._3, c._3)
        var dot = 0.0; var k = 0
        while (k < va.length) { dot += va(k) * vc(k); k += 1 }
        if (dot / (a._4 * c._4) >= threshold)
          out += ((math.min(a._2, c._2), math.max(a._2, c._2)))
      }
      if (blockI == blockJ) {
        var x = 0
        while (x < rows.length) {
          var y = x + 1
          while (y < rows.length) { score(rows(x), rows(y)); y += 1 }
          x += 1
        }
      } else {
        val left = rows.filter(_._1 == blockI)
        val right = rows.filter(_._1 == blockJ)
        left.foreach(a => right.foreach(c => score(a, c)))
      }
      out
    }.toDF("da", "db")
  }

  /** Deterministic random hyperplanes: `tables` signatures of `bits` planes
    * each, components ±1 from a fixed-seed RNG.
    */
  private def hyperplanes(tables: Int, bits: Int, dim: Int): Seq[Seq[Array[Double]]] = {
    val rnd = new scala.util.Random(42)
    Seq.fill(tables)(Seq.fill(bits)(Array.fill(dim)(if (rnd.nextBoolean()) 1.0 else -1.0)))
  }

  /** LSH bucket signature for one table: an int whose bit j is
    * sign(v · plane_j), via the codegen'd [[HyperplaneSig]] kernel (the
    * per-bit HOF-fold formulation ran `tables × bits` interpreted lambdas
    * per row; the kernel is one fused static call, same doubles).
    */
  private def signature(v: Column, planes: Seq[Array[Double]]): Column =
    HyperplaneSig(v, planes.toArray)

  /** Past this cell count the driver's scalar Lloyd's loop (nlist ×
    * sampleSize dots per iteration on one core) stops being metadata-
    * scale work; [[trainCentroids]] switches to the distributed trainer
    * over the same bounded sample.
    */
  final val ScalarTrainerCeiling = 1024

  /** Spherical k-means over a deterministic bounded sample — the IVF coarse
    * quantizer trainer. The sample (`sampleSize` rows picked by id hash) is
    * collected to the driver: this is bounded *metadata*-scale work
    * (sampleSize × dim doubles, independent of N), the standard IVF
    * training shape — the data table itself is never collected. Assignment
    * is argmax-dot over unit vectors; empty clusters keep their previous
    * centroid; fixed iteration count keeps training deterministic.
    *
    * Above [[ScalarTrainerCeiling]] cells the same bounded sample trains
    * DISTRIBUTED ([[Clustering.kmeansCentroids]]: broadcast-argmax
    * assignment + decimal-snapped (cell, dim) update — one job per
    * iteration over sampleSize cached rows), so the cell count can keep
    * following the corpus instead of freezing at a driver-loop ceiling.
    */
  def trainCentroids(candidates: DataFrame, nlist: Int,
      sampleSize: Int = 2048, iters: Int = 8): Array[Array[Double]] = {
    if (nlist > ScalarTrainerCeiling)
      return trainCentroidsDistributed(candidates, nlist, sampleSize, iters)
    val sample = collectSample(candidates, sampleSize)
    require(sample.nonEmpty, "cannot train IVF centroids on an empty table")
    lloydScalar(sample, nlist, iters)
  }

  private def l2normalize(v: Array[Double]): Array[Double] = {
    var s = 0.0; var i = 0
    while (i < v.length) { s += v(i) * v(i); i += 1 }
    val n = math.sqrt(s)
    if (n == 0) v else v.map(_ / n)
  }

  /** The deterministic xxhash64-picked, L2-normalized training sample. */
  private def collectSample(candidates: DataFrame,
      sampleSize: Int): Array[Array[Double]] = {
    val spark = candidates.sparkSession
    import spark.implicits._
    candidates
      .select(col("vec_id"), asDouble(col("embedding")).as("v"))
      .filter(col("v").isNotNull) // a null vector joins no cell
      .orderBy(xxhash64(col("vec_id")), col("vec_id"))
      .limit(sampleSize)
      .select("v").as[Seq[Double]].collect()
      .map(v => l2normalize(v.toArray))
  }

  /** Scalar spherical Lloyd's over an in-memory sample: spread init,
    * argmax-dot assignment (first max wins), empty clusters keep their
    * previous centroid, fixed iterations — bit-deterministic.
    */
  private def lloydScalar(sample: Array[Array[Double]], nlist: Int,
      iters: Int): Array[Array[Double]] = {
    val step = math.max(1, sample.length / nlist)
    var centroids = Array.tabulate(nlist)(i => sample((i * step) % sample.length).clone())
    var it = 0
    while (it < iters) {
      val sums = Array.fill(nlist)(new Array[Double](sample.head.length))
      val counts = new Array[Int](nlist)
      sample.foreach { v =>
        var best = 0; var bestDot = Double.NegativeInfinity; var c = 0
        while (c < nlist) {
          var d = 0.0; var i = 0
          while (i < v.length) { d += v(i) * centroids(c)(i); i += 1 }
          if (d > bestDot) { bestDot = d; best = c }
          c += 1
        }
        var i = 0
        while (i < v.length) { sums(best)(i) += v(i); i += 1 }
        counts(best) += 1
      }
      centroids = Array.tabulate(nlist)(c =>
        if (counts(c) == 0) centroids(c) else l2normalize(sums(c)))
      it += 1
    }
    centroids
  }

  /** TWO-LEVEL coarse-quantizer trainer (the dial past the flat-cell
    * clamp the r10 A/B measured): k1 coarse centroids over the bounded
    * sample, then k2 sub-centroids per branch over that branch's sample
    * members — assignment then costs k1 + k2 dots per vector for
    * k1·k2 effective cells (vs the flat k1·k2 dots the A/B showed going
    * superlinear). Driver work stays sample-bounded: the coarse train
    * plus k1 sub-trains over disjoint member subsets ≈ two flat trains.
    * An empty branch inherits its coarse centroid as every sub.
    */
  def trainTwoLevel(candidates: DataFrame, k1: Int, k2: Int,
      sampleSize: Int = 2048, iters: Int = 8)
      : (Array[Array[Double]], Array[Array[Array[Double]]]) = {
    val sample = collectSample(candidates, sampleSize)
    require(sample.nonEmpty, "cannot train IVF centroids on an empty table")
    val coarse = lloydScalar(sample, k1, iters)
    val members = Array.fill(k1)(Vector.newBuilder[Array[Double]])
    sample.foreach { v =>
      var best = 0; var bestDot = Double.NegativeInfinity; var c = 0
      while (c < k1) {
        var d = 0.0; var i = 0
        while (i < v.length) { d += v(i) * coarse(c)(i); i += 1 }
        if (d > bestDot) { bestDot = d; best = c }
        c += 1
      }
      members(best) += v
    }
    val subs = Array.tabulate(k1) { b =>
      val m = members(b).result()
      if (m.isEmpty) Array.fill(k2)(coarse(b).clone())
      else lloydScalar(m.toArray, k2, iters)
    }
    (coarse, subs)
  }

  /** The large-nlist trainer: the same xxhash64-picked `sampleSize`-row
    * sample, L2-normalized in SQL (spherical k-means sums unit vectors,
    * matching the scalar path), cached once, then full Lloyd's over it via
    * [[Clustering.kmeansCentroids]] — each iteration is ONE distributed
    * job (k×dim broadcast argmax + decimal (cell, dim) sums), never a
    * driver loop over nlist × sampleSize dots.
    */
  private def trainCentroidsDistributed(candidates: DataFrame, nlist: Int,
      sampleSize: Int, iters: Int): Array[Array[Double]] = {
    val norm = sqrt(aggregate(col("v"),
      lit(0.0), (acc, x) => acc + x * x))
    val sample = candidates
      .select(col("vec_id"), asDouble(col("embedding")).as("v"))
      .filter(col("v").isNotNull) // a null vector joins no cell
      .orderBy(xxhash64(col("vec_id")), col("vec_id"))
      .limit(sampleSize)
      .withColumn("v",
        when(norm > 0, transform(col("v"), x => x / norm)).otherwise(col("v")))
      // cache: kmeans runs iters+1 jobs over this — without it each one
      // would re-run the sample's TakeOrdered over the full corpus
      .persist()
    try {
      require(!sample.isEmpty, "cannot train IVF centroids on an empty table")
      Clustering.kmeansCentroids(sample, "vec_id", "v", nlist, iters)
    } finally { sample.unpersist(); () }
  }

  /** IVF ANN: a k-means-trained coarse quantizer of `nlist` centroids
    * ([[trainCentroids]]); every vector joins the inverted list of its
    * argmax-dot centroid, queries probe their `nprobe` best centroids and
    * score only those lists — the classic IVF-Flat recall/throughput dial.
    */
  def ivfTopKScored(queries: DataFrame, candidates: DataFrame, k: Int,
      nlist: Int = 16, nprobe: Int = 12, dim: Int = 64): DataFrame = {
    // nprobe=12/nlist=16 measures recall@5 of 0.92/1.00/1.00 at
    // sf0.001/sf0.01/sf0.1g (r6 sweep) at the same bench cost as the old
    // 8-probe default's 0.80 — probing multiplies only the query side.
    // Scale posture: nlist and nprobe are USER dials here, scaled
    // together (FAISS practice: nlist ~ sqrt(N) and nprobe holding the
    // wanted recall). They are not auto-sized like semDedupPairs' cells
    // because recall depends on their RATIO — silently growing nlist
    // under a fixed nprobe would quietly crater recall. nlist > 1024
    // trains distributed (trainCentroids' dispatch), so large codebooks
    // are one parameter away, not a refactor.
    val centroids: Array[Array[Double]] = trainCentroids(candidates, nlist)
    // Cell assignment and probe lists are codegen'd expressions — the
    // candidate side runs one static argmax-dot call per row with no
    // Seq[Double] UDF boxing (the N-row hot path at scale).
    val c = candidates.select(col("vec_id").as("neighbor_id"),
      asDouble(col("embedding")).as("cv"))
      .withColumn("cell", IvfCell(col("cv"), centroids))
    val q = queries.select(col("vec_id").as("query_id"),
      asDouble(col("embedding")).as("qv"))
      .withColumn("cell", explode(IvfProbe(col("qv"), centroids, nprobe)))
    val scored = q.join(c, "cell")
      .filter(col("query_id") =!= col("neighbor_id"))
      .select(col("query_id"), col("neighbor_id"), cosine(col("qv"), col("cv")).as("cos"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("query_id").orderBy(col("cos").desc, col("neighbor_id"))
    scored
      .select(col("query_id"), col("neighbor_id"), col("cos"),
        row_number().over(w).as("rank"))
      .filter(col("rank") <= k)
      .select("query_id", "rank", "neighbor_id", "cos")
  }

  /** [[ivfTopKScored]] without the score column — the original IVF-Flat
    * contract (query_id, rank, neighbor_id).
    */
  def ivfTopK(queries: DataFrame, candidates: DataFrame, k: Int,
      nlist: Int = 16, nprobe: Int = 12, dim: Int = 64): DataFrame =
    ivfTopKScored(queries, candidates, k, nlist, nprobe, dim)
      .select("query_id", "rank", "neighbor_id")

  /** SemDeDup-style cluster-scoped semantic near-dup pairs (the public
    * SemDeDup recipe: k-means the embedding space, then deduplicate only
    * within clusters — Abbas et al. 2023, arXiv:2303.09540): vectors are
    * assigned to their argmax-dot centroid ([[trainCentroids]] +
    * [[IvfCell]], the same coarse quantizer as [[ivfTopK]]) and every
    * within-cluster (da < db) pair with cosine ≥ threshold is emitted.
    *
    * This is the SCALE path beside the exact [[cosineNearDupPairs]]
    * oracle: pair work drops from O(N²) to Σ n_c² over cluster sizes —
    * at corpus scale `nlist` is sized so clusters stay task-sized (the
    * paper runs 100k clusters at web scale), and the join is a plain
    * cell-key shuffle, never all-to-all. `probes > 1` assigns each vector
    * to its `probes` nearest cells (replication ×probes), recovering
    * pairs that straddle a Voronoi boundary — the recall/cost dial,
    * measured in SemDedupSpec. Precision is 1 by construction: the
    * within-cluster cosine is exact, so every emitted pair is a true
    * near-dup pair.
    *
    * `nlist = 0` (the default) sizes the cluster count FROM the corpus:
    * ceil(probes·N / 512) cells so each holds ~512 assignments and
    * within-cell pair work stays N·cellSize instead of going quadratic
    * as N outgrows a fixed cell count — a fixed nlist=16 measured 570×
    * at the 100× step (PERFORMANCE.md r10) before this. Up to 1024
    * cells the codebook is FLAT; past that it switches to the TWO-LEVEL
    * quantizer ([[trainTwoLevel]], √wanted × √wanted), because more
    * FLAT cells lose: assignment costs N·k dots, so the unclamped flat
    * rule measured 12.8 s vs 4.6 s clamped at the q208 100× step —
    * while the two-level codebook assigns at k1+k2 dots and measured
    * 4.4 s vs 6.8 s (q128 sf10) and 2.5 s vs 3.5 s (q208) AGAINST the
    * clamp, the best of all three measured designs. The effective-cell
    * cap is 16384 (128+128 dots per vector); past ~8.4M corpus vectors
    * the next dial is a third level or a graph-quantizer assignment. At
    * oracle scale (≤2k vectors) the auto size IS 16 and flat, so
    * small-sf outputs are byte-identical to the old default. A forced
    * `nlist > 1` always trains flat ([[trainCentroids]] goes distributed
    * past [[ScalarTrainerCeiling]]); `nlist = 1` trains nothing (one
    * cell, the exact all-pairs screen, its input side broadcast);
    * `twoLevel > 0` forces a k1 = k2 = twoLevel two-level codebook.
    */
  /** The trained cell map behind the SemDeDup operators: flat centroids
    * up to the clamp, a two-level codebook past it (and on request).
    */
  private sealed trait CellModel {
    def maxProbes: Int
    def assign(v: Column): Column
    def probeAssign(v: Column, probes: Int): Column
  }
  private final case class FlatModel(centroids: Array[Array[Double]])
      extends CellModel {
    def maxProbes: Int = centroids.length
    def assign(v: Column): Column = IvfCell(v, centroids)
    def probeAssign(v: Column, probes: Int): Column =
      IvfProbe(v, centroids, probes)
  }
  /** `nlist = 1`: ONE cell holding every non-null vector — the exact
    * all-pairs screen. Nothing to train (a single trained centroid sends
    * every vector to cell 0 anyway, and the training sample was a collect
    * job over the input); a dimension mismatch still fails loudly, in
    * [[cosine]] instead of in the cell assignment.
    */
  private case object OneCell extends CellModel {
    def maxProbes: Int = 1
    def assign(v: Column): Column = when(v.isNotNull, lit(0))
    def probeAssign(v: Column, probes: Int): Column =
      when(v.isNotNull, array(lit(0)))
  }
  private final case class TwoLevelModel(coarse: Array[Array[Double]],
      subs: Array[Array[Array[Double]]]) extends CellModel {
    def maxProbes: Int = coarse.length // probes fan over COARSE branches
    def assign(v: Column): Column = Ivf2Cell(v, coarse, subs)
    def probeAssign(v: Column, probes: Int): Column =
      Ivf2Probe(v, coarse, subs, probes)
  }

  /** Auto-sized cell map for a corpus of `n` vectors: flat
    * ceil(probes·n/512) cells clamped at 1024 (the measured balance
    * point — see the nlist scaladoc), switching to a √wanted × √wanted
    * TWO-LEVEL codebook when the target outgrows the clamp, so cells
    * keep following the corpus at k1+k2 assignment cost. `twoLevel > 0`
    * forces a k1 = k2 = twoLevel model (the test/measurement hook).
    */
  private def cellModel(corpus: DataFrame, n: Long, probes: Int,
      twoLevel: Int): CellModel = {
    if (twoLevel > 0)
      return TwoLevelModel.tupled(trainTwoLevel(corpus, twoLevel, twoLevel,
        sampleSize = math.max(2048, 4 * twoLevel * twoLevel)))
    val wanted = math.max(16L, (probes.toLong * n + 511L) / 512L)
    if (wanted <= 1024L)
      FlatModel(trainCentroids(corpus, wanted.toInt,
        sampleSize = math.max(2048, 4 * wanted.toInt)))
    else {
      val s = math.ceil(math.sqrt(math.min(wanted, 16384L).toDouble)).toInt
      TwoLevelModel.tupled(trainTwoLevel(corpus, s, s,
        sampleSize = math.min(32768, math.max(2048, 4 * s * s))))
    }
  }

  def semDedupPairs(emb: DataFrame, threshold: Double, nlist: Int = 0,
      probes: Int = 1, twoLevel: Int = 0): DataFrame = {
    val model =
      if (nlist == 1) OneCell
      else if (nlist > 0) FlatModel(trainCentroids(emb, nlist,
        sampleSize = math.max(2048, 4 * nlist)))
      else cellModel(emb, emb.count(), probes, twoLevel)
    require(probes >= 1 && probes <= model.maxProbes,
      s"probes $probes out of [1, ${model.maxProbes}]")
    val assigned = emb.select(col("vec_id"), asDouble(col("embedding")).as("v"))
      .withColumn("cell",
        if (probes <= 1) model.assign(col("v"))
        else explode(model.probeAssign(col("v"), probes)))
    val a = assigned.select(col("cell"), col("vec_id").as("da"), col("v").as("va"))
    val b = assigned.select(col("cell"), col("vec_id").as("db"), col("v").as("vb"))
    // one cell: every pair shares the constant key, so a shuffle would
    // send both sides to one task — broadcast instead (the one-cell mode
    // is for inputs under one cell's worth of vectors)
    val pairs = a.join(if (model == OneCell) broadcast(b) else b, "cell")
      .filter(col("da") < col("db"))
      .filter(cosine(col("va"), col("vb")) >= threshold)
      .select("da", "db")
    // multi-assignment can meet the same pair in more than one cell
    if (probes > 1) pairs.distinct() else pairs
  }

  /** Incremental SemDeDup: semantic near-dup pairs BETWEEN a new batch
    * and the standing corpus — the embedding-side counterpart of
    * [[Dedup.jaccardPairsAgainst]], the production dedup mode at
    * 100 TB (each ingest batch probes the standing corpus; corpus-vs-
    * corpus work was already done when the corpus was built).
    *
    * Cells come from centroids trained on the CORPUS side — the standing
    * corpus defines the embedding space; a per-trigger batch is too
    * small and too skewed to retrain on. Both sides assign to cells
    * (batch side multi-probes for boundary recall), and only new×corpus
    * pairs within a cell are scored. `nlist = 0` auto-sizes from the
    * corpus exactly like [[semDedupPairs]]; `nlist = 1` is one untrained
    * cell = the exact cross cosine join with the corpus side broadcast,
    * the mode for corpora under one cell's worth of vectors and the
    * small-sf oracle mode.
    */
  def semDedupPairsAgainst(newEmb: DataFrame, corpusEmb: DataFrame,
      threshold: Double, nlist: Int = 0, probes: Int = 1,
      twoLevel: Int = 0): DataFrame = {
    val model =
      if (nlist == 1) OneCell
      else if (nlist > 0) FlatModel(trainCentroids(corpusEmb, nlist,
        sampleSize = math.max(2048, 4 * nlist)))
      else cellModel(corpusEmb, corpusEmb.count(), probes, twoLevel)
    require(probes >= 1 && probes <= model.maxProbes,
      s"probes $probes out of [1, ${model.maxProbes}]")
    def assign(e: DataFrame, useProbes: Int) =
      e.select(col("vec_id"), asDouble(col("embedding")).as("v"))
        .withColumn("cell",
          if (useProbes <= 1) model.assign(col("v"))
          else explode(model.probeAssign(col("v"), useProbes)))
    // only the (small) batch side replicates ×probes; the corpus side
    // stays single-assigned, so corpus shuffle volume is N, not N·probes
    val a = assign(newEmb, probes)
      .select(col("cell"), col("vec_id").as("new_id"), col("v").as("va"))
    val b = assign(corpusEmb, 1)
      .select(col("cell"), col("vec_id").as("corpus_id"), col("v").as("vb"))
    val pairs = a.join(if (model == OneCell) broadcast(b) else b, "cell")
      .filter(cosine(col("va"), col("vb")) >= threshold)
      .select("new_id", "corpus_id")
    if (probes > 1) pairs.distinct() else pairs
  }

  /** The greedy SemDeDup keep decision over [[semDedupPairs]]: drop the
    * higher id of every near-dup pair (deterministic one-pass, matching
    * the exact-path keep-list q71 semantics).
    */
  def semDedupDrops(emb: DataFrame, threshold: Double, nlist: Int = 0,
      probes: Int = 1): DataFrame =
    semDedupPairs(emb, threshold, nlist, probes)
      .select(col("db").as("vec_id")).distinct()

  /** Per-subspace L2 k-means over a deterministic bounded sample — the PQ
    * codebook trainer (Jégou et al. 2011). Vectors are L2-normalized first
    * (so squared-L2 ranking ≡ cosine ranking: ‖a−b‖² = 2−2·cos on unit
    * vectors), then split into `m` contiguous sub-vectors; each subspace
    * gets its own `ksub`-centroid codebook. Like [[trainCentroids]], the
    * sample is metadata-scale (sampleSize × dim doubles, independent of N)
    * and the training is deterministic: hash-picked sample, spread init,
    * fixed iterations, empty cells keep their previous centroid.
    */
  def trainPqCodebooks(candidates: DataFrame, m: Int = 8, ksub: Int = 256,
      sampleSize: Int = 2048, iters: Int = 8): Array[Array[Array[Double]]] = {
    val sample = collectSample(candidates, sampleSize)
    require(sample.nonEmpty, "cannot train PQ codebooks on an empty table")
    pqKmeans(sample, m, ksub, iters)
  }

  /** The per-subspace L2 k-means shared by [[trainPqCodebooks]] (coding
    * raw unit vectors) and [[trainResidualCodebooks]] (coding IVF
    * residuals): spread init over the sample, fixed iterations, empty
    * cells keep their previous centroid — fully deterministic.
    */
  private def pqKmeans(sample: Array[Array[Double]], m: Int, ksub: Int,
      iters: Int): Array[Array[Array[Double]]] = {
    val dim = sample.head.length
    require(dim % m == 0, s"embedding dim $dim not divisible by m=$m subspaces")
    val dsub = dim / m
    Array.tabulate(m) { s =>
      val sub = sample.map(v => java.util.Arrays.copyOfRange(v, s * dsub, (s + 1) * dsub))
      val step = math.max(1, sub.length / ksub)
      var cents = Array.tabulate(ksub)(i => sub((i * step) % sub.length).clone())
      var it = 0
      while (it < iters) {
        val sums = Array.fill(ksub)(new Array[Double](dsub))
        val counts = new Array[Int](ksub)
        sub.foreach { v =>
          var best = 0; var bestD = Double.PositiveInfinity; var c = 0
          while (c < ksub) {
            var d = 0.0; var i = 0
            while (i < dsub) { val x = v(i) - cents(c)(i); d += x * x; i += 1 }
            if (d < bestD) { bestD = d; best = c }
            c += 1
          }
          var i = 0
          while (i < dsub) { sums(best)(i) += v(i); i += 1 }
          counts(best) += 1
        }
        cents = Array.tabulate(ksub)(c =>
          if (counts(c) == 0) cents(c) else sums(c).map(_ / counts(c)))
        it += 1
      }
      cents
    }
  }

  /** Residual PQ codebooks for IVFADC (Jégou et al. 2011 §IV): the same
    * deterministic bounded sample, unit-normalized, assigned to its
    * argmax-dot coarse centroid; per-subspace k-means then runs on the
    * residuals `unit − centroid` — the vectors the IVF-PQ index codes.
    */
  def trainResidualCodebooks(candidates: DataFrame, centroids: Array[Array[Double]],
      m: Int = 8, ksub: Int = 256, sampleSize: Int = 2048,
      iters: Int = 8): Array[Array[Array[Double]]] = {
    val sample = collectSample(candidates, sampleSize)
      .map { unit =>
        var best = 0; var bestDot = Double.NegativeInfinity; var c = 0
        while (c < centroids.length) {
          var d = 0.0; var i = 0
          while (i < unit.length) { d += unit(i) * centroids(c)(i); i += 1 }
          if (d > bestDot) { bestDot = d; best = c }
          c += 1
        }
        val cen = centroids(best)
        Array.tabulate(unit.length)(i => unit(i) - cen(i))
      }
    require(sample.nonEmpty, "cannot train residual codebooks on an empty table")
    pqKmeans(sample, m, ksub, iters)
  }

  private def normalized(c: Column): Column = {
    val n = sqrt(aggregate(transform(c, x => x * x), lit(0.0d), (acc, v) => acc + v))
    transform(c, x => x / n)
  }

  /** PQ ANN cosine top-k with exact re-ranking: candidates are compressed
    * to `m` sub-codebook codes (64× smaller than the raw doubles at the
    * defaults), every candidate is scored against each query's
    * precomputed ADC table in O(m) adds — the codegen'd [[PqAdc]] kernel,
    * no raw vector touched — and only the `rerank` best per query are
    * re-scored with the exact cosine kernel to produce the final top-k.
    *
    * Scale: the N-row side is scanned once, carrying only the m-int code
    * column through the per-query explode; the ADC tables are |Q|·m·ksub
    * doubles (query-bounded metadata, broadcast as an expression
    * reference); the per-partition top-R heap compaction bounds the
    * shuffle to R·|Q|·partitions rows; the exact re-rank touches R·|Q|
    * vectors. Recall vs the exact q44 baseline is measured in PqSpec, and
    * the re-rank makes precision-of-ranking exact on the survivors.
    */
  def pqTopK(queries: DataFrame, candidates: DataFrame, k: Int,
      m: Int = 8, ksub: Int = 256, rerank: Int = 48): DataFrame = {
    require(rerank >= k, s"rerank=$rerank must be >= k=$k")
    val spark = queries.sparkSession
    import spark.implicits._
    val codebooks = trainPqCodebooks(candidates, m, ksub)
    // Query side is the bounded set: collect (deterministic order) to
    // build the per-query ADC distance tables driver-side.
    val qRows = queries.select(col("vec_id"), asDouble(col("embedding")).as("v"))
      .orderBy("vec_id").as[(Long, Seq[Double])].collect()
    val tables = new java.util.HashMap[java.lang.Long, Array[Array[Double]]]()
    qRows.foreach { case (id, v) =>
      val a = v.toArray
      var s = 0.0; var i = 0
      while (i < a.length) { s += a(i) * a(i); i += 1 }
      val n = math.sqrt(s)
      val unit = if (n == 0) a else a.map(_ / n)
      tables.put(id, PqKernels.adcTable(unit, codebooks))
    }
    val qids = qRows.map(_._1)
    val c = candidates
      .select(col("vec_id").as("neighbor_id"), asDouble(col("embedding")).as("cv"))
    val scored = c
      .select(col("neighbor_id"), PqCode(normalized(col("cv")), codebooks).as("codes"))
      .select(col("neighbor_id"), col("codes"),
        explode(array(qids.map(lit(_)): _*)).as("query_id"))
      .filter(col("query_id") =!= col("neighbor_id"))
      .select(col("query_id"), col("neighbor_id"),
        PqAdc(col("query_id"), col("codes"), tables).as("adc"))
    adcCompactRerank(scored, c, qRows.toSeq.toDF("query_id", "qv"), k, rerank)
  }

  /** Shared tail of the PQ-coded ANN paths ([[pqTopK]], [[ivfpqTopK]]):
    * per-partition top-`rerank` heap compaction of (query_id, neighbor_id,
    * adc) rows — the global ADC top-R is a subset of the union of
    * partition top-Rs, so the only shuffle carries R·|Q|·partitions narrow
    * rows — then an exact cosine re-rank of the survivors fetched with a
    * broadcast hash join (survivor ids are query-bounded metadata; the
    * full candidate set is never re-materialized).
    */
  private def adcCompactRerank(scored: DataFrame, c: DataFrame, qdf: DataFrame,
      k: Int, rerank: Int): DataFrame = {
    val spark = scored.sparkSession
    import spark.implicits._
    // Window ranks by (adc asc, nid asc); max-heap head under the natural
    // tuple order = the WORST kept survivor under that same total order.
    val worstFirst: Ordering[(Double, Long)] = Ordering.Tuple2(Ordering.Double.TotalOrdering, Ordering.Long)
    val compacted = scored.as[(Long, Long, Double)].mapPartitions { it =>
      val heaps = scala.collection.mutable.Map
        .empty[Long, scala.collection.mutable.PriorityQueue[(Double, Long)]]
      it.foreach { case (qid, nid, adc) =>
        val h = heaps.getOrElseUpdate(qid,
          scala.collection.mutable.PriorityQueue.empty(worstFirst))
        if (h.size < rerank) h.enqueue((adc, nid))
        else if (worstFirst.compare((adc, nid), h.head) < 0) {
          h.dequeue(); h.enqueue((adc, nid))
        }
      }
      heaps.iterator.flatMap { case (qid, h) =>
        h.iterator.map { case (adc, nid) => (qid, nid, adc) }
      }
    }.toDF("query_id", "neighbor_id", "adc")
    val wAdc = org.apache.spark.sql.expressions.Window
      .partitionBy("query_id").orderBy(col("adc").asc, col("neighbor_id"))
    val survivors = compacted
      .withColumn("arnk", row_number().over(wAdc))
      .filter(col("arnk") <= rerank)
      .select("query_id", "neighbor_id")
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("query_id").orderBy(col("cos").desc, col("neighbor_id"))
    c.join(broadcast(survivors), "neighbor_id")
      .join(broadcast(qdf), "query_id")
      .select(col("query_id"), col("neighbor_id"),
        cosine(col("qv"), asDouble(col("cv"))).as("cos"))
      .select(col("query_id"), col("neighbor_id"), row_number().over(w).as("rank"))
      .filter(col("rank") <= k)
      .select("query_id", "rank", "neighbor_id")
  }

  /** IVF-PQ ANN — the full IVFADC index of Jégou et al. 2011 §IV (the
    * FAISS `IVFx,PQy` composite), combining the coarse inverted file
    * ([[ivfTopK]]) with residual product quantization ([[pqTopK]]):
    * candidates store only (cell, m one-byte residual codes); a query
    * probes its `nprobe` best cells and ADC-scores each probed cell's list
    * against a per-(query, cell) table built from the query's residual
    * `q − centroid_cell`; the top `rerank` survivors are exactly
    * re-ranked. Same output contract as the other ANN paths.
    *
    * Scale: the candidate side is scanned once through one codegen'd
    * (cell, residual) kernel + one code kernel — the stored index is
    * nlist ints + N·m bytes; scoring touches only probed lists (the
    * |Q|·nprobe probe pairs broadcast); ADC tables are |Q|·nprobe·m·ksub
    * doubles of query-bounded driver metadata; the heap compaction bounds
    * the shuffle exactly as in [[pqTopK]]. Recall gated in PqSpec.
    */
  def ivfpqTopK(queries: DataFrame, candidates: DataFrame, k: Int,
      nlist: Int = 16, nprobe: Int = 12, m: Int = 8, ksub: Int = 256,
      rerank: Int = 48): DataFrame = {
    // nprobe=12/nlist=16 matches the measured q57 IVF-Flat operating point
    // (recall 0.92+ at sf0.001); 8 probes measured 0.78 here — the coarse
    // quantizer loses boundary neighbors that flat PQ (q148) keeps, and
    // probing multiplies only the query-side pairs.
    require(rerank >= k, s"rerank=$rerank must be >= k=$k")
    require(nprobe >= 1 && nprobe <= nlist, s"nprobe $nprobe out of [1, $nlist]")
    val spark = queries.sparkSession
    import spark.implicits._
    val centroids = trainCentroids(candidates, nlist)
    val codebooks = trainResidualCodebooks(candidates, centroids, m, ksub)
    // Candidate index: one pass → (cell, residual codes).
    val c = candidates
      .select(col("vec_id").as("neighbor_id"), asDouble(col("embedding")).as("cv"))
    val coded = c
      .select(col("neighbor_id"), col("cv"), IvfResidual(col("cv"), centroids).as("r"))
      .select(col("neighbor_id"), col("r.cell").as("cell"),
        PqCode(col("r.res"), codebooks).as("codes"))
    // Query side: bounded collect → probe list + per-(query, cell) ADC
    // tables on the query residual, keyed by qid·nlist + cell.
    val qRows = queries.select(col("vec_id"), asDouble(col("embedding")).as("v"))
      .orderBy("vec_id").as[(Long, Seq[Double])].collect()
    val tables = new java.util.HashMap[java.lang.Long, Array[Array[Double]]]()
    val probes = qRows.flatMap { case (id, v) =>
      val a = v.toArray
      var s = 0.0; var i = 0
      while (i < a.length) { s += a(i) * a(i); i += 1 }
      val n = math.sqrt(s)
      val unit = if (n == 0) a else a.map(_ / n)
      val byDot = centroids.indices
        .map(ci => (ci, {
          var d = 0.0; var j = 0
          while (j < unit.length) { d += unit(j) * centroids(ci)(j); j += 1 }
          d
        }))
        .sortBy { case (ci, d) => (-d, ci) }
        .take(nprobe)
      byDot.map { case (ci, _) =>
        val cen = centroids(ci)
        val qres = Array.tabulate(unit.length)(j => unit(j) - cen(j))
        tables.put(id * nlist + ci, PqKernels.adcTable(qres, codebooks))
        (id, ci)
      }
    }
    val probeDf = probes.toSeq.toDF("query_id", "cell")
    val scored = coded.join(broadcast(probeDf), "cell")
      .filter(col("query_id") =!= col("neighbor_id"))
      .select(col("query_id"), col("neighbor_id"),
        PqAdc(col("query_id") * nlist + col("cell"), col("codes"), tables).as("adc"))
    adcCompactRerank(scored, c, qRows.toSeq.toDF("query_id", "qv"), k, rerank)
  }

  /** ANN cosine top-k via multi-table hyperplane LSH: score only candidates
    * sharing a bucket with the query in at least one table.
    *
    * `multiProbe` additionally probes, per table, every bucket at Hamming
    * distance 1 from the query's signature (flip each of the `bits` bits) —
    * a near-miss neighbor whose signature differs by one plane is still
    * found. Probing multiplies only the QUERY side (tables×(bits+1) rows
    * per query); the N-row candidate side keeps one bucket per table, so
    * the scale posture is unchanged while recall rises sharply (the
    * standard multi-probe LSH trade: more probes ≈ more tables at zero
    * index cost).
    */
  def lshTopK(queries: DataFrame, candidates: DataFrame, k: Int,
      tables: Int = 8, bits: Int = 5, dim: Int = 64,
      multiProbe: Boolean = true): DataFrame = {
    val hp = hyperplanes(tables, bits, dim)
    def buckets(df: DataFrame, idAs: String, vecAs: String, probe: Boolean): DataFrame = {
      val v = asDouble(col("embedding"))
      val sigs = hp.zipWithIndex.flatMap { case (planes, t) =>
        val s = signature(v, planes)
        val variants =
          if (probe) s +: (0 until bits).map(j => s.bitwiseXOR(lit(1 << j)))
          else Seq(s)
        variants.map(sv => struct(lit(t).as("tbl"), sv.as("sig")))
      }
      df.select(col("vec_id").as(idAs), v.as(vecAs), explode(array(sigs: _*)).as("bk"))
        .select(col(idAs), col(vecAs), col("bk.tbl").as("tbl"), col("bk.sig").as("sig"))
    }
    val qb = buckets(queries, "query_id", "qv", probe = multiProbe)
    val cb = buckets(candidates, "neighbor_id", "cv", probe = false)
    // Score BEFORE deduplicating multi-table collisions: cosine is cheap
    // (fused kernel) and deterministic per pair, so the dedup aggregates a
    // 3-column (id, id, cos) row instead of shuffling two 64-dim vectors
    // per candidate — the shuffle is what hurts at scale, not the recompute.
    val scored = qb.join(cb, Seq("tbl", "sig"))
      .filter(col("query_id") =!= col("neighbor_id"))
      .select(col("query_id"), col("neighbor_id"),
        cosine(col("qv"), col("cv")).as("cos"))
      .groupBy("query_id", "neighbor_id").agg(max("cos").as("cos"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("query_id").orderBy(col("cos").desc, col("neighbor_id"))
    scored.select(col("query_id"), col("neighbor_id"), row_number().over(w).as("rank"))
      .filter(col("rank") <= k)
      .select("query_id", "rank", "neighbor_id")
  }

  /** MMR diversity re-rank (Carbonell & Goldstein 1998): exact top-`kCand`
    * cosine candidates per query, greedily re-ranked to the k results
    * maximizing `λ·relevance − (1−λ)·max-cos-to-selected` — the standard
    * redundancy filter behind retrieval-augmented sampling and dataset
    * search. Emits (query_id, rnk, neighbor_id, score).
    *
    * Scale: candidate generation is the bounded [[bruteForceTopK]] (swap
    * in [[lshTopK]]/[[ivfTopK]] at 100 TB — same contract); the greedy
    * kernel is a per-group codegen'd expression over ≤ kCand structs
    * (O(k·kCand·dim) each), so the re-rank adds one |Q|·kCand-row shuffle
    * and zero driver iteration.
    */
  def mmrRerank(queries: DataFrame, candidates: DataFrame,
      kCand: Int = 20, k: Int = 5, lam: Double = 0.7): DataFrame = {
    val top = bruteForceTopK(queries, candidates, kCand)
    val q = queries.select(col("vec_id").as("query_id"), asDouble(col("embedding")).as("qv"))
    val c = candidates.select(col("vec_id").as("neighbor_id"), asDouble(col("embedding")).as("nv"))
    val cand = top.join(c, "neighbor_id")
      .join(broadcast(q), "query_id")
      .select(col("query_id"), col("neighbor_id"),
        cosine(col("qv"), col("nv")).as("rel"), col("nv"))
    cand.groupBy("query_id")
      .agg(sort_array(collect_list(struct(
        col("neighbor_id").as("id"), col("rel"), col("nv").as("vec")))).as("cands"))
      .select(col("query_id"), explode(MmrSelect(col("cands"), k, lam)).as("sel"))
      .select(col("query_id"), col("sel.rnk").as("rnk"),
        col("sel.id").as("neighbor_id"), col("sel.score").as("score"))
  }

  /** Margin-based bitext mining (Artetxe & Schwenk 2019, the LASER/
    * CCMatrix recipe): candidate pairs are each side's cosine top-k in
    * the other, scored by the RATIO margin — cos(x,y) over the mean of
    * the two endpoints' top-k cosines (the hubness correction raw cosine
    * lacks) — and kept iff the pair is each endpoint's best margin
    * (mutual best) at or above the threshold.
    *
    * Exactness: each cosine snaps to DECIMAL(18,9) at birth, so the
    * top-k means are order-insensitive decimal sums and every margin is
    * one identical double expression on both engines. The kNN stage here
    * is the exact [[bruteForceTopKScored]] (this is the small-sf oracle
    * formulation, q41/q52 class); at corpus scale the candidate lists
    * come from any ANN family member instead (same (id, id, cos) shape)
    * — the margin fold itself is id-keyed joins and per-id windows over
    * ≤k rows, nothing side-sized ever broadcasts or goes all-to-all.
    */
  def bitextMine(aSide: DataFrame, bSide: DataFrame, k: Int = 4,
      threshold: Double = 1.0): DataFrame = {
    val cos9 = col("cos").cast(DecimalType(18, 9))
    val ab = bruteForceTopKScored(aSide, bSide, k)
      .select(col("query_id").as("aid"), col("neighbor_id").as("bid"),
        cos9.as("cos9"))
    val ba = bruteForceTopKScored(bSide, aSide, k)
      .select(col("query_id").as("bid"), col("neighbor_id").as("aid"),
        cos9.as("cos9"))
    val avga = ab.groupBy("aid").agg(
      (sum(col("cos9")).cast(DoubleType) / count(lit(1)).cast(DoubleType)).as("avga"))
    val avgb = ba.groupBy("bid").agg(
      (sum(col("cos9")).cast(DoubleType) / count(lit(1)).cast(DoubleType)).as("avgb"))
    def margins(cand: DataFrame): DataFrame = cand
      .join(avga, "aid").join(avgb, "bid")
      .select(col("aid"), col("bid"),
        (col("cos9").cast(DoubleType) /
          ((col("avga") + col("avgb")) / lit(2.0))).as("margin"))
    val wA = org.apache.spark.sql.expressions.Window
      .partitionBy("aid").orderBy(col("margin").desc, col("bid"))
    val wB = org.apache.spark.sql.expressions.Window
      .partitionBy("bid").orderBy(col("margin").desc, col("aid"))
    val bestA = margins(ab)
      .withColumn("r", row_number().over(wA)).filter(col("r") === 1).drop("r")
    val bestB = margins(ba)
      .withColumn("r", row_number().over(wB)).filter(col("r") === 1)
      .select("aid", "bid")
    bestA.join(bestB, Seq("aid", "bid"))
      .filter(col("margin") >= threshold)
      .select(col("aid"), col("bid"),
        col("margin").cast(DecimalType(18, 9)).cast(DoubleType).as("margin9"))
  }

  /** [[bitextMine]]'s PRODUCTION candidate mode (q230): the same
    * ratio-margin mutual-best fold, fed by IVF-Flat candidates instead of
    * the exact O(|A|·|B|) kNN — the CCMatrix shape (ANN candidates, exact
    * rescoring). Two IVF probes run (a→b and b→a, each with a DATA-SIZED
    * quantizer: nlist ~ √N per FAISS practice) and their pair sets UNION
    * symmetrically before the fold: mutual-margin pairs on this kind of
    * fixture are cluster-BOUNDARY outliers (BitextSpec's decile print:
    * every exact pair has cos 0.30–0.51 — the hubness correction strips
    * dense-cluster near-dups by design), the single hardest case for a
    * coarse quantizer, and a pair found by EITHER direction's probe
    * enters both candidate lists, squaring the per-direction miss rate
    * at zero extra scoring cost (MEASURED at sf0.01: pair recall 0.66
    * one-direction → 0.92 after union, 0.95 on the top-half-cos pairs).
    * Work scales ~nprobe/nlist · N per query — N^1.5
    * total with the √N sizing — vs the exact mode's N².
    *
    * The union makes candidate lists symmetric, so one margin table
    * serves both argmax directions; per-id candidate counts may exceed k
    * (up to 2k), which changes the avg-of-candidates denominator vs the
    * exact mode — this is the ANN estimator's own (documented) margin,
    * not a drop-in replay of q221's numbers.
    */
  def bitextMineAnn(aSide: DataFrame, bSide: DataFrame, k: Int = 4,
      threshold: Double = 1.0, probeFloor: Int = 16): DataFrame = {
    val cos9 = col("cos").cast(DecimalType(18, 9))
    // nlist ~ √N; nprobe floors at 16 and grows as nlist/16, so the probe
    // FRACTION tapers from full (sf0.01, where BitextSpec's recall gate
    // runs) toward 1/16 at corpus scale — total work ~N²·fraction, the
    // recall/throughput dial stated rather than hidden (a constant
    // fraction would keep the N² of the exact mode with a smaller
    // constant). The floor was 8 until r12's measurement at the TAPERED
    // point (sf1: nlist=100 → fraction 0.08) read pair recall 0.74
    // overall / 0.85 strong — under the 0.8 bar; floor 16 (fraction 0.16
    // there) bought the recall back for the cost delta recorded in
    // PERFORMANCE.md, and the asymptotic 1/16 taper is unchanged.
    def sized(q: DataFrame, c: DataFrame): DataFrame = {
      val n = c.count()
      val nlist = math.max(16, math.ceil(math.sqrt(n.toDouble)).toInt)
      val nprobe = math.min(nlist, math.max(probeFloor, nlist / 16))
      ivfTopKScored(q, c, k, nlist, nprobe)
    }
    val cand = sized(aSide, bSide)
      .select(col("query_id").as("aid"), col("neighbor_id").as("bid"),
        cos9.as("cos9"))
      .unionByName(sized(bSide, aSide)
        .select(col("query_id").as("bid"), col("neighbor_id").as("aid"),
          cos9.as("cos9"))
        .select("aid", "bid", "cos9"))
      .groupBy("aid", "bid").agg(max(col("cos9")).as("cos9"))
    // Hubness denominators over each id's TOP-k candidates only — the
    // paper's avg-of-k-nearest, NOT the avg of the whole symmetric union
    // (whose up-to-2k lists pull the denominator down and drift margins
    // off the exact mode's: r12 MEASURED at sf1 the union-avg capping
    // recall at 0.83 even under a FULL probe; top-k denominators lift the
    // same probes to parity with the probe's own candidate quality). The
    // windows run over per-id ≤2k-row groups (WindowGroupLimit class).
    def topKAvg(idCol: String, as: String): DataFrame = {
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(idCol).orderBy(col("cos9").desc,
          col(if (idCol == "aid") "bid" else "aid"))
      cand.withColumn("r", row_number().over(w)).filter(col("r") <= k)
        .groupBy(idCol).agg(
          (sum(col("cos9")).cast(DoubleType) /
            count(lit(1)).cast(DoubleType)).as(as))
    }
    val avga = topKAvg("aid", "avga")
    val avgb = topKAvg("bid", "avgb")
    val margins = cand
      .join(avga, "aid").join(avgb, "bid")
      .select(col("aid"), col("bid"),
        (col("cos9").cast(DoubleType) /
          ((col("avga") + col("avgb")) / lit(2.0))).as("margin"))
    val wA = org.apache.spark.sql.expressions.Window
      .partitionBy("aid").orderBy(col("margin").desc, col("bid"))
    val wB = org.apache.spark.sql.expressions.Window
      .partitionBy("bid").orderBy(col("margin").desc, col("aid"))
    val bestA = margins
      .withColumn("r", row_number().over(wA)).filter(col("r") === 1).drop("r")
    val bestB = margins
      .withColumn("r", row_number().over(wB)).filter(col("r") === 1)
      .select("aid", "bid")
    bestA.join(bestB, Seq("aid", "bid"))
      .filter(col("margin") >= threshold)
      .select(col("aid"), col("bid"),
        col("margin").cast(DecimalType(18, 9)).cast(DoubleType).as("margin9"))
  }

  /** Persisted IVF index — the production split [[ivfTopK]] collapses:
    * TRAIN and ASSIGN once, PROBE many. Writes (a) the nlist×dim centroid
    * codebook (metadata-scale) and (b) the postings — every vector under
    * its coarse cell — as parquet PARTITIONED BY cell, so a later probe
    * touches only its probed cells' files instead of rescanning and
    * re-quantizing the corpus per query batch (what every q45/q57-style
    * inline ANN call pays). At 100 TB the postings layout is the index:
    * a probe of nprobe/nlist cells reads that fraction of the data,
    * enforced by static partition pruning (IvfIndexSpec asserts the
    * pruned scan), and the index is rebuilt only when the corpus drifts.
    */
  def buildIvfIndex(candidates: DataFrame, dir: String, nlist: Int = 16): Unit = {
    val spark = candidates.sparkSession
    import spark.implicits._
    val centroids = trainCentroids(candidates, nlist)
    centroids.zipWithIndex
      .map { case (v, i) => (i, v.toSeq) }.toSeq
      .toDF("cell", "centroid")
      .coalesce(1).write.mode("overwrite").parquet(dir + "/centroids")
    candidates
      .select(col("vec_id").as("neighbor_id"), asDouble(col("embedding")).as("cv"))
      .withColumn("cell", IvfCell(col("cv"), centroids))
      .write.mode("overwrite").partitionBy("cell").parquet(dir + "/postings")
  }

  /** Probe a [[buildIvfIndex]] layout: load the codebook (bounded
    * nlist×dim), probe each query's nprobe nearest cells with the same
    * codegen'd kernel as the inline path, and score ONLY those cells'
    * partitions — the probed-cell set is collected (≤ |Q|·nprobe ints,
    * the query batch is bounded by contract) and pushed as a static
    * partition filter, so the scan never opens an unprobed cell's files.
    * Output (query_id, rank, neighbor_id) — identical to [[ivfTopK]] at
    * equal parameters (IvfIndexSpec asserts exact equality).
    */
  private[graft] def readIvfCentroids(spark: SparkSession,
      dir: String): Array[Array[Double]] = {
    val rows = spark.read
      .parquet(dir + "/centroids")
      .select("cell", "centroid").collect()
    require(rows.nonEmpty, s"no centroids at $dir (index missing or corrupt)")
    rows.sortBy(_.getInt(0)).map(_.getSeq[Double](1).toArray)
  }

  /** Assign vectors to an EXISTING index's centroids and write their
    * postings under the same cell partitioning. `mode = "append"` is the
    * incremental-add step (below); `"overwrite"` regenerates the postings
    * under frozen centroids (the one-shot reference the append gate
    * compares against).
    */
  def assignIvfPostings(vectors: DataFrame, dir: String,
      mode: String): Unit = {
    val spark = vectors.sparkSession
    val centroids = readIvfCentroids(spark, dir)
    vectors
      .select(col("vec_id").as("neighbor_id"), asDouble(col("embedding")).as("cv"))
      .withColumn("cell", IvfCell(col("cv"), centroids))
      .write.mode(mode).partitionBy("cell").parquet(dir + "/postings")
  }

  /** INCREMENTAL index maintenance — the lifecycle step between build and
    * rebuild (the FAISS add-after-train contract): assign a batch of NEW
    * vectors to the index's EXISTING centroids and append their postings —
    * parquet append drops new files into the cell partition directories,
    * so no standing posting is rewritten, nothing retrains, and the very
    * next probe sees old+new through the identical partition-pruned scan.
    * Centroids drift as the corpus grows, which is [[ivfIndexBalance]]'s
    * job to surface; rebuild (q220's build) remains the drift response.
    */
  def appendToIvfIndex(newVectors: DataFrame, dir: String): Unit =
    assignIvfPostings(newVectors, dir, "append")

  /** The STAGED form of [[appendToIvfIndex]]: assign NEW vectors to
    * `indexDir`'s frozen centroids but write the postings delta to
    * `outDir` (same cell partitioning) instead of appending in place —
    * for the exactly-once trigger bodies that stage every store delta
    * and publish by rename ([[graft.streaming.StoreTxn]]).
    */
  def stageIvfAppend(newVectors: DataFrame, indexDir: String,
      outDir: String): Unit = {
    val spark = newVectors.sparkSession
    val centroids = readIvfCentroids(spark, indexDir)
    newVectors
      .select(col("vec_id").as("neighbor_id"), asDouble(col("embedding")).as("cv"))
      .withColumn("cell", IvfCell(col("cv"), centroids))
      .write.mode("overwrite").partitionBy("cell").parquet(outDir)
  }

  /** Per-cell occupancy of a persisted IVF index — (cell, n, share_ppm),
    * nlist rows (metadata-scale at any corpus size; the count agg is
    * partial+final over the postings). A maintenance job watches the max
    * share: appended batches land under frozen centroids, so a share
    * drifting far above 1/nlist means the corpus outgrew its quantizer
    * and probes of the hot cell degrade toward a scan — the REBUILD
    * trigger, stated as a measurable signal instead of a guess.
    */
  def ivfIndexBalance(spark: SparkSession, dir: String): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window.partitionBy(lit(1))
    spark.read.parquet(dir + "/postings")
      .groupBy("cell").agg(count(lit(1)).as("n"))
      .withColumn("total", sum("n").over(w))
      .selectExpr("cell", "n",
        "(n * CAST(1000000 AS BIGINT)) DIV total AS share_ppm")
      .orderBy("cell")
  }

  /** The rebuild trigger [[ivfIndexBalance]] documents, as an executable
    * policy instead of prose: true when the hottest cell holds more than
    * `factor`× its fair share (1/nlist) of the postings — appended
    * batches land under frozen centroids, so a hot cell means the corpus
    * outgrew its quantizer and probes of that cell degrade toward a
    * scan. Two metadata-scale jobs (nlist-row agg + centroid count); the
    * maintenance slot calls this per append cadence and runs q220's
    * build when it fires.
    */
  def ivfNeedsRebuild(spark: SparkSession, dir: String,
      factor: Double = 4.0): Boolean = {
    require(factor > 1.0, s"factor $factor must exceed the fair share")
    val nlist = readIvfCentroids(spark, dir).length
    // max over zero postings rows is SQL null (a build over an empty
    // filter leaves the partition dirs with no rows) — an empty index is
    // trivially balanced, not an NPE (r12 ADVICE)
    val row = ivfIndexBalance(spark, dir).agg(max("share_ppm")).head
    if (row.isNullAt(0)) false
    else row.getLong(0) > (factor * 1000000.0 / nlist).toLong
  }

  def probeIvfIndex(dir: String, queries: DataFrame, k: Int,
      nprobe: Int = 12): DataFrame = {
    val spark = queries.sparkSession
    val centroids: Array[Array[Double]] = readIvfCentroids(spark, dir)
    val q = queries
      .select(col("vec_id").as("query_id"), asDouble(col("embedding")).as("qv"))
      .withColumn("cell", explode(IvfProbe(col("qv"), centroids, nprobe)))
    val probedCells: Array[Int] =
      q.select("cell").distinct().collect().map(_.getInt(0)).sorted
    val c = spark.read.parquet(dir + "/postings")
      .filter(col("cell").isin(probedCells.map(Integer.valueOf): _*))
    val scored = q.join(c, "cell")
      .filter(col("query_id") =!= col("neighbor_id"))
      .select(col("query_id"), col("neighbor_id"),
        cosine(col("qv"), col("cv")).as("cos"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("query_id").orderBy(col("cos").desc, col("neighbor_id"))
    scored.select(col("query_id"), col("neighbor_id"),
        row_number().over(w).as("rank"))
      .filter(col("rank") <= k)
      .select("query_id", "rank", "neighbor_id")
  }

  /** Threshold neighbor pairs for a batch of query vectors against a
    * persisted IVF index — the SCREEN form of [[probeIvfIndex]] (which
    * ranks top-k): each query probes its `nprobe` nearest cells and
    * pairs with every posting whose EXACT cosine clears `threshold`
    * (postings carry raw vectors, so the verify is exact; recall is
    * bounded by the probe set like every IVF path — the
    * [[ivfNeedsRebuild]] policy keeps that bound honest as the corpus
    * drifts under appends). Returns (query_id, neighbor_id, cos). The
    * probed-cell collect is query-bounded metadata, and the postings
    * scan is partition-pruned to the probed cells.
    */
  def ivfThresholdPairs(dir: String, queries: DataFrame, threshold: Double,
      nprobe: Int = 12): DataFrame = {
    val spark = queries.sparkSession
    val centroids: Array[Array[Double]] = readIvfCentroids(spark, dir)
    val q = queries
      .select(col("vec_id").as("query_id"), asDouble(col("embedding")).as("qv"))
      .withColumn("cell", explode(IvfProbe(col("qv"), centroids, nprobe)))
    val probedCells: Array[Int] =
      q.select("cell").distinct().collect().map(_.getInt(0)).sorted
    if (probedCells.isEmpty) // an empty query batch probes nothing
      return q.select(col("query_id"), col("query_id").as("neighbor_id"),
        lit(0.0).as("cos")).limit(0)
    val c = spark.read.parquet(dir + "/postings")
      .filter(col("cell").isin(probedCells.map(Integer.valueOf): _*))
    q.join(c, "cell")
      .filter(col("query_id") =!= col("neighbor_id"))
      .select(col("query_id"), col("neighbor_id"),
        cosine(col("qv"), col("cv")).as("cos"))
      .filter(col("cos") >= threshold)
  }

  // ---- persisted COMPRESSED indexes (the q220 lifecycle for PQ/IVF-PQ) --

  private[graft] def writeCodebooks(spark: SparkSession,
      codebooks: Array[Array[Array[Double]]], path: String): Unit = {
    import spark.implicits._
    (for (s <- codebooks.indices; c <- codebooks(s).indices)
      yield (s, c, codebooks(s)(c).toSeq)).toDF("sub", "code", "centroid")
      .coalesce(1).write.mode("overwrite").parquet(path)
  }

  private[graft] def readCodebooks(spark: SparkSession,
      path: String): Array[Array[Array[Double]]] = {
    val rows = spark.read.parquet(path)
      .select("sub", "code", "centroid").collect()
      .map(r => (r.getInt(0), r.getInt(1), r.getSeq[Double](2).toArray))
    // loud index-corruption error instead of empty.max deep in the probe
    // (r11 ADVICE) — mirrors the nprobe/rerank requires at the entry points
    require(rows.nonEmpty, s"no codebooks at $path (index missing or corrupt)")
    val m = rows.map(_._1).max + 1
    Array.tabulate(m) { s =>
      rows.filter(_._1 == s).sortBy(_._2).map(_._3)
    }
  }

  /** Persisted FLAT-PQ index ([[pqTopK]]'s train+code stage written once):
    * the m×ksub sub-codebooks (metadata-scale) plus every vector's m
    * one-byte codes — N·(8+m) bytes, the layout that fits 100 TB of
    * embeddings in a fraction of the raw footprint. Flat PQ has no coarse
    * cells, so a probe SCANS all codes (that is its contract — ADC over
    * compressed codes, no pruning) but never touches a raw vector until
    * the exact re-rank of the top-`rerank` survivors.
    */
  def buildPqIndex(candidates: DataFrame, dir: String,
      m: Int = 8, ksub: Int = 256): Unit = {
    val spark = candidates.sparkSession
    val codebooks = trainPqCodebooks(candidates, m, ksub)
    writeCodebooks(spark, codebooks, dir + "/codebooks")
    candidates
      .select(col("vec_id").as("neighbor_id"), asDouble(col("embedding")).as("cv"))
      .select(col("neighbor_id"), PqCode(normalized(col("cv")), codebooks).as("codes"))
      .write.mode("overwrite").parquet(dir + "/codes")
  }

  /** Encode vectors under an EXISTING flat-PQ index's codebooks and write
    * their codes — `"append"` is the incremental add (the [[appendToIvfIndex]]
    * contract on the compressed layout: frozen codebooks, new code rows,
    * nothing re-encoded), `"overwrite"` the one-shot reference the gate
    * compares against.
    */
  def assignPqCodes(vectors: DataFrame, dir: String, mode: String): Unit = {
    val spark = vectors.sparkSession
    val codebooks = readCodebooks(spark, dir + "/codebooks")
    vectors
      .select(col("vec_id").as("neighbor_id"), asDouble(col("embedding")).as("cv"))
      .select(col("neighbor_id"), PqCode(normalized(col("cv")), codebooks).as("codes"))
      .write.mode(mode).parquet(dir + "/codes")
  }

  def appendToPqIndex(newVectors: DataFrame, dir: String): Unit =
    assignPqCodes(newVectors, dir, "append")

  /** IVF-PQ incremental add: assign to the FROZEN coarse centroids,
    * encode each residual with the FROZEN sub-codebooks, append the
    * m-byte code rows into the cell partition dirs — quantization error
    * on appended batches grows with corpus drift, which q243's balance
    * report is the stated watch signal for.
    */
  def assignIvfPqPostings(vectors: DataFrame, dir: String, mode: String): Unit = {
    val spark = vectors.sparkSession
    val centroids = readIvfCentroids(spark, dir)
    val codebooks = readCodebooks(spark, dir + "/codebooks")
    vectors
      .select(col("vec_id").as("neighbor_id"), asDouble(col("embedding")).as("cv"))
      .select(col("neighbor_id"), IvfResidual(col("cv"), centroids).as("r"))
      .select(col("neighbor_id"), col("r.cell").as("cell"),
        PqCode(col("r.res"), codebooks).as("codes"))
      .write.mode(mode).partitionBy("cell").parquet(dir + "/postings")
  }

  def appendToIvfPqIndex(newVectors: DataFrame, dir: String): Unit =
    assignIvfPqPostings(newVectors, dir, "append")

  /** Probe a [[buildPqIndex]] layout: ADC-score the stored codes against
    * per-query tables rebuilt from the stored codebooks, then exact-rerank
    * the survivors against `corpus` (the raw vectors live in the corpus
    * table, NOT the index — survivor ids are query-bounded metadata
    * fetched with a broadcast join). Identical output to the inline
    * [[pqTopK]] at equal parameters (PqIndexSpec).
    */
  def probePqIndex(dir: String, queries: DataFrame, corpus: DataFrame,
      k: Int, rerank: Int = 48): DataFrame = {
    require(rerank >= k, s"rerank=$rerank must be >= k=$k")
    val spark = queries.sparkSession
    import spark.implicits._
    val codebooks = readCodebooks(spark, dir + "/codebooks")
    val qRows = queries.select(col("vec_id"), asDouble(col("embedding")).as("v"))
      .orderBy("vec_id").as[(Long, Seq[Double])].collect()
    val tables = new java.util.HashMap[java.lang.Long, Array[Array[Double]]]()
    qRows.foreach { case (id, v) =>
      val a = v.toArray
      var s = 0.0; var i = 0
      while (i < a.length) { s += a(i) * a(i); i += 1 }
      val n = math.sqrt(s)
      val unit = if (n == 0) a else a.map(_ / n)
      tables.put(id, PqKernels.adcTable(unit, codebooks))
    }
    val qids = qRows.map(_._1)
    val scored = spark.read.parquet(dir + "/codes")
      .select(col("neighbor_id"), col("codes"),
        explode(array(qids.map(lit(_)): _*)).as("query_id"))
      .filter(col("query_id") =!= col("neighbor_id"))
      .select(col("query_id"), col("neighbor_id"),
        PqAdc(col("query_id"), col("codes"), tables).as("adc"))
    val c = corpus
      .select(col("vec_id").as("neighbor_id"), asDouble(col("embedding")).as("cv"))
    adcCompactRerank(scored, c, qRows.toSeq.toDF("query_id", "qv"), k, rerank)
  }

  // ---- IVF-pruned, PQ-scored, exact-verified: the STREAM-SCREEN index --

  /** Build the streaming screens' compressed index (r13 verdict item 2):
    * coarse IVF cells for PARTITION PRUNING + FULL-VECTOR PQ codes for
    * scoring — the non-residual ADC variant of Jégou et al. 2011: codes
    * quantize the normalized vector itself, so a query's ADC table gives
    * the cosine approximation DIRECTLY (a residual table orders within a
    * cell but is offset by the query·centroid term, useless for a global
    * threshold). Postings are N·(8+m) bytes partitioned by cell — the
    * read a screening trigger pays is nprobe/nlist of THAT, not of the
    * raw vectors; exactness is restored by a candidate-bounded verify
    * against the raw corpus. Extra input columns (e.g. the admit batch
    * `b`) ride through into the postings unchanged, so tombstone
    * retirement can filter them like any other store.
    */
  def buildIvfCodeIndex(candidates: DataFrame, dir: String, nlist: Int = 16,
      m: Int = 8, ksub: Int = 256): Unit = {
    val spark = candidates.sparkSession
    import spark.implicits._
    val centroids = trainCentroids(candidates, nlist)
    val codebooks = trainPqCodebooks(candidates, m, ksub)
    centroids.zipWithIndex
      .map { case (v, i) => (i, v.toSeq) }.toSeq
      .toDF("cell", "centroid")
      .coalesce(1).write.mode("overwrite").parquet(dir + "/centroids")
    writeCodebooks(spark, codebooks, dir + "/codebooks")
    writeAdcCalibration(candidates, codebooks, dir + "/calib")
    encodeIvfCode(candidates, centroids, codebooks, withMargin = true)
      .write.mode("overwrite").partitionBy("cell").parquet(dir + "/postings")
  }

  /** Measure the PQ quantization residual ‖decode(v) − v‖ over a sample
    * of the build corpus and persist its quantiles next to the codebooks.
    * For unit vectors the per-PAIR ADC cosine error is
    * |q·(decode(n) − n)| ≤ ‖decode(n) − n‖ (Cauchy–Schwarz), so the p99
    * residual norm is a data-measured safe margin for a threshold screen —
    * the r14 ADVICE: a fixed 0.08 default silently under-margins corpora
    * whose quantization error is larger (SemIngestBench's fixture needed
    * 0.30), and an under-margined dup is admitted forever.
    */
  private[graft] def writeAdcCalibration(candidates: DataFrame,
      codebooks: Array[Array[Array[Double]]], path: String): Unit = {
    val spark = candidates.sparkSession
    import spark.implicits._
    val dsub = codebooks(0)(0).length
    val norms = collectSample(candidates, 2048).map { unit =>
      var d2 = 0.0
      var s = 0
      while (s < codebooks.length) {
        val book = codebooks(s)
        val off = s * dsub
        var best = Double.PositiveInfinity
        var c = 0
        while (c < book.length) {
          val cen = book(c)
          var d = 0.0; var j = 0
          while (j < dsub) {
            val diff = unit(off + j) - cen(j); d += diff * diff; j += 1
          }
          if (d < best) best = d
          c += 1
        }
        d2 += best
        s += 1
      }
      math.sqrt(d2)
    }.sorted
    def q(p: Double): Double =
      if (norms.isEmpty) 0.0
      else norms(math.min(norms.length - 1, (p * norms.length).toInt))
    Seq((norms.length.toLong, q(0.5), q(0.95), q(0.99),
        if (norms.isEmpty) 0.0 else norms.last))
      .toDF("n", "p50", "p95", "p99", "max")
      .coalesce(1).write.mode("overwrite").parquet(path)
  }

  /** The calibrated ADC margin persisted by [[buildIvfCodeIndex]] (p99
    * residual norm); None for indexes built before calibration existed.
    */
  def adcCalibratedMargin(spark: SparkSession, dir: String): Option[Double] = {
    val p = new org.apache.hadoop.fs.Path(dir + "/calib")
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(p)) None
    else Some(spark.read.parquet(p.toString).select("p99").head.getDouble(0))
  }

  private[graft] def encodeIvfCode(vectors: DataFrame,
      centroids: Array[Array[Double]],
      codebooks: Array[Array[Array[Double]]],
      withMargin: Boolean = false): DataFrame = {
    val extras = vectors.columns.filterNot(Set("vec_id", "embedding")).toSeq
    val coded = vectors
      .select(Seq(col("vec_id").as("neighbor_id"),
        asDouble(col("embedding")).as("cv")) ++ extras.map(col): _*)
      .select(Seq(col("neighbor_id"), col("cv"),
        IvfCell(col("cv"), centroids).as("cell"),
        PqCode(normalized(col("cv")), codebooks).as("codes")) ++
        extras.map(col): _*)
    // `mrg` is the posting's EXACT ADC error bound ([[PqAdcMargin]]):
    // screens that keep `adc ≥ threshold − mrg` never drop a true pair,
    // with no calibration statistics in the loop
    val out =
      if (withMargin) coded.withColumn("mrg",
        PqAdcMargin(normalized(col("cv")), col("codes"), codebooks))
      else coded
    out.drop("cv")
      // each cell lands wholly in one task → ONE file per cell per write
      // (partitionBy over the unshuffled plan writes tasks×cells files —
      // ~10k tiny postings files per streaming trigger at nlist ≈ √N)
      .repartition(col("cell"))
  }

  /** The STAGED incremental add to a [[buildIvfCodeIndex]] layout: assign
    * under the frozen centroids, encode under the frozen codebooks,
    * write the cell-partitioned delta to `outDir` for the exactly-once
    * publish ([[graft.streaming.StoreTxn]]).
    */
  def stageIvfCodeAppend(newVectors: DataFrame, indexDir: String,
      outDir: String): Unit = {
    val spark = newVectors.sparkSession
    val centroids = readIvfCentroids(spark, indexDir)
    val codebooks = readCodebooks(spark, indexDir + "/codebooks")
    // match the standing postings' shape: append `mrg` iff the standing
    // generation carries it (an append into a pre-margin index must not
    // fork the schema mid-generation; absent postings read as the
    // current build convention, which writes the margin)
    encodeIvfCode(newVectors, centroids, codebooks,
        withMargin = postingsHaveMargin(spark, indexDir))
      .write.mode("overwrite").partitionBy("cell").parquet(outDir)
  }

  private def postingsHaveMargin(spark: SparkSession, dir: String): Boolean = {
    val p = new org.apache.hadoop.fs.Path(dir + "/postings")
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    !fs.exists(p) ||
      spark.read.parquet(p.toString).schema.exists(_.name == "mrg")
  }

  /** Threshold CANDIDATES from a [[buildIvfCodeIndex]] layout: each query
    * probes its `nprobe` nearest cells, the pruned postings ADC-score
    * against the query's table (≈ cosine, full-vector codes), and rows
    * clearing `minAdc` come back with every extra posting column (e.g.
    * `b`) preserved — the caller exact-verifies them against the raw
    * corpus, so `minAdc` should sit a quantization-error margin BELOW
    * the real threshold (an over-tight margin loses recall; a loose one
    * only costs verify work). Returns (query_id, neighbor_id, cell,
    * adc, extras…).
    */
  def ivfCodeThresholdCandidates(dir: String, queries: DataFrame,
      minAdc: Double, nprobe: Int = 4): DataFrame = {
    val spark = queries.sparkSession
    import spark.implicits._
    val centroids = readIvfCentroids(spark, dir)
    val codebooks = readCodebooks(spark, dir + "/codebooks")
    val qRows = queries.select(col("vec_id"), asDouble(col("embedding")).as("v"))
      .orderBy("vec_id").as[(Long, Seq[Double])].collect()
    if (qRows.isEmpty) {
      // the empty frame must still carry the postings' extra columns
      // (e.g. the batch-stamp `b`) — callers filter on them, and a
      // pure-tombstone CDC trigger reaches here with zero offers
      val extraFields = spark.read.parquet(dir + "/postings").schema
        .filterNot(f => Set("neighbor_id", "cell", "codes")(f.name))
      val base = spark.range(0).select(col("id").as("query_id"),
        col("id").as("neighbor_id"), col("id").cast("int").as("cell"),
        col("id").cast("double").as("adc"))
      return extraFields.foldLeft(base) { (d, f) =>
        d.withColumn(f.name, lit(null).cast(f.dataType))
      }
    }
    val pr = adcProbesOf(qRows, centroids, codebooks, nprobe)
    val coded = spark.read.parquet(dir + "/postings")
      .filter(col("cell").isin(pr.probedCells.map(Integer.valueOf): _*))
    adcScoreCandidates(coded, pr, minAdc)
  }

  /** Threshold candidates with the EXACT per-posting margin: where the
    * postings carry `mrg` (every index [[buildIvfCodeIndex]] writes —
    * [[PqAdcMargin]], the posting's own ADC error bound), keep
    * `adc ≥ threshold − mrg` — recall-safe for ANY query by
    * Cauchy–Schwarz, so no calibration statistics stand between a true
    * pair and its verify; a posting the frozen codebooks quantize badly
    * (corpus drift) degrades to always-verify instead of silently
    * slipping under a global margin. Legacy postings without `mrg` fall
    * back to the global `threshold − fallbackMargin` filter.
    */
  def ivfCodeThresholdCandidatesExact(dir: String, queries: DataFrame,
      threshold: Double, nprobe: Int = 4,
      fallbackMargin: Double = 0.15): DataFrame = {
    val spark = queries.sparkSession
    if (!postingsHaveMargin(spark, dir))
      ivfCodeThresholdCandidates(dir, queries, threshold - fallbackMargin,
        nprobe)
    else
      ivfCodeThresholdCandidates(dir, queries, Double.MinValue, nprobe)
        .filter(col("adc") >= lit(threshold) - col("mrg"))
  }

  /** The driver-side probe set of a query batch against a frozen
    * (centroids, codebooks) pair: each query's ADC lookup table plus its
    * `nprobe` nearest cells — |Q|·m·ksub doubles of bounded metadata,
    * the reusable front half of [[ivfCodeThresholdCandidates]] (the
    * [[graft.streaming.CurationChain]] screen probes its own bucketed
    * postings store through this).
    */
  private[graft] final case class AdcProbes(
      tables: java.util.HashMap[java.lang.Long, Array[Array[Double]]],
      probes: Array[(Long, Int)]) {
    def probedCells: Array[Int] = probes.map(_._2).distinct.sorted
  }

  private[graft] def adcProbes(queries: DataFrame,
      centroids: Array[Array[Double]],
      codebooks: Array[Array[Array[Double]]],
      nprobe: Int): Option[AdcProbes] = {
    val spark = queries.sparkSession
    import spark.implicits._
    val qRows = queries.select(col("vec_id"), asDouble(col("embedding")).as("v"))
      .orderBy("vec_id").as[(Long, Seq[Double])].collect()
    if (qRows.isEmpty) None
    else Some(adcProbesOf(qRows, centroids, codebooks, nprobe))
  }

  private def adcProbesOf(qRows: Array[(Long, Seq[Double])],
      centroids: Array[Array[Double]],
      codebooks: Array[Array[Array[Double]]], nprobe: Int): AdcProbes = {
    val np = math.max(1, math.min(nprobe, centroids.length))
    val tables = new java.util.HashMap[java.lang.Long, Array[Array[Double]]]()
    val probes = qRows.flatMap { case (id, v) =>
      val unit = l2normalize(v.toArray)
      tables.put(id, PqKernels.adcTable(unit, codebooks))
      centroids.indices
        .map(ci => (ci, {
          var d = 0.0; var j = 0
          while (j < unit.length) { d += unit(j) * centroids(ci)(j); j += 1 }
          d
        }))
        // lowest cell wins dot ties — the same first-max rule as
        // [[IvfKernels.cell]], so a stored vector's assigned cell is
        // always its identical query's FIRST probe
        .sortBy { case (ci, d) => (-d, ci) }
        .take(np)
        .map { case (ci, _) => (id, ci) }
    }
    AdcProbes(tables, probes)
  }

  /** ADC-score a (neighbor_id, cell, codes, extras…) postings frame
    * against a probe set and keep rows clearing `minAdc` — the back half
    * of [[ivfCodeThresholdCandidates]], shared with callers that read
    * their postings through their own pruned/tombstone-filtered path.
    */
  private[graft] def adcScoreCandidates(coded: DataFrame, pr: AdcProbes,
      minAdc: Double): DataFrame = {
    val spark = coded.sparkSession
    import spark.implicits._
    val extras = coded.columns
      .filterNot(Set("neighbor_id", "cell", "codes")).toSeq
    // PqAdc is a squared-L2 ADC over unit vectors: cos = 1 − d²/2
    coded.join(broadcast(pr.probes.toSeq.toDF("query_id", "cell")), "cell")
      .filter(col("query_id") =!= col("neighbor_id"))
      .select(Seq(col("query_id"), col("neighbor_id"), col("cell"),
        (lit(1.0) - PqAdc(col("query_id"), col("codes"), pr.tables) / 2.0)
          .as("adc")) ++
        extras.map(col): _*)
      .filter(col("adc") >= minAdc)
  }

  /** Persisted IVF-PQ index — the full IVFADC layout ([[ivfpqTopK]]'s
    * train+assign written once): coarse centroids + residual sub-codebooks
    * (both metadata-scale) + the postings — every vector's m residual
    * codes PARTITIONED BY its coarse cell, so a probe reads only its
    * probed cells' files (static partition pruning, asserted in
    * PqIndexSpec) and each file carries m bytes/vector. This is the
    * 100 TB layout: nprobe/nlist of the corpus read per probe, at PQ's
    * compression, rebuilt only on drift.
    */
  def buildIvfPqIndex(candidates: DataFrame, dir: String, nlist: Int = 16,
      m: Int = 8, ksub: Int = 256): Unit = {
    val spark = candidates.sparkSession
    import spark.implicits._
    val centroids = trainCentroids(candidates, nlist)
    val codebooks = trainResidualCodebooks(candidates, centroids, m, ksub)
    centroids.zipWithIndex
      .map { case (v, i) => (i, v.toSeq) }.toSeq
      .toDF("cell", "centroid")
      .coalesce(1).write.mode("overwrite").parquet(dir + "/centroids")
    writeCodebooks(spark, codebooks, dir + "/codebooks")
    candidates
      .select(col("vec_id").as("neighbor_id"), asDouble(col("embedding")).as("cv"))
      .select(col("neighbor_id"), IvfResidual(col("cv"), centroids).as("r"))
      .select(col("neighbor_id"), col("r.cell").as("cell"),
        PqCode(col("r.res"), codebooks).as("codes"))
      .write.mode("overwrite").partitionBy("cell").parquet(dir + "/postings")
  }

  /** Probe a [[buildIvfPqIndex]] layout: rebuild the per-(query, cell)
    * residual ADC tables from the stored centroids + codebooks, read ONLY
    * the probed cells' postings (partition-pruned), ADC-score, and
    * exact-rerank survivors against `corpus`. Identical output to the
    * inline [[ivfpqTopK]] at equal parameters (PqIndexSpec).
    */
  def probeIvfPqIndex(dir: String, queries: DataFrame, corpus: DataFrame,
      k: Int, nprobe: Int = 12, rerank: Int = 48): DataFrame = {
    require(rerank >= k, s"rerank=$rerank must be >= k=$k")
    val spark = queries.sparkSession
    import spark.implicits._
    val centroids: Array[Array[Double]] = spark.read
      .parquet(dir + "/centroids")
      .select("cell", "centroid").collect()
      .sortBy(_.getInt(0))
      .map(_.getSeq[Double](1).toArray)
    val nlist = centroids.length
    require(nprobe >= 1 && nprobe <= nlist, s"nprobe $nprobe out of [1, $nlist]")
    val codebooks = readCodebooks(spark, dir + "/codebooks")
    val qRows = queries.select(col("vec_id"), asDouble(col("embedding")).as("v"))
      .orderBy("vec_id").as[(Long, Seq[Double])].collect()
    val tables = new java.util.HashMap[java.lang.Long, Array[Array[Double]]]()
    val probes = qRows.flatMap { case (id, v) =>
      val a = v.toArray
      var s = 0.0; var i = 0
      while (i < a.length) { s += a(i) * a(i); i += 1 }
      val n = math.sqrt(s)
      val unit = if (n == 0) a else a.map(_ / n)
      val byDot = centroids.indices
        .map(ci => (ci, {
          var d = 0.0; var j = 0
          while (j < unit.length) { d += unit(j) * centroids(ci)(j); j += 1 }
          d
        }))
        .sortBy { case (ci, d) => (-d, ci) }
        .take(nprobe)
      byDot.map { case (ci, _) =>
        val cen = centroids(ci)
        val qres = Array.tabulate(unit.length)(j => unit(j) - cen(j))
        tables.put(id * nlist + ci, PqKernels.adcTable(qres, codebooks))
        (id, ci)
      }
    }
    val probedCells: Array[Int] = probes.map(_._2).distinct.sorted
    val coded = spark.read.parquet(dir + "/postings")
      .filter(col("cell").isin(probedCells.map(Integer.valueOf): _*))
    val probeDf = probes.toSeq.toDF("query_id", "cell")
    val scored = coded.join(broadcast(probeDf), "cell")
      .filter(col("query_id") =!= col("neighbor_id"))
      .select(col("query_id"), col("neighbor_id"),
        PqAdc(col("query_id") * nlist + col("cell"), col("codes"), tables).as("adc"))
    val c = corpus
      .select(col("vec_id").as("neighbor_id"), asDouble(col("embedding")).as("cv"))
    adcCompactRerank(scored, c, qRows.toSeq.toDF("query_id", "qv"), k, rerank)
  }
}
