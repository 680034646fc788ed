package graft.llm

import graft.{SparkSpec, Tables}

/** SemDeDup cluster-scoped semantic dedup vs the exact all-pairs oracle at
  * sf0.001: precision 1 by construction, recall floor for single
  * assignment, multi-probe assignment dominating it, and the nlist=1
  * degenerate case collapsing to the exact operator.
  */
class SemDedupSpec extends SparkSpec {

  val dir = "/root/testdata/sf0.001"
  val threshold = 0.45

  private def pairSet(df: org.apache.spark.sql.DataFrame): Set[(Long, Long)] =
    df.select("da", "db").collect().map(r => (r.getLong(0), r.getLong(1))).toSet

  private lazy val emb = Tables(spark, dir, "embeddings")
  private lazy val exact = pairSet(Similarity.cosineNearDupPairs(emb, threshold))

  // The fixture's strongest pair is cosine 0.48 (no planted high-cosine
  // dups at any SF), so these gates run in SemDeDup's HARD regime: weakly
  // similar pairs genuinely straddle k-means cells. At the recipe's usual
  // near-dup thresholds (≥0.95) co-clustering is far tighter; here the
  // multi-probe dial carries recall (measured sweep: nlist=16 probes
  // 1/2/4 → 0.29/0.57/1.0; nlist=8 probes 2 → 1.0).

  test("single-assignment finds pairs with precision 1 (weak-pair regime)") {
    assert(exact.nonEmpty, "fixture should contain near-dup embeddings")
    val approx = pairSet(Similarity.semDedupPairs(emb, threshold, nlist = 16))
    assert(approx.nonEmpty, "single assignment should still co-cluster some pairs")
    // within-cluster cosine is exact → nothing above threshold is spurious
    assert((approx -- exact).isEmpty)
  }

  test("multi-probe assignment dominates single and clears recall 0.85") {
    val single = pairSet(Similarity.semDedupPairs(emb, threshold, nlist = 16))
    val double = pairSet(Similarity.semDedupPairs(emb, threshold, nlist = 16, probes = 2))
    val quad = pairSet(Similarity.semDedupPairs(emb, threshold, nlist = 16, probes = 4))
    assert(single.subsetOf(double) && double.subsetOf(quad),
      "wider probing only adds shared cells: pairs can only be added")
    val rQuad = (exact & quad).size.toDouble / exact.size
    assert(rQuad >= 0.85, s"probes=4 recall=$rQuad (measured 1.0)")
    assert((quad -- exact).isEmpty)
  }

  test("nlist=1 degenerates to the exact operator") {
    val one = pairSet(Similarity.semDedupPairs(emb, threshold, nlist = 1))
    assert(one == exact)
  }

  test("incremental mode: nlist=1 is the exact cross join; cell modes never leak") {
    import org.apache.spark.sql.functions._
    val newE = emb.filter(col("vec_id") % 10 === 0)
    val corpus = emb.filter(col("vec_id") % 10 =!= 0)
    def cross(df: org.apache.spark.sql.DataFrame): Set[(Long, Long)] =
      df.select("new_id", "corpus_id").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
    // exact mode ≡ the full exact pairs restricted to new×corpus
    val one = cross(Similarity.semDedupPairsAgainst(newE, corpus, threshold,
      nlist = 1))
    val want = exact.flatMap { case (a, b) =>
      (a % 10 == 0, b % 10 == 0) match {
        case (true, false) => Some((a, b))
        case (false, true) => Some((b, a))
        case _ => None
      }
    }
    assert(one == want && one.nonEmpty)
    // cell-scoped modes: precision 1, no same-side pairs, probes dominate
    val p1 = cross(Similarity.semDedupPairsAgainst(newE, corpus, threshold,
      nlist = 16))
    val p4 = cross(Similarity.semDedupPairsAgainst(newE, corpus, threshold,
      nlist = 16, probes = 4))
    assert(p1.subsetOf(p4) && p4.subsetOf(one))
    p4.foreach { case (n, c) =>
      assert(n % 10 == 0 && c % 10 != 0, s"same-side pair leaked: ($n, $c)")
    }
    val recall = (want & p4).size.toDouble / want.size
    assert(recall >= 0.85, s"probes=4 incremental recall=$recall")
    // auto nlist at this sf resolves to the clamp floor: same result
    assert(cross(Similarity.semDedupPairsAgainst(newE, corpus, threshold,
      probes = 4)) == p4)
  }

  test("past the scalar ceiling the distributed trainer takes over: unit " +
      "centroids, bit-deterministic under repartitioning, precision holds") {
    import org.apache.spark.sql.functions.col
    // sf0.1 (2000 vectors) so nlist can exceed ScalarTrainerCeiling while
    // the bounded sample still seeds every cluster
    val big = Tables(spark, "/root/testdata/sf0.1", "embeddings")
    val k = Similarity.ScalarTrainerCeiling + 6
    val c1 = Similarity.trainCentroids(big, k, sampleSize = 4 * k)
    assert(c1.length == k)
    c1.foreach { c =>
      val n = math.sqrt(c.map(x => x * x).sum)
      assert(n == 0.0 || math.abs(n - 1.0) < 1e-9, s"non-unit centroid $n")
    }
    // decimal-snapped updates: identical centroids under any partitioning
    val c2 = Similarity.trainCentroids(big.repartition(7), k, sampleSize = 4 * k)
    assert(c1.zip(c2).forall { case (a, b) => a.sameElements(b) })
    // and the incremental operator stays precision-1 / same-side-clean
    // with a distributed-trained cell map
    val newE = big.filter(col("vec_id") % 10 === 0)
    val corpus = big.filter(col("vec_id") % 10 =!= 0)
    val exactBig = Similarity
      .semDedupPairsAgainst(newE, corpus, threshold, nlist = 1)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val cells = Similarity
      .semDedupPairsAgainst(newE, corpus, threshold, nlist = k, probes = 2)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(cells.subsetOf(exactBig))
    cells.foreach { case (n, c) => assert(n % 10 == 0 && c % 10 != 0) }
  }

  test("two-level cells: kernel composition, degenerate exactness, precision, " +
      "probe monotonicity, determinism") {
    import org.apache.spark.sql.functions.col
    import org.apache.spark.sql.catalyst.util.GenericArrayData
    val (coarse, subs) = Similarity.trainTwoLevel(emb, k1 = 4, k2 = 3)
    assert(coarse.length == 4 && subs.length == 4 && subs.forall(_.length == 3))
    // kernel: cell2 IS branch·k2 + sub-argmax within that branch
    val vecs = emb.select("embedding").collect()
      .map(_.getSeq[Float](0).map(_.toDouble).toArray)
    vecs.take(50).foreach { v =>
      val ad = new GenericArrayData(v)
      val b = IvfKernels.cell(ad, coarse)
      assert(IvfKernels.cell2(ad, coarse, subs)
        == b * 3 + IvfKernels.cell(ad, subs(b)))
      // probe2's first cell is the single assignment
      assert(IvfKernels.probe2(ad, coarse, subs, 2).getInt(0)
        == IvfKernels.cell2(ad, coarse, subs))
    }
    // training is deterministic under repartitioning
    val (c2, s2) = Similarity.trainTwoLevel(emb.repartition(5), k1 = 4, k2 = 3)
    assert(coarse.zip(c2).forall { case (a, b) => a.sameElements(b) })
    assert(subs.zip(s2).forall { case (a, b) =>
      a.zip(b).forall { case (x, y) => x.sameElements(y) } })

    val newE = emb.filter(col("vec_id") % 10 === 0)
    val corpus = emb.filter(col("vec_id") % 10 =!= 0)
    def cross(df: org.apache.spark.sql.DataFrame): Set[(Long, Long)] =
      df.select("new_id", "corpus_id").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
    val want = cross(Similarity.semDedupPairsAgainst(newE, corpus, threshold,
      nlist = 1))
    // degenerate two-level (1×1 = one cell) IS the exact cross join
    assert(cross(Similarity.semDedupPairsAgainst(newE, corpus, threshold,
      twoLevel = 1)) == want)
    // real two-level cells: precision 1, no same-side leak, probes monotone
    val p1 = cross(Similarity.semDedupPairsAgainst(newE, corpus, threshold,
      twoLevel = 4))
    val p2 = cross(Similarity.semDedupPairsAgainst(newE, corpus, threshold,
      twoLevel = 4, probes = 2))
    assert(p1.subsetOf(p2) && p2.subsetOf(want))
    p2.foreach { case (n, c) => assert(n % 10 == 0 && c % 10 != 0) }
  }

  test("nlist=1 is an untrained one-cell model giving the trained paths' " +
      "pairs: seeded vectors, pairs at the threshold, a null embedding, " +
      "empty input") {
    import org.apache.spark.sql.DataFrame
    import org.apache.spark.sql.functions.lit
    val s = spark
    import s.implicits._
    val t = 0.9
    val rnd = new scala.util.Random(7)
    def unit(v: Array[Double]): Seq[Double] = {
      val n = math.sqrt(v.map(x => x * x).sum); v.map(_ / n).toSeq
    }
    val random = (0L until 60L).map(i =>
      i -> unit(Array.fill(8)(rnd.nextGaussian())))
    // partners of vector 0 at cosine t ± 1e-6: one pair just passes the
    // gate, its twin just fails — both paths score with the same kernel
    def at(c: Double): Seq[Double] = {
      val b = random.head._2.toArray
      val o = unit(Array.tabulate(8)(i => if (i == 0) -b(1) else if (i == 1) b(0) else 0.0))
      b.indices.map(i => c * b(i) + math.sqrt(1 - c * c) * o(i))
    }
    val near = Seq(100L -> at(t + 1e-6), 101L -> at(t - 1e-6),
      102L -> random(5)._2.map(_ * 3.0)) // a scaled copy: cosine 1
    val vecs = (random ++ near).toDF("vec_id", "embedding")
    val withNull = vecs.union(Seq(200L).toDF("vec_id")
      .withColumn("embedding", lit(null).cast("array<double>")))
    val empty = vecs.limit(0)
    def cross(df: DataFrame): Set[(Long, Long)] =
      df.select("new_id", "corpus_id").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet

    // trained references: one trained cell (1×1 two-level), and 8
    // trained cells with every cell probed — both exact by construction
    val want = pairSet(Similarity.semDedupPairs(vecs, t, twoLevel = 1))
    assert(want == pairSet(Similarity.semDedupPairs(vecs, t, nlist = 8, probes = 8)))
    assert(want.contains((0L, 100L)) && !want.contains((0L, 101L)) &&
      want.contains((5L, 102L)), s"threshold fixture broken: $want")
    val one = Similarity.semDedupPairs(withNull, t, nlist = 1)
    assert(pairSet(one) == want, "the null embedding joins no pair")
    assert(one.queryExecution.executedPlan.toString.contains("BroadcastHashJoin"),
      "one cell broadcasts instead of shuffling on a constant key")
    assert(pairSet(Similarity.semDedupPairs(empty, t, nlist = 1)).isEmpty)

    val (newE, corpus) = (vecs.filter($"vec_id" % 3 === 0),
      vecs.filter($"vec_id" % 3 =!= 0))
    val wantX = cross(Similarity.semDedupPairsAgainst(newE, corpus, t,
      nlist = 8, probes = 8))
    assert(wantX == cross(Similarity.semDedupPairsAgainst(newE, corpus, t,
      twoLevel = 1)))
    assert(cross(Similarity.semDedupPairsAgainst(
      newE.union(withNull.filter($"vec_id" === 200L)),
      corpus.union(withNull.filter($"vec_id" === 200L)), t, nlist = 1)) == wantX)
    assert(cross(Similarity.semDedupPairsAgainst(newE, empty, t, nlist = 1)).isEmpty)
    assert(cross(Similarity.semDedupPairsAgainst(empty, corpus, t, nlist = 1)).isEmpty)

    // a dimension mismatch still fails loudly — in the cosine kernel
    val bad = vecs.union(Seq(300L -> Seq(1.0, 0.0)).toDF("vec_id", "embedding"))
    val err = intercept[Exception](
      Similarity.semDedupPairs(bad, t, nlist = 1).collect())
    assert(Iterator.iterate[Throwable](err)(_.getCause).takeWhile(_ != null)
      .exists(e => String.valueOf(e.getMessage).contains("dimensions differ")))
  }

  test("a null embedding stays out of the trained models' sample: nlist = 4 " +
      "and the auto-sized model") {
    import org.apache.spark.sql.functions.lit
    val s = spark
    import s.implicits._
    val t = 0.9
    val rnd = new scala.util.Random(11)
    def unit(v: Array[Double]): Seq[Double] = {
      val n = math.sqrt(v.map(x => x * x).sum); v.map(_ / n).toSeq
    }
    val random = (0L until 20L).map(i => i -> unit(Array.fill(8)(rnd.nextGaussian())))
    // a scaled copy and an exact copy: cosine 1, so they share any cell
    val dups = Seq(100L -> random(3)._2.map(_ * 2.0), 101L -> random(7)._2)
    val vecs = (random ++ dups).toDF("vec_id", "embedding")
    val withNull = vecs.union(Seq(200L).toDF("vec_id")
      .withColumn("embedding", lit(null).cast("array<double>")))
    val want = pairSet(Similarity.semDedupPairs(vecs, t, nlist = 1))
    assert(want.contains((3L, 100L)) && want.contains((7L, 101L)), s"fixture: $want")
    // every cell probed: exact
    assert(pairSet(Similarity.semDedupPairs(withNull, t, nlist = 4, probes = 4)) == want)
    val auto = pairSet(Similarity.semDedupPairs(withNull, t))
    assert(auto.subsetOf(want) && auto.contains((3L, 100L)) && auto.contains((7L, 101L)),
      s"auto-sized: $auto")
  }

  test("drop list is the higher id of each pair, deduplicated") {
    val pairs = Similarity.semDedupPairs(emb, threshold, nlist = 16)
    val drops = Similarity.semDedupDrops(emb, threshold, nlist = 16)
      .collect().map(_.getLong(0)).toSet
    val expected = pairSet(pairs).map(_._2)
    assert(drops == expected)
  }
}
