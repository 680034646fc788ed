package graft.llm

import graft.{Q, Tables}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** LLM-training-data operator surface (SURVEY.md §2B LLM rows) over the
  * `documents` and `embeddings` fixtures. Exact operators carry DuckDB
  * oracles; approximate ones (MinHash-LSH, SimHash, hyperplane ANN) are
  * rows-only here and recall-tested against their exact counterparts in
  * LshSpec.
  */
object LlmQueries {

  private def t(s: SparkSession, dir: String, n: String): DataFrame = Tables(s, dir, n)

  /** Materialize a multi-consumer intermediate ONCE per execution via a
    * forced hash exchange instead of `persist()` (r15 verdict item 6: the
    * q106/q182/q247 persists never unpersisted, leaking one corpus-scale
    * cache per distinct plan in any long-lived session). Every consumer
    * of the returned frame embeds the identical exchange subtree, so
    * ReuseExchange/AQE-stage-reuse computes the expensive upstream once
    * and the remaining consumers read the shuffle files — the same
    * single-computation property the persist bought, with the lifetime
    * managed natively by Spark (shuffle files vanish with the stage, no
    * cache entry to leak, nothing to unpersist). Keyed on the consumer's
    * join/dedup key so a downstream equi-join on that key can reuse the
    * partitioning outright (guide §2.4).
    */
  private def shareByExchange(df: DataFrame, key: String): DataFrame =
    df.repartition(col(key))

  /** Shared DuckDB oracle for the directed-containment pair set: q234
    * (plain shared-shingle formulation) and q235 (one-sided prefix
    * filter) must both reproduce it exactly — the prefix filter is
    * lossless by theorem and pinned by this gate.
    */
  private val ContainmentOracle: String =
    """WITH toks AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
      |sh AS (SELECT DISTINCT doc_id,
      |    unnest(list_transform(generate_series(1, len(toks) - 2),
      |      i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2])) AS tri
      |  FROM toks),
      |sizes AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n FROM sh GROUP BY doc_id),
      |inter AS (SELECT a.doc_id AS da, b.doc_id AS db,
      |    CAST(count(*) AS BIGINT) AS common
      |  FROM sh a JOIN sh b ON a.tri = b.tri AND a.doc_id <> b.doc_id
      |  GROUP BY a.doc_id, b.doc_id)
      |SELECT da, db, common, n AS na,
      |  (common * 1000000) // n AS containment_ppm
      |FROM inter JOIN sizes ON inter.da = sizes.doc_id
      |WHERE (common * 1000000) // n >= 800000
      |ORDER BY da, db""".stripMargin

  /** q247's containment-drop policy as one reusable stage: DIRECTED
    * drops over the q235 prefix-filtered pair join (the lossless
    * one-sided filter IS the 100 TB path; q234≡q235 pins it to the
    * plain formulation), with the MUTUAL-containment exemption (r12
    * ADVICE): a doc ≥ 80% contained in another survivor drops, UNLESS
    * the pair is mutually contained and the doc is the pair's canonical
    * member (longer text, then lower id) — without the exemption two
    * near-identical survivors each contained in the other both drop and
    * the content is lost entirely. The mutual check is a self-join of
    * the (already threshold-filtered, |pairs|-bounded) pair set, never
    * a second shingle pass. Returns one `doc_id` column: the drop set.
    */
  private[llm] def curationContainmentDrops(canon: DataFrame): DataFrame = {
    val pairs = Dedup.containmentPairs(canon, "text", "doc_id")
      .select("da", "db")
    val lens = canon.select(col("doc_id"),
      length(col("text")).cast(LongType).as("len"))
    val rev = pairs.select(col("db").as("da"), col("da").as("db"),
      lit(true).as("mutual"))
    pairs
      .join(rev, Seq("da", "db"), "left")
      .join(lens.select(col("doc_id").as("da"), col("len").as("la")), "da")
      .join(lens.select(col("doc_id").as("db"), col("len").as("lb")), "db")
      .filter(!(coalesce(col("mutual"), lit(false)) &&
        (col("la") > col("lb") ||
          (col("la") === col("lb") && col("da") < col("db")))))
      .select(col("da").as("doc_id")).distinct()
  }

  /** Per-JVM root for q220's persisted IVF index: pid-qualified so two
    * concurrent processes over the same fixture never race on one path,
    * removed recursively at JVM exit.
    */
  private[llm] lazy val ivfIndexRoot: String = {
    val root = java.nio.file.Files
      .createTempDirectory(s"graft_ivf_idx_${ProcessHandle.current().pid()}_")
    Runtime.getRuntime.addShutdownHook(new Thread(() => {
      def rm(f: java.io.File): Unit = {
        val kids = f.listFiles(); if (kids != null) kids.foreach(rm)
        f.delete(); ()
      }
      rm(root.toFile)
    }))
    root.toString
  }

  /** Stupid-Backoff trigram LM scoring (q156's engine), shared with the
    * CCNet bucket query (q166): (doc_id, n_scored, logprob_sum,
    * avg_logprob) for EVERY doc (short docs: n_scored = 0, null score).
    * See the q156 comment for semantics and the scale argument.
    */
  private def lmScoreDf(s: SparkSession, dir: String): DataFrame = {
    val docs = t(s, dir, "documents")
    val toks = TextOps.tokens(col("text"))
    val train = docs.filter(col("doc_id") % 2 === 0)
    val uni = train.select(explode(toks).as("g"))
      .groupBy("g").agg(count(lit(1)).as("c1"))
    val bi = train.select(explode(WordSpans(toks, 2)).as("g"))
      .groupBy("g").agg(count(lit(1)).as("c2"))
    val tri = train.select(explode(WordSpans(toks, 3)).as("g"))
      .groupBy("g").agg(count(lit(1)).as("c3"))
    val n = train.agg(sum(size(toks)).cast(LongType).as("n_train"))
    val pairs = docs.select(col("doc_id"), explode(WordSpans(toks, 3)).as("tri"))
      .groupBy("doc_id", "tri").agg(count(lit(1)).as("m"))
      .withColumn("p", split(col("tri"), " "))
      .select(col("doc_id"), col("tri"), col("m"),
        concat_ws(" ", col("p")(0), col("p")(1)).as("ctx2"),
        concat_ws(" ", col("p")(1), col("p")(2)).as("bi"),
        col("p")(1).as("ctx1"), col("p")(2).as("uni"))
    val scored = pairs
      .join(tri.select(col("g").as("tri"), col("c3")), Seq("tri"), "left")
      .join(bi.select(col("g").as("ctx2"), col("c2").as("c2ctx")), Seq("ctx2"), "left")
      .join(bi.select(col("g").as("bi"), col("c2").as("c2bi")), Seq("bi"), "left")
      .join(uni.select(col("g").as("ctx1"), col("c1").as("c1ctx")), Seq("ctx1"), "left")
      .join(uni.select(col("g").as("uni"), col("c1").as("c1uni")), Seq("uni"), "left")
      .crossJoin(broadcast(n))
    val sb = when(coalesce(col("c3"), lit(0L)) > 0,
        col("c3").cast(DoubleType) / col("c2ctx").cast(DoubleType))
      .when(coalesce(col("c2bi"), lit(0L)) > 0,
        lit(0.4) * col("c2bi").cast(DoubleType) / col("c1ctx").cast(DoubleType))
      .otherwise(lit(0.16) *
        greatest(coalesce(col("c1uni"), lit(0L)), lit(1L)).cast(DoubleType) /
        col("n_train").cast(DoubleType))
    // The snapped ln STAYS decimal and multiplies the integer count in
    // exact decimal arithmetic — a double product cast back to decimal
    // lands on .5 ulp boundaries (snap9 × integer) where the two
    // engines' rounding can split by 1e-8.
    val perDoc = scored
      .select(col("doc_id"), col("m"),
        (log(sb).cast(DecimalType(18, 9)) *
          col("m").cast(DecimalType(10, 0))).as("term"))
      .groupBy("doc_id")
      .agg(sum(col("m")).as("n_scored"),
        sum(col("term")).cast(DoubleType).as("logprob_sum"))
    // Left-join back onto the doc spine: docs with < 3 tokens have no
    // trigram pairs and would otherwise vanish from the output.
    docs.select(col("doc_id"))
      .join(perDoc, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("n_scored"), lit(0L)).as("n_scored"),
        col("logprob_sum"),
        (col("logprob_sum") / col("n_scored").cast(DoubleType)).as("avg_logprob"))
  }

  /** BM25 scoring (k1 = 1.2, b = 0.75) of every document matching any of
    * `terms` — (doc_id, bm25), unordered; q146's engine, shared with the
    * hybrid-retrieval fusion (q214). Per-term scores snap to
    * DECIMAL(18,8) before the per-doc sum so the distributed aggregation
    * is order-insensitive and bit-identical to the serial oracle; idf
    * snaps to DECIMAL(18,9) at its birth for the same reason. Plan: the
    * token explode filters to the query terms before the (doc, term)
    * agg; df and the (N, avgdl) stats broadcast at metadata scale.
    */
  private def bm25Scored(docs: DataFrame, terms: Seq[String]): DataFrame = {
    val toks = TextOps.tokens(col("text"))
    val dl = docs.select(col("doc_id"), size(toks).as("dl"))
    val stats = dl.agg(count(lit(1)).as("n"),
      (sum(col("dl")).cast(DoubleType) / count(lit(1)).cast(DoubleType)).as("avgdl"))
    val tf = docs.select(col("doc_id"), explode(toks).as("tok"))
      .filter(col("tok").isin(terms: _*))
      .groupBy("doc_id", "tok").agg(count(lit(1)).as("tf"))
    val dfs = tf.groupBy("tok").agg(count(lit(1)).as("df"))
    val r = (col("n") - col("df") + lit(0.5)) / (col("df") + lit(0.5)) + lit(1.0)
    val idf = dfs.crossJoin(broadcast(stats))
      .select(col("tok"), col("avgdl"),
        log(r).cast(DecimalType(18, 9)).cast(DoubleType).as("idf9"))
    val sat = (col("tf").cast(DoubleType) * lit(2.2)) /
      (col("tf").cast(DoubleType) +
        lit(1.2) * (lit(0.25) + lit(0.75) * (col("dl").cast(DoubleType) / col("avgdl"))))
    tf.join(broadcast(idf), "tok")
      .join(dl, "doc_id")
      .select(col("doc_id"), (col("idf9") * sat).cast(DecimalType(18, 8)).as("term_score"))
      .groupBy("doc_id")
      .agg(sum(col("term_score")).cast(DoubleType).as("bm25"))
  }

  /** The q216–q219 eval family's shared (pos, s) frame: label = the
    * q165 target sources, score = the integer-ppm distinct-token ratio
    * (an integer score keeps the per-score histogram exact with no
    * snapping caveat). */
  private def evalBase(s: SparkSession, dir: String): DataFrame = {
    val toks = TextOps.tokens(col("text"))
    t(s, dir, "documents").select(
        when(col("source").isin("src0", "src1", "src2", "src3"), 1L)
          .otherwise(0L).as("pos"),
        size(array_distinct(toks)).cast(LongType).as("ad"),
        size(toks).cast(LongType).as("n"))
      .selectExpr("pos", "(ad * CAST(1000000 AS BIGINT)) DIV n AS s")
  }

  /** The DuckDB rendering of [[evalBase]], shared by the q216–q219
    * oracles. */
  private val EvalBaseSql: String =
    """SELECT
      |    CASE WHEN source IN ('src0','src1','src2','src3') THEN 1 ELSE 0 END AS pos,
      |    (CAST(len(list_distinct(string_split(text, ' '))) AS BIGINT) * 1000000)
      |      // CAST(len(string_split(text, ' ')) AS BIGINT) AS s
      |  FROM documents""".stripMargin

  /** The q156 oracle's scoring CTEs (everything up to `perdoc`), shared
    * with the q166 bucket oracle.
    */
  private val LmScoreCtes: String =
    """WITH toks AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
      |trn AS (SELECT doc_id, toks FROM toks WHERE doc_id % 2 = 0),
      |c1 AS (SELECT g, CAST(count(*) AS BIGINT) AS c1
      |  FROM (SELECT unnest(toks) AS g FROM trn) GROUP BY g),
      |c2 AS (SELECT g, CAST(count(*) AS BIGINT) AS c2 FROM (
      |  SELECT unnest(list_transform(generate_series(1, len(toks) - 1),
      |    i -> toks[i] || ' ' || toks[i+1])) AS g FROM trn) GROUP BY g),
      |c3 AS (SELECT g, CAST(count(*) AS BIGINT) AS c3 FROM (
      |  SELECT unnest(list_transform(generate_series(1, len(toks) - 2),
      |    i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2])) AS g FROM trn) GROUP BY g),
      |n AS (SELECT CAST(sum(len(toks)) AS BIGINT) AS n_train FROM trn),
      |tri AS (SELECT doc_id, unnest(list_transform(generate_series(1, len(toks) - 2),
      |    i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2])) AS tri FROM toks),
      |pairs AS (SELECT doc_id, tri, CAST(count(*) AS BIGINT) AS m
      |  FROM tri GROUP BY doc_id, tri),
      |keys AS (SELECT doc_id, tri, m,
      |    p[1] || ' ' || p[2] AS ctx2, p[2] || ' ' || p[3] AS bi,
      |    p[2] AS ctx1, p[3] AS uni
      |  FROM (SELECT doc_id, tri, m, string_split(tri, ' ') AS p FROM pairs)),
      |scored AS (
      |  SELECT doc_id, m,
      |    CAST(ln(CASE
      |      WHEN coalesce(t3.c3, 0) > 0 THEN CAST(t3.c3 AS DOUBLE) / CAST(b2.c2 AS DOUBLE)
      |      WHEN coalesce(b1.c2, 0) > 0 THEN 0.4 * CAST(b1.c2 AS DOUBLE) / CAST(u1.c1 AS DOUBLE)
      |      ELSE 0.16 * CAST(greatest(coalesce(u2.c1, 0), 1) AS DOUBLE) / CAST(n.n_train AS DOUBLE)
      |    END) AS DECIMAL(18,9)) * CAST(m AS DECIMAL(10,0)) AS term
      |  FROM keys k
      |  LEFT JOIN c3 t3 ON k.tri = t3.g
      |  LEFT JOIN c2 b2 ON k.ctx2 = b2.g
      |  LEFT JOIN c2 b1 ON k.bi = b1.g
      |  LEFT JOIN c1 u1 ON k.ctx1 = u1.g
      |  LEFT JOIN c1 u2 ON k.uni = u2.g
      |  CROSS JOIN n)
      |, perdoc AS (
      |  SELECT doc_id, CAST(sum(m) AS BIGINT) AS n_scored,
      |    CAST(sum(term) AS DOUBLE) AS logprob_sum
      |  FROM scored GROUP BY doc_id)""".stripMargin

  /** Shared shingle-set SQL fragment for oracles (3-shingles, distinct). */
  private val ShingleCte =
    """sh AS (
      |  SELECT doc_id, unnest(list_distinct(list_transform(generate_series(1, len(toks) - 2),
      |    i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2]))) AS s
      |  FROM (SELECT doc_id, string_split(text, ' ') AS toks FROM documents)
      |)""".stripMargin

  val qs: Seq[Q] = Seq(

    Q("q40_dedup_exact",
      (s, dir) => Dedup.exactGroups(t(s, dir, "documents"), "text", "doc_id")
        .orderBy("content_hash"),
      Some("""SELECT sha256(text) AS content_hash, count(*) AS n_dups, min(doc_id) AS canonical_id
             |FROM documents GROUP BY 1 ORDER BY content_hash""".stripMargin)),

    Q("q41_dedup_jaccard",
      (s, dir) => Dedup.jaccardPairs(t(s, dir, "documents"), "text", "doc_id")
        .orderBy("da", "db"),
      Some(s"""WITH $ShingleCte,
             |cnt AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY 1),
             |inter AS (
             |  SELECT a.doc_id AS da, b.doc_id AS db, count(*) AS inter
             |  FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id GROUP BY 1, 2
             |)
             |SELECT da, db, inter, na, nb FROM (
             |  SELECT da, db, inter, ca.n AS na, cb.n AS nb FROM inter
             |  JOIN cnt ca ON ca.doc_id = da JOIN cnt cb ON cb.doc_id = db)
             |WHERE inter * 10 >= (na + nb - inter) * 7
             |ORDER BY da, db""".stripMargin)),

    // Approximate: LSH-bounded candidates, exact-Jaccard verified. Same
    // output shape as q41; recall asserted in LshSpec, rows-only here.
    Q("q42_dedup_minhash_lsh",
      (s, dir) => Dedup.minhashPairs(t(s, dir, "documents"), "text", "doc_id")
        .orderBy("da", "db"),
      None),

    Q("q43_dedup_simhash",
      (s, dir) => Dedup.simhashPairs(t(s, dir, "documents"), "text", "doc_id")
        .orderBy("da", "db"),
      None),

    // The PRODUCTION cluster path: near-dup clusters from the
    // MinHash-LSH detector (banded candidates + exact verify) instead of
    // q79's all-pairs exact detector. Same transitive closure
    // (large-star/small-star); the pair stage is the banded one that
    // holds at corpus scale — the sf10 (100×) step runs HERE, while q79
    // stays the declared exact oracle (its prefix filter needs Heaps-law
    // shingle growth, which the synthetic fixture's closed 32-word
    // vocabulary does not provide at 100×). Rows-only; gated by LshSpec:
    // at oracle scale LSH recall is 1.0, so these clusters must equal
    // q79's oracle-checked clusters exactly.
    Q("q203_dedup_clusters_lsh", { (s, dir) =>
        val docs = t(s, dir, "documents")
        val pairs = Dedup.minhashPairs(docs, "text", "doc_id")
        val comp = graft.operators.Components
          .connectedComponents(pairs, "da", "db")
          .withColumnRenamed("node", "doc_id")
        docs.select("doc_id")
          .join(comp, Seq("doc_id"), "left")
          .select(col("doc_id"),
            coalesce(col("component"), col("doc_id")).as("cluster_id"))
          .orderBy("doc_id")
      },
      None),

    Q("q44_sim_topk_brute", { (s, dir) =>
        val e = t(s, dir, "embeddings")
        Similarity.bruteForceTopK(e.filter(col("vec_id") < 10), e, k = 5)
          .withColumnRenamed("rank", "rnk")
          .orderBy("query_id", "rnk")
      },
      Some("""WITH scored AS (
             |  SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
             |    list_cosine_similarity(q.embedding, c.embedding) AS cos
             |  FROM embeddings q JOIN embeddings c ON c.vec_id <> q.vec_id
             |  WHERE q.vec_id < 10
             |), ranked AS (
             |  SELECT query_id, neighbor_id,
             |    row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, neighbor_id) AS rnk
             |  FROM scored)
             |SELECT query_id, rnk, neighbor_id FROM ranked WHERE rnk <= 5
             |ORDER BY query_id, rnk""".stripMargin)),

    Q("q45_sim_topk_lsh", { (s, dir) =>
        val e = t(s, dir, "embeddings")
        Similarity.lshTopK(e.filter(col("vec_id") < 10), e, k = 5)
          .withColumnRenamed("rank", "rnk")
          .orderBy("query_id", "rnk")
      },
      None),

    Q("q57_sim_topk_ivf", { (s, dir) =>
        val e = t(s, dir, "embeddings")
        Similarity.ivfTopK(e.filter(col("vec_id") < 10), e, k = 5)
          .withColumnRenamed("rank", "rnk")
          .orderBy("query_id", "rnk")
      },
      None),

    // The PERSISTED-index lifecycle beside q57's inline IVF: build the
    // cell-partitioned postings layout once, probe it with static
    // partition pruning — the production split where the index outlives
    // the query batch (train/assign cost amortizes across probes; a
    // probe reads nprobe/nlist of the corpus files, never rescans).
    // Rows-only; IvfIndexSpec gates probe ≡ inline ivfTopK exactly and
    // asserts the pruned scan.
    Q("q220_sim_topk_ivf_persisted", { (s, dir) =>
        val e = t(s, dir, "embeddings")
        // per-JVM unique root (pid + startup nonce): two concurrent runs
        // over the same fixture must not overwrite each other's index
        // mid-probe; math.floorMod keeps Int.MinValue.hashCode positive
        val idx = s"${LlmQueries.ivfIndexRoot}/${math.floorMod(dir.hashCode, 1 << 30)}"
        Similarity.buildIvfIndex(e, idx)
        Similarity.probeIvfIndex(idx, e.filter(col("vec_id") < 10), k = 5)
          .withColumnRenamed("rank", "rnk")
          .orderBy("query_id", "rnk")
      },
      None),

    // INCREMENTAL IVF index append — the lifecycle step q220's
    // build/probe split leaves out (a real corpus grows between
    // rebuilds): the index builds on the standing corpus (even vec_ids),
    // a new batch (odd vec_ids) appends under the FROZEN centroids —
    // parquet append into the cell partition dirs, no retrain, no
    // rewrite of standing postings — and the probe immediately sees
    // old+new through the same partition-pruned scan. Rows-only;
    // IvfIndexSpec gates append ≡ one-shot assignment under the same
    // centroids EXACTLY, plus appended-vector reachability.
    Q("q242_ivf_index_append", { (s, dir) =>
        val e = t(s, dir, "embeddings")
        val idx = s"${LlmQueries.ivfIndexRoot}/app_${math.floorMod(dir.hashCode, 1 << 30)}"
        Similarity.buildIvfIndex(e.filter(col("vec_id") % 2 === 0), idx)
        Similarity.appendToIvfIndex(e.filter(col("vec_id") % 2 =!= 0), idx)
        Similarity.probeIvfIndex(idx, e.filter(col("vec_id") < 10), k = 5)
          .withColumnRenamed("rank", "rnk")
          .orderBy("query_id", "rnk")
      },
      None),

    // IVF index BALANCE report — the rebuild trigger for the append
    // lifecycle above: per-cell occupancy share in integer ppm (nlist
    // rows, metadata-scale; appended batches land under frozen
    // centroids, so a share drifting far above 1/nlist says the corpus
    // outgrew its quantizer and the hot cell's probes degrade toward a
    // scan). Rows-only; IvfIndexSpec gates the shares summing to ~1 and
    // the counts reconciling with the postings.
    Q("q243_ivf_index_balance", { (s, dir) =>
        val e = t(s, dir, "embeddings")
        val idx = s"${LlmQueries.ivfIndexRoot}/bal_${math.floorMod(dir.hashCode, 1 << 30)}"
        Similarity.buildIvfIndex(e.filter(col("vec_id") % 2 === 0), idx)
        Similarity.appendToIvfIndex(e.filter(col("vec_id") % 2 =!= 0), idx)
        Similarity.ivfIndexBalance(s, idx)
      },
      None),

    // Persisted FLAT-PQ index (q148's lifecycle split, the q220 pattern on
    // the compressed index): codebooks + m-byte codes written once, the
    // probe ADC-scans codes only and exact-reranks survivors against the
    // corpus table (raw vectors stay OUT of the index — N·(8+m) bytes
    // total). Rows-only; PqIndexSpec gates probe ≡ inline pqTopK exactly.
    Q("q231_sim_topk_pq_persisted", { (s, dir) =>
        val e = t(s, dir, "embeddings")
        val idx = s"${LlmQueries.ivfIndexRoot}/pq_${math.floorMod(dir.hashCode, 1 << 30)}"
        Similarity.buildPqIndex(e, idx)
        Similarity.probePqIndex(idx, e.filter(col("vec_id") < 10), e, k = 5)
          .withColumnRenamed("rank", "rnk")
          .orderBy("query_id", "rnk")
      },
      None),

    // Persisted IVF-PQ index (q174's lifecycle split — the full IVFADC
    // layout at rest): centroids + residual codebooks + postings
    // PARTITIONED BY coarse cell, so a probe reads nprobe/nlist of the
    // corpus at PQ compression via static partition pruning (asserted in
    // PqIndexSpec). Rows-only; gated probe ≡ inline ivfpqTopK exactly.
    Q("q232_sim_topk_ivfpq_persisted", { (s, dir) =>
        val e = t(s, dir, "embeddings")
        val idx = s"${LlmQueries.ivfIndexRoot}/ivfpq_${math.floorMod(dir.hashCode, 1 << 30)}"
        Similarity.buildIvfPqIndex(e, idx)
        Similarity.probeIvfPqIndex(idx, e.filter(col("vec_id") < 10), e, k = 5)
          .withColumnRenamed("rank", "rnk")
          .orderBy("query_id", "rnk")
      },
      None),

    // q242's incremental append on the COMPRESSED layouts — the add-
    // after-train step for flat PQ (new vectors encode under the frozen
    // codebooks, their m-byte code rows append) and IVF-PQ (assign to
    // frozen coarse centroids, residuals encode under frozen
    // sub-codebooks, codes append into the cell partitions). Rows-only;
    // PqIndexSpec gates each append ≡ a one-shot assignment under the
    // same trained artifacts, exactly, plus appended-vector
    // reachability.
    Q("q245_pq_index_append", { (s, dir) =>
        val e = t(s, dir, "embeddings")
        val idx = s"${LlmQueries.ivfIndexRoot}/pqapp_${math.floorMod(dir.hashCode, 1 << 30)}"
        Similarity.buildPqIndex(e.filter(col("vec_id") % 2 === 0), idx)
        Similarity.appendToPqIndex(e.filter(col("vec_id") % 2 =!= 0), idx)
        Similarity.probePqIndex(idx, e.filter(col("vec_id") < 10), e, k = 5)
          .withColumnRenamed("rank", "rnk")
          .orderBy("query_id", "rnk")
      },
      None),

    Q("q246_ivfpq_index_append", { (s, dir) =>
        val e = t(s, dir, "embeddings")
        val idx = s"${LlmQueries.ivfIndexRoot}/ivfpqapp_${math.floorMod(dir.hashCode, 1 << 30)}"
        Similarity.buildIvfPqIndex(e.filter(col("vec_id") % 2 === 0), idx)
        Similarity.appendToIvfPqIndex(e.filter(col("vec_id") % 2 =!= 0), idx)
        Similarity.probeIvfPqIndex(idx, e.filter(col("vec_id") < 10), e, k = 5)
          .withColumnRenamed("rank", "rnk")
          .orderBy("query_id", "rnk")
      },
      None),

    // Round-12 composite — curation pipeline v3, the RefinedWeb-style
    // policy chain the r11/r12 dedup family enables, in ONE plan and ONE
    // oracle (q106 = v1 first-seen dedup + Jaccard drop; q182 = v2
    // winnowing + sampled shard; v3 = the asymmetric policies): quality
    // gate (word window + repetition ratio) → KEEP-LONGEST exact dedup
    // (the q199 rule: the longest duplicate survives, not the
    // first-seen) → DIRECTED containment drop (q234: any surviving doc
    // ≥ 80% contained in another survivor drops — the quote/subset
    // policy Jaccard dilutes away) → deterministic shuffle-shard (q172,
    // fresh salt). The containment stage runs the q235 PREFIX-FILTERED
    // formulation in the Spark plan (r12 verdict item 7 — lossless by
    // the one-sided pigeonhole, oracle-pinned identical by q234≡q235,
    // and the declared 100 TB path), while the DuckDB oracle keeps the
    // plain shared-shingle SQL. MUTUAL containment keeps its canonical
    // member (longer text, then lower id — r12 ADVICE): keep-longest
    // collapses only byte-identical texts, so two near-identical
    // survivors can each be ≥ 80% contained in the other, and an
    // undirected drop would silently lose the content entirely; a
    // one-way contained doc still drops unconditionally (the quote
    // case). Scale posture inherits each stage's: per-row gates, one
    // hash shuffle, prefix-bounded containment candidates, a
    // |pairs|-bounded mutual self-join, one shard shuffle — no stage
    // adds a new bottleneck class. Stage firing at sf0.01: gate drops
    // 8, containment drops 47; the keep-longest stage is exercised by
    // the oracle replaying the same rule (the driver fixture holds no
    // exact text duplicates — q40/q199 see the same corpus), its policy
    // gated value-level in q199; the mutual exemption is gated
    // value-level in CurationPolicySpec (the fixture's containments are
    // all one-way, so the oracle exercises the unconditional arm).
    Q("q247_pipeline_curation_v3", { (s, dir) =>
        val d = t(s, dir, "documents")
        val words = split(col("text"), " ")
        val nWords = size(words).cast(LongType)
        val uniqRatio = size(array_distinct(words)).cast(DoubleType) /
          nWords.cast(DoubleType)
        val gated = d.filter(nWords >= 8 && uniqRatio >= 0.3)
        val wH = org.apache.spark.sql.expressions.Window
          .partitionBy("h").orderBy(col("len").desc, col("doc_id"))
        // the survivor frame feeds the containment stage's four
        // shingle/length derivations plus the anti-join, each of which
        // would otherwise replay the gate + keep-longest window from the
        // scan — share it through one forced exchange (guide §3.3;
        // r16: was a persist(), which leaked its cache entry past the
        // query).
        val canon = shareByExchange(gated
          .withColumn("h", md5(col("text")))
          .withColumn("len", length(col("text")).cast(LongType))
          .withColumn("rn", row_number().over(wH))
          .filter(col("rn") === 1)
          .select("doc_id", "text"), "doc_id")
        val kept = canon.join(
          curationContainmentDrops(canon), Seq("doc_id"), "left_anti")
        val key = md5(concat(lit("v3:"), col("doc_id").cast(StringType)))
        val pfx = substring(col("shuffle_key"), 1, 2)
        val shard = when(pfx < "20", 0).when(pfx < "40", 1).when(pfx < "60", 2)
          .when(pfx < "80", 3).when(pfx < "a0", 4).when(pfx < "c0", 5)
          .when(pfx < "e0", 6).otherwise(7).cast(LongType)
        val wS = org.apache.spark.sql.expressions.Window
          .partitionBy("shard").orderBy("shuffle_key", "doc_id")
        kept.select(col("doc_id"), key.as("shuffle_key"))
          .withColumn("shard", shard)
          .withColumn("pos_in_shard", row_number().over(wS).cast(LongType))
          .select("doc_id", "shard", "pos_in_shard")
          .orderBy("shard", "pos_in_shard")
      },
      Some("""WITH g AS (
             |  SELECT doc_id, text FROM documents
             |  WHERE len(string_split(text, ' ')) >= 8
             |    AND CAST(len(list_distinct(string_split(text, ' '))) AS DOUBLE)
             |      / CAST(len(string_split(text, ' ')) AS DOUBLE) >= 0.3),
             |canon AS (
             |  SELECT doc_id, text FROM (
             |    SELECT doc_id, text, row_number() OVER (
             |        PARTITION BY md5(text)
             |        ORDER BY length(text) DESC, doc_id) AS rn
             |    FROM g) WHERE rn = 1),
             |toks AS (SELECT doc_id, string_split(text, ' ') AS toks FROM canon),
             |sh AS (SELECT DISTINCT doc_id,
             |    unnest(list_transform(generate_series(1, len(toks) - 2),
             |      i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2])) AS tri
             |  FROM toks),
             |sizes AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n
             |  FROM sh GROUP BY doc_id),
             |inter AS (SELECT a.doc_id AS da, b.doc_id AS db,
             |    CAST(count(*) AS BIGINT) AS common
             |  FROM sh a JOIN sh b ON a.tri = b.tri AND a.doc_id <> b.doc_id
             |  GROUP BY a.doc_id, b.doc_id),
             |pairs AS (SELECT da, db FROM inter
             |  JOIN sizes s ON s.doc_id = inter.da
             |  WHERE (common * 1000000) // s.n >= 800000),
             |lens AS (SELECT doc_id, CAST(length(text) AS BIGINT) AS len
             |  FROM canon),
             |contained AS (SELECT DISTINCT p.da AS doc_id
             |  FROM pairs p
             |  JOIN lens a ON a.doc_id = p.da
             |  JOIN lens b ON b.doc_id = p.db
             |  LEFT JOIN pairs r ON r.da = p.db AND r.db = p.da
             |  WHERE NOT (r.da IS NOT NULL
             |    AND (a.len > b.len OR (a.len = b.len AND p.da < p.db)))),
             |kept AS (SELECT doc_id FROM canon
             |  WHERE doc_id NOT IN (SELECT doc_id FROM contained)),
             |k AS (SELECT doc_id,
             |    md5('v3:' || CAST(doc_id AS VARCHAR)) AS key,
             |    substr(md5('v3:' || CAST(doc_id AS VARCHAR)), 1, 2) AS pfx
             |  FROM kept),
             |sh2 AS (SELECT doc_id, key,
             |    CAST(CASE WHEN pfx < '20' THEN 0 WHEN pfx < '40' THEN 1
             |      WHEN pfx < '60' THEN 2 WHEN pfx < '80' THEN 3
             |      WHEN pfx < 'a0' THEN 4 WHEN pfx < 'c0' THEN 5
             |      WHEN pfx < 'e0' THEN 6 ELSE 7 END AS BIGINT) AS shard
             |  FROM k)
             |SELECT doc_id, shard,
             |  CAST(row_number() OVER (PARTITION BY shard ORDER BY key, doc_id)
             |    AS BIGINT) AS pos_in_shard
             |FROM sh2 ORDER BY shard, pos_in_shard""".stripMargin)),

    // N-gram NOVELTY audit — per doc, the share of its distinct word
    // trigrams that appear in NO other document (integer ppm): the
    // memorization/novelty signal that separates boilerplate-heavy docs
    // (novelty → 0) from genuinely fresh text, published beside the
    // q198/q213 corpus reports. Plan: distinct (doc, trigram) pairs →
    // trigram-keyed df agg (the q122 skew note: a real n-gram vocab does
    // NOT broadcast, so the df lookup is a key-shuffle join at the
    // pair level, partial-agg bounded) → one per-doc integer fold.
    Q("q228_ngram_novelty", { (s, dir) =>
        val toks = TextOps.tokens(col("text"))
        val pairs = t(s, dir, "documents")
          .select(col("doc_id"), explode(WordSpans(toks, 3)).as("tri"))
          .distinct()
        val df3 = pairs.groupBy("tri").agg(count(lit(1)).as("df"))
        pairs.join(df3, "tri")
          .groupBy("doc_id")
          .agg(count(lit(1)).as("n_tri"),
            sum(when(col("df") === 1L, 1L).otherwise(0L)).as("n_novel"))
          .selectExpr("doc_id", "n_tri", "n_novel",
            "(n_novel * CAST(1000000 AS BIGINT)) DIV n_tri AS novelty_ppm")
          .orderBy("doc_id")
      },
      Some("""WITH toks AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
             |pairs AS (SELECT DISTINCT doc_id,
             |    unnest(list_transform(generate_series(1, len(toks) - 2),
             |      i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2])) AS tri
             |  FROM toks),
             |df3 AS (SELECT tri, CAST(count(*) AS BIGINT) AS df FROM pairs GROUP BY tri)
             |SELECT doc_id, CAST(count(*) AS BIGINT) AS n_tri,
             |  CAST(sum(CASE WHEN df = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_novel,
             |  (CAST(sum(CASE WHEN df = 1 THEN 1 ELSE 0 END) AS BIGINT) * 1000000)
             |    // CAST(count(*) AS BIGINT) AS novelty_ppm
             |FROM pairs JOIN df3 USING (tri)
             |GROUP BY doc_id ORDER BY doc_id""".stripMargin)),

    // Asymmetric CONTAINMENT dedup — the doc-in-doc / quote-inclusion
    // detector Jaccard cannot express: C(a→b) = |S(a)∩S(b)| / |S(a)|
    // over distinct word trigrams (Broder's containment, the resemblance
    // paper's second measure) flags a document mostly CONTAINED in a
    // larger one even when the Jaccard union term dilutes below any
    // threshold (a 50-word quote inside a 5000-word doc). Integer ppm,
    // pairs at containment ≥ 0.8 emitted DIRECTED (da contained-in db).
    // Exact shingle-join formulation is the declared small-sf oracle
    // (q41 class); at corpus scale the candidate pairs come from the q42
    // LSH banding and this fold scores only candidates — and the q122
    // skew rule applies: the trigram df join is pair-level key-shuffle,
    // partial-agg bounded, never a broadcast of a vocabulary.
    Q("q234_containment_dedup", { (s, dir) =>
        val toks = TextOps.tokens(col("text"))
        val sh = t(s, dir, "documents")
          .select(col("doc_id"), explode(WordSpans(toks, 3)).as("tri"))
          .distinct()
        val sizes = sh.groupBy("doc_id").agg(count(lit(1)).as("n"))
        val inter = sh.as("a")
          .join(sh.as("b"), col("a.tri") === col("b.tri") &&
            col("a.doc_id") =!= col("b.doc_id"))
          .groupBy(col("a.doc_id").as("da"), col("b.doc_id").as("db"))
          .agg(count(lit(1)).as("common"))
        inter
          .join(sizes.withColumnRenamed("doc_id", "da").withColumnRenamed("n", "na"), "da")
          .selectExpr("da", "db", "common", "na",
            "(common * CAST(1000000 AS BIGINT)) DIV na AS containment_ppm")
          .filter(col("containment_ppm") >= 800000L)
          .select("da", "db", "common", "na", "containment_ppm")
          .orderBy("da", "db")
      },
      Some(ContainmentOracle)),

    // q234's PRODUCTION formulation — the SAME directed containment set
    // through the ONE-SIDED prefix filter (only the contained side prunes:
    // C ≥ t means the pair shares one of a's first n−⌈t·n⌉+1
    // globally-df-ordered shingles — pigeonhole, LOSSLESS, see
    // Dedup.containmentPairs). Because the filter is exact, this query is
    // ORACLE-CHECKED against the identical SQL as q234: the optimization
    // is pinned by the gate, not trusted. Candidate volume shrinks
    // ~(1−t) on the contained side and the hot-shingle skew falls out of
    // prefixes (the q41/q42 discipline applied to containment).
    Q("q235_containment_prefix", { (s, dir) =>
        Dedup.containmentPairs(t(s, dir, "documents"), "text", "doc_id",
            k = 3, num = 4, den = 5)
          .orderBy("da", "db")
      },
      Some(ContainmentOracle)),

    // Chi-squared INDEPENDENCE audit of (lang × source) — the
    // distribution-shift test the corpus-report family (q198/q205/q213/
    // q227) publishes: is language independent of provenance, or does a
    // source skew toward a language (a crawler/pipeline bug signal)?
    // Per-cell observed counts, expected under independence, and the
    // (O−E)²/E contribution — ALL in integer-exact ppm (the q234
    // discipline): e_ppm = (rowt·colt·10⁶) DIV n and, since
    // (O−E)²/E = (O·n − rowt·colt)² / (rowt·colt·n),
    // contrib_ppm = (d²·10⁶) DIV (rowt·colt·n) with d = O·n − rowt·colt,
    // over DECIMAL(38,0)/HUGEINT — floor division of exact integers is
    // identically defined in both engines, so NO engine-defined
    // double→decimal rounding exists anywhere in the query (r11's one
    // red row: a DECIMAL(28,12) snap of a double with ~2 digits of
    // headroom landed one ulp apart across DuckDB versions). Headroom:
    // d ≤ n² so d²·10⁶ needs n ≤ ~10⁸ inside 38 digits — the exact-ppm
    // envelope; a larger corpus dials SCALE down (ppm → per-mille →
    // units), trading resolution for headroom, never exactness. Plan:
    // one (lang, source) partial+final agg, the marginals as windows
    // over a cells×1 frame — contingency tables are metadata-scale at
    // any corpus size.
    Q("q236_chi2_independence", { (s, dir) =>
        val w = org.apache.spark.sql.expressions.Window.partitionBy(lit(1))
        val cells = t(s, dir, "documents")
          .groupBy("lang", "source").agg(count(lit(1)).as("o"))
        cells
          .withColumn("rowt", sum("o").over(
            org.apache.spark.sql.expressions.Window.partitionBy("lang")))
          .withColumn("colt", sum("o").over(
            org.apache.spark.sql.expressions.Window.partitionBy("source")))
          .withColumn("n", sum("o").over(w))
          .selectExpr("lang", "source", "o",
            "(CAST(rowt AS DECIMAL(38,0)) * colt * 1000000) DIV n AS e_ppm",
            """((CAST(o AS DECIMAL(38,0)) * n - CAST(rowt AS DECIMAL(38,0)) * colt)
              | * (CAST(o AS DECIMAL(38,0)) * n - CAST(rowt AS DECIMAL(38,0)) * colt)
              | * 1000000)
              | DIV ((CAST(rowt AS DECIMAL(38,0)) * colt) * n) AS contrib_ppm"""
              .stripMargin.replace("\n", " "))
          .withColumn("chi2_total_ppm", sum("contrib_ppm").over(w))
          .select("lang", "source", "o", "e_ppm", "contrib_ppm", "chi2_total_ppm")
          .orderBy("lang", "source")
      },
      Some("""WITH cells AS (
             |  SELECT lang, source, CAST(count(*) AS BIGINT) AS o
             |  FROM documents GROUP BY lang, source),
             |m AS (SELECT lang, source, o,
             |    CAST(sum(o) OVER (PARTITION BY lang) AS HUGEINT) AS rowt,
             |    CAST(sum(o) OVER (PARTITION BY source) AS HUGEINT) AS colt,
             |    CAST(sum(o) OVER () AS HUGEINT) AS n
             |  FROM cells),
             |x AS (SELECT lang, source, o,
             |    CAST((rowt * colt * 1000000) // n AS BIGINT) AS e_ppm,
             |    CAST(((CAST(o AS HUGEINT) * n - rowt * colt)
             |      * (CAST(o AS HUGEINT) * n - rowt * colt) * 1000000)
             |      // (rowt * colt * n) AS BIGINT) AS contrib_ppm
             |  FROM m)
             |SELECT lang, source, o, e_ppm, contrib_ppm,
             |  CAST(sum(contrib_ppm) OVER () AS BIGINT) AS chi2_total_ppm
             |FROM x ORDER BY lang, source""".stripMargin)),

    // Chi-squared family COMPLETION — effect size + the log-likelihood
    // variant on q236's cells fold (a significant chi² on a huge corpus
    // can be a trivially small effect; V is what the report reads):
    // Cramér's V² = chi²/(n·(min(r,c)−1)) stays in the integer-ppm
    // contract (one more floor division of the already-exact
    // chi2_total_ppm — no new rounding anywhere), and the G-test
    // G = 2·Σ O·ln(O·n/(rowt·colt)) (Sokal & Rohlf's log-likelihood
    // ratio; observed cells only — empty cells contribute 0 by the
    // O·ln O → 0 limit) takes the house transcendental discipline: the
    // ln input is ONE IEEE division of two exactly-computed integers
    // cast to double, the ln output snaps to the DECIMAL(18,9) grid
    // (≥ 6 digits of snap headroom over the libm ulp, the q146 rule),
    // and the per-cell term multiplies the snapped ln by the exact
    // integer 2·O in DECIMAL arithmetic so the sum is order-insensitive
    // and the single final double cast is engine-identical. Plan: the
    // same metadata-scale contingency fold as q236 — one (lang, source)
    // agg, windows over cells, a one-row summary out.
    Q("q238_chi2_effect", { (s, dir) =>
        val w = org.apache.spark.sql.expressions.Window.partitionBy(lit(1))
        val cells = t(s, dir, "documents")
          .groupBy("lang", "source").agg(count(lit(1)).as("o"))
        val m = cells
          .withColumn("rowt", sum("o").over(
            org.apache.spark.sql.expressions.Window.partitionBy("lang")))
          .withColumn("colt", sum("o").over(
            org.apache.spark.sql.expressions.Window.partitionBy("source")))
          .withColumn("n", sum("o").over(w))
        m.selectExpr("lang", "source", "o", "n",
            """((CAST(o AS DECIMAL(38,0)) * n - CAST(rowt AS DECIMAL(38,0)) * colt)
              | * (CAST(o AS DECIMAL(38,0)) * n - CAST(rowt AS DECIMAL(38,0)) * colt)
              | * 1000000)
              | DIV ((CAST(rowt AS DECIMAL(38,0)) * colt) * n) AS contrib_ppm"""
              .stripMargin.replace("\n", " "),
            """CAST(ln(CAST(CAST(o AS DECIMAL(38,0)) * n AS DOUBLE)
              | / CAST(CAST(rowt AS DECIMAL(38,0)) * colt AS DOUBLE)) AS DECIMAL(18,9))
              | * CAST(2 * o AS DECIMAL(18,0)) AS g_term"""
              .stripMargin.replace("\n", " "))
          .agg(max("n").as("n"),
            countDistinct("lang").as("r_levels"),
            countDistinct("source").as("c_levels"),
            sum("contrib_ppm").as("chi2_total_ppm"),
            sum("g_term").as("g_sum"))
          .selectExpr("n", "r_levels", "c_levels",
            "(r_levels - 1) * (c_levels - 1) AS dof",
            "chi2_total_ppm",
            "chi2_total_ppm DIV nullif(n * (least(r_levels, c_levels) - 1), 0)" +
              " AS cramers_v2_ppm",
            "CAST(g_sum AS DOUBLE) AS g_total")
      },
      Some("""WITH cells AS (
             |  SELECT lang, source, CAST(count(*) AS BIGINT) AS o
             |  FROM documents GROUP BY lang, source),
             |m AS (SELECT lang, source, o,
             |    CAST(sum(o) OVER (PARTITION BY lang) AS HUGEINT) AS rowt,
             |    CAST(sum(o) OVER (PARTITION BY source) AS HUGEINT) AS colt,
             |    CAST(sum(o) OVER () AS HUGEINT) AS n
             |  FROM cells),
             |x AS (SELECT lang, source, o, n,
             |    CAST(((CAST(o AS HUGEINT) * n - rowt * colt)
             |      * (CAST(o AS HUGEINT) * n - rowt * colt) * 1000000)
             |      // (rowt * colt * n) AS BIGINT) AS contrib_ppm,
             |    CAST(ln(CAST(CAST(o AS HUGEINT) * n AS DOUBLE)
             |      / CAST(rowt * colt AS DOUBLE)) AS DECIMAL(18,9))
             |      * CAST(2 * o AS DECIMAL(18,0)) AS g_term
             |  FROM m)
             |SELECT CAST(max(n) AS BIGINT) AS n,
             |  CAST(count(DISTINCT lang) AS BIGINT) AS r_levels,
             |  CAST(count(DISTINCT source) AS BIGINT) AS c_levels,
             |  CAST((count(DISTINCT lang) - 1) * (count(DISTINCT source) - 1)
             |    AS BIGINT) AS dof,
             |  CAST(sum(contrib_ppm) AS BIGINT) AS chi2_total_ppm,
             |  CAST(CAST(sum(contrib_ppm) AS HUGEINT)
             |    // nullif(CAST(max(n) AS HUGEINT)
             |      * (least(count(DISTINCT lang), count(DISTINCT source)) - 1), 0)
             |    AS BIGINT) AS cramers_v2_ppm,
             |  CAST(sum(g_term) AS DOUBLE) AS g_total
             |FROM x""".stripMargin)),

    // Per-source Jensen–Shannon divergence vs the REST of the corpus —
    // the distributional complement of the q206 entropy audit (entropy
    // says a source is internally diverse; JSD says whether its token
    // DISTRIBUTION matches everyone else's — the synthetic-source /
    // wrong-corpus / template-spam detector, symmetric and bounded
    // [0, ln 2] unlike raw KL). Exactness: with P = tf_p/N_p,
    // Q = tf_q/N_q, M = (P+Q)/2, both ln inputs are single IEEE
    // divisions of EXACT integer products — P/M = 2·tf_p·N_q / d and
    // Q/M = 2·tf_q·N_p / d with d = tf_p·N_q + tf_q·N_p over
    // DECIMAL(38,0)/HUGEINT — each ln snapped to the (18,9) grid (the
    // q236 snap-headroom rule), each term an exact BIGINT×DECIMAL
    // product, sums order-insensitive. Tokens the source never saw
    // contribute Q·ln 2 to KL(Q||M) in closed form — ln2_9 ·
    // (N_q − Σ_present tf_q) — so the join only carries the source's own
    // vocabulary. Plan: ONE (source, token) histogram shuffle (the
    // q205/q206 shape), global tf by token-keyed re-agg, the scoring
    // join keyed on token (the q122 non-broadcastable-vocab rule).
    Q("q241_source_jsd", { (s, dir) =>
        val freq = t(s, dir, "documents")
          .select(col("source"), explode(TextOps.tokens(col("text"))).as("token"))
          .groupBy("source", "token").agg(count(lit(1)).as("tf"))
        val glob = freq.groupBy("token").agg(sum("tf").as("gtf"))
        val np = freq.groupBy("source").agg(sum("tf").as("n_p"))
        val ntot = freq.agg(sum("tf").as("n_tot"))
        val joined = freq.join(glob, "token").join(np, "source").crossJoin(ntot)
          .selectExpr("source", "token", "tf AS tf_p", "gtf - tf AS tf_q",
            "n_p", "n_tot - n_p AS n_q")
        val terms = joined.selectExpr("source", "n_p", "n_q", "tf_q",
          """CAST(tf_p AS DECIMAL(18,0)) * CAST(ln(
            | CAST(2 * CAST(tf_p AS DECIMAL(38,0)) * n_q AS DOUBLE)
            | / CAST(CAST(tf_p AS DECIMAL(38,0)) * n_q
            |   + CAST(tf_q AS DECIMAL(38,0)) * n_p AS DOUBLE)
            |) AS DECIMAL(18,9)) AS term_p""".stripMargin.replace("\n", " "),
          """CASE WHEN tf_q > 0 THEN
            | CAST(tf_q AS DECIMAL(18,0)) * CAST(ln(
            |  CAST(2 * CAST(tf_q AS DECIMAL(38,0)) * n_p AS DOUBLE)
            |  / CAST(CAST(tf_p AS DECIMAL(38,0)) * n_q
            |    + CAST(tf_q AS DECIMAL(38,0)) * n_p AS DOUBLE)
            | ) AS DECIMAL(18,9))
            | ELSE CAST(0 AS DECIMAL(18,9)) END AS term_q"""
            .stripMargin.replace("\n", " "))
        terms.groupBy("source")
          .agg(max("n_p").as("n_tokens_src"), max("n_q").as("n_tokens_rest"),
            sum("term_p").as("s_p"), sum("term_q").as("s_q_terms"),
            sum("tf_q").as("s_q_present"))
          .selectExpr("source", "n_tokens_src", "n_tokens_rest",
            """0.5 * (CAST(s_p AS DOUBLE) / CAST(n_tokens_src AS DOUBLE)
              | + (CAST(s_q_terms AS DOUBLE)
              |    + CAST(CAST(ln(2.0) AS DECIMAL(18,9)) AS DOUBLE)
              |      * CAST(n_tokens_rest - s_q_present AS DOUBLE))
              |   / CAST(n_tokens_rest AS DOUBLE)) AS jsd"""
              .stripMargin.replace("\n", " "))
          .orderBy("source")
      },
      Some("""WITH freq AS (
             |  SELECT source, tok AS token, CAST(count(*) AS BIGINT) AS tf
             |  FROM (SELECT source, unnest(string_split(text, ' ')) AS tok FROM documents)
             |  GROUP BY 1, 2),
             |gtot AS (SELECT token, CAST(sum(tf) AS BIGINT) AS gtf FROM freq GROUP BY 1),
             |np AS (SELECT source, CAST(sum(tf) AS BIGINT) AS n_p FROM freq GROUP BY 1),
             |ntot AS (SELECT CAST(sum(tf) AS BIGINT) AS n_tot FROM freq),
             |j AS (
             |  SELECT source, token, tf AS tf_p, gtf - tf AS tf_q, n_p,
             |    n_tot - n_p AS n_q
             |  FROM freq JOIN gtot USING (token) JOIN np USING (source), ntot),
             |terms AS (
             |  SELECT source, n_p, n_q, tf_q,
             |    CAST(tf_p AS DECIMAL(18,0)) * CAST(ln(
             |      CAST(2 * CAST(tf_p AS HUGEINT) * n_q AS DOUBLE)
             |      / CAST(CAST(tf_p AS HUGEINT) * n_q
             |        + CAST(tf_q AS HUGEINT) * n_p AS DOUBLE)
             |    ) AS DECIMAL(18,9)) AS term_p,
             |    CASE WHEN tf_q > 0 THEN
             |      CAST(tf_q AS DECIMAL(18,0)) * CAST(ln(
             |        CAST(2 * CAST(tf_q AS HUGEINT) * n_p AS DOUBLE)
             |        / CAST(CAST(tf_p AS HUGEINT) * n_q
             |          + CAST(tf_q AS HUGEINT) * n_p AS DOUBLE)
             |      ) AS DECIMAL(18,9))
             |      ELSE CAST(0 AS DECIMAL(18,9)) END AS term_q
             |  FROM j)
             |SELECT source,
             |  CAST(max(n_p) AS BIGINT) AS n_tokens_src,
             |  CAST(max(n_q) AS BIGINT) AS n_tokens_rest,
             |  0.5 * (CAST(sum(term_p) AS DOUBLE) / CAST(max(n_p) AS DOUBLE)
             |    + (CAST(sum(term_q) AS DOUBLE)
             |       + CAST(CAST(ln(2.0) AS DECIMAL(18,9)) AS DOUBLE)
             |         * CAST(max(n_q) - sum(tf_q) AS DOUBLE))
             |      / CAST(max(n_q) AS DOUBLE)) AS jsd
             |FROM terms GROUP BY source ORDER BY source""".stripMargin)),

    // Truncated-dimension retrieval eval — the measurement a pipeline
    // runs before shrinking its vector index (matryoshka/dim-reduction
    // question: what does searching on the first 16 of 64 dims cost?):
    // per query, the exact top-5 by full-dim cosine vs the top-5 by
    // truncated-dim cosine — overlap@5 and rank-1 agreement. ORACLE-
    // checked (unlike the rows-only q225 eval): both engines compute
    // both cosines as double folds over the same slices, each cosine
    // snapped to the (18,9) grid BEFORE ranking (the q236 headroom
    // rule — ulp noise from fold order cannot flip a rank), ties broken
    // by neighbor_id. Scale: the q44 contract — bounded query batch ×
    // one corpus scan, both rankings from ONE scored pass (two windows
    // over the same |Q|·N rows), output |Q| rows.
    Q("q244_truncated_dim_eval", { (s, dir) =>
        val e = t(s, dir, "embeddings")
        val q = e.filter(col("vec_id") < 10)
          .select(col("vec_id").as("query_id"), col("embedding").as("qe"))
        val c = e.select(col("vec_id").as("neighbor_id"), col("embedding").as("ce"))
        def cosSql(dims: Int): String =
          s"""CAST(aggregate(zip_with(slice(qe, 1, $dims), slice(ce, 1, $dims),
             | (x, y) -> CAST(x AS DOUBLE) * CAST(y AS DOUBLE)),
             | CAST(0.0 AS DOUBLE), (acc, v) -> acc + v)
             | / (sqrt(aggregate(slice(qe, 1, $dims), CAST(0.0 AS DOUBLE),
             |   (acc, x) -> acc + CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))
             | * sqrt(aggregate(slice(ce, 1, $dims), CAST(0.0 AS DOUBLE),
             |   (acc, x) -> acc + CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))
             | AS DECIMAL(18,9))""".stripMargin.replace("\n", " ")
        val scored = q.join(c, col("query_id") =!= col("neighbor_id"))
          .selectExpr("query_id", "neighbor_id",
            s"${cosSql(64)} AS cos64", s"${cosSql(16)} AS cos16")
        def w(cc: String) = org.apache.spark.sql.expressions.Window
          .partitionBy("query_id").orderBy(col(cc).desc, col("neighbor_id"))
        scored
          .withColumn("r64", row_number().over(w("cos64")))
          .withColumn("r16", row_number().over(w("cos16")))
          .groupBy("query_id")
          .agg(sum(when(col("r64") <= 5 && col("r16") <= 5, 1L).otherwise(0L))
              .as("n_overlap"),
            max(when(col("r64") === 1, col("neighbor_id"))).as("t1f"),
            max(when(col("r16") === 1, col("neighbor_id"))).as("t1t"))
          .selectExpr("query_id", "n_overlap",
            "t1f = t1t AS rank1_match")
          .orderBy("query_id")
      },
      Some("""WITH q AS (SELECT vec_id AS query_id, embedding AS qe
             |    FROM embeddings WHERE vec_id < 10),
             |c AS (SELECT vec_id AS neighbor_id, embedding AS ce FROM embeddings),
             |scored AS (
             |  SELECT query_id, neighbor_id,
             |    CAST(list_sum(list_transform(generate_series(1, 64),
             |        i -> CAST(qe[i] AS DOUBLE) * CAST(ce[i] AS DOUBLE)))
             |      / (sqrt(list_sum(list_transform(generate_series(1, 64),
             |          i -> CAST(qe[i] AS DOUBLE) * CAST(qe[i] AS DOUBLE))))
             |       * sqrt(list_sum(list_transform(generate_series(1, 64),
             |          i -> CAST(ce[i] AS DOUBLE) * CAST(ce[i] AS DOUBLE)))))
             |      AS DECIMAL(18,9)) AS cos64,
             |    CAST(list_sum(list_transform(generate_series(1, 16),
             |        i -> CAST(qe[i] AS DOUBLE) * CAST(ce[i] AS DOUBLE)))
             |      / (sqrt(list_sum(list_transform(generate_series(1, 16),
             |          i -> CAST(qe[i] AS DOUBLE) * CAST(qe[i] AS DOUBLE))))
             |       * sqrt(list_sum(list_transform(generate_series(1, 16),
             |          i -> CAST(ce[i] AS DOUBLE) * CAST(ce[i] AS DOUBLE)))))
             |      AS DECIMAL(18,9)) AS cos16
             |  FROM q JOIN c ON neighbor_id <> query_id),
             |r AS (SELECT query_id, neighbor_id,
             |    row_number() OVER (PARTITION BY query_id
             |      ORDER BY cos64 DESC, neighbor_id) AS r64,
             |    row_number() OVER (PARTITION BY query_id
             |      ORDER BY cos16 DESC, neighbor_id) AS r16
             |  FROM scored)
             |SELECT query_id,
             |  CAST(sum(CASE WHEN r64 <= 5 AND r16 <= 5 THEN 1 ELSE 0 END)
             |    AS BIGINT) AS n_overlap,
             |  (max(CASE WHEN r64 = 1 THEN neighbor_id END)
             |    = max(CASE WHEN r16 = 1 THEN neighbor_id END)) AS rank1_match
             |FROM r GROUP BY query_id ORDER BY query_id""".stripMargin)),

    // Embedding-space DRIFT between corpus generations — the q213
    // report's embedding sibling and the encoder/distribution-shift
    // monitor a recurring pipeline publishes: per label, the Euclidean
    // shift of the mean vector between v1 (all vectors) and v2 (the next
    // generation: every 10th dropped). Component sums fold as
    // DECIMAL(18,9) (order-insensitive — a double vector sum is
    // partition-order-dependent), means and the final sqrt are single
    // identical double expressions, and each squared component delta
    // snaps back to the decimal grid before the cross-dimension sum.
    // Plan: posexplode → (label, dim)-keyed partial aggs — the shuffle
    // carries labels×dims rows, metadata-scale at any corpus size.
    Q("q227_embedding_drift", { (s, dir) =>
        val e = t(s, dir, "embeddings")
        def comp(df: DataFrame, tag: String): DataFrame = df
          .select(col("label"), posexplode(col("embedding")))
          .select(col("label"), col("pos"),
            col("col").cast(DoubleType).cast(DecimalType(18, 9)).as("x"))
          .groupBy("label", "pos")
          .agg(sum(col("x")).as(s"s$tag"), count(lit(1)).as(s"n$tag"))
        val j = comp(e, "1")
          .join(comp(e.filter(col("vec_id") % 10 =!= 0), "2"), Seq("label", "pos"))
        val mu1 = col("s1").cast(DoubleType) / col("n1").cast(DoubleType)
        val mu2 = col("s2").cast(DoubleType) / col("n2").cast(DoubleType)
        j.select(col("label"), col("n1"), col("n2"),
            ((mu1 - mu2) * (mu1 - mu2)).cast(DecimalType(18, 9)).as("d2"))
          .groupBy("label")
          .agg(max(col("n1")).as("n_v1"), max(col("n2")).as("n_v2"),
            sqrt(sum(col("d2")).cast(DoubleType)).as("drift"))
          .orderBy("label")
      },
      Some("""WITH dv AS (SELECT vec_id, label,
             |    list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v FROM embeddings),
             |dims AS (SELECT unnest(generate_series(1, 64)) AS i),
             |c1 AS (SELECT label, i,
             |    sum(CAST(v[i] AS DECIMAL(18,9))) AS s1, CAST(count(*) AS BIGINT) AS n1
             |  FROM dv, dims GROUP BY label, i),
             |c2 AS (SELECT label, i,
             |    sum(CAST(v[i] AS DECIMAL(18,9))) AS s2, CAST(count(*) AS BIGINT) AS n2
             |  FROM dv, dims WHERE vec_id % 10 <> 0 GROUP BY label, i),
             |d AS (SELECT label, n1, n2,
             |    CAST((CAST(s1 AS DOUBLE) / CAST(n1 AS DOUBLE)
             |        - CAST(s2 AS DOUBLE) / CAST(n2 AS DOUBLE))
             |      * (CAST(s1 AS DOUBLE) / CAST(n1 AS DOUBLE)
             |        - CAST(s2 AS DOUBLE) / CAST(n2 AS DOUBLE)) AS DECIMAL(18,9)) AS d2
             |  FROM c1 JOIN c2 USING (label, i))
             |SELECT label, max(n1) AS n_v1, max(n2) AS n_v2,
             |  sqrt(CAST(sum(d2) AS DOUBLE)) AS drift
             |FROM d GROUP BY label ORDER BY label""".stripMargin)),

    // Retrieval evaluation — the ANN family's own report card, promoting
    // the recall checks LshSpec runs ad-hoc to a first-class operator:
    // per query, recall@5 / MRR@5 / nDCG@5 of the LSH ranking (q45's
    // path) against the exact brute-force top-5 as ground truth. Gains
    // snap to DECIMAL(18,9) on both sides of the nDCG ratio so a perfect
    // system scores exactly 1.0. The metric fold is |Q|·k-row joins —
    // metadata-scale; the rankers' own 100 TB postures apply. Rows-only
    // (the LSH side is seeded Spark-side); EvalSpec gates the formulas
    // against hand-computed examples and the perfect/disjoint anchors.
    Q("q225_retrieval_eval", { (s, dir) =>
        val e = t(s, dir, "embeddings")
        val q = e.filter(col("vec_id") < 10)
        val truth = Similarity.bruteForceTopK(q, e, k = 5)
        val sys = Similarity.lshTopK(q, e, k = 5)
        Eval.retrievalMetrics(truth, sys, k = 5).orderBy("query_id")
      },
      None),

    // Sample-preserving FFD bin packing — the OTHER standard packing
    // beside q81's concat-then-chunk: a doc is never split across
    // sequences (the contamination-free choice for SFT/eval batches).
    // FFD is serial by nature, so it folds per id-hash shard (bounded
    // (id, n) state, never text); docs over the cap emit bin −1. Rows
    // only; PackSampleSpec gates shard-serial-model equality, cap/
    // partition invariants, and FFD ≥ arrival-order first-fit fill.
    Q("q224_pack_bins", { (s, dir) =>
        Packing.packBinsFfd(t(s, dir, "documents"), "doc_id", "text",
            cap = 512, shards = 8)
          .orderBy("doc_id")
      },
      None),

    // Margin-based bitext mining (Artetxe & Schwenk 2019 — the LASER/
    // CCMatrix parallel-corpus recipe): the two embedding halves stand in
    // for two languages' sentence embeddings; candidates are each side's
    // cosine top-4 in the other, scored by the RATIO margin (cosine over
    // the mean of the endpoints' top-k cosines — the hubness correction),
    // pairs kept iff MUTUAL margin-best at margin ≥ 1. Exact-kNN small-sf
    // oracle (q41/q52 class); at scale the candidate lists come from the
    // ANN family and the margin fold is id-keyed joins only.
    Q("q221_bitext_mining", { (s, dir) =>
        val e = t(s, dir, "embeddings")
        Similarity.bitextMine(
            e.filter(col("vec_id") % 2 === 0),
            e.filter(col("vec_id") % 2 =!= 0))
          .orderBy("aid")
      },
      Some("""WITH dv AS (SELECT vec_id,
             |    list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v FROM embeddings),
             |sc AS (SELECT a.vec_id AS aid, b.vec_id AS bid,
             |    list_inner_product(a.v, b.v) / (sqrt(list_inner_product(a.v, a.v))
             |      * sqrt(list_inner_product(b.v, b.v))) AS cos
             |  FROM (SELECT * FROM dv WHERE vec_id % 2 = 0) a,
             |       (SELECT * FROM dv WHERE vec_id % 2 <> 0) b),
             |abk AS (SELECT aid, bid, CAST(cos AS DECIMAL(18,9)) AS cos9 FROM (
             |    SELECT aid, bid, cos,
             |      row_number() OVER (PARTITION BY aid ORDER BY cos DESC, bid) AS r
             |    FROM sc) WHERE r <= 4),
             |bak AS (SELECT aid, bid, CAST(cos AS DECIMAL(18,9)) AS cos9 FROM (
             |    SELECT aid, bid, cos,
             |      row_number() OVER (PARTITION BY bid ORDER BY cos DESC, aid) AS r
             |    FROM sc) WHERE r <= 4),
             |avga AS (SELECT aid, CAST(sum(cos9) AS DOUBLE) / CAST(count(*) AS DOUBLE) AS avga
             |  FROM abk GROUP BY aid),
             |avgb AS (SELECT bid, CAST(sum(cos9) AS DOUBLE) / CAST(count(*) AS DOUBLE) AS avgb
             |  FROM bak GROUP BY bid),
             |besta AS (SELECT aid, bid, margin FROM (
             |    SELECT aid, bid, margin,
             |      row_number() OVER (PARTITION BY aid ORDER BY margin DESC, bid) AS r
             |    FROM (SELECT aid, bid,
             |        CAST(cos9 AS DOUBLE) / ((avga + avgb) / 2.0) AS margin
             |      FROM abk JOIN avga USING (aid) JOIN avgb USING (bid))) WHERE r = 1),
             |bestb AS (SELECT aid, bid FROM (
             |    SELECT aid, bid, margin,
             |      row_number() OVER (PARTITION BY bid ORDER BY margin DESC, aid) AS r
             |    FROM (SELECT aid, bid,
             |        CAST(cos9 AS DOUBLE) / ((avga + avgb) / 2.0) AS margin
             |      FROM bak JOIN avgb USING (bid) JOIN avga USING (aid))) WHERE r = 1)
             |SELECT aid, bid, CAST(CAST(margin AS DECIMAL(18,9)) AS DOUBLE) AS margin9
             |FROM besta JOIN bestb USING (aid, bid)
             |WHERE margin >= 1.0
             |ORDER BY aid""".stripMargin)),

    // q221's PRODUCTION candidate mode: the same ratio-margin mutual-best
    // fold fed by IVF-Flat candidates (ivfTopKScored, nprobe 12 / nlist
    // 16) instead of the exact O(|A|·|B|) kNN — the shape CCMatrix
    // actually runs at corpus scale (ANN candidates, exact rescoring).
    // Candidate stage inherits IVF's cell-join posture (no all-to-all);
    // the margin fold is unchanged: id-keyed joins + group-limit windows.
    // Rows-only; BitextSpec gates pair recall vs the exact q221 mode and
    // that every emitted pair is mutual-margin-best within its own
    // candidate sets.
    Q("q230_bitext_mining_ann", { (s, dir) =>
        val e = t(s, dir, "embeddings")
        // DATA-SIZED quantizer + symmetric candidate union — see
        // bitextMineAnn's scaladoc for the design and measurements (the
        // q128 fixed-block-param lesson re-sighted: fixed nlist=16 probed
        // 12/16 of a 100k-vector side, near-brute-force, >600 s at 100×).
        Similarity.bitextMineAnn(
            e.filter(col("vec_id") % 2 === 0),
            e.filter(col("vec_id") % 2 =!= 0))
          .orderBy("aid")
      },
      None),

    // SemDeDup cluster-scoped semantic dedup (Abbas et al. 2023) — the
    // scale path beside the exact q52 oracle: pairs only within k-means
    // cells, multi-probe assignment for boundary recall. Recall/precision
    // gated in SemDedupSpec (probes=4 measures recall 1.0, precision 1).
    // nlist auto-scales with the corpus (ceil(probes·N/512), 16 at oracle
    // scale so outputs are unchanged) — the fix for the 570× the fixed
    // cell count measured at the sf10 step.
    Q("q128_semdedup", { (s, dir) =>
        Similarity.semDedupPairs(t(s, dir, "embeddings"), 0.45,
          probes = 4).orderBy("da", "db")
      },
      None),

    // Incremental SEMANTIC dedup — the embedding-side q88: each ingest
    // batch probes the standing corpus for near-dup neighbors (corpus-vs-
    // corpus work was done when the corpus was built). This query runs
    // the nlist=1 mode (one cell ≡ the exact cross-cosine join) as the
    // small-sf DuckDB oracle; the auto-cell mode is the scale path —
    // same cell-join shape q128 measured at the 100× step — gated in
    // SemDedupSpec (recall vs this exact mode, no same-side pairs).
    Q("q204_semdedup_incremental", { (s, dir) =>
        val e = t(s, dir, "embeddings")
        Similarity.semDedupPairsAgainst(
            e.filter(col("vec_id") % 10 === 0),
            e.filter(col("vec_id") % 10 =!= 0), 0.45, nlist = 1)
          .orderBy("new_id", "corpus_id")
      },
      Some("""WITH dv AS (SELECT vec_id,
             |    list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
             |  FROM embeddings),
             |n AS (SELECT vec_id AS new_id, v FROM dv WHERE vec_id % 10 = 0),
             |c AS (SELECT vec_id AS corpus_id, v FROM dv WHERE vec_id % 10 <> 0)
             |SELECT new_id, corpus_id FROM n JOIN c ON
             |  list_inner_product(n.v, c.v)
             |    / (sqrt(list_inner_product(n.v, n.v))
             |     * sqrt(list_inner_product(c.v, c.v))) >= 0.45
             |ORDER BY new_id, corpus_id""".stripMargin)),

    // The PRODUCTION mode of the same operator: corpus-trained auto-sized
    // cells (nlist=0 -> ceil(probes·N/512): flat centroids to 1024, the
    // TWO-LEVEL √k×√k codebook past that — measured faster than both the
    // clamp and unclamped-flat at the 100× step), batch side multi-probes
    // 4 cells, corpus side single-assigned — so per-trigger work is
    // |batch|·cellSize cosines and cells keep following the corpus.
    // q204's nlist=1 exact mode IS this query's recall oracle at
    // small sf (SemDedupSpec: recall >= 0.85 measured, precision 1 by
    // construction, no same-side pairs); PERFORMANCE.md's 10×/100× scale
    // rows run HERE — the exact mode is by-construction quadratic (its 100× point
    // measured 1126 s, the declared q41/q52-style oracle cost).
    Q("q208_semdedup_incremental_cells", { (s, dir) =>
        val e = t(s, dir, "embeddings")
        Similarity.semDedupPairsAgainst(
            e.filter(col("vec_id") % 10 === 0),
            e.filter(col("vec_id") % 10 =!= 0), 0.45, probes = 4)
          .orderBy("new_id", "corpus_id")
      },
      None),

    // Product-quantization ANN (Jégou et al. 2011) with exact re-ranking —
    // the compressed-index path beside brute (q44) / LSH (q45) / IVF (q57):
    // candidates carry m=8 one-byte sub-codebook codes (64× smaller than raw
    // doubles), ADC scores them in O(m) adds per row, and the top-48
    // survivors per query are exactly re-ranked. Recall gated in PqSpec.
    Q("q148_sim_topk_pq", { (s, dir) =>
        val e = t(s, dir, "embeddings")
        Similarity.pqTopK(e.filter(col("vec_id") < 10), e, k = 5)
          .withColumnRenamed("rank", "rnk")
          .orderBy("query_id", "rnk")
      },
      None),

    // MMR diversity re-rank (Carbonell & Goldstein 1998) over the exact
    // top-20 cosine candidates: the redundancy filter behind retrieval-
    // augmented sampling — λ·relevance − (1−λ)·max-cos-to-selected,
    // greedy, per-query codegen'd kernel (see Similarity.mmrRerank).
    // Rows-only: greedy argmax is iterative; gated by MmrSpec (equality
    // with a reference implementation, λ=1 ≡ relevance order, measured
    // diversity gain).
    Q("q155_sim_mmr_rerank", { (s, dir) =>
        val e = t(s, dir, "embeddings")
        Similarity.mmrRerank(e.filter(col("vec_id") < 10), e, kCand = 20, k = 5)
          .drop("score")
          .orderBy("query_id", "rnk")
      },
      None),

    // Bloom-screened incremental ingest: a sharded mergeable bit-set
    // sketch of the corpus's content hashes flags each ingest row as
    // "definitely new" vs "probably seen" — the O(1)-per-row screen in
    // front of the exact q88 ingest join. One-sided error (never misses a
    // true member; ~ε of new keys dropped), gated in BloomSpec. Rows-only:
    // the designed false-positive rate makes the exact output
    // sketch-parameter-defined rather than SQL-derivable.
    Q("q147_dedup_bloom_new", { (s, dir) =>
        val docs = t(s, dir, "documents")
        val corpus = docs.filter(col("doc_id") % 10 =!= 0)
        val filters = Bloom.filterDf(corpus, col("text"),
          expectedN = corpus.count(), fp = 0.01, shards = 4)
        Bloom.newKeys(docs, col("text"), filters, shards = 4)
          .select("doc_id").orderBy("doc_id")
      },
      None),

    Q("q46_text_stats", { (s, dir) =>
        val d = t(s, dir, "documents")
        d.groupBy("lang").agg(
            count(lit(1)).as("n_docs"),
            sum(size(TextOps.tokens(col("text")))).as("total_tokens"),
            (sum(col("n_chars")).cast(DoubleType) / count(lit(1)).cast(DoubleType)).as("avg_chars"))
          .orderBy("lang")
      },
      Some("""SELECT lang, count(*) AS n_docs,
             |CAST(SUM(len(string_split(text, ' '))) AS BIGINT) AS total_tokens,
             |CAST(SUM(n_chars) AS DOUBLE) / CAST(count(*) AS DOUBLE) AS avg_chars
             |FROM documents GROUP BY lang ORDER BY lang""".stripMargin)),

    Q("q47_text_quality", { (s, dir) =>
        val d = t(s, dir, "documents")
        val toks = TextOps.tokens(col("text"))
        val nTok = size(toks)
        val totLen = aggregate(transform(toks, x => length(x)), lit(0), (acc, v) => acc + v)
        val hits = TextOps.stopwordHits(toks)
        d.select(col("doc_id"),
            nTok.as("n_tokens"),
            (totLen.cast(DoubleType) / nTok.cast(DoubleType)).as("avg_token_len"),
            (hits.cast(DoubleType) / nTok.cast(DoubleType)).as("stopword_ratio"),
            (hits.cast(DoubleType) / nTok.cast(DoubleType) * 0.5
              + least(lit(1.0), nTok.cast(DoubleType) / 100.0) * 0.5).as("quality"))
          .orderBy("doc_id")
      },
      Some("""SELECT doc_id,
             |CAST(len(toks) AS INTEGER) AS n_tokens,
             |CAST(list_sum(list_transform(toks, x -> len(x))) AS DOUBLE)
             |  / CAST(len(toks) AS DOUBLE) AS avg_token_len,
             |CAST(hits AS DOUBLE) / CAST(len(toks) AS DOUBLE) AS stopword_ratio,
             |CAST(hits AS DOUBLE) / CAST(len(toks) AS DOUBLE) * 0.5
             |  + least(1.0, CAST(len(toks) AS DOUBLE) / 100.0) * 0.5 AS quality
             |FROM (SELECT doc_id, string_split(text, ' ') AS toks,
             |  len(list_filter(string_split(text, ' '),
             |    t -> list_contains(['the','a','of','to','in','and','is','for','on','with'], t))) AS hits
             |  FROM documents)
             |ORDER BY doc_id""".stripMargin)),

    // Gopher-style rule filter (Rae et al. 2021 "Scaling Language Models",
    // the published quality heuristics, thresholds adapted to the fixture's
    // 10-99-word docs): word-count window, mean-word-length window,
    // distinct-word ratio (the repetition rule) and a minimum stopword
    // presence — each surfaced as its own flag plus the AND'd keep, so a
    // pipeline can audit WHY a document dropped. Pure per-row expressions:
    // embarrassingly parallel, no shuffle but the output sort.
    Q("q152_quality_gopher", { (s, dir) =>
        val d = t(s, dir, "documents")
        val words = split(col("text"), " ")
        val nWords = size(words).cast(LongType)
        val meanWl = length(regexp_replace(col("text"), " ", "")).cast(DoubleType) /
          nWords.cast(DoubleType)
        val uniqRatio = size(array_distinct(words)).cast(DoubleType) /
          nWords.cast(DoubleType)
        val padded = concat(lit(" "), col("text"), lit(" "))
        val stopHits = Seq("the", "a", "data", "table").map(w =>
          when(padded.contains(s" $w "), 1).otherwise(0)).reduce(_ + _)
        d.select(col("doc_id"), nWords.as("n_words"), meanWl.as("mean_wl"),
            uniqRatio.as("uniq_ratio"),
            (nWords >= 20 && nWords <= 90).as("ok_words"),
            (meanWl >= 3.0 && meanWl <= 10.0).as("ok_wordlen"),
            (uniqRatio >= 0.4).as("ok_repetition"),
            (stopHits >= 2).as("ok_stopwords"))
          .withColumn("keep", col("ok_words") && col("ok_wordlen") &&
            col("ok_repetition") && col("ok_stopwords"))
          .orderBy("doc_id")
      },
      Some("""WITH f AS (
             |  SELECT doc_id,
             |    CAST(len(string_split(text, ' ')) AS BIGINT) AS n_words,
             |    CAST(length(replace(text, ' ', '')) AS DOUBLE)
             |      / CAST(len(string_split(text, ' ')) AS DOUBLE) AS mean_wl,
             |    CAST(len(list_distinct(string_split(text, ' '))) AS DOUBLE)
             |      / CAST(len(string_split(text, ' ')) AS DOUBLE) AS uniq_ratio,
             |    ((CASE WHEN contains(' '||text||' ', ' the ') THEN 1 ELSE 0 END)
             |     + (CASE WHEN contains(' '||text||' ', ' a ') THEN 1 ELSE 0 END)
             |     + (CASE WHEN contains(' '||text||' ', ' data ') THEN 1 ELSE 0 END)
             |     + (CASE WHEN contains(' '||text||' ', ' table ') THEN 1 ELSE 0 END)) AS stop_hits
             |  FROM documents)
             |SELECT doc_id, n_words, mean_wl, uniq_ratio,
             |  n_words BETWEEN 20 AND 90 AS ok_words,
             |  mean_wl BETWEEN 3.0 AND 10.0 AS ok_wordlen,
             |  uniq_ratio >= 0.4 AS ok_repetition,
             |  stop_hits >= 2 AS ok_stopwords,
             |  (n_words BETWEEN 20 AND 90) AND (mean_wl BETWEEN 3.0 AND 10.0)
             |    AND uniq_ratio >= 0.4 AND stop_hits >= 2 AS keep
             |FROM f ORDER BY doc_id""".stripMargin)),

    Q("q48_text_langid", { (s, dir) =>
        val d = t(s, dir, "documents")
        val toks = TextOps.tokens(col("text"))
        d.select(col("doc_id"), col("lang"),
            when(TextOps.stopwordHits(toks) * 5 >= size(toks), "en_like")
              .otherwise("other").as("predicted"))
          .orderBy("doc_id")
      },
      Some("""SELECT doc_id, lang,
             |CASE WHEN len(list_filter(string_split(text, ' '),
             |    t -> list_contains(['the','a','of','to','in','and','is','for','on','with'], t))) * 5
             |    >= len(string_split(text, ' '))
             |  THEN 'en_like' ELSE 'other' END AS predicted
             |FROM documents ORDER BY doc_id""".stripMargin)),

    // Embedding-cosine near-dup: exact all-pairs baseline. Both engines
    // evaluate dot/(sqrt(aa)*sqrt(bb)) in double with ascending-index sums,
    // so the 0.45 threshold decides identically.
    Q("q52_dedup_embedding",
      (s, dir) => Similarity.cosineNearDupPairs(t(s, dir, "embeddings"), 0.45)
        .orderBy("da", "db"),
      Some("""SELECT a.vec_id AS da, b.vec_id AS db
             |FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id
             |WHERE list_inner_product(list_transform(a.embedding, x -> CAST(x AS DOUBLE)),
             |                         list_transform(b.embedding, x -> CAST(x AS DOUBLE)))
             |  / (sqrt(list_inner_product(list_transform(a.embedding, x -> CAST(x AS DOUBLE)),
             |                             list_transform(a.embedding, x -> CAST(x AS DOUBLE))))
             |   * sqrt(list_inner_product(list_transform(b.embedding, x -> CAST(x AS DOUBLE)),
             |                             list_transform(b.embedding, x -> CAST(x AS DOUBLE))))) >= 0.45
             |ORDER BY da, db""".stripMargin)),

    // End-to-end dedup keep-list — the pipeline a training-data run applies:
    // exact groups keep their min-id canonical, then the higher id of every
    // near-dup pair is dropped (greedy, deterministic; single pass, not
    // transitive closure). Output is the surviving document ids.
    Q("q71_dedup_keeplist", { (s, dir) =>
        val docs = t(s, dir, "documents")
        val canon = Dedup.exactGroups(docs, "text", "doc_id")
          .select(col("canonical_id").as("doc_id"))
        val drops = Dedup.jaccardPairs(docs, "text", "doc_id")
          .select(col("db").as("doc_id")).distinct()
        canon.join(drops, Seq("doc_id"), "left_anti").orderBy("doc_id")
      },
      Some(s"""WITH canon AS (
             |  SELECT min(doc_id) AS doc_id FROM documents GROUP BY sha256(text)
             |), $ShingleCte,
             |cnt AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY 1),
             |inter AS (
             |  SELECT a.doc_id AS da, b.doc_id AS db, count(*) AS inter
             |  FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id GROUP BY 1, 2
             |), pairs AS (
             |  SELECT da, db FROM (
             |    SELECT da, db, inter, ca.n AS na, cb.n AS nb FROM inter
             |    JOIN cnt ca ON ca.doc_id = da JOIN cnt cb ON cb.doc_id = db)
             |  WHERE inter * 10 >= (na + nb - inter) * 7
             |)
             |SELECT doc_id FROM canon WHERE doc_id NOT IN (SELECT db FROM pairs)
             |ORDER BY doc_id""".stripMargin)),

    Q("q49_text_fingerprint",
      (s, dir) => t(s, dir, "documents")
        .select(col("doc_id"),
          TextOps.fingerprint(col("text")).as("fp"),
          TextOps.regexTokenCount(col("text")).as("n_rtokens"))
        .orderBy("doc_id"),
      Some("""SELECT doc_id, md5(lower(regexp_replace(text, '\s+', ' ', 'g'))) AS fp,
             |CAST(len(list_filter(string_split_regex(text, '[^a-zA-Z0-9]+'), t -> t <> '')) AS INTEGER) AS n_rtokens
             |FROM documents ORDER BY doc_id""".stripMargin)),

    // Near-dup CLUSTERS from near-dup PAIRS: transitive closure via the
    // distributed large-star/small-star algorithm (operators.Components).
    // Every document gets a cluster id = the smallest doc_id reachable
    // through the exact-Jaccard similarity graph (singletons cluster with
    // themselves). The DuckDB oracle computes the same closure with a
    // recursive CTE — exact, multi-hop (A~B~C clusters even when A!~C).
    Q("q79_dedup_components", { (s, dir) =>
        val docs = t(s, dir, "documents")
        val pairs = Dedup.jaccardPairs(docs, "text", "doc_id")
        val comp = graft.operators.Components
          .connectedComponents(pairs, "da", "db")
          .withColumnRenamed("node", "doc_id")
        docs.select("doc_id")
          .join(comp, Seq("doc_id"), "left")
          .select(col("doc_id"),
            coalesce(col("component"), col("doc_id")).as("cluster_id"))
          .orderBy("doc_id")
      },
      Some(s"""WITH RECURSIVE $ShingleCte,
             |cnt AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY 1),
             |inter AS (
             |  SELECT a.doc_id AS da, b.doc_id AS db, count(*) AS inter
             |  FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id GROUP BY 1, 2
             |), pairs AS (
             |  SELECT da, db FROM (
             |    SELECT da, db, inter, ca.n AS na, cb.n AS nb FROM inter
             |    JOIN cnt ca ON ca.doc_id = da JOIN cnt cb ON cb.doc_id = db)
             |  WHERE inter * 10 >= (na + nb - inter) * 7
             |), sym AS (
             |  SELECT da AS u, db AS v FROM pairs UNION SELECT db, da FROM pairs
             |), reach(u, v) AS (
             |  SELECT u, v FROM sym
             |  UNION
             |  SELECT r.u, s.v FROM reach r JOIN sym s ON r.v = s.u
             |), comp AS (
             |  SELECT u, least(u, min(v)) AS component FROM reach GROUP BY u
             |)
             |SELECT d.doc_id, coalesce(c.component, d.doc_id) AS cluster_id
             |FROM documents d LEFT JOIN comp c ON c.u = d.doc_id
             |ORDER BY d.doc_id""".stripMargin)),

    // Leakage-safe train/val split: hashing DOCUMENT ids across splits
    // puts near-duplicate pairs on both sides — the classic eval leak.
    // Split by CLUSTER instead: near-dup connected components (q79's
    // operator) define the leakage unit, and the whole cluster lands on
    // one side via the same engine-portable md5 bucket the samplers use.
    // Costs exactly the q79 pipeline + one per-row hash; no extra shuffle
    // beyond the cluster join.
    Q("q135_leakage_split", { (s, dir) =>
        val docs = t(s, dir, "documents")
        val pairs = Dedup.jaccardPairs(docs, "text", "doc_id")
        val comp = graft.operators.Components
          .connectedComponents(pairs, "da", "db")
          .withColumnRenamed("node", "doc_id")
        docs.select("doc_id")
          .join(comp, Seq("doc_id"), "left")
          .select(col("doc_id"),
            coalesce(col("component"), col("doc_id")).as("cluster_id"))
          .withColumn("split",
            when(Sampling.hashBucket(col("cluster_id"), "split1") <
              lit(Sampling.threshold(0.75)), "train").otherwise("val"))
          .orderBy("doc_id")
      },
      Some(s"""WITH RECURSIVE $ShingleCte,
             |cnt AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY 1),
             |inter AS (
             |  SELECT a.doc_id AS da, b.doc_id AS db, count(*) AS inter
             |  FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id GROUP BY 1, 2
             |), pairs AS (
             |  SELECT da, db FROM (
             |    SELECT da, db, inter, ca.n AS na, cb.n AS nb FROM inter
             |    JOIN cnt ca ON ca.doc_id = da JOIN cnt cb ON cb.doc_id = db)
             |  WHERE inter * 10 >= (na + nb - inter) * 7
             |), sym AS (
             |  SELECT da AS u, db AS v FROM pairs UNION SELECT db, da FROM pairs
             |), reach(u, v) AS (
             |  SELECT u, v FROM sym
             |  UNION
             |  SELECT r.u, s.v FROM reach r JOIN sym s ON r.v = s.u
             |), comp AS (
             |  SELECT u, least(u, min(v)) AS component FROM reach GROUP BY u
             |), clu AS (
             |  SELECT d.doc_id, coalesce(c.component, d.doc_id) AS cluster_id
             |  FROM documents d LEFT JOIN comp c ON c.u = d.doc_id
             |)
             |SELECT doc_id, cluster_id,
             |  CASE WHEN substring(md5('split1:' || CAST(cluster_id AS VARCHAR)), 1, 4)
             |    < '${Sampling.threshold(0.75)}' THEN 'train' ELSE 'val' END AS split
             |FROM clu ORDER BY doc_id""".stripMargin)),

    // GPT-2-style regex pre-tokenization — the "BPE-ish" token counting a
    // training-batch budget runs on (contractions split, leading-space
    // word/number/punctuation runs), with an engine-portable ASCII class
    // pattern (no lookarounds, so Java regex and RE2 agree exactly).
    // Codegen'd built-in regexp_extract_all — no UDF, fused over the scan.
    Q("q145_regex_tokenize", { (s, dir) =>
        val pat = "'(?:[sdmt]|ll|ve|re)| ?[A-Za-z]+| ?[0-9]+| ?[^ A-Za-z0-9]+"
        val toks = regexp_extract_all(col("text"), lit(pat), lit(0))
        t(s, dir, "documents")
          .select(col("doc_id"), size(toks).as("n_tokens"),
            concat_ws("|", slice(toks, 1, 5)).as("head_tokens"))
          .orderBy("doc_id")
      },
      Some("""SELECT doc_id,
             |  CAST(len(regexp_extract_all(text,
             |    '''(?:[sdmt]|ll|ve|re)| ?[A-Za-z]+| ?[0-9]+| ?[^ A-Za-z0-9]+'))
             |    AS INTEGER) AS n_tokens,
             |  array_to_string(regexp_extract_all(text,
             |    '''(?:[sdmt]|ll|ve|re)| ?[A-Za-z]+| ?[0-9]+| ?[^ A-Za-z0-9]+')[1:5],
             |    '|') AS head_tokens
             |FROM documents ORDER BY doc_id""".stripMargin)),

    // Text normalization — the standard first pass of corpus curation:
    // Unicode NFC composition, control-char strip, space-run collapse,
    // trim — one codegen'd kernel with deliberately engine-portable ASCII
    // semantics (RE2's \s and Java's isWhitespace disagree on exotic
    // Unicode whitespace, so the contract treats those as ordinary text).
    // The fixture decorates each doc with leading/trailing runs, a tab,
    // and a combining-accent sequence built identically in both engines.
    Q("q143_text_normalize", { (s, dir) =>
        val messy = concat(lit("  "), col("text"), lit("\t"),
          lit("é"), lit("  tail   "))
        t(s, dir, "documents")
          .select(col("doc_id"), NormalizeText(messy).as("norm"))
          .orderBy("doc_id")
      },
      Some("""SELECT doc_id,
             |  trim(regexp_replace(regexp_replace(nfc_normalize(
             |    '  ' || text || chr(9) || 'e' || chr(769) || '  tail   '),
             |    '[\x00-\x1f\x7f]', '', 'g'), ' +', ' ', 'g')) AS norm
             |FROM documents ORDER BY doc_id""".stripMargin)),

    // Chunk-level exact dedup with TEXT REWRITING (the C4/RefinedWeb
    // paragraph-dedup shape, adapted to the fixture's newline-free texts:
    // 10-word chunks stand in for paragraphs). Unlike q101 (which SCORES
    // span duplication), this drops every chunk whose exact word sequence
    // appeared earlier in the corpus — (doc_id, chunk_idx) order — and
    // reassembles the surviving text per document. One content-key
    // shuffle for first-occurrence, one doc-key shuffle to rebuild;
    // no all-pairs anywhere.
    Q("q139_chunk_dedup_rewrite", { (s, dir) =>
        import org.apache.spark.sql.expressions.Window
        val docs = t(s, dir, "documents")
        val chunks = docs
          .select(col("doc_id"), posexplode(split(col("text"), " ")).as(Seq("pos", "w")))
          .groupBy(col("doc_id"), (col("pos") / 10).cast(IntegerType).as("cidx"))
          .agg(concat_ws(" ", expr(
            "transform(sort_array(collect_list(struct(pos, w))), s -> s.w)")).as("chunk"))
        val firstSeen = Window.partitionBy("chunk").orderBy("doc_id", "cidx")
        val rebuilt = chunks
          .withColumn("rn", row_number().over(firstSeen))
          .filter(col("rn") === 1)
          .groupBy("doc_id")
          .agg(concat_ws(" ", expr(
            "transform(sort_array(collect_list(struct(cidx, chunk))), s -> s.chunk)"))
            .as("clean_text"))
        docs.select("doc_id").join(rebuilt, Seq("doc_id"), "left")
          .select(col("doc_id"),
            coalesce(col("clean_text"), lit("")).as("clean_text"))
          .orderBy("doc_id")
      },
      Some("""WITH c AS (
             |  SELECT doc_id, e.cidx AS cidx, e.chunk AS chunk
             |  FROM (
             |    SELECT doc_id, unnest(list_transform(
             |      generate_series(1, CAST(ceil(len(toks) / 10.0) AS INT)),
             |      i -> struct_pack(cidx := i - 1,
             |        chunk := array_to_string(toks[(i-1)*10+1 : i*10], ' ')))) AS e
             |    FROM (SELECT doc_id, string_split(text, ' ') AS toks FROM documents))
             |), k AS (
             |  SELECT doc_id, cidx, chunk,
             |    ROW_NUMBER() OVER (PARTITION BY chunk ORDER BY doc_id, cidx) AS rn
             |  FROM c
             |)
             |SELECT d.doc_id, coalesce((
             |  SELECT string_agg(chunk, ' ' ORDER BY cidx)
             |  FROM k WHERE k.doc_id = d.doc_id AND rn = 1), '') AS clean_text
             |FROM documents d ORDER BY doc_id""".stripMargin)),

    // BPE tokenizer TRAINING (Sennrich et al. 2016, the word-histogram
    // formulation every production trainer uses): the corpus is touched
    // exactly once (explode+groupBy word histogram — vocab-scale output by
    // Heaps' law), then each merge round runs one pair-count agg over the
    // shrinking symbol table plus a single-row argmax collect (bounded
    // driver metadata, like the IVF sample). Ties break (count desc, pair
    // asc) so training is deterministic under any partitioning; the
    // encode kernel (BpeSpec) reproduces trained symbols byte-for-byte.
    // No SQL oracle — BPE is iterative argmax — so this is rows-only,
    // gated by BpeSpec's textbook-corpus golden + encode≡train invariant.
    Q("q138_bpe_merges", { (s, dir) =>
        import s.implicits._
        Bpe.trainMerges(t(s, dir, "documents"), "text", nMerges = 20)
          .toDF("rank", "left", "right", "cnt")
      },
      None),

    // BPE ENCODE applied corpus-wide: train the merge table (bounded
    // vocab-scale argmax, as q138), then count every document's tokens —
    // the real token-budget counter a training pipeline runs before
    // packing. r15 shape (r14 verdict item 6): the ranked-merge kernel
    // runs once per DISTINCT word (Bpe.encodeStats — Zipf repeats words,
    // so the per-occurrence transform re-paid the kernel ~frequency
    // times), joined back and re-aggregated; string scalars only (the
    // driver's pandas harness can't hash array columns — r8's red row).
    // Rows-only: ranked-merge encoding is iterative (no SQL oracle);
    // gated by BpeSpec's encode≡train invariant, the corpus-level
    // concatenation-restores-every-word property, and the
    // by-word ≡ per-occurrence equivalence.
    Q("q154_bpe_encode", { (s, dir) =>
        val d = t(s, dir, "documents")
        val merges = Bpe.trainMerges(d, "text", nMerges = 20)
          .map(m => (m._2, m._3))
        Bpe.encodeStats(d, "doc_id", "text", merges).orderBy("doc_id")
      },
      None),

    // GPT-style sequence packing (concat-then-chunk at cap tokens),
    // sharded so the whole computation is per-shard parallel — no global
    // sort. See Packing.packSequences for why NOT first-fit bin packing.
    Q("q81_pack_sequences", { (s, dir) =>
        Packing.packSequences(t(s, dir, "documents"), "doc_id", "text",
            cap = 360, shards = 8)
          .select("doc_id", "shard", "n_tokens", "pack_id", "pack_offset")
          .orderBy("doc_id")
      },
      // CASTs: the window sum is HUGEINT in DuckDB, which the driver's
      // pandas compare lands as float64 (r4 q81 hash mismatch vs Spark's
      // int64) — pin both derived columns back to BIGINT.
      Some("""SELECT doc_id, shard, n_tokens,
             |  CAST(shard * 1000000 + cum_before // 360 AS BIGINT) AS pack_id,
             |  CAST(cum_before % 360 AS BIGINT) AS pack_offset
             |FROM (
             |  SELECT doc_id, doc_id % 8 AS shard,
             |    CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens,
             |    coalesce(sum(CAST(len(string_split(text, ' ')) AS BIGINT)) OVER (
             |      PARTITION BY doc_id % 8 ORDER BY doc_id
             |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cum_before
             |  FROM documents)
             |ORDER BY doc_id""".stripMargin)),

    // Deterministic hash-stratified sampling for mixture control: keep
    // rates per language (en 50%, zh 12.5%, default 25%), decided by
    // md5(seed:doc_id) so the DuckDB oracle draws the IDENTICAL sample.
    Q("q82_sample_stratified", { (s, dir) =>
        Sampling.stratifiedSample(t(s, dir, "documents"), "doc_id", "lang",
            rates = Map("en" -> 0.5, "zh" -> 0.125), defaultRate = 0.25)
          .select("doc_id", "lang", "source")
          .orderBy("doc_id")
      },
      Some("""SELECT doc_id, lang, source FROM documents
             |WHERE substring(md5('s42:' || CAST(doc_id AS VARCHAR)), 1, 4) <
             |  CASE lang WHEN 'en' THEN '8000' WHEN 'zh' THEN '2000' ELSE '4000' END
             |ORDER BY doc_id""".stripMargin)),

    // The other half of mixture control: an exact per-source COUNT cap,
    // keeping the 12 docs whose id-hash orders first in each source —
    // a uniform reproducible draw (DuckDB draws the identical one), and
    // raising the cap strictly grows the kept set.
    Q("q86_sample_cap_per_source", { (s, dir) =>
        Sampling.capPerGroup(t(s, dir, "documents"), "doc_id", "source", n = 12)
          .select("doc_id", "lang", "source")
          .orderBy("doc_id")
      },
      Some("""SELECT doc_id, lang, source FROM (
             |  SELECT doc_id, lang, source, row_number() OVER (
             |    PARTITION BY source
             |    ORDER BY md5('s42:' || CAST(doc_id AS VARCHAR)), doc_id) AS rn
             |  FROM documents)
             |WHERE rn <= 12 ORDER BY doc_id""".stripMargin)),

    // Incremental dedup: the new batch (doc_id % 5 = 0 here) joins ONLY
    // against the standing corpus — per-ingest cost is batch-bounded, the
    // 100 TB dedup mode. Exact (prefix-filtered) so the shared-shingle
    // oracle gates it fully.
    Q("q88_dedup_incremental", { (s, dir) =>
        val d = t(s, dir, "documents")
        Dedup.jaccardPairsAgainst(
            d.filter(col("doc_id") % 5 === 0),
            d.filter(col("doc_id") % 5 =!= 0),
            "text", "doc_id")
          .orderBy("new_id", "corpus_id")
      },
      Some(s"""WITH $ShingleCte,
             |cnt AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY 1),
             |inter AS (
             |  SELECT a.doc_id AS new_id, b.doc_id AS corpus_id, count(*) AS inter
             |  FROM sh a JOIN sh b ON a.s = b.s
             |  WHERE a.doc_id % 5 = 0 AND b.doc_id % 5 <> 0
             |  GROUP BY 1, 2
             |)
             |SELECT new_id, corpus_id, inter, na, nb FROM (
             |  SELECT new_id, corpus_id, inter, ca.n AS na, cb.n AS nb FROM inter
             |  JOIN cnt ca ON ca.doc_id = new_id JOIN cnt cb ON cb.doc_id = corpus_id)
             |WHERE inter * 10 >= (na + nb - inter) * 7
             |ORDER BY new_id, corpus_id""".stripMargin)),

    // One-pass dataset profiling (null / distinct / min / max per column)
    // — the pre-training quality sweep, as a single aggregation.
    Q("q87_profile_documents", { (s, dir) =>
        graft.operators.Profile.profile(t(s, dir, "documents"))
          .orderBy("col_name")
      },
      Some("""SELECT * FROM (
             |  SELECT 'doc_id' AS col_name, count(*) - count(doc_id) AS n_nulls,
             |    count(DISTINCT doc_id) AS n_distinct,
             |    CAST(min(doc_id) AS VARCHAR) AS min_s, CAST(max(doc_id) AS VARCHAR) AS max_s
             |  FROM documents
             |  UNION ALL SELECT 'text', count(*) - count(text), count(DISTINCT text),
             |    min(text), max(text) FROM documents
             |  UNION ALL SELECT 'lang', count(*) - count(lang), count(DISTINCT lang),
             |    min(lang), max(lang) FROM documents
             |  UNION ALL SELECT 'source', count(*) - count(source), count(DISTINCT source),
             |    min(source), max(source) FROM documents
             |  UNION ALL SELECT 'n_chars', count(*) - count(n_chars), count(DISTINCT n_chars),
             |    CAST(min(n_chars) AS VARCHAR), CAST(max(n_chars) AS VARCHAR) FROM documents)
             |ORDER BY col_name""".stripMargin)),

    // Benchmark decontamination: training docs (doc_id % 10 <> 7) sharing
    // any distinct 5-gram with the held-out eval set (doc_id % 10 = 7).
    // The bench side collapses to its distinct shingle set pre-join, so no
    // hot shingle can fan out; at 100 TB that set broadcasts.
    Q("q90_decontaminate", { (s, dir) =>
        val d = t(s, dir, "documents")
        Decontaminate.overlap(
            d.filter(col("doc_id") % 10 =!= 7),
            d.filter(col("doc_id") % 10 === 7),
            "text", "doc_id", k = 5)
          .orderBy("doc_id")
      },
      Some("""WITH sh5 AS (
             |  SELECT doc_id, unnest(list_distinct(list_transform(generate_series(1, len(toks) - 4),
             |    i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2] || ' ' || toks[i+3] || ' ' || toks[i+4]))) AS s
             |  FROM (SELECT doc_id, string_split(text, ' ') AS toks FROM documents)
             |), bench AS (
             |  SELECT DISTINCT s FROM sh5 WHERE doc_id % 10 = 7
             |), cnt AS (
             |  SELECT doc_id, count(*) AS n_shingles FROM sh5 WHERE doc_id % 10 <> 7 GROUP BY 1
             |), hits AS (
             |  SELECT t.doc_id, count(*) AS n_overlap
             |  FROM sh5 t JOIN bench b ON t.s = b.s
             |  WHERE t.doc_id % 10 <> 7 GROUP BY 1
             |)
             |SELECT h.doc_id, h.n_overlap, c.n_shingles
             |FROM hits h JOIN cnt c ON h.doc_id = c.doc_id
             |ORDER BY h.doc_id""".stripMargin)),

    // Gopher-style repetition quality filters, per-row and shuffle-free:
    // duplicate-2-gram fraction (1 - distinct/total bigrams) and top-token
    // fraction (codegen'd TokenTopCount kernel / token count). Thresholds
    // sit at the corpus p60-ish so the verdict actually splits the data.
    // Both fractions derive from integer counts, so the doubles (and the
    // threshold comparison) are engine-identical.
    Q("q91_quality_repetition", { (s, dir) =>
        t(s, dir, "documents").select(col("doc_id"),
            size(TextOps.tokens(col("text"))).as("n_tokens"),
            TextOps.dupBigramFrac(col("text")).as("dup_2gram_frac"),
            TextOps.topTokenFrac(col("text")).as("top_tok_frac"),
            when(TextOps.repetitionGate(col("text")), "keep")
              .otherwise("drop").as("verdict"))
          .orderBy("doc_id")
      },
      Some("""SELECT doc_id, CAST(len(toks) AS INTEGER) AS n_tokens,
             |  CASE WHEN len(toks) > 1 THEN 1.0 - CAST(len(list_distinct(list_transform(
             |      generate_series(1, len(toks) - 1), i -> toks[i] || ' ' || toks[i+1]))) AS DOUBLE)
             |    / CAST(len(toks) - 1 AS DOUBLE) ELSE 0.0 END AS dup_2gram_frac,
             |  CAST(list_max(list_transform(list_distinct(toks),
             |      u -> len(list_filter(toks, x -> x = u)))) AS DOUBLE)
             |    / CAST(len(toks) AS DOUBLE) AS top_tok_frac,
             |  CASE WHEN (CASE WHEN len(toks) > 1 THEN 1.0 - CAST(len(list_distinct(list_transform(
             |      generate_series(1, len(toks) - 1), i -> toks[i] || ' ' || toks[i+1]))) AS DOUBLE)
             |    / CAST(len(toks) - 1 AS DOUBLE) ELSE 0.0 END) <= 0.04
             |    AND CAST(list_max(list_transform(list_distinct(toks),
             |      u -> len(list_filter(toks, x -> x = u)))) AS DOUBLE)
             |    / CAST(len(toks) AS DOUBLE) <= 0.1
             |  THEN 'keep' ELSE 'drop' END AS verdict
             |FROM (SELECT doc_id, string_split(text, ' ') AS toks FROM documents)
             |ORDER BY doc_id""".stripMargin)),

    // Symmetric int8 embedding quantization (the ANN storage format):
    // per-vector scale = max|x|/127, quantized ints serialized as CSV so
    // the hash compare sees scalar columns. Narrow, codegen'd, no shuffle.
    Q("q92_embed_quantize",
      (s, dir) => Embeddings.quantized(t(s, dir, "embeddings"), "embedding", "vec_id")
        .orderBy("vec_id"),
      Some("""SELECT vec_id, scale,
             |  array_to_string(list_transform(embedding,
             |    x -> CASE WHEN scale = 0.0 THEN 0
             |              ELSE CAST(round(CAST(x AS DOUBLE) / scale) AS INTEGER) END), ',') AS q_str
             |FROM (SELECT vec_id, embedding,
             |  list_max(list_transform(embedding, x -> abs(CAST(x AS DOUBLE)))) / 127.0 AS scale
             |  FROM embeddings)
             |ORDER BY vec_id""".stripMargin)),

    // Temperature-scaled source mixture (GPT-3-style sampling weights,
    // T = 2 i.e. p^0.5): weight_l = sqrt(n_l/N) / Σ sqrt(n_m/N). sqrt is
    // correctly-rounded IEEE in both engines; the normalizing sum runs in
    // DECIMAL so it is order-insensitive — the same pattern that makes a
    // 1000-executor Spark sum match a serial oracle.
    Q("q93_source_mix", { (s, dir) =>
        val w = org.apache.spark.sql.expressions.Window.partitionBy(lit(1))
        t(s, dir, "documents")
          .groupBy("lang").agg(count(lit(1)).as("n_docs"))
          .withColumn("pd",
            sqrt(col("n_docs").cast(DoubleType) / sum("n_docs").over(w).cast(DoubleType))
              .cast(DecimalType(28, 12)))
          .select(col("lang"), col("n_docs"),
            (col("pd").cast(DoubleType) / sum("pd").over(w).cast(DoubleType)).as("weight"))
          .orderBy("lang")
      },
      Some("""WITH c AS (SELECT lang, count(*) AS n_docs FROM documents GROUP BY lang),
             |w AS (SELECT lang, n_docs,
             |  CAST(sqrt(CAST(n_docs AS DOUBLE) / CAST(sum(n_docs) OVER () AS DOUBLE)) AS DECIMAL(28,12)) AS pd
             |  FROM c)
             |SELECT lang, n_docs, CAST(pd AS DOUBLE) / CAST(sum(pd) OVER () AS DOUBLE) AS weight
             |FROM w ORDER BY lang""".stripMargin)),

    // Tokenizer vocabulary build: top-50 corpus tokens by total frequency
    // (ties broken by token) with a document-frequency floor — one
    // explode + hash agg + TakeOrderedAndProject; the classic vocab/BPE
    // prep pass, integer-exact for the oracle.
    Q("q99_vocab_topn", { (s, dir) =>
        t(s, dir, "documents")
          .select(col("doc_id"), explode(TextOps.tokens(col("text"))).as("token"))
          .groupBy("token")
          .agg(count(lit(1)).as("tf"), countDistinct(col("doc_id")).as("df"))
          .filter(col("df") >= 3)
          .orderBy(col("tf").desc, col("token"))
          .limit(50)
      },
      Some("""SELECT token, tf, df FROM (
             |  SELECT tok AS token, count(*) AS tf, count(DISTINCT doc_id) AS df
             |  FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS tok FROM documents)
             |  GROUP BY tok)
             |WHERE df >= 3 ORDER BY tf DESC, token LIMIT 50""".stripMargin)),

    // Span-level duplication coverage: per doc, the fraction of its 8-gram
    // spans (all positions) also present in another document — the
    // substring-dedup signal that doc-level hashing misses on
    // boilerplate-heavy corpora.
    Q("q101_dedup_span_coverage",
      (s, dir) => Dedup.spanSharedStats(t(s, dir, "documents"), "text", "doc_id", k = 8)
        .orderBy("doc_id"),
      Some("""WITH sp AS (
             |  SELECT doc_id, unnest(list_transform(generate_series(1, len(toks) - 7),
             |    i -> toks[i]||' '||toks[i+1]||' '||toks[i+2]||' '||toks[i+3]||' '||toks[i+4]||' '||toks[i+5]||' '||toks[i+6]||' '||toks[i+7])) AS span
             |  FROM (SELECT doc_id, string_split(text, ' ') AS toks FROM documents)
             |), shared AS (
             |  SELECT span, 1 AS hit FROM sp GROUP BY span HAVING count(DISTINCT doc_id) > 1
             |)
             |SELECT s.doc_id, count(*) AS n_spans, count(sh.hit) AS n_shared,
             |  CAST(count(sh.hit) AS DOUBLE) / CAST(count(*) AS DOUBLE) AS shared_frac
             |FROM sp s LEFT JOIN shared sh ON s.span = sh.span
             |GROUP BY s.doc_id ORDER BY s.doc_id""".stripMargin)),

    // Numericalize: apply the q99 vocabulary to every document, producing
    // the id sequence (rank ids, 0 = unknown) a packing stage consumes.
    // The vocab (bounded by construction) broadcasts; the token stream
    // never shuffles for the lookup — only the per-doc reassembly
    // aggregates, with order restored from the exploded position.
    Q("q105_vocab_apply", { (s, dir) =>
        val docs = t(s, dir, "documents")
        // ≤50 rows post-limit; the constant partitionBy is semantically
        // identical on bounded input and silences the WindowExec
        // no-partition warning that would mask real ones in the bench log
        val w = org.apache.spark.sql.expressions.Window
          .partitionBy(lit(0)).orderBy(col("tf").desc, col("token"))
        val vocab = docs
          .select(col("doc_id"), explode(TextOps.tokens(col("text"))).as("token"))
          .groupBy("token")
          .agg(count(lit(1)).as("tf"), countDistinct(col("doc_id")).as("df"))
          .filter(col("df") >= 3)
          .orderBy(col("tf").desc, col("token"))
          .limit(50)
          .select(col("token"), row_number().over(w).as("tid"))
        val pos = docs.select(col("doc_id"),
          posexplode(TextOps.tokens(col("text"))).as(Seq("pos", "token")))
        pos.join(broadcast(vocab), Seq("token"), "left")
          .withColumn("tid", coalesce(col("tid"), lit(0)))
          .groupBy("doc_id")
          .agg(
            concat_ws(",", transform(
              array_sort(collect_list(struct(col("pos"), col("tid")))),
              x => x.getField("tid").cast(StringType))).as("ids"),
            count(lit(1)).as("n_tokens"),
            sum(when(col("tid") === 0, 1).otherwise(0)).as("n_unk"))
          .orderBy("doc_id")
      },
      Some("""WITH vocab AS (
             |  SELECT token, row_number() OVER (ORDER BY tf DESC, token) AS tid FROM (
             |    SELECT tok AS token, count(*) AS tf, count(DISTINCT doc_id) AS df
             |    FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS tok FROM documents)
             |    GROUP BY tok) WHERE df >= 3
             |  ORDER BY tf DESC, token LIMIT 50
             |), pos AS (
             |  SELECT doc_id, i AS pos, toks[i] AS token
             |  FROM (SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
             |    unnest(generate_series(1, len(toks))) AS u(i)
             |)
             |SELECT p.doc_id, string_agg(coalesce(v.tid, 0), ',' ORDER BY p.pos) AS ids,
             |  count(*) AS n_tokens,
             |  CAST(sum(CASE WHEN v.tid IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_unk
             |FROM pos p LEFT JOIN vocab v ON p.token = v.token
             |GROUP BY p.doc_id ORDER BY p.doc_id""".stripMargin)),

    // Capstone composition — the curation pipeline a training-data run
    // actually executes, end to end under ONE oracle: hold out the eval
    // split, apply the repetition quality gate, keep exact-dup canonicals,
    // drop the higher id of every near-dup pair, then drop anything
    // sharing a 5-gram with the eval split. Each stage is the
    // already-gated operator; this proves they COMPOSE (the stage order
    // and survivor sets match a serial oracle exactly).
    Q("q106_pipeline_curation", { (s, dir) =>
        val docs = t(s, dir, "documents")
        val bench = docs.filter(col("doc_id") % 10 === 7)
        val train = docs.filter(col("doc_id") % 10 =!= 7)
        // stage 1: repetition quality gate (the SAME expression as q91)
        val quality = train.filter(TextOps.repetitionGate(col("text")))
        // stage 2: exact-dup canonicals. The survivor frame feeds THREE
        // consumers (the near-dup join's shingle derivations, the
        // anti-join, decontamination), each of which would otherwise
        // re-run stages 1–2 from the scan (the initial plan carried 58
        // parquet scans); share it through ONE forced exchange —
        // guide §3.3, materialize the shared intermediate (r16: was a
        // persist(), which leaked its cache entry past the query).
        val canon = shareByExchange(Dedup.exactGroups(quality, "text", "doc_id")
          .select(col("canonical_id").as("doc_id"))
          .join(quality, "doc_id"), "doc_id")
        // stage 3: near-dup drop (higher id of each pair)
        val drops = Dedup.jaccardPairs(canon, "text", "doc_id")
          .select(col("db").as("doc_id")).distinct()
        val deduped = canon.join(drops, Seq("doc_id"), "left_anti")
        // stage 4: decontamination vs the eval split
        val contaminated = Decontaminate.overlap(deduped, bench, "text", "doc_id", k = 5)
          .select("doc_id")
        deduped.join(contaminated, Seq("doc_id"), "left_anti")
          .select(col("doc_id"), size(TextOps.tokens(col("text"))).as("n_tokens"))
          .orderBy("doc_id")
      },
      Some("""WITH train AS (
             |  SELECT doc_id, text, string_split(text, ' ') AS toks FROM documents
             |  WHERE doc_id % 10 <> 7
             |), quality AS (
             |  SELECT doc_id, text, toks FROM train
             |  WHERE (CASE WHEN len(toks) > 1 THEN 1.0 - CAST(len(list_distinct(list_transform(
             |      generate_series(1, len(toks) - 1), i -> toks[i] || ' ' || toks[i+1]))) AS DOUBLE)
             |    / CAST(len(toks) - 1 AS DOUBLE) ELSE 0.0 END) <= 0.04
             |   AND CAST(list_max(list_transform(list_distinct(toks),
             |      u -> len(list_filter(toks, x -> x = u)))) AS DOUBLE)
             |    / CAST(len(toks) AS DOUBLE) <= 0.1
             |), canon AS (
             |  SELECT q.doc_id, q.text, q.toks FROM quality q
             |  JOIN (SELECT min(doc_id) AS doc_id FROM quality GROUP BY sha256(text)) c
             |    ON q.doc_id = c.doc_id
             |), sh AS (
             |  SELECT doc_id, unnest(list_distinct(list_transform(generate_series(1, len(toks) - 2),
             |    i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2]))) AS s
             |  FROM canon
             |), cnt AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY 1),
             |inter AS (
             |  SELECT a.doc_id AS da, b.doc_id AS db, count(*) AS inter
             |  FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id GROUP BY 1, 2
             |), pairs AS (
             |  SELECT da, db FROM (
             |    SELECT da, db, inter, ca.n AS na, cb.n AS nb FROM inter
             |    JOIN cnt ca ON ca.doc_id = da JOIN cnt cb ON cb.doc_id = db)
             |  WHERE inter * 10 >= (na + nb - inter) * 7
             |), deduped AS (
             |  SELECT doc_id, text, toks FROM canon WHERE doc_id NOT IN (SELECT db FROM pairs)
             |), sh5 AS (
             |  SELECT doc_id, unnest(list_distinct(list_transform(generate_series(1, len(toks) - 4),
             |    i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2] || ' ' || toks[i+3] || ' ' || toks[i+4]))) AS s
             |  FROM deduped
             |), bench5 AS (
             |  SELECT DISTINCT unnest(list_distinct(list_transform(generate_series(1, len(toks) - 4),
             |    i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2] || ' ' || toks[i+3] || ' ' || toks[i+4]))) AS s
             |  FROM (SELECT string_split(text, ' ') AS toks FROM documents WHERE doc_id % 10 = 7)
             |), dirty AS (
             |  SELECT DISTINCT t.doc_id FROM sh5 t JOIN bench5 b ON t.s = b.s
             |)
             |SELECT d.doc_id, CAST(len(d.toks) AS INTEGER) AS n_tokens
             |FROM deduped d WHERE d.doc_id NOT IN (SELECT doc_id FROM dirty)
             |ORDER BY d.doc_id""".stripMargin)),

    // Context-window chunking with overlap (20-token chunks, stride 15):
    // the embedding/RAG prep step. Pure per-row explode — no shuffle until
    // the caller aggregates; trailing chunks under 5 tokens are dropped.
    Q("q107_chunk_documents", { (s, dir) =>
        val cap = 20
        val stride = 15
        val toks = TextOps.tokens(col("text"))
        val nChunks = greatest(lit(0),
          ceil((size(toks) - cap).cast(DoubleType) / stride)).cast(IntegerType)
        t(s, dir, "documents")
          .select(col("doc_id"), toks.as("toks"), nChunks.as("nc"))
          .select(col("doc_id"), col("toks"),
            explode(sequence(lit(0), col("nc"))).as("chunk_id"))
          .select(col("doc_id"), col("chunk_id"),
            (col("chunk_id") * stride + 1).as("start_tok"),
            slice(col("toks"), col("chunk_id") * stride + 1, lit(cap)).as("chunk"))
          .filter(size(col("chunk")) >= 5)
          .select(col("doc_id"), col("chunk_id"), col("start_tok"),
            size(col("chunk")).as("chunk_len"),
            md5(concat_ws(" ", col("chunk"))).as("chunk_fp"))
          .orderBy("doc_id", "chunk_id")
      },
      Some("""WITH t AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
             |c AS (
             |  SELECT doc_id, i AS chunk_id, (i * 15 + 1) AS start_tok,
             |    list_slice(toks, i * 15 + 1, least(i * 15 + 20, len(toks))) AS chunk
             |  FROM t, unnest(generate_series(0,
             |    CAST(greatest(0, ceil((len(toks) - 20.0) / 15.0)) AS INTEGER))) AS u(i)
             |)
             |SELECT doc_id, CAST(chunk_id AS INTEGER) AS chunk_id,
             |  CAST(start_tok AS INTEGER) AS start_tok,
             |  CAST(len(chunk) AS INTEGER) AS chunk_len,
             |  md5(array_to_string(chunk, ' ')) AS chunk_fp
             |FROM c WHERE len(chunk) >= 5 ORDER BY doc_id, chunk_id""".stripMargin)),

    // Per-document keyword extraction: top-3 terms by term frequency,
    // rare-first tie-break, with a document-frequency stopword gate
    // (drop tokens in ≥90% of docs: df*10 < N*9 — integer math end to
    // end, so the ranking is exactly reproducible across engines;
    // ln-based tf-idf would hinge on libm ulps). Plan: ONE fact shuffle — the explode inherits the doc_id
    // repartition, so the (doc,term) tf aggregation, the per-doc window,
    // and the rank filter (WindowGroupLimit pushes k=3 below the sort)
    // all reuse it; the df side collapses to a vocab-sized table that
    // broadcasts back. At 100 TB the fact stream shuffles once on doc_id
    // and the only global structure is the bounded vocabulary.
    Q("q121_keywords_tf_df", { (s, dir) =>
        val docs = t(s, dir, "documents")
        val toks = docs.select(col("doc_id"),
          explode(TextOps.tokens(col("text"))).as("token"))
        val tf = toks.repartition(col("doc_id"))
          .groupBy("doc_id", "token").agg(count(lit(1)).as("tf"))
        // df straight off the scan: partial (token, doc) dedup collapses
        // before its token exchange — repartitioning this branch by doc
        // first would add a second full fact shuffle for nothing
        val dfs = toks.groupBy("token")
          .agg(countDistinct(col("doc_id")).as("df"))
        val nDocs = docs.agg(count(lit(1)).as("n_docs"))
        val keep = dfs.crossJoin(nDocs)
          .filter(col("df") * 10 < col("n_docs") * 9)
          .select("token", "df")
        val w = org.apache.spark.sql.expressions.Window.partitionBy("doc_id")
          .orderBy(col("tf").desc, col("df").asc, col("token").asc)
        tf.join(broadcast(keep), "token")
          .withColumn("rnk", row_number().over(w).cast(LongType))
          .filter(col("rnk") <= 3)
          .select("doc_id", "rnk", "token", "tf", "df")
          .sortWithinPartitions("doc_id", "rnk")
      },
      Some("""WITH tf AS (
             |  SELECT doc_id, tok AS token, count(*) AS tf
             |  FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS tok FROM documents)
             |  GROUP BY doc_id, tok
             |), df AS (SELECT token, count(*) AS df FROM tf GROUP BY token),
             |n AS (SELECT count(*) AS n_docs FROM documents)
             |SELECT doc_id, rnk, token, tf, df FROM (
             |  SELECT t.doc_id, t.token, t.tf, d.df,
             |    row_number() OVER (PARTITION BY t.doc_id
             |      ORDER BY t.tf DESC, d.df ASC, t.token ASC) AS rnk
             |  FROM tf t JOIN df d USING (token), n
             |  WHERE d.df * 10 < n.n_docs * 9)
             |WHERE rnk <= 3 ORDER BY doc_id, rnk""".stripMargin)),

    // BM25 ranked retrieval (Robertson/Sparck Jones; k1=1.2, b=0.75): the
    // classic lexical relevance scorer, here ranking the corpus against a
    // fixed query-term set — the retrieval primitive behind dataset
    // search / hard-negative mining over training corpora. Cross-engine
    // determinism: tf/df/dl are integers, every double op is written as
    // the SAME IEEE expression tree on both sides, the one libm call
    // (ln of an identically-computed double) is snapped to a
    // DECIMAL(18,9) grid before use, and per-term scores are summed as
    // DECIMAL(18,8) — order-insensitive, so the distributed sum matches
    // DuckDB's serial one bit-for-bit. Plan: the token explode filters to
    // the query terms BEFORE the (doc,term) agg (the fact stream carries
    // only matching tokens); df and the (N, avgdl) stats are
    // metadata-scale broadcasts; the final top-20 is TakeOrderedAndProject.
    Q("q146_bm25_retrieval", { (s, dir) =>
        bm25Scored(t(s, dir, "documents"), Seq("vector", "stream", "hash"))
          .orderBy(col("bm25").desc, col("doc_id"))
          .limit(20)
      },
      Some("""WITH toks AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
             |dl AS (SELECT doc_id, len(toks) AS dl FROM toks),
             |stats AS (SELECT CAST(count(*) AS BIGINT) AS n,
             |  CAST(SUM(len(toks)) AS DOUBLE) / CAST(count(*) AS DOUBLE) AS avgdl FROM toks),
             |tf AS (
             |  SELECT doc_id, tok, CAST(count(*) AS BIGINT) AS tf
             |  FROM (SELECT doc_id, unnest(toks) AS tok FROM toks)
             |  WHERE tok IN ('vector', 'stream', 'hash') GROUP BY doc_id, tok
             |), df AS (SELECT tok, CAST(count(*) AS BIGINT) AS df FROM tf GROUP BY tok),
             |idf AS (
             |  SELECT tok, avgdl, CAST(CAST(ln(
             |      (CAST(n AS DOUBLE) - CAST(df AS DOUBLE) + 0.5) / (CAST(df AS DOUBLE) + 0.5) + 1.0
             |    ) AS DECIMAL(18,9)) AS DOUBLE) AS idf9
             |  FROM df, stats
             |)
             |SELECT doc_id, CAST(SUM(CAST(idf9 * ((CAST(tf AS DOUBLE) * 2.2) /
             |    (CAST(tf AS DOUBLE) + 1.2 * (0.25 + 0.75 * (CAST(dl AS DOUBLE) / avgdl))))
             |  AS DECIMAL(18,8))) AS DOUBLE) AS bm25
             |FROM tf JOIN idf USING (tok) JOIN dl USING (doc_id)
             |GROUP BY doc_id ORDER BY bm25 DESC, doc_id LIMIT 20""".stripMargin)),

    // Hybrid retrieval with Reciprocal Rank Fusion (Cormack et al. 2009)
    // — the RAG-stack shape that combines the sparse (BM25, q146) and
    // dense (embedding-cosine, q44) rankers: each arm emits a bounded
    // top-100 ranked list, fused by score = Σ 1/(60 + rank) over the arms
    // that ranked the doc (the canonical k=60), top-20 fused out. Each
    // 1/(60+r) term snaps to DECIMAL(18,9) so the two-term sum is exact
    // and engine-portable. Scale: the arms' own 100 TB postures apply
    // (q146's filtered explode + broadcast idf; q44's broadcast-queries
    // pass + per-partition heaps); the fusion itself joins two ≤100-row
    // lists — metadata-scale work regardless of corpus size, with the
    // rank windows over pre-limited bounded inputs (constant partitionBy,
    // the bounded-window idiom).
    Q("q214_hybrid_rrf", { (s, dir) =>
        val docs = t(s, dir, "documents")
        val emb = t(s, dir, "embeddings")
        val wS = org.apache.spark.sql.expressions.Window
          .partitionBy(lit(0)).orderBy(col("bm25").desc, col("doc_id"))
        val sparse = bm25Scored(docs, Seq("vector", "stream", "hash"))
          .orderBy(col("bm25").desc, col("doc_id")).limit(100)
          .select(col("doc_id"), row_number().over(wS).as("rs"))
        val dense = Similarity
          .bruteForceTopK(emb.filter(col("vec_id") === 0), emb, k = 100)
          .select(col("neighbor_id").as("doc_id"), col("rank").as("rd"))
        val term = (c: org.apache.spark.sql.Column) => coalesce(
          (lit(1.0) / (lit(60.0) + c.cast(DoubleType))).cast(DecimalType(18, 9)),
          lit(0.0).cast(DecimalType(18, 9)))
        sparse.join(dense, Seq("doc_id"), "full_outer")
          .select(col("doc_id"),
            (term(col("rs")) + term(col("rd"))).cast(DoubleType).as("rrf"))
          .orderBy(col("rrf").desc, col("doc_id")).limit(20)
      },
      Some("""WITH toks AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
             |dl AS (SELECT doc_id, len(toks) AS dl FROM toks),
             |stats AS (SELECT CAST(count(*) AS BIGINT) AS n,
             |  CAST(SUM(len(toks)) AS DOUBLE) / CAST(count(*) AS DOUBLE) AS avgdl FROM toks),
             |tf AS (
             |  SELECT doc_id, tok, CAST(count(*) AS BIGINT) AS tf
             |  FROM (SELECT doc_id, unnest(toks) AS tok FROM toks)
             |  WHERE tok IN ('vector', 'stream', 'hash') GROUP BY doc_id, tok
             |), df AS (SELECT tok, CAST(count(*) AS BIGINT) AS df FROM tf GROUP BY tok),
             |idf AS (
             |  SELECT tok, avgdl, CAST(CAST(ln(
             |      (CAST(n AS DOUBLE) - CAST(df AS DOUBLE) + 0.5) / (CAST(df AS DOUBLE) + 0.5) + 1.0
             |    ) AS DECIMAL(18,9)) AS DOUBLE) AS idf9
             |  FROM df, stats
             |), bm AS (
             |  SELECT doc_id, CAST(SUM(CAST(idf9 * ((CAST(tf AS DOUBLE) * 2.2) /
             |      (CAST(tf AS DOUBLE) + 1.2 * (0.25 + 0.75 * (CAST(dl AS DOUBLE) / avgdl))))
             |    AS DECIMAL(18,8))) AS DOUBLE) AS bm25
             |  FROM tf JOIN idf USING (tok) JOIN dl USING (doc_id)
             |  GROUP BY doc_id ORDER BY bm25 DESC, doc_id LIMIT 100
             |), sp AS (SELECT doc_id,
             |    row_number() OVER (ORDER BY bm25 DESC, doc_id) AS rs FROM bm),
             |dv AS (SELECT vec_id,
             |    list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v FROM embeddings),
             |sc AS (SELECT c.vec_id AS doc_id,
             |    list_inner_product(q.v, c.v) / (sqrt(list_inner_product(q.v, q.v))
             |      * sqrt(list_inner_product(c.v, c.v))) AS cos
             |  FROM dv c, (SELECT v FROM dv WHERE vec_id = 0) q
             |  WHERE c.vec_id <> 0),
             |dn AS (SELECT doc_id, rd FROM (
             |    SELECT doc_id, row_number() OVER (ORDER BY cos DESC, doc_id) AS rd FROM sc)
             |  WHERE rd <= 100)
             |SELECT doc_id, CAST(
             |    coalesce(CAST(1.0 / (60.0 + CAST(rs AS DOUBLE)) AS DECIMAL(18,9)),
             |             CAST(0.0 AS DECIMAL(18,9)))
             |  + coalesce(CAST(1.0 / (60.0 + CAST(rd AS DOUBLE)) AS DECIMAL(18,9)),
             |             CAST(0.0 AS DECIMAL(18,9))) AS DOUBLE) AS rrf
             |FROM sp FULL OUTER JOIN dn USING (doc_id)
             |ORDER BY rrf DESC, doc_id LIMIT 20""".stripMargin)),

    // Token-budget corpus selection — the "take the best B tokens"
    // curation step (greedy prefix of the (quality desc, doc_id) order
    // until the inclusive token cumsum exceeds the budget; here quality =
    // distinct-token count, budget = half the corpus supply). The naive
    // formulation is a GLOBAL-sort cumsum — a single-partition window
    // that dies at corpus scale — so the implementation is a two-phase
    // STRATUM CUT instead: (1) aggregate supply per quality level (the
    // level histogram is metadata-scale — bounded by max doc length, not
    // corpus size), cumsum over levels in a bounded window, broadcast
    // back; levels that fit entirely are kept outright with no sort at
    // all. (2) Only the single boundary level sorts: its docs rank in a
    // partitionBy(score) window and fill the residual budget. Selection
    // is identical to the serial greedy by construction (the within-level
    // order doc_id matches the global tie-break); the DuckDB oracle runs
    // the naive global cumsum. If the boundary level itself is skewed at
    // 100 TB, the same level-cut recurses on doc_id buckets.
    Q("q215_token_budget", { (s, dir) =>
        val docs = t(s, dir, "documents")
        val toks = TextOps.tokens(col("text"))
        val base = docs.select(col("doc_id"),
          size(toks).cast(LongType).as("n_tok"),
          size(array_distinct(toks)).cast(LongType).as("score"))
        val budget = base.agg(
          floor(sum(col("n_tok")) / lit(2)).cast(LongType).as("budget"))
        Sampling.tokenBudgetSelect(base, budget).orderBy("doc_id")
      },
      Some("""WITH base AS (SELECT doc_id,
             |    CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tok,
             |    CAST(len(list_distinct(string_split(text, ' '))) AS BIGINT) AS score
             |  FROM documents),
             |b AS (SELECT CAST(floor(sum(n_tok) / 2.0) AS BIGINT) AS budget FROM base),
             |o AS (SELECT doc_id, n_tok, score,
             |    sum(n_tok) OVER (ORDER BY score DESC, doc_id) AS cum FROM base)
             |SELECT doc_id, score, n_tok FROM o, b WHERE cum <= budget
             |ORDER BY doc_id""".stripMargin)),

    // Classifier evaluation: EXACT AUC (Mann-Whitney with the standard
    // 0.5 tie credit) of a quality score against a label — the eval step
    // every filtering classifier (q165's NB, fastText-style) needs
    // before its threshold ships. Score here is the integer-ppm
    // distinct-token ratio, label = the q165 target sources. The naive
    // AUC is a global rank — a corpus-wide sort; instead the pair count
    // folds over the per-score histogram (metadata-scale: the score
    // domain, not the corpus): AUC·2PN = Σ_s np(s)·(2·nn_below(s) +
    // nn(s)), all BIGINT/DECIMAL-exact, one double division at the end.
    // One histogram shuffle + a bounded window over score levels.
    Q("q216_classifier_auc", { (s, dir) =>
        Eval.aucExact(evalBase(s, dir))
      },
      Some(s"""WITH base AS ($EvalBaseSql),
             |h AS (SELECT s, CAST(sum(pos) AS BIGINT) AS np,
             |    CAST(count(*) - sum(pos) AS BIGINT) AS nn FROM base GROUP BY s),
             |c AS (SELECT np, nn, sum(nn) OVER (ORDER BY s) - nn AS nn_below FROM h),
             |a AS (SELECT CAST(sum(np) AS BIGINT) AS p, CAST(sum(nn) AS BIGINT) AS n,
             |    sum(CAST(np AS DECIMAL(38,0)) * (2 * nn_below + nn)) AS num2 FROM c)
             |SELECT p AS n_pos, n AS n_neg,
             |  CAST(num2 AS DOUBLE) / (2.0 * CAST(p AS DOUBLE) * CAST(n AS DOUBLE)) AS auc,
             |  2.0 * (CAST(num2 AS DOUBLE) / (2.0 * CAST(p AS DOUBLE) * CAST(n AS DOUBLE))) - 1.0 AS gini
             |FROM a""".stripMargin)),

    // The ROC curve beside q216's scalar: 17 coarse score buckets
    // (62,500 ppm wide), thresholds scanned descending (predict positive
    // iff bucket ≥ t), cumulative TPR/FPR as EXACT integer ppm floors —
    // engine-portable with no double in sight. Same single histogram
    // shuffle; the cumulative window runs over ≤17 bucket rows.
    Q("q217_roc_curve", { (s, dir) =>
        Eval.rocCurve(evalBase(s, dir).selectExpr("pos", "s DIV 62500 AS bucket"))
      },
      Some(s"""WITH eb AS ($EvalBaseSql),
             |base AS (SELECT pos, s // 62500 AS bucket FROM eb),
             |h AS (SELECT bucket, CAST(sum(pos) AS BIGINT) AS np,
             |    CAST(count(*) - sum(pos) AS BIGINT) AS nn FROM base GROUP BY bucket),
             |tot AS (SELECT CAST(sum(pos) AS BIGINT) AS p,
             |    CAST(count(*) - sum(pos) AS BIGINT) AS nneg FROM base),
             |c AS (SELECT bucket,
             |    CAST(sum(np) OVER (ORDER BY bucket DESC) AS BIGINT) AS cp,
             |    CAST(sum(nn) OVER (ORDER BY bucket DESC) AS BIGINT) AS cn FROM h)
             |SELECT bucket, (cn * 1000000) // nneg AS fpr_ppm,
             |  (cp * 1000000) // p AS tpr_ppm
             |FROM c CROSS JOIN tot ORDER BY bucket""".stripMargin)),

    // Calibration reliability diagram — the third leg of the eval family
    // (q216 AUC ranks, q217 ROC thresholds, this bins): treat the ppm
    // score as a predicted probability, 10 equal-width bins, per bin the
    // mean prediction vs the observed positive rate, all exact integer
    // ppm floors. One histogram shuffle, no window.
    Q("q218_calibration_bins", { (s, dir) =>
        Eval.calibrationBins(evalBase(s, dir))
      },
      Some(s"""WITH base AS ($EvalBaseSql),
             |b AS (SELECT pos, s,
             |    CASE WHEN s >= 1000000 THEN 9 ELSE s // 100000 END AS bin FROM base)
             |SELECT bin, CAST(count(*) AS BIGINT) AS n,
             |  CAST(sum(s) AS BIGINT) // CAST(count(*) AS BIGINT) AS mean_pred_ppm,
             |  (CAST(sum(pos) AS BIGINT) * 1000000) // CAST(count(*) AS BIGINT) AS frac_pos_ppm
             |FROM b GROUP BY bin ORDER BY bin""".stripMargin)),

    // Scalar calibration quality: Brier score + 10-bin expected
    // calibration error over the same ppm score — numerators folded as
    // exact DECIMAL(38,0) integer sums (the per-row square ≤ 1e12
    // overflows a BIGINT sum at real corpus counts), one double division
    // each at the end. Same single histogram shuffle as q218.
    Q("q219_calibration_score", { (s, dir) =>
        Eval.calibrationScore(evalBase(s, dir))
      },
      Some(s"""WITH base AS ($EvalBaseSql),
             |bn AS (SELECT pos, s,
             |    CASE WHEN s >= 1000000 THEN 9 ELSE s // 100000 END AS bin FROM base),
             |bins AS (SELECT bin, CAST(count(*) AS BIGINT) AS n,
             |    CAST(sum(pos) AS BIGINT) AS np, CAST(sum(s) AS BIGINT) AS ssum,
             |    sum(CAST((s - pos*1000000) * (s - pos*1000000) AS DECIMAL(38,0))) AS sq
             |  FROM bn GROUP BY bin),
             |a AS (SELECT CAST(sum(n) AS BIGINT) AS nd, sum(sq) AS sqsum,
             |    sum(abs(CAST(np AS DECIMAL(38,0)) * 1000000 - ssum)) AS gap FROM bins)
             |SELECT nd AS n_docs,
             |  CAST(sqsum AS DOUBLE) / (1.0e12 * CAST(nd AS DOUBLE)) AS brier,
             |  CAST(gap AS DOUBLE) / (1.0e6 * CAST(nd AS DOUBLE)) AS ece
             |FROM a""".stripMargin)),

    // Corpus-familiarity quality score: mean corpus frequency of a doc's
    // positional bigrams — the self-trained-LM typicality signal (a
    // too-low score flags gibberish/OCR noise, a too-high one boilerplate).
    // Integer sums end to end, one final double division (bit-identical
    // across engines). Plan shape: the bigram vocabulary of a real corpus
    // does NOT broadcast, so the count lookup is a key-shuffle join — the
    // deliberate contrast to q121's broadcast df. Three shuffles (bigram
    // count, count join, per-doc sum), each on a key whose cardinality
    // grows with data, none all-to-all — the generic 100 TB shape.
    Q("q122_quality_familiarity", { (s, dir) =>
        val toks = TextOps.tokens(col("text"))
        val n1 = greatest(size(toks) - 1, lit(0))
        val bigrams = zip_with(
          slice(toks, lit(1), n1), slice(toks, lit(2), n1),
          (a, b) => concat(a, lit(" "), b))
        val bg = t(s, dir, "documents")
          .select(col("doc_id"), explode(bigrams).as("bg"))
        // Skew hardening (r7), two layers. (1) Join at the (doc, bigram)
        // PAIR level, not the occurrence level: "of the" is Zipfian — a
        // constant fraction of all occurrences — so an occurrence-keyed
        // join hands one reducer that whole fraction at 100 TB;
        // pre-aggregating to pairs (a well-spread composite key) caps the
        // hot bigram's join rows at #docs-containing-it, and the partial
        // agg bounds its shuffle traffic to one row per map task.
        // Identical integer math: cnt = Σ_pairs m; fam_sum = Σ m·cnt;
        // n = Σ m. (2) SALT the residual per-bigram skew: AQE's
        // OptimizeSkewedJoin is structurally BLIND to this join — it
        // pattern-matches SMJ(Sort(ShuffleStage), Sort(ShuffleStage)), and
        // the counts side here is Sort(HashAgg(ShuffleRead)) (an agg-fed
        // join side), so no runtime split ever fires (measured: an 11×
        // hot partition stays unsplit even under forceOptimizeSkewedJoin;
        // SkewSpec documents it). Skew.saltedJoin spreads the hot bigram's
        // pairs over 16 sub-keys (doc_id discriminates rows) at the cost
        // of 16× the vocab-sized counts side — cheap next to the pairs
        // side. Spread evidence: SkewSpec "bigram pair join" case.
        val pairs = bg.groupBy("doc_id", "bg").agg(count(lit(1)).as("m"))
        val counts = pairs.groupBy("bg").agg(sum("m").as("cnt"))
        graft.operators.Skew.saltedJoin(pairs, counts, "bg", salt = 16)
          .groupBy("doc_id")
          .agg(sum("m").as("n_bigrams"), sum(col("m") * col("cnt")).as("fam_sum"))
          .select(col("doc_id"), col("n_bigrams"), col("fam_sum"),
            (col("fam_sum").cast(DoubleType) / col("n_bigrams").cast(DoubleType))
              .as("familiarity"))
          .sortWithinPartitions("doc_id")
      },
      Some("""WITH bg AS (
             |  SELECT doc_id, unnest(list_transform(
             |    generate_series(1, len(toks) - 1), i -> toks[i] || ' ' || toks[i+1])) AS bg
             |  FROM (SELECT doc_id, string_split(text, ' ') AS toks FROM documents)
             |), c AS (SELECT bg, count(*) AS cnt FROM bg GROUP BY bg)
             |SELECT doc_id, count(*) AS n_bigrams,
             |  CAST(sum(cnt) AS BIGINT) AS fam_sum,
             |  CAST(CAST(sum(cnt) AS BIGINT) AS DOUBLE) / CAST(count(*) AS DOUBLE)
             |    AS familiarity
             |FROM bg JOIN c USING (bg)
             |GROUP BY doc_id ORDER BY doc_id""".stripMargin)),

    // Trigram language-model scoring with Stupid Backoff (Brants et al.
    // 2007, "Large Language Models in Machine Translation") — the
    // CCNet-style (Wenzek et al. 2020) LM quality filter: train n-gram
    // counts on a held-in slice (even doc_ids), score every document's
    // mean per-TRIGRAM log-likelihood (n_scored = n_tokens - 2; no
    // sentence-start padding, so the first two tokens are never scored);
    // gibberish scores low, the filter thresholds on it. Documents too
    // short to contain a trigram still emit a row (n_scored = 0, null
    // score) — exactly the degenerate docs a quality filter must surface,
    // not drop. S(w|a b) = c3/c2(ab) if the trigram was seen,
    // else 0.4·c2(bw)/c1(b), else 0.16·max(c1(w),1)/N.
    // Scale shape: three count aggs (vocab-scale by Heaps' law), then the
    // scoring joins run at the (doc, trigram) PAIR level — the q122
    // skew treatment: a Zipf-hot context ("of the") contributes one join
    // row per containing doc, not one per occurrence, and map-side
    // partial aggs bound its shuffle traffic. The count tables shuffle-
    // join on n-gram keys (a real corpus's trigram vocab does not
    // broadcast); nothing is all-to-all. Cross-engine bit-exactness via
    // the house DECIMAL-snapped ln + order-insensitive DECIMAL sums.
    Q("q156_lm_stupid_backoff",
      (s, dir) => lmScoreDf(s, dir).orderBy("doc_id"),
      Some(s"""$LmScoreCtes
             |SELECT d.doc_id, coalesce(p.n_scored, 0) AS n_scored,
             |  p.logprob_sum,
             |  p.logprob_sum / CAST(p.n_scored AS DOUBLE) AS avg_logprob
             |FROM documents d LEFT JOIN perdoc p ON d.doc_id = p.doc_id
             |ORDER BY d.doc_id""".stripMargin)),

    // DSIR — Data Selection via Importance Resampling (Xie et al. 2023):
    // select raw documents that look like a target domain by importance
    // weight log(p_target(x)/p_raw(x)) under HASHED bigram bag-of-ngrams
    // models with add-1 smoothing. Feature space is a FIXED 256 buckets
    // (md5-prefix hash — engine-portable), so the trained weight table is
    // O(256) REGARDLESS of corpus size and always broadcasts: the whole
    // point of DSIR's hashing is that 100 TB of raw text trains the same
    // tiny model. One explode+groupBy for bucket counts, one broadcast
    // join for scoring, a TakeOrderedAndProject for the selection —
    // nothing shuffles on a vocabulary-sized key. Deterministic variant:
    // top-k by weight (the paper's Gumbel resampling needs RNG; ties and
    // order are exact here, DECIMAL-snapped like the BM25 scorer).
    // Candidate ranking follows the paper: only NON-target docs compete
    // for selection (the target set is what we already have; DSIR picks
    // raw docs that resemble it). p_raw stays fit on the full raw pool,
    // of which the target slice is a subset — the paper's setup exactly.
    Q("q157_dsir_importance", { (s, dir) =>
        val docs = t(s, dir, "documents")
        val toks = TextOps.tokens(col("text"))
        val f = docs.select(col("doc_id"),
            when(col("source").isin("src0", "src1", "src2", "src3"), 1L)
              .otherwise(0L).as("tgt"),
            explode(WordSpans(toks, 2)).as("bg"))
          .select(col("doc_id"), col("tgt"), substring(md5(col("bg")), 1, 2).as("b"))
        val bucket = f.groupBy("b").agg(sum("tgt").as("ct"), count(lit(1)).as("cr"))
        val tot = bucket.agg(sum("ct").as("nt"), sum("cr").as("nr"))
        val lam = bucket.crossJoin(broadcast(tot))
          .select(col("b"),
            log(((col("ct") + 1).cast(DoubleType) / (col("nt") + 256).cast(DoubleType)) /
                ((col("cr") + 1).cast(DoubleType) / (col("nr") + 256).cast(DoubleType)))
              .cast(DecimalType(18, 9)).as("lam"))
        f.filter(col("tgt") === 0L)
          .groupBy("doc_id", "b").agg(count(lit(1)).as("m"))
          .join(broadcast(lam), "b")
          .select(col("doc_id"), col("m"),
            (col("m").cast(DecimalType(10, 0)) * col("lam")).as("term"))
          .groupBy("doc_id")
          .agg(sum("m").as("n_feats"), sum(col("term")).cast(DoubleType).as("dsir_weight"))
          .orderBy(col("dsir_weight").desc, col("doc_id"))
          .limit(50)
      },
      Some("""WITH toks AS (SELECT doc_id, source, string_split(text, ' ') AS toks FROM documents),
             |f AS (SELECT doc_id, substr(md5(bg), 1, 2) AS b,
             |    CASE WHEN source IN ('src0','src1','src2','src3') THEN 1 ELSE 0 END AS tgt
             |  FROM (SELECT doc_id, source, unnest(list_transform(generate_series(1, len(toks) - 1),
             |    i -> toks[i] || ' ' || toks[i+1])) AS bg FROM toks)),
             |bucket AS (SELECT b, CAST(sum(tgt) AS BIGINT) AS ct,
             |    CAST(count(*) AS BIGINT) AS cr FROM f GROUP BY b),
             |tot AS (SELECT CAST(sum(ct) AS BIGINT) AS nt, CAST(sum(cr) AS BIGINT) AS nr FROM bucket),
             |lam AS (SELECT b,
             |    CAST(ln((CAST(ct + 1 AS DOUBLE) / CAST(nt + 256 AS DOUBLE)) /
             |      (CAST(cr + 1 AS DOUBLE) / CAST(nr + 256 AS DOUBLE))) AS DECIMAL(18,9)) AS lam
             |  FROM bucket CROSS JOIN tot),
             |dm AS (SELECT doc_id, b, CAST(count(*) AS BIGINT) AS m
             |  FROM f WHERE tgt = 0 GROUP BY doc_id, b)
             |SELECT doc_id, CAST(sum(m) AS BIGINT) AS n_feats,
             |  CAST(sum(CAST(m AS DECIMAL(10,0)) * lam) AS DOUBLE) AS dsir_weight
             |FROM dm JOIN lam USING (b)
             |GROUP BY doc_id ORDER BY dsir_weight DESC, doc_id LIMIT 50""".stripMargin)),

    // Exact duplicated-SPAN removal with document rewriting — the Lee et
    // al. 2021 ("Deduplicating Training Data Makes Language Models
    // Better") ExactSubstr semantics at k-gram granularity (k = 8,
    // matching the q101 coverage stat): every 8-token span whose text
    // occurs anywhere else in the corpus keeps only its globally FIRST
    // occurrence (corpus order = (doc_id, pos)); tokens covered by any
    // later occurrence are dropped and the document re-assembled. Unlike
    // q139 (chunk-boundary-aligned) this catches duplicates at ANY
    // offset. Shuffle shape: one window over the span text (first-
    // occurrence rank — hot boilerplate spans bound by their occurrence
    // count, the same Zipf note as q122), an ≤8× position explode of the
    // duplicate set only, one anti-join on (doc, pos), one per-doc
    // reassembly. Never all-pairs; work ∝ duplicate mass, the property
    // that makes ExactSubstr runnable at corpus scale.
    Q("q158_dup_span_removal", { (s, dir) =>
        import org.apache.spark.sql.expressions.Window
        val docs = t(s, dir, "documents")
        val toks = TextOps.tokens(col("text"))
        val tokPos = docs.select(col("doc_id"), posexplode(toks).as(Seq("pos", "w")))
        val grams = docs.select(col("doc_id"),
          posexplode(WordSpans(toks, 8)).as(Seq("gpos", "gram")))
        val firstW = Window.partitionBy("gram").orderBy("doc_id", "gpos")
        val covered = grams.withColumn("rn", row_number().over(firstW))
          .filter(col("rn") > 1)
          .select(col("doc_id"),
            explode(sequence(col("gpos"), col("gpos") + 7)).as("pos"))
          .distinct()
        val rebuilt = tokPos.join(covered, Seq("doc_id", "pos"), "left_anti")
          .groupBy("doc_id")
          .agg(concat_ws(" ", expr(
            "transform(sort_array(collect_list(struct(pos, w))), s -> s.w)"))
            .as("clean_text"),
            count(lit(1)).as("n_kept"))
        docs.select(col("doc_id"), size(toks).cast(LongType).as("n_tokens"))
          .join(rebuilt, Seq("doc_id"), "left")
          .select(col("doc_id"),
            coalesce(col("clean_text"), lit("")).as("clean_text"),
            col("n_tokens"),
            (col("n_tokens") - coalesce(col("n_kept"), lit(0L))).as("n_removed"))
          .orderBy("doc_id")
      },
      Some("""WITH toks AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
             |g AS (SELECT doc_id, e.gpos AS gpos, e.gram AS gram FROM (
             |  SELECT doc_id, unnest(list_transform(generate_series(1, len(toks) - 7),
             |    i -> struct_pack(gpos := i - 1, gram := array_to_string(toks[i : i+7], ' ')))) AS e
             |  FROM toks)),
             |d AS (SELECT doc_id, gpos FROM (
             |  SELECT doc_id, gpos, ROW_NUMBER() OVER (PARTITION BY gram ORDER BY doc_id, gpos) AS rn
             |  FROM g) WHERE rn > 1),
             |cov AS (SELECT DISTINCT doc_id, pos FROM (
             |  SELECT doc_id, unnest(generate_series(gpos, gpos + 7)) AS pos FROM d)),
             |tp AS (SELECT doc_id, e.pos AS pos, e.w AS w FROM (
             |  SELECT doc_id, unnest(list_transform(generate_series(1, len(toks)),
             |    i -> struct_pack(pos := i - 1, w := toks[i]))) AS e FROM toks)),
             |kept AS (SELECT tp.doc_id, tp.pos, tp.w FROM tp
             |  LEFT JOIN cov ON tp.doc_id = cov.doc_id AND tp.pos = cov.pos
             |  WHERE cov.pos IS NULL)
             |SELECT t.doc_id,
             |  coalesce((SELECT string_agg(w, ' ' ORDER BY pos)
             |    FROM kept k WHERE k.doc_id = t.doc_id), '') AS clean_text,
             |  CAST(len(toks) AS BIGINT) AS n_tokens,
             |  CAST(len(toks) AS BIGINT) - coalesce((SELECT count(*)
             |    FROM kept k WHERE k.doc_id = t.doc_id), 0) AS n_removed
             |FROM toks t ORDER BY doc_id""".stripMargin)),

    // UniMax language-balanced sampling (Chung et al. 2023): spend a total
    // token budget as uniformly as possible across languages, capped at
    // C = 1 epoch of each language's supply. The greedy ascending
    // allocation is exactly water-filling: langs with supply ≤ the water
    // level θ are taken whole, the rest get θ = (B − Σ_saturated) / #rest.
    // Scale shape: the allocation runs on the per-language supply agg —
    // METADATA-scale (thousands of rows at worst; the unpartitioned
    // window is over that agg, never over docs) — and broadcasts back;
    // doc selection is one per-language cumsum window over a
    // deterministic md5 order (the q82 portable-shuffle trick) plus a
    // per-row filter. Saturation is decided in INTEGER arithmetic
    // (s·remaining + prefix ≤ B), so both engines pick identical
    // saturated sets; only the final θ is a (single, identical) division.
    // A 100 TB corpus's hot language makes one big cumsum partition —
    // the escape hatch is the standard two-pass distributed prefix sum
    // (per-range partial totals + broadcast offsets).
    Q("q159_sample_unimax", { (s, dir) =>
        import org.apache.spark.sql.expressions.Window
        val docs = t(s, dir, "documents")
        val d = docs.select(col("doc_id"), col("lang"),
          size(TextOps.tokens(col("text"))).cast(LongType).as("n_tok"))
        val sup = d.groupBy("lang").agg(sum("n_tok").as("s"))
        val b = sup.agg(expr("sum(s) * 4 div 5").cast(LongType).as("budget_total"),
          count(lit(1)).as("n_langs"))
        // rows = #languages (metadata); constant partitionBy = same plan
        // on bounded input, keeps the bench log free of WindowExec warnings
        val w = Window.partitionBy(lit(0)).orderBy("s", "lang")
        val r = sup.withColumn("j", row_number().over(w))
          .withColumn("cum",
            sum("s").over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
          .crossJoin(broadcast(b))
          .withColumn("is_sat",
            when(col("s") * (col("n_langs") - col("j") + 1) + col("cum") - col("s") <=
              col("budget_total"), 1).otherwise(0))
        val k = r.agg(
          coalesce(max(when(col("is_sat") === 1, col("j"))), lit(0)).as("k"),
          coalesce(max(when(col("is_sat") === 1, col("cum"))), lit(0L)).as("sat_sum"))
        val alloc = r.crossJoin(broadcast(k))
          .select(col("lang"),
            when(col("is_sat") === 1, col("s").cast(DoubleType))
              .otherwise((col("budget_total") - col("sat_sum")).cast(DoubleType) /
                (col("n_langs") - col("k")).cast(DoubleType)).as("lang_budget"))
        val rw = Window.partitionBy("lang")
          .orderBy(md5(concat(lit("u42:"), col("doc_id").cast(StringType))), col("doc_id"))
        d.withColumn("cum_tok",
            sum("n_tok").over(rw.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
          .join(broadcast(alloc), Seq("lang"))
          .filter(col("cum_tok").cast(DoubleType) <= col("lang_budget"))
          .select(col("lang"), col("doc_id"), col("n_tok"), col("cum_tok"), col("lang_budget"))
          .orderBy("lang", "cum_tok")
      },
      Some("""WITH d AS (SELECT doc_id, lang, len(string_split(text, ' ')) AS n_tok FROM documents),
             |s AS (SELECT lang, CAST(sum(n_tok) AS BIGINT) AS s FROM d GROUP BY lang),
             |b AS (SELECT CAST(sum(s) * 4 // 5 AS BIGINT) AS budget_total,
             |  CAST(count(*) AS BIGINT) AS n_langs FROM s),
             |r AS (SELECT lang, s, ROW_NUMBER() OVER (ORDER BY s, lang) AS j,
             |    CAST(sum(s) OVER (ORDER BY s, lang ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum
             |  FROM s),
             |sat AS (SELECT r.*, b.budget_total, b.n_langs,
             |    CASE WHEN s * (n_langs - j + 1) + cum - s <= budget_total
             |      THEN 1 ELSE 0 END AS is_sat
             |  FROM r CROSS JOIN b),
             |k AS (SELECT coalesce(max(CASE WHEN is_sat = 1 THEN j END), 0) AS k,
             |    CAST(coalesce(max(CASE WHEN is_sat = 1 THEN cum END), 0) AS BIGINT) AS sat_sum
             |  FROM sat),
             |alloc AS (SELECT lang, CASE WHEN is_sat = 1 THEN CAST(s AS DOUBLE)
             |    ELSE CAST(budget_total - sat_sum AS DOUBLE) / CAST(n_langs - k AS DOUBLE)
             |    END AS lang_budget
             |  FROM sat CROSS JOIN k),
             |ranked AS (SELECT doc_id, lang, CAST(n_tok AS BIGINT) AS n_tok,
             |    CAST(sum(n_tok) OVER (PARTITION BY lang
             |      ORDER BY md5('u42:' || CAST(doc_id AS VARCHAR)), doc_id
             |      ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum_tok
             |  FROM d)
             |SELECT r.lang, r.doc_id, r.n_tok, r.cum_tok, a.lang_budget
             |FROM ranked r JOIN alloc a USING (lang)
             |WHERE CAST(r.cum_tok AS DOUBLE) <= a.lang_budget
             |ORDER BY lang, cum_tok""".stripMargin)),

    // Hard-negative mining for retrieval training — BM25 negatives (DPR,
    // Karpukhin et al. 2020) with cross-encoder-style denoising
    // (RocketQA, Qu et al. 2021): for each query document, the top-20
    // lexically-similar candidates by full per-query BM25 are the
    // negative pool, and the 3 most EMBEDDING-similar of them are flagged
    // likely-false-negatives (lexical hits that are probably genuine
    // matches — training on them as negatives hurts). Scale shape: the
    // mining batch's vocabulary broadcasts (queries are a bounded batch);
    // the corpus token stream is PRUNED to that vocabulary before any
    // agg, so corpus-side work is ∝ matching tokens; per-query top-20 is
    // a WindowGroupLimit heap, never a global sort; the cosine pass runs
    // on 20·|batch| candidate rows only. BM25 terms DECIMAL-snap (q146)
    // so ranks are engine-identical; cosine feeds only an ORDER (rank),
    // never a hashed float (the q44 contract).
    Q("q160_hard_negatives", { (s, dir) =>
        import org.apache.spark.sql.expressions.Window
        val docs = t(s, dir, "documents")
        val emb = t(s, dir, "embeddings")
        val toks = TextOps.tokens(col("text"))
        val dl = docs.select(col("doc_id"), size(toks).cast(LongType).as("dl"))
        val stats = dl.agg(count(lit(1)).as("n"),
          (sum(col("dl")).cast(DoubleType) / count(lit(1)).cast(DoubleType)).as("avgdl"))
        val qt = docs.filter(col("doc_id") < 5)
          .select(col("doc_id").as("query_id"), explode(array_distinct(toks)).as("tok"))
        val tf = docs.select(col("doc_id"), explode(toks).as("tok"))
          .join(broadcast(qt.select("tok").distinct()), Seq("tok"))
          .groupBy("doc_id", "tok").agg(count(lit(1)).as("tf"))
        val dfs = tf.groupBy("tok").agg(count(lit(1)).as("df"))
        val r = (col("n") - col("df") + lit(0.5)) / (col("df") + lit(0.5)) + lit(1.0)
        val idf = dfs.crossJoin(broadcast(stats))
          .select(col("tok"), col("avgdl"),
            log(r).cast(DecimalType(18, 9)).cast(DoubleType).as("idf9"))
        val sat = (col("tf").cast(DoubleType) * lit(2.2)) /
          (col("tf").cast(DoubleType) +
            lit(1.2) * (lit(0.25) + lit(0.75) * (col("dl").cast(DoubleType) / col("avgdl"))))
        val scored = tf.join(broadcast(idf), "tok").join(dl, "doc_id")
          .join(broadcast(qt), Seq("tok"))
          .filter(col("doc_id") =!= col("query_id"))
          .select(col("query_id"), col("doc_id").as("neighbor_id"),
            (col("idf9") * sat).cast(DecimalType(18, 8)).as("term"))
          .groupBy("query_id", "neighbor_id")
          .agg(sum(col("term")).cast(DoubleType).as("bm25"))
        val wB = Window.partitionBy("query_id").orderBy(col("bm25").desc, col("neighbor_id"))
        val cand = scored.withColumn("rnk", row_number().over(wB)).filter(col("rnk") <= 20)
        val dv = (c: org.apache.spark.sql.Column) => c.cast(ArrayType(DoubleType))
        val cos = cand
          .join(emb.select(col("vec_id").as("query_id"), dv(col("embedding")).as("qv")), "query_id")
          .join(emb.select(col("vec_id").as("neighbor_id"), dv(col("embedding")).as("nv")), "neighbor_id")
          .select(col("query_id"), col("neighbor_id"), col("rnk"), col("bm25"),
            Similarity.cosine(col("qv"), col("nv")).as("cosv"))
        val wC = Window.partitionBy("query_id").orderBy(col("cosv").desc, col("neighbor_id"))
        cos.withColumn("crank", row_number().over(wC))
          .select(col("query_id"), col("rnk"), col("neighbor_id"), col("bm25"),
            (col("crank") <= 3).as("likely_false_negative"))
          .orderBy("query_id", "rnk")
      },
      Some("""WITH toks AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
             |dl AS (SELECT doc_id, CAST(len(toks) AS BIGINT) AS dl FROM toks),
             |stats AS (SELECT CAST(count(*) AS BIGINT) AS n,
             |  CAST(sum(len(toks)) AS DOUBLE) / CAST(count(*) AS DOUBLE) AS avgdl FROM toks),
             |qt AS (SELECT DISTINCT query_id, tok FROM (
             |  SELECT doc_id AS query_id, unnest(toks) AS tok FROM toks WHERE doc_id < 5)),
             |tf AS (SELECT doc_id, tok, CAST(count(*) AS BIGINT) AS tf FROM (
             |    SELECT doc_id, unnest(toks) AS tok FROM toks)
             |  WHERE tok IN (SELECT tok FROM qt) GROUP BY doc_id, tok),
             |df AS (SELECT tok, CAST(count(*) AS BIGINT) AS df FROM tf GROUP BY tok),
             |idf AS (SELECT tok, avgdl, CAST(CAST(ln(
             |    (CAST(n AS DOUBLE) - CAST(df AS DOUBLE) + 0.5) / (CAST(df AS DOUBLE) + 0.5) + 1.0
             |  ) AS DECIMAL(18,9)) AS DOUBLE) AS idf9 FROM df CROSS JOIN stats),
             |scored AS (
             |  SELECT q.query_id, t.doc_id AS neighbor_id,
             |    CAST(sum(CAST(i.idf9 * ((CAST(t.tf AS DOUBLE) * 2.2) /
             |      (CAST(t.tf AS DOUBLE) + 1.2 * (0.25 + 0.75 * (CAST(d.dl AS DOUBLE) / i.avgdl))))
             |    AS DECIMAL(18,8))) AS DOUBLE) AS bm25
             |  FROM qt q JOIN tf t ON q.tok = t.tok AND t.doc_id <> q.query_id
             |  JOIN idf i ON i.tok = t.tok JOIN dl d ON d.doc_id = t.doc_id
             |  GROUP BY q.query_id, t.doc_id),
             |cand AS (SELECT * FROM (SELECT query_id, neighbor_id, bm25,
             |    ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY bm25 DESC, neighbor_id) AS rnk
             |  FROM scored) WHERE rnk <= 20),
             |cos AS (SELECT c.query_id, c.neighbor_id, c.rnk, c.bm25,
             |    list_cosine_similarity(eq.embedding, en.embedding) AS cosv
             |  FROM cand c JOIN embeddings eq ON eq.vec_id = c.query_id
             |  JOIN embeddings en ON en.vec_id = c.neighbor_id)
             |SELECT query_id, rnk, neighbor_id, bm25, (crank <= 3) AS likely_false_negative
             |FROM (SELECT query_id, neighbor_id, rnk, bm25,
             |  ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY cosv DESC, neighbor_id) AS crank
             |  FROM cos)
             |ORDER BY query_id, rnk""".stripMargin)),

    // PII redaction — the scrub pass every public corpus pipeline runs
    // before anything else touches the text (C4/CCNet-style). The fixture
    // documents carry no PII (31-word synthetic vocab), so the corpus is
    // constructed from `customer` (name → email, a TPC-H-format phone
    // derived from the key — the fixture ships no c_phone column — and a
    // derived IPv4) the same way the CDC queries build envelope fixtures
    // from orders. Patterns are RE2-portable and shared verbatim with the
    // oracle; redaction order (email → phone → IP) is part of the
    // contract. Pure per-row codegen'd regex chain, zero shuffle.
    Q("q161_pii_redact", { (s, dir) =>
        val c = t(s, dir, "customer")
        val ck = col("c_custkey")
        val phone = concat(
          lpad((ck % 90 + 10).cast(StringType), 2, "0"), lit("-"),
          lpad((ck % 900 + 100).cast(StringType), 3, "0"), lit("-"),
          lpad((ck % 853 + 100).cast(StringType), 3, "0"), lit("-"),
          lpad((ck % 9000 + 1000).cast(StringType), 4, "0"))
        val text = concat(col("c_name"), lit(" can be reached at "),
          lower(expr("replace(c_name, '#', '.')")), lit("@example.com or "),
          phone, lit(", host 10."),
          (ck % 254).cast(StringType), lit("."),
          (ck % 251).cast(StringType), lit("."),
          ((ck % 97) + 1).cast(StringType), lit(" end"))
        c.select(ck.as("cust_id"), text.as("text"))
          .select(col("cust_id"),
            Redact.redactPii(col("text")).as("redacted"),
            Redact.countPat(col("text"), Redact.EmailPat).as("n_email"),
            Redact.countPat(col("text"), Redact.PhonePat).as("n_phone"),
            Redact.countPat(col("text"), Redact.Ipv4Pat).as("n_ip"))
          .orderBy("cust_id")
      },
      Some(s"""WITH src AS (SELECT c_custkey AS cust_id,
             |  c_name || ' can be reached at ' || lower(replace(c_name, '#', '.'))
             |    || '@example.com or '
             |    || lpad(CAST(c_custkey % 90 + 10 AS VARCHAR), 2, '0') || '-'
             |    || lpad(CAST(c_custkey % 900 + 100 AS VARCHAR), 3, '0') || '-'
             |    || lpad(CAST(c_custkey % 853 + 100 AS VARCHAR), 3, '0') || '-'
             |    || lpad(CAST(c_custkey % 9000 + 1000 AS VARCHAR), 4, '0')
             |    || ', host 10.'
             |    || CAST(c_custkey % 254 AS VARCHAR) || '.'
             |    || CAST(c_custkey % 251 AS VARCHAR) || '.'
             |    || CAST(c_custkey % 97 + 1 AS VARCHAR) || ' end' AS text
             |  FROM customer)
             |SELECT cust_id,
             |  regexp_replace(regexp_replace(regexp_replace(text,
             |    '${Redact.EmailPat}', '<EMAIL>', 'g'),
             |    '${Redact.PhonePat}', '<PHONE>', 'g'),
             |    '${Redact.Ipv4Pat}', '<IP>', 'g') AS redacted,
             |  CAST(len(regexp_extract_all(text, '${Redact.EmailPat}')) AS BIGINT) AS n_email,
             |  CAST(len(regexp_extract_all(text, '${Redact.PhonePat}')) AS BIGINT) AS n_phone,
             |  CAST(len(regexp_extract_all(text, '${Redact.Ipv4Pat}')) AS BIGINT) AS n_ip
             |FROM src ORDER BY cust_id""".stripMargin)),

    // Distributed spherical k-means over the embedding corpus (full-data
    // Lloyd's — the clustering step cluster-balanced sampling and
    // SemDeDup-style pruning build on; see Clustering.scala for the
    // one-job-per-iteration scale shape: broadcast argmax-dot assignment,
    // (cell, dim) DECIMAL-summed update collected as k×dim metadata).
    // Iterative → no SQL oracle; rows-only, gated by KmeansSpec (label
    // purity ≥ 0.95 on the 10-cluster fixture, monotone inertia,
    // determinism under repartitioning).
    Q("q162_kmeans_clusters", { (s, dir) =>
        Clustering.kmeansAssign(t(s, dir, "embeddings"), "vec_id", "embedding",
            k = 10, iters = 5)
          .groupBy("cluster")
          .agg(count(lit(1)).as("n"), min("vec_id").as("exemplar_id"),
            sum(col("sim").cast(DecimalType(28, 14))).cast(DoubleType).as("sim_sum"))
          .orderBy("cluster")
      },
      None),

    // Cluster-balanced sampling: after k-means, keep at most `cap`
    // members per cluster by a deterministic md5 shuffle — the diversity
    // cap that stops one over-represented mode from dominating a
    // training mix (the cluster-level analogue of q86's per-source cap).
    // One WindowGroupLimit per cluster, never a global sort. Rows-only
    // (inherits the iterative assignment), gated by KmeansSpec.
    Q("q163_cluster_sample", { (s, dir) =>
        val assigned = Clustering.kmeansAssign(t(s, dir, "embeddings"),
          "vec_id", "embedding", k = 10, iters = 5)
        Clustering.clusterSample(assigned, "vec_id", cap = 20)
          .select(col("cluster"), col("rn"), col("vec_id"), col("sim"))
          .orderBy("cluster", "rn")
      },
      None),

    // URL canonicalization + dedup + per-domain cap — the link-level
    // hygiene of a web-corpus pipeline (canonicalize → collapse exact
    // re-crawls → bound any one domain's share). URLs are constructed
    // from `part` (the documents fixture has none) with every messiness
    // the canonicalizer handles: case, www, default port, trailing
    // slash, utm params, fragments. All steps RE2-portable and mirrored
    // in the oracle. Shuffle shape: one groupBy on the canonical text,
    // one WindowGroupLimit on the (small) domain key.
    Q("q164_url_dedup", { (s, dir) =>
        import org.apache.spark.sql.expressions.Window
        val p = t(s, dir, "part")
        val pk = col("p_partkey")
        val url = concat(lit("HTTPS://"),
          when(pk % 3 === 0, "WWW.").otherwise(""),
          lit("Shop-"), (pk % 40).cast(StringType), lit(".Example.COM"),
          when(pk % 5 === 0, ":443").otherwise(""),
          lit("/Item/"), (pk % 500).cast(StringType),
          when(pk % 7 === 0, "/").otherwise(""),
          when(pk % 2 === 0,
            concat(lit("?id="), (pk % 9).cast(StringType), lit("&utm_source=feed")))
            .otherwise(when(pk % 3 === 1, lit("?utm_campaign=x")).otherwise(lit(""))),
          when(pk % 11 === 0, "#frag").otherwise(""))
        val canon = p.select(pk.as("url_id"), Redact.canonicalUrl(url).as("canonical_url"))
        val grp = canon.groupBy("canonical_url")
          .agg(count(lit(1)).as("n_dups"), min("url_id").as("canonical_id"))
          .withColumn("domain",
            regexp_extract(col("canonical_url"), "^https://([^/:?#]+)", 1))
        val w = Window.partitionBy("domain").orderBy("canonical_id")
        grp.withColumn("rn", row_number().over(w))
          .filter(col("rn") <= 3)
          .select(col("domain"), col("rn"), col("canonical_url"),
            col("canonical_id"), col("n_dups"))
          .orderBy("domain", "rn")
      },
      Some("""WITH src AS (SELECT p_partkey AS url_id,
             |  'HTTPS://' || CASE WHEN p_partkey % 3 = 0 THEN 'WWW.' ELSE '' END
             |    || 'Shop-' || CAST(p_partkey % 40 AS VARCHAR) || '.Example.COM'
             |    || CASE WHEN p_partkey % 5 = 0 THEN ':443' ELSE '' END
             |    || '/Item/' || CAST(p_partkey % 500 AS VARCHAR)
             |    || CASE WHEN p_partkey % 7 = 0 THEN '/' ELSE '' END
             |    || CASE WHEN p_partkey % 2 = 0
             |         THEN '?id=' || CAST(p_partkey % 9 AS VARCHAR) || '&utm_source=feed'
             |         WHEN p_partkey % 3 = 1 THEN '?utm_campaign=x' ELSE '' END
             |    || CASE WHEN p_partkey % 11 = 0 THEN '#frag' ELSE '' END AS u
             |  FROM part),
             |c1 AS (SELECT url_id, regexp_replace(u, '#.*$', '', 'g') AS u FROM src),
             |c2 AS (SELECT url_id,
             |    lower(regexp_extract(u, '^[A-Za-z]+://[^/?#]*'))
             |      || regexp_replace(u, '^[A-Za-z]+://[^/?#]*', '') AS u FROM c1),
             |c3 AS (SELECT url_id, regexp_replace(u, '://www\.', '://', 'g') AS u FROM c2),
             |c4 AS (SELECT url_id,
             |    regexp_replace(regexp_replace(u, ':443/', '/', 'g'), ':443\?', '?', 'g') AS u
             |  FROM c3),
             |c5 AS (SELECT url_id,
             |    CASE WHEN u LIKE '%:443' THEN substr(u, 1, len(u) - 4) ELSE u END AS u
             |  FROM c4),
             |c6 AS (SELECT url_id, regexp_replace(u, '[?&]utm_[^&#]*', '', 'g') AS u FROM c5),
             |canon AS (SELECT url_id,
             |    regexp_replace(regexp_replace(u, '\?$', '', 'g'), '/$', '', 'g') AS canonical_url
             |  FROM c6),
             |grp AS (SELECT canonical_url, CAST(count(*) AS BIGINT) AS n_dups,
             |    min(url_id) AS canonical_id,
             |    regexp_extract(canonical_url, '^https://([^/:?#]+)', 1) AS domain
             |  FROM canon GROUP BY canonical_url)
             |SELECT domain, rn, canonical_url, canonical_id, n_dups
             |FROM (SELECT domain, canonical_url, canonical_id, n_dups,
             |  ROW_NUMBER() OVER (PARTITION BY domain ORDER BY canonical_id) AS rn FROM grp)
             |WHERE rn <= 3 ORDER BY domain, rn""".stripMargin)),

    // Multinomial Naive-Bayes quality classifier — the learned filter
    // GPT-3/LLaMA-style pipelines train to score CommonCrawl against a
    // curated target (Brown et al. 2020 §A; their LR over hashed features,
    // here the closed-form NB variant, which is exactly SQL-expressible).
    // Per-word log-odds λ(w) = ln p(w|target) − ln p(w|raw-rest) with
    // add-1 smoothing over the corpus vocabulary V; doc score = prior
    // log-odds + Σ m_w·λ(w); keep iff score > 0. Scale shape: two
    // vocab-scale count aggs, scoring joins at the (doc, word) pair level
    // on the word key (q156's skew note; a real vocab does not
    // broadcast), DECIMAL-snapped ln + decimal sums for cross-engine
    // bit-exactness.
    Q("q165_nb_quality", { (s, dir) =>
        val docs = t(s, dir, "documents")
        val toks = TextOps.tokens(col("text"))
        val isTgt = col("source").isin("src0", "src1", "src2", "src3")
        val f = docs.select(col("doc_id"),
          when(isTgt, 1L).otherwise(0L).as("tgt"), explode(toks).as("w"))
        val cls = f.groupBy("w").agg(sum("tgt").as("ct"),
          (count(lit(1)) - sum("tgt")).as("cr"))
        val tot = cls.agg(sum("ct").as("nt"), sum("cr").as("nr"),
          count(lit(1)).as("v"))
        // ONE ln of the odds ratio, not ln(p_t) − ln(p_r): every extra ln
        // doubles the exposure to the 0.5e-9 decimal-snap boundary where
        // the engines' libm can split (integer products stay exact in
        // doubles below 2^53, so the ratio argument is bit-identical).
        val lam = cls.crossJoin(broadcast(tot))
          .select(col("w"),
            log(((col("ct") + 1) * (col("nr") + col("v"))).cast(DoubleType) /
                ((col("cr") + 1) * (col("nt") + col("v"))).cast(DoubleType))
              .cast(DecimalType(18, 9)).as("lam"))
        val prior = docs.agg(
          sum(when(isTgt, 1L).otherwise(0L)).as("dt"), count(lit(1)).as("d"))
          .select((log(col("dt").cast(DoubleType) / (col("d") - col("dt")).cast(DoubleType)))
            .cast(DecimalType(18, 9)).as("prior"))
        f.groupBy("doc_id", "w").agg(count(lit(1)).as("m"))
          .join(lam, "w")
          .groupBy("doc_id")
          .agg(sum("m").as("n_tokens"),
            // cap at (28,9): the raw DECIMAL(38,9) sum + the (18,9) prior
            // would exceed precision 38 and Spark's precision-loss rule
            // silently drops to scale 8 — a 2e-9 hash mismatch vs DuckDB
            sum(col("m").cast(DecimalType(10, 0)) * col("lam"))
              .cast(DecimalType(28, 9)).as("s"))
          .crossJoin(broadcast(prior))
          .select(col("doc_id"), col("n_tokens"),
            (col("s") + col("prior")).cast(DoubleType).as("score"),
            ((col("s") + col("prior")) > 0).as("keep"))
          .orderBy("doc_id")
      },
      Some("""WITH f AS (SELECT doc_id,
             |    CASE WHEN source IN ('src0','src1','src2','src3') THEN 1 ELSE 0 END AS tgt,
             |    unnest(string_split(text, ' ')) AS w
             |  FROM documents),
             |cls AS (SELECT w, CAST(sum(tgt) AS BIGINT) AS ct,
             |    CAST(count(*) - sum(tgt) AS BIGINT) AS cr FROM f GROUP BY w),
             |tot AS (SELECT CAST(sum(ct) AS BIGINT) AS nt, CAST(sum(cr) AS BIGINT) AS nr,
             |    CAST(count(*) AS BIGINT) AS v FROM cls),
             |lam AS (SELECT w,
             |    CAST(ln(CAST((ct + 1) * (nr + v) AS DOUBLE)
             |          / CAST((cr + 1) * (nt + v) AS DOUBLE)) AS DECIMAL(18,9)) AS lam
             |  FROM cls CROSS JOIN tot),
             |prior AS (SELECT CAST(ln(CAST(sum(CASE WHEN source IN ('src0','src1','src2','src3')
             |      THEN 1 ELSE 0 END) AS DOUBLE)
             |    / CAST(count(*) - sum(CASE WHEN source IN ('src0','src1','src2','src3')
             |      THEN 1 ELSE 0 END) AS DOUBLE)) AS DECIMAL(18,9)) AS prior
             |  FROM documents),
             |dm AS (SELECT doc_id, w, CAST(count(*) AS BIGINT) AS m FROM f GROUP BY doc_id, w)
             |SELECT doc_id, CAST(sum(m) AS BIGINT) AS n_tokens,
             |  CAST(CAST(sum(CAST(m AS DECIMAL(10,0)) * lam) AS DECIMAL(28,9))
             |    + any_value(prior) AS DOUBLE) AS score,
             |  (CAST(sum(CAST(m AS DECIMAL(10,0)) * lam) AS DECIMAL(28,9))
             |    + any_value(prior)) > 0 AS keep
             |FROM dm JOIN lam USING (w) CROSS JOIN prior
             |GROUP BY doc_id ORDER BY doc_id""".stripMargin)),

    // CCNet perplexity bucketing (Wenzek et al. 2020 §4.3): score every
    // doc with the trigram LM (q156's engine, shared code + shared oracle
    // CTEs), cut the score distribution into head/middle/tail TERCILES,
    // and keep each bucket at its own rate (head 100%, middle 50%, tail
    // 10%) by the deterministic md5 coin (q82's portable-shuffle idiom).
    // Docs too short to score land in the tail by policy. Scale shape:
    // the cutoffs are TWO numbers from an exact percentile agg (a
    // metadata-scale broadcast; at 100 TB the declared swap is the q97 GK
    // sketch) — bucketing is then a per-row comparison, NOT a global
    // ntile sort.
    Q("q166_ccnet_buckets", { (s, dir) =>
        val scores = lmScoreDf(s, dir)
        val cuts = scores.filter(col("avg_logprob").isNotNull)
          .agg(expr("percentile(avg_logprob, array(CAST(1.0/3.0 AS DOUBLE), CAST(2.0/3.0 AS DOUBLE)))").as("c"))
          .select(col("c")(0).as("c1"), col("c")(1).as("c2"))
        val bucketed = scores.crossJoin(broadcast(cuts))
          .withColumn("bucket",
            when(col("avg_logprob").isNull, 3)
              .when(col("avg_logprob") >= col("c2"), 1)
              .when(col("avg_logprob") >= col("c1"), 2)
              .otherwise(3))
        val coin = substring(md5(concat(lit("ccnet:"), col("doc_id").cast(StringType))), 1, 4)
        bucketed
          .withColumn("kept",
            when(col("bucket") === 1, lit(true))
              .when(col("bucket") === 2, coin < "8000")
              .otherwise(coin < "199a"))
          .select(col("doc_id"), col("avg_logprob"), col("bucket"), col("kept"))
          .orderBy("doc_id")
      },
      Some(s"""$LmScoreCtes,
             |sc AS (SELECT d.doc_id,
             |    p.logprob_sum / CAST(p.n_scored AS DOUBLE) AS avg_logprob
             |  FROM documents d LEFT JOIN perdoc p ON d.doc_id = p.doc_id),
             |cuts AS (SELECT quantile_cont(avg_logprob, 1.0/3.0) AS c1,
             |    quantile_cont(avg_logprob, 2.0/3.0) AS c2
             |  FROM sc WHERE avg_logprob IS NOT NULL),
             |b AS (SELECT doc_id, avg_logprob,
             |    CASE WHEN avg_logprob IS NULL THEN 3
             |         WHEN avg_logprob >= c2 THEN 1
             |         WHEN avg_logprob >= c1 THEN 2 ELSE 3 END AS bucket
             |  FROM sc CROSS JOIN cuts)
             |SELECT doc_id, avg_logprob, bucket,
             |  CASE WHEN bucket = 1 THEN true
             |       WHEN bucket = 2 THEN substr(md5('ccnet:' || CAST(doc_id AS VARCHAR)), 1, 4) < '8000'
             |       ELSE substr(md5('ccnet:' || CAST(doc_id AS VARCHAR)), 1, 4) < '199a' END AS kept
             |FROM b ORDER BY doc_id""".stripMargin)),

    // Edit-distance near-dup pairs — the character-level complement of
    // the token-set measures (q41 Jaccard, q42 MinHash): docs in the same
    // (24-char prefix, length/8) block whose full texts are within
    // Levenshtein 40 are near-dup pairs. Blocking is the declared
    // trade-off (an edit inside the first 24 chars escapes the block —
    // the high-recall path is q42's LSH); within a block every pair is
    // checked, and block sizes are bounded by construction (measured max
    // 3 at sf0.1). levenshtein() is identically defined in Spark and
    // DuckDB, so the oracle replays the same algorithm.
    Q("q167_editdist_pairs", { (s, dir) =>
        // registers LevenshteinGuardRule: the filter below plans as the
        // O(1) length-gap guard + Spark's banded O(k·n) threshold kernel
        // (LevGuardSpec proves plan shape + row equivalence vs disabled)
        graft.GraftExtensions.register(s)
        val d = t(s, dir, "documents")
          .select(col("doc_id"), col("text"),
            substring(col("text"), 1, 24).as("pfx"),
            (length(col("text")).cast(LongType) / 8).cast(LongType).as("lb"))
        val a = d.select(col("doc_id").as("da"), col("text").as("ta"),
          col("pfx"), col("lb"))
        val b = d.select(col("doc_id").as("db"), col("text").as("tb"),
          col("pfx"), col("lb"))
        a.join(b, Seq("pfx", "lb"))
          .filter(col("da") < col("db"))
          .select(col("da"), col("db"),
            levenshtein(col("ta"), col("tb")).cast(LongType).as("dist"))
          .filter(col("dist") <= 40)
          .orderBy("da", "db")
      },
      Some("""WITH d AS (SELECT doc_id, text, substr(text, 1, 24) AS pfx,
             |    len(text) // 8 AS lb FROM documents)
             |SELECT a.doc_id AS da, b.doc_id AS db,
             |  CAST(levenshtein(a.text, b.text) AS BIGINT) AS dist
             |FROM d a JOIN d b ON a.pfx = b.pfx AND a.lb = b.lb AND a.doc_id < b.doc_id
             |WHERE levenshtein(a.text, b.text) <= 40
             |ORDER BY da, db""".stripMargin)),

    // Boilerplate prefix stripping — header/footer removal by prefix
    // frequency (the doc-level cousin of q158's span removal): an 8-token
    // prefix shared by ≥ 3 documents is boilerplate; affected docs are
    // rewritten without it. One prefix groupBy (vocab-scale), one
    // broadcast-size join back (the boilerplate set is tiny by
    // definition — only prefixes with support ≥ 3 survive).
    Q("q168_boilerplate_strip", { (s, dir) =>
        val d = t(s, dir, "documents")
        val toks = TextOps.tokens(col("text"))
        val withPfx = d.select(col("doc_id"), col("text"),
          size(toks).cast(LongType).as("n_tokens"),
          array_join(slice(toks, 1, 8), " ").as("pfx"))
        val hot = withPfx.filter(col("n_tokens") >= 8)
          .groupBy("pfx").agg(count(lit(1)).as("supp"))
          .filter(col("supp") >= 3)
        withPfx.join(broadcast(hot), Seq("pfx"), "left")
          .select(col("doc_id"),
            coalesce(col("supp"), lit(0L)).as("prefix_support"),
            (col("supp").isNotNull && col("n_tokens") >= 8).as("stripped"),
            when(col("supp").isNotNull && col("n_tokens") >= 8,
              array_join(slice(TextOps.tokens(col("text")), 9, 1000000), " "))
              .otherwise(col("text")).as("clean_text"))
          .orderBy("doc_id")
      },
      Some("""WITH d AS (SELECT doc_id, text, string_split(text, ' ') AS toks FROM documents),
             |p AS (SELECT doc_id, text, CAST(len(toks) AS BIGINT) AS n_tokens,
             |    array_to_string(toks[1:8], ' ') AS pfx, toks FROM d),
             |hot AS (SELECT pfx, CAST(count(*) AS BIGINT) AS supp
             |  FROM p WHERE n_tokens >= 8 GROUP BY pfx HAVING count(*) >= 3)
             |SELECT doc_id, coalesce(supp, 0) AS prefix_support,
             |  (supp IS NOT NULL AND n_tokens >= 8) AS stripped,
             |  CASE WHEN supp IS NOT NULL AND n_tokens >= 8
             |    THEN array_to_string(toks[9:], ' ') ELSE text END AS clean_text
             |FROM p LEFT JOIN hot USING (pfx)
             |ORDER BY doc_id""".stripMargin)),

    // Robust winnowing fingerprints (Schleimer, Wilkerson & Aiken 2003 —
    // the MOSS local document-fingerprinting scheme): hash every word
    // 3-gram, slide a window of 4 hashes, select each window's minimum
    // (rightmost on ties) once per position. Any shared run of >= k+w-1
    // tokens across two docs is GUARANTEED to share a fingerprint — the
    // locality property MinHash sampling lacks — at ~2/(w+1) density.
    // Spark side: one per-row codegen'd O(n·w) kernel, zero shuffle
    // before the output sort. The oracle replays the definition literally
    // (every full window, rightmost min, distinct positions) with the
    // same md5-prefix hashes.
    Q("q171_winnow_fingerprint", { (s, dir) =>
        val d = t(s, dir, "documents")
        d.select(col("doc_id"),
            explode(WinnowFingerprint(TextOps.tokens(col("text")), 3, 4)).as("fp"))
          .select(col("doc_id"), col("fp.pos").cast(LongType).as("pos"),
            col("fp.hash").as("fp_hash"))
          .orderBy("doc_id", "pos")
      },
      Some("""WITH d AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
             |ix AS (SELECT doc_id, toks,
             |    unnest(generate_series(1, len(toks) - 2)) AS i FROM d),
             |g AS (SELECT doc_id, i - 1 AS pos,
             |    substr(md5(toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2]), 1, 16) AS h,
             |    len(toks) - 2 AS ng FROM ix),
             |win AS (SELECT b.doc_id, b.pos, b.h,
             |    row_number() OVER (PARTITION BY a.doc_id, a.pos
             |                       ORDER BY b.h ASC, b.pos DESC) AS rn
             |  FROM g a JOIN g b ON b.doc_id = a.doc_id
             |    AND b.pos BETWEEN a.pos AND a.pos + 3
             |  WHERE a.pos <= a.ng - 4)
             |SELECT DISTINCT doc_id, CAST(pos AS BIGINT) AS pos, h AS fp_hash
             |FROM win WHERE rn = 1 ORDER BY doc_id, pos""".stripMargin)),

    // ROBUST winnowing (Schleimer et al. 2003 Fig. 6) — the paper's
    // preferred tie rule beside q171's rightmost-min: when several hashes
    // tie for a window's minimum, re-select the previous window's
    // selection while it is still in-window and still minimal. Under the
    // md5 gram hash, ties arise exactly from repeated k-grams, so on
    // repetitive text this records ONE position across a run of tied
    // windows instead of a new rightmost minimum per window — lower
    // fingerprint density, same every-window guarantee (any shared run of
    // >= k+w-1 tokens still shares a fingerprint). Spark side is the same
    // zero-shuffle codegen'd kernel with robust=true; the oracle replays
    // the sequential re-selection rule literally as a recursive CTE over
    // window ends (state = the previous selection).
    Q("q207_winnow_robust", { (s, dir) =>
        val d = t(s, dir, "documents")
        d.select(col("doc_id"),
            explode(WinnowFingerprint(TextOps.tokens(col("text")), 3, 4,
              robust = true)).as("fp"))
          .select(col("doc_id"), col("fp.pos").cast(LongType).as("pos"),
            col("fp.hash").as("fp_hash"))
          .orderBy("doc_id", "pos")
      },
      Some("""WITH RECURSIVE
             |d AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
             |ix AS (SELECT doc_id, toks,
             |    unnest(generate_series(1, len(toks) - 2)) AS i FROM d),
             |g AS (SELECT doc_id, i - 1 AS pos,
             |    substr(md5(toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2]), 1, 16) AS h,
             |    len(toks) - 2 AS ng FROM ix),
             |wm AS (SELECT a.doc_id, a.pos + 3 AS e, b.pos AS min_pos, b.h AS min_h,
             |    row_number() OVER (PARTITION BY a.doc_id, a.pos
             |                       ORDER BY b.h ASC, b.pos DESC) AS rn
             |  FROM g a JOIN g b ON b.doc_id = a.doc_id
             |    AND b.pos BETWEEN a.pos AND a.pos + 3
             |  WHERE a.pos <= a.ng - 4),
             |w1 AS (SELECT doc_id, e, min_pos, min_h FROM wm WHERE rn = 1),
             |rec AS (
             |  SELECT doc_id, e, min_pos AS prev_pos, min_h AS prev_h,
             |         min_pos AS rec_pos, min_h AS rec_h
             |  FROM w1 WHERE e = 3
             |  UNION ALL
             |  SELECT w.doc_id, w.e,
             |    CASE WHEN r.prev_pos > w.e - 4 AND r.prev_h = w.min_h
             |      THEN r.prev_pos ELSE w.min_pos END,
             |    CASE WHEN r.prev_pos > w.e - 4 AND r.prev_h = w.min_h
             |      THEN r.prev_h ELSE w.min_h END,
             |    CASE WHEN r.prev_pos > w.e - 4 AND r.prev_h = w.min_h
             |      THEN NULL ELSE w.min_pos END,
             |    CASE WHEN r.prev_pos > w.e - 4 AND r.prev_h = w.min_h
             |      THEN NULL ELSE w.min_h END
             |  FROM rec r JOIN w1 w ON w.doc_id = r.doc_id AND w.e = r.e + 1)
             |SELECT DISTINCT doc_id, CAST(rec_pos AS BIGINT) AS pos,
             |  rec_h AS fp_hash
             |FROM rec WHERE rec_pos IS NOT NULL ORDER BY doc_id, pos""".stripMargin)),

    // Deterministic corpus shuffle + shard assignment — the training-order
    // pass every pipeline runs last (C4/T5 shuffle-then-shard, Raffel et
    // al. 2020 §2.2; epoch reshuffle = change the salt). A global sort
    // over 100 TB is the naive shape; the scale path is hash-SHARD first
    // (md5 range partition on the salted key — one hash shuffle, no total
    // order), then sort only within each shard: readers interleaving the
    // shards see a uniform deterministic permutation. Shard cutoffs are
    // fixed hex ranges on the key prefix, so both engines assign
    // identically without any hex-to-int conversion.
    Q("q172_shuffle_shard", { (s, dir) =>
        val d = t(s, dir, "documents")
        val key = md5(concat(lit("ep1:"), col("doc_id").cast(StringType)))
        val pfx = substring(col("shuffle_key"), 1, 2)
        // 8 equal md5 ranges: '00'-'1f' -> 0 ... 'e0'-'ff' -> 7
        val shard = when(pfx < "20", 0).when(pfx < "40", 1).when(pfx < "60", 2)
          .when(pfx < "80", 3).when(pfx < "a0", 4).when(pfx < "c0", 5)
          .when(pfx < "e0", 6).otherwise(7).cast(LongType)
        val w = org.apache.spark.sql.expressions.Window
          .partitionBy("shard").orderBy("shuffle_key", "doc_id")
        d.select(col("doc_id"), key.as("shuffle_key"))
          .withColumn("shard", shard)
          .withColumn("pos_in_shard", row_number().over(w).cast(LongType))
          .select("doc_id", "shard", "pos_in_shard")
          .orderBy("shard", "pos_in_shard")
      },
      Some("""WITH k AS (SELECT doc_id,
             |    md5('ep1:' || CAST(doc_id AS VARCHAR)) AS key,
             |    substr(md5('ep1:' || CAST(doc_id AS VARCHAR)), 1, 2) AS pfx
             |  FROM documents),
             |sh AS (SELECT doc_id, key,
             |    CAST(CASE WHEN pfx < '20' THEN 0 WHEN pfx < '40' THEN 1
             |      WHEN pfx < '60' THEN 2 WHEN pfx < '80' THEN 3
             |      WHEN pfx < 'a0' THEN 4 WHEN pfx < 'c0' THEN 5
             |      WHEN pfx < 'e0' THEN 6 ELSE 7 END AS BIGINT) AS shard
             |  FROM k)
             |SELECT doc_id, shard,
             |  CAST(row_number() OVER (PARTITION BY shard ORDER BY key, doc_id)
             |    AS BIGINT) AS pos_in_shard
             |FROM sh ORDER BY shard, pos_in_shard""".stripMargin)),

    // Phrase-blocklist screen (the C4 "bad words" filter, Raffel et al.
    // 2020 §2.2 — docs containing any listed phrase are dropped): every
    // doc is scanned against the phrase list with word-boundary
    // semantics (space-padded matching — a phrase hits whole-word
    // sequences only, never inside a longer token) in ONE codegen'd
    // Aho-Corasick pass per row — O(len + hits) regardless of list size
    // (the public C4 blocklist alone is ~400 phrases; a per-phrase
    // contains loop is O(len·|list|)). Kernel ≡ the naive filter by
    // TextKernelProps property; zero shuffle.
    Q("q173_blocklist_screen", { (s, dir) =>
        val d = t(s, dir, "documents")
        d.select(col("doc_id"),
            WordPhraseHits(col("text"), Blocklist.phrases).as("hits"))
          .select(col("doc_id"),
            size(col("hits")).cast(LongType).as("n_hits"),
            (size(col("hits")) > 0).as("blocked"),
            array_join(col("hits"), "|").as("matched"))
          .orderBy("doc_id")
      },
      Some(s"""WITH hits AS (SELECT doc_id,
             |    list_filter(${Blocklist.sqlList},
             |      p -> contains(' ' || text || ' ', ' ' || p || ' ')) AS hits
             |  FROM documents)
             |SELECT doc_id, CAST(len(hits) AS BIGINT) AS n_hits,
             |  len(hits) > 0 AS blocked,
             |  coalesce(array_to_string(hits, '|'), '') AS matched
             |FROM hits ORDER BY doc_id""".stripMargin)),

    // IVF-PQ ANN — the full IVFADC composite (Jégou et al. 2011 §IV, the
    // FAISS `IVFx,PQy` index): coarse inverted file + residual product
    // quantization + per-probed-cell ADC + exact re-rank, completing the
    // ANN family (q44 brute, q45 LSH, q57 IVF, q148 flat PQ). The stored
    // index is N·(1 cell + 8 bytes) — the shape that fits 100 TB of
    // embeddings in executor memory. Rows-only (iterative trainers);
    // recall vs the exact q44 baseline gated in PqSpec.
    Q("q174_sim_topk_ivfpq", { (s, dir) =>
        val e = t(s, dir, "embeddings")
        Similarity.ivfpqTopK(e.filter(col("vec_id") < 10), e, k = 5)
          .withColumnRenamed("rank", "rnk")
          .orderBy("query_id", "rnk")
      },
      None),

    // Semantic decontamination — embedding-cosine overlap against a
    // held-out eval set (the "Textbooks Are All You Need" recipe,
    // Gunasekar et al. 2023 §2.4: drop training docs whose embedding is
    // too close to any benchmark item; the semantic complement of the
    // exact k-gram q90). Every candidate's max cosine over the eval set
    // decides `contaminated`; output carries the argmax eval id (ids and
    // bools only — cross-engine double comparisons, never hashed floats,
    // the q44 contract). Scale: the eval set is benchmark-sized by
    // construction and BROADCASTS; candidates stream through one
    // codegen'd cosine scan + a per-candidate max — linear in N, no
    // all-to-all (same posture as q44 with roles swapped).
    Q("q175_semantic_decontam", { (s, dir) =>
        val e = t(s, dir, "embeddings")
        val cand = e.filter(col("vec_id") % 37 =!= 0)
          .select(col("vec_id"), col("embedding").cast("array<double>").as("cv"))
        val ev = e.filter(col("vec_id") % 37 === 0)
          .select(col("vec_id").as("eid"), col("embedding").cast("array<double>").as("evv"))
        val w = org.apache.spark.sql.expressions.Window
          .partitionBy("vec_id").orderBy(col("cos").desc, col("eid"))
        cand.crossJoin(broadcast(ev))
          .select(col("vec_id"), col("eid"),
            Similarity.cosine(col("cv"), col("evv")).as("cos"))
          .withColumn("rn", row_number().over(w))
          .filter(col("rn") === 1)
          .select(col("vec_id"), (col("cos") >= 0.35).as("contaminated"),
            col("eid").as("nearest_eval_id"))
          .orderBy("vec_id")
      },
      Some("""WITH dv AS (SELECT vec_id,
             |    list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
             |  FROM embeddings),
             |sc AS (SELECT c.vec_id, e.vec_id AS eid,
             |    list_inner_product(c.v, e.v)
             |      / (sqrt(list_inner_product(c.v, c.v))
             |       * sqrt(list_inner_product(e.v, e.v))) AS cos
             |  FROM dv c CROSS JOIN dv e
             |  WHERE c.vec_id % 37 <> 0 AND e.vec_id % 37 = 0),
             |top AS (SELECT vec_id, eid, cos,
             |    row_number() OVER (PARTITION BY vec_id
             |                       ORDER BY cos DESC, eid) AS rn
             |  FROM sc)
             |SELECT vec_id, cos >= 0.35 AS contaminated,
             |  eid AS nearest_eval_id
             |FROM top WHERE rn = 1 ORDER BY vec_id""".stripMargin)),

    // Weighted sampling without replacement (Efraimidis & Spirakis 2006,
    // algorithm A-ES): every doc draws key u^(1/w) — ranked here by the
    // monotone-equivalent ln(u)/w — and the top-200 keys ARE a weighted
    // sample without replacement; weight = n_chars makes selection
    // probability ∝ document length (token-budget-proportional
    // subsampling, the knob q82/q86/q159 don't have). Determinism +
    // portability: u is built from the first 6 md5 hex digits via
    // strpos arithmetic (no hex-to-int cast exists in both engines),
    // (uint+0.5)/2^24 is exact in doubles, and the one libm call (ln) is
    // snapped to the house DECIMAL(18,9) grid before the double divide.
    // Scale: per-row key, global top-k = TakeOrderedAndProject — no
    // shuffle, no sort of the full corpus.
    Q("q177_weighted_sample", { (s, dir) =>
        val d = t(s, dir, "documents")
        val h = md5(concat(lit("ws:"), col("doc_id").cast(StringType)))
        val digits = lit("0123456789abcdef")
        val uint = (0 until 6).map { i =>
          (instr(digits, substring(h, i + 1, 1)) - 1).cast(LongType) *
            (1L << (4 * (5 - i)))
        }.reduce(_ + _)
        val u = (uint.cast(DoubleType) + lit(0.5)) / lit(16777216.0)
        val key = log(u).cast(DecimalType(18, 9)).cast(DoubleType) /
          col("n_chars").cast(DoubleType)
        val sel = d.select(col("doc_id"), col("n_chars").cast(LongType).as("weight"),
            key.as("key"))
          .orderBy(col("key").desc, col("doc_id"))
          .limit(200)
        val w = org.apache.spark.sql.expressions.Window // ≤200 rows post-limit
          .partitionBy(lit(0)).orderBy(col("key").desc, col("doc_id"))
        sel.withColumn("sel_rank", row_number().over(w).cast(LongType))
          .select("sel_rank", "doc_id", "weight")
          .orderBy("sel_rank")
      },
      Some("""WITH k AS (SELECT doc_id, n_chars,
             |    md5('ws:' || CAST(doc_id AS VARCHAR)) AS h FROM documents),
             |u AS (SELECT doc_id, n_chars,
             |    CAST(strpos('0123456789abcdef', substr(h, 1, 1)) - 1 AS BIGINT) * 1048576
             |  + CAST(strpos('0123456789abcdef', substr(h, 2, 1)) - 1 AS BIGINT) * 65536
             |  + CAST(strpos('0123456789abcdef', substr(h, 3, 1)) - 1 AS BIGINT) * 4096
             |  + CAST(strpos('0123456789abcdef', substr(h, 4, 1)) - 1 AS BIGINT) * 256
             |  + CAST(strpos('0123456789abcdef', substr(h, 5, 1)) - 1 AS BIGINT) * 16
             |  + CAST(strpos('0123456789abcdef', substr(h, 6, 1)) - 1 AS BIGINT) AS uint
             |  FROM k),
             |ky AS (SELECT doc_id, n_chars,
             |    CAST(CAST(ln((uint + 0.5) / 16777216.0) AS DECIMAL(18,9)) AS DOUBLE)
             |      / CAST(n_chars AS DOUBLE) AS key FROM u),
             |sel AS (SELECT doc_id, n_chars,
             |    row_number() OVER (ORDER BY key DESC, doc_id) AS sel_rank FROM ky)
             |SELECT CAST(sel_rank AS BIGINT) AS sel_rank, doc_id,
             |  CAST(n_chars AS BIGINT) AS weight
             |FROM sel WHERE sel_rank <= 200 ORDER BY sel_rank""".stripMargin)),

    // PageRank (Page et al. 1999) by fixed power iteration — the
    // authority score a crawl/corpus pipeline ranks sources with,
    // completing the graph family beside q79's connected components.
    // Graph: one directed edge per order from its customer node to a hub
    // node (o_orderkey % 97) — hubs have no out-edges, so the dangling-
    // mass redistribution path is exercised on every iteration. Rows-only
    // (iterative); PageRankSpec gates serial-model equivalence (1e-9),
    // probability conservation, known-structure order, and BIT-exact
    // partition independence via the decimal-snapped contribution sums.
    Q("q178_graph_pagerank", { (s, dir) =>
        val o = t(s, dir, "orders")
        val edges = o.select(col("o_custkey").as("src"),
          (col("o_orderkey") % 97 + 1000000L).as("dst"))
        val w = org.apache.spark.sql.expressions.Window // ≤100 rows post-limit
          .partitionBy(lit(0)).orderBy(col("rank").desc, col("node"))
        graft.operators.PageRank.ranks(edges, "src", "dst")
          .orderBy(col("rank").desc, col("node")).limit(100)
          .withColumn("rnk", row_number().over(w).cast(LongType))
          .select("rnk", "node", "rank")
          .orderBy("rnk")
      },
      None),

    // Materialized mergeable sketches (the Datasketches HLL workflow,
    // Spark 4's hll_sketch_agg/hll_union_agg): per-group distinct-user
    // sketches are built ONCE as binary sketch objects, then re-aggregated
    // by UNION — the rollup-without-rescan capability a plain
    // approx_count_distinct (q32) lacks. At 100 TB this is the shape that
    // matters: daily sketches persist with the partition, and any ad-hoc
    // slice (week, month, all) is a union of sketch blobs, never a rescan
    // of the raw events. Rows-only; CorpusSpec gates each per-type
    // estimate AND the union estimate within 5% of exact, and union ≤ sum
    // (the sketch's subadditivity sanity).
    Q("q179_sketch_union", { (s, dir) =>
        val e = t(s, dir, "events")
        val perType = e.groupBy("event_type")
          .agg(expr("hll_sketch_agg(user_id, 14)").as("sk"))
        val union = perType
          .agg(expr("hll_union_agg(sk)").as("sk"))
          .select(lit("__all__").as("event_type"),
            expr("hll_sketch_estimate(sk)").cast(LongType).as("approx_users"))
        perType
          .select(col("event_type"),
            expr("hll_sketch_estimate(sk)").cast(LongType).as("approx_users"))
          .union(union)
          .orderBy("event_type")
      },
      None),

    // Winnowing-overlap near-dup pairs — the MOSS decision rule completed
    // (Schleimer et al. 2003 §5: two documents sharing enough selected
    // fingerprints share real text): q171's fingerprints, fingerprints in
    // more than 20 docs dropped (the published boilerplate guard — hot
    // hashes carry no pair signal and would fan out the join), then every
    // (da < db) pair sharing >= 5 surviving fingerprints. Because
    // winnowing GUARANTEES a selection inside any shared >= k+w-1-token
    // run, a near-dup pair cannot hide between sample points the way it
    // can from MinHash at low signature width. One hash-key join with
    // df-capped fan-out (<= 20^2 pairs per hash) — the q42 bucket-cap
    // posture; finds the same fixture near-dup population as q42 (~25
    // pairs) from a completely independent signal.
    Q("q181_winnow_neardup", { (s, dir) =>
        val d = t(s, dir, "documents")
        val fp = d.select(col("doc_id"),
            explode(WinnowFingerprint(TextOps.tokens(col("text")), 3, 4)).as("fp"))
          .select(col("doc_id"), col("fp.hash").as("h")).distinct()
        val df = fp.groupBy("h").agg(count(lit(1)).as("c"))
        val keep = fp.join(df.filter(col("c") <= 20), "h")
        val a = keep.select(col("doc_id").as("da"), col("h"))
        val b = keep.select(col("doc_id").as("db"), col("h"))
        a.join(b, "h").filter(col("da") < col("db"))
          .groupBy("da", "db").agg(count(lit(1)).as("shared"))
          .filter(col("shared") >= 5)
          .orderBy("da", "db")
      },
      Some("""WITH d AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
             |ix AS (SELECT doc_id, toks,
             |    unnest(generate_series(1, len(toks) - 2)) AS i FROM d),
             |g AS (SELECT doc_id, i - 1 AS pos,
             |    substr(md5(toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2]), 1, 16) AS h,
             |    len(toks) - 2 AS ng FROM ix),
             |win AS (SELECT b.doc_id, b.pos, b.h,
             |    row_number() OVER (PARTITION BY a.doc_id, a.pos
             |                       ORDER BY b.h ASC, b.pos DESC) AS rn
             |  FROM g a JOIN g b ON b.doc_id = a.doc_id
             |    AND b.pos BETWEEN a.pos AND a.pos + 3
             |  WHERE a.pos <= a.ng - 4),
             |fp AS (SELECT DISTINCT doc_id, h FROM win WHERE rn = 1),
             |df AS (SELECT h, count(*) AS c FROM fp GROUP BY h),
             |keep AS (SELECT fp.doc_id, fp.h FROM fp JOIN df USING (h)
             |  WHERE df.c <= 20)
             |SELECT a.doc_id AS da, b.doc_id AS db,
             |  CAST(count(*) AS BIGINT) AS shared
             |FROM keep a JOIN keep b ON a.h = b.h AND a.doc_id < b.doc_id
             |GROUP BY 1, 2 HAVING count(*) >= 5
             |ORDER BY da, db""".stripMargin)),

    // Round-9 composite curation pipeline (the v2 of q106, built from
    // this round's operators — the point is that they COMPOSE into one
    // plan and one oracle): blocklist screen (q173's Aho–Corasick) →
    // winnowing near-dup drop (q181's pairs on the survivors, higher id
    // drops — the greedy q71 rule) → length-weighted A-ES sample of 100
    // (q177) → deterministic shuffle-shard (q172). Output is the final
    // training-order assignment for the curated sample.
    Q("q182_pipeline_curation_v2", { (s, dir) =>
        val d = t(s, dir, "documents")
        // the Aho–Corasick screen otherwise runs twice over the corpus
        // (fingerprint derivation + the survivor anti-join) — share it
        // through one forced exchange, guide §3.3 (r16: was a persist(),
        // which leaked its cache entry past the query).
        val clean = shareByExchange(d.filter(
          size(WordPhraseHits(col("text"), Blocklist.phrases)) === 0), "doc_id")
        val fp = clean.select(col("doc_id"),
            explode(WinnowFingerprint(TextOps.tokens(col("text")), 3, 4)).as("fp"))
          .select(col("doc_id"), col("fp.hash").as("h")).distinct()
        val df = fp.groupBy("h").agg(count(lit(1)).as("c"))
        val keep = fp.join(df.filter(col("c") <= 20), "h")
        val drops = keep.select(col("doc_id").as("da"), col("h"))
          .join(keep.select(col("doc_id").as("db"), col("h")), "h")
          .filter(col("da") < col("db"))
          .groupBy("da", "db").agg(count(lit(1)).as("shared"))
          .filter(col("shared") >= 5)
          .select(col("db").as("doc_id")).distinct()
        val deduped = clean.join(drops, Seq("doc_id"), "left_anti")
        val h = md5(concat(lit("ws:"), col("doc_id").cast(StringType)))
        val digits = lit("0123456789abcdef")
        val uint = (0 until 6).map { i =>
          (instr(digits, substring(h, i + 1, 1)) - 1).cast(LongType) *
            (1L << (4 * (5 - i)))
        }.reduce(_ + _)
        val u = (uint.cast(DoubleType) + lit(0.5)) / lit(16777216.0)
        val key = log(u).cast(DecimalType(18, 9)).cast(DoubleType) /
          col("n_chars").cast(DoubleType)
        val sampled = deduped
          .select(col("doc_id"), key.as("key"))
          .orderBy(col("key").desc, col("doc_id")).limit(100)
        val sk = md5(concat(lit("ep1:"), col("doc_id").cast(StringType)))
        val pfx = substring(col("shuffle_key"), 1, 2)
        val shard = when(pfx < "20", 0).when(pfx < "40", 1).when(pfx < "60", 2)
          .when(pfx < "80", 3).when(pfx < "a0", 4).when(pfx < "c0", 5)
          .when(pfx < "e0", 6).otherwise(7).cast(LongType)
        val w = org.apache.spark.sql.expressions.Window
          .partitionBy("shard").orderBy("shuffle_key", "doc_id")
        sampled.select(col("doc_id"), sk.as("shuffle_key"))
          .withColumn("shard", shard)
          .withColumn("pos_in_shard", row_number().over(w).cast(LongType))
          .select("doc_id", "shard", "pos_in_shard")
          .orderBy("shard", "pos_in_shard")
      },
      Some(s"""WITH clean AS (SELECT doc_id, text, n_chars FROM documents
             |  WHERE len(list_filter(${Blocklist.sqlList},
             |    p -> contains(' ' || text || ' ', ' ' || p || ' '))) = 0),
             |d AS (SELECT doc_id, string_split(text, ' ') AS toks FROM clean),
             |ix AS (SELECT doc_id, toks,
             |    unnest(generate_series(1, len(toks) - 2)) AS i FROM d),
             |g AS (SELECT doc_id, i - 1 AS pos,
             |    substr(md5(toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2]), 1, 16) AS h,
             |    len(toks) - 2 AS ng FROM ix),
             |win AS (SELECT b.doc_id, b.pos, b.h,
             |    row_number() OVER (PARTITION BY a.doc_id, a.pos
             |                       ORDER BY b.h ASC, b.pos DESC) AS rn
             |  FROM g a JOIN g b ON b.doc_id = a.doc_id
             |    AND b.pos BETWEEN a.pos AND a.pos + 3
             |  WHERE a.pos <= a.ng - 4),
             |fp AS (SELECT DISTINCT doc_id, h FROM win WHERE rn = 1),
             |dfc AS (SELECT h, count(*) AS c FROM fp GROUP BY h),
             |keep AS (SELECT fp.doc_id, fp.h FROM fp JOIN dfc USING (h)
             |  WHERE dfc.c <= 20),
             |drops AS (SELECT DISTINCT b.doc_id FROM keep a
             |  JOIN keep b ON a.h = b.h AND a.doc_id < b.doc_id
             |  GROUP BY a.doc_id, b.doc_id HAVING count(*) >= 5),
             |dedup AS (SELECT * FROM clean
             |  WHERE doc_id NOT IN (SELECT doc_id FROM drops)),
             |ky AS (SELECT doc_id,
             |    CAST(CAST(ln((
             |      CAST(strpos('0123456789abcdef', substr(md5('ws:' || CAST(doc_id AS VARCHAR)), 1, 1)) - 1 AS BIGINT) * 1048576
             |    + CAST(strpos('0123456789abcdef', substr(md5('ws:' || CAST(doc_id AS VARCHAR)), 2, 1)) - 1 AS BIGINT) * 65536
             |    + CAST(strpos('0123456789abcdef', substr(md5('ws:' || CAST(doc_id AS VARCHAR)), 3, 1)) - 1 AS BIGINT) * 4096
             |    + CAST(strpos('0123456789abcdef', substr(md5('ws:' || CAST(doc_id AS VARCHAR)), 4, 1)) - 1 AS BIGINT) * 256
             |    + CAST(strpos('0123456789abcdef', substr(md5('ws:' || CAST(doc_id AS VARCHAR)), 5, 1)) - 1 AS BIGINT) * 16
             |    + CAST(strpos('0123456789abcdef', substr(md5('ws:' || CAST(doc_id AS VARCHAR)), 6, 1)) - 1 AS BIGINT)
             |    + 0.5) / 16777216.0) AS DECIMAL(18,9)) AS DOUBLE)
             |      / CAST(n_chars AS DOUBLE) AS key
             |  FROM dedup),
             |sampled AS (SELECT doc_id FROM ky
             |  ORDER BY key DESC, doc_id LIMIT 100),
             |sh AS (SELECT doc_id,
             |    md5('ep1:' || CAST(doc_id AS VARCHAR)) AS skey,
             |    substr(md5('ep1:' || CAST(doc_id AS VARCHAR)), 1, 2) AS pfx
             |  FROM sampled),
             |asg AS (SELECT doc_id, skey,
             |    CAST(CASE WHEN pfx < '20' THEN 0 WHEN pfx < '40' THEN 1
             |      WHEN pfx < '60' THEN 2 WHEN pfx < '80' THEN 3
             |      WHEN pfx < 'a0' THEN 4 WHEN pfx < 'c0' THEN 5
             |      WHEN pfx < 'e0' THEN 6 ELSE 7 END AS BIGINT) AS shard
             |  FROM sh)
             |SELECT doc_id, shard,
             |  CAST(row_number() OVER (PARTITION BY shard ORDER BY skey, doc_id)
             |    AS BIGINT) AS pos_in_shard
             |FROM asg ORDER BY shard, pos_in_shard""".stripMargin)),

    // Near-dup SIGNAL-AGREEMENT matrix — the audit a pipeline runs before
    // trusting any single dedup detector: the three exactly-computable
    // signals (token-set Jaccard q41, winnowing overlap q181,
    // embedding cosine q52) over the same corpus, one row per pair found
    // by ANY of them with a flag per signal. Disagreements are the
    // review queue (a pair only the embedding finds is a PARAPHRASE, not
    // a copy; one only Jaccard finds reordered its text). Full outer
    // union of three already-bounded pair sets — adds no new shuffle
    // shape of its own.
    Q("q189_neardup_signals", { (s, dir) =>
        Dedup.signalAgreement(t(s, dir, "documents"), t(s, dir, "embeddings"))
      },
      Some(s"""WITH $ShingleCte,
             |cnt AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY 1),
             |inter AS (SELECT a.doc_id AS da, b.doc_id AS db, count(*) AS i
             |  FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id
             |  GROUP BY 1, 2),
             |jac AS (SELECT da, db FROM inter
             |  JOIN cnt ca ON ca.doc_id = da JOIN cnt cb ON cb.doc_id = db
             |  WHERE i * 10 >= (ca.n + cb.n - i) * 7),
             |d AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
             |ix AS (SELECT doc_id, toks,
             |    unnest(generate_series(1, len(toks) - 2)) AS idx FROM d),
             |g AS (SELECT doc_id, idx - 1 AS pos,
             |    substr(md5(toks[idx] || ' ' || toks[idx+1] || ' ' || toks[idx+2]), 1, 16) AS h,
             |    len(toks) - 2 AS ng FROM ix),
             |win0 AS (SELECT b.doc_id, b.pos, b.h,
             |    row_number() OVER (PARTITION BY a.doc_id, a.pos
             |                       ORDER BY b.h ASC, b.pos DESC) AS rn
             |  FROM g a JOIN g b ON b.doc_id = a.doc_id
             |    AND b.pos BETWEEN a.pos AND a.pos + 3
             |  WHERE a.pos <= a.ng - 4),
             |fp AS (SELECT DISTINCT doc_id, h FROM win0 WHERE rn = 1),
             |dfc AS (SELECT h, count(*) AS c FROM fp GROUP BY h),
             |keep AS (SELECT fp.doc_id, fp.h FROM fp JOIN dfc USING (h)
             |  WHERE dfc.c <= 20),
             |wn AS (SELECT a.doc_id AS da, b.doc_id AS db
             |  FROM keep a JOIN keep b ON a.h = b.h AND a.doc_id < b.doc_id
             |  GROUP BY 1, 2 HAVING count(*) >= 5),
             |dv AS (SELECT vec_id,
             |    list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
             |  FROM embeddings),
             |em AS (SELECT a.vec_id AS da, b.vec_id AS db
             |  FROM dv a JOIN dv b ON a.vec_id < b.vec_id
             |  WHERE list_inner_product(a.v, b.v)
             |    / (sqrt(list_inner_product(a.v, a.v))
             |     * sqrt(list_inner_product(b.v, b.v))) >= 0.45),
             |allp AS (SELECT da, db FROM jac UNION
             |  SELECT da, db FROM wn UNION SELECT da, db FROM em)
             |SELECT p.da, p.db,
             |  EXISTS (SELECT 1 FROM jac j WHERE j.da = p.da AND j.db = p.db) AS by_jaccard,
             |  EXISTS (SELECT 1 FROM wn w WHERE w.da = p.da AND w.db = p.db) AS by_winnow,
             |  EXISTS (SELECT 1 FROM em e WHERE e.da = p.da AND e.db = p.db) AS by_embedding
             |FROM allp p ORDER BY da, db""".stripMargin)),

    // The SAMPLED audit mode — what q189 actually runs at corpus scale:
    // the agreement matrix composes the exact detectors (pairs-
    // proportional + O(N²)-block work), so the production audit draws a
    // deterministic FIXED-SIZE sample (smallest md5("ns:"++id), budget m)
    // and audits within it; cost is flat in corpus size because the
    // budget, not the corpus, bounds every pair set. The budget (200 at
    // sf0.01, ~⅓ of the corpus) keeps the sample semantics exercised by
    // the oracle, not just at scale.
    Q("q200_neardup_signals_sampled", { (s, dir) =>
        Dedup.signalAgreement(t(s, dir, "documents"), t(s, dir, "embeddings"),
          sampleDocs = Some(200))
      },
      Some(s"""WITH smp AS (SELECT doc_id, text FROM documents
             |  ORDER BY md5('ns:' || CAST(doc_id AS VARCHAR)) ASC, doc_id ASC
             |  LIMIT 200),
             |sh AS (
             |  SELECT doc_id, unnest(list_distinct(list_transform(generate_series(1, len(toks) - 2),
             |    i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2]))) AS s
             |  FROM (SELECT doc_id, string_split(text, ' ') AS toks FROM smp)
             |),
             |cnt AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY 1),
             |inter AS (SELECT a.doc_id AS da, b.doc_id AS db, count(*) AS i
             |  FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id
             |  GROUP BY 1, 2),
             |jac AS (SELECT da, db FROM inter
             |  JOIN cnt ca ON ca.doc_id = da JOIN cnt cb ON cb.doc_id = db
             |  WHERE i * 10 >= (ca.n + cb.n - i) * 7),
             |d AS (SELECT doc_id, string_split(text, ' ') AS toks FROM smp),
             |ix AS (SELECT doc_id, toks,
             |    unnest(generate_series(1, len(toks) - 2)) AS idx FROM d),
             |g AS (SELECT doc_id, idx - 1 AS pos,
             |    substr(md5(toks[idx] || ' ' || toks[idx+1] || ' ' || toks[idx+2]), 1, 16) AS h,
             |    len(toks) - 2 AS ng FROM ix),
             |win0 AS (SELECT b.doc_id, b.pos, b.h,
             |    row_number() OVER (PARTITION BY a.doc_id, a.pos
             |                       ORDER BY b.h ASC, b.pos DESC) AS rn
             |  FROM g a JOIN g b ON b.doc_id = a.doc_id
             |    AND b.pos BETWEEN a.pos AND a.pos + 3
             |  WHERE a.pos <= a.ng - 4),
             |fp AS (SELECT DISTINCT doc_id, h FROM win0 WHERE rn = 1),
             |dfc AS (SELECT h, count(*) AS c FROM fp GROUP BY h),
             |keep AS (SELECT fp.doc_id, fp.h FROM fp JOIN dfc USING (h)
             |  WHERE dfc.c <= 20),
             |wn AS (SELECT a.doc_id AS da, b.doc_id AS db
             |  FROM keep a JOIN keep b ON a.h = b.h AND a.doc_id < b.doc_id
             |  GROUP BY 1, 2 HAVING count(*) >= 5),
             |dv AS (SELECT vec_id,
             |    list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
             |  FROM embeddings WHERE vec_id IN (SELECT doc_id FROM smp)),
             |em AS (SELECT a.vec_id AS da, b.vec_id AS db
             |  FROM dv a JOIN dv b ON a.vec_id < b.vec_id
             |  WHERE list_inner_product(a.v, b.v)
             |    / (sqrt(list_inner_product(a.v, a.v))
             |     * sqrt(list_inner_product(b.v, b.v))) >= 0.45),
             |allp AS (SELECT da, db FROM jac UNION
             |  SELECT da, db FROM wn UNION SELECT da, db FROM em)
             |SELECT p.da, p.db,
             |  EXISTS (SELECT 1 FROM jac j WHERE j.da = p.da AND j.db = p.db) AS by_jaccard,
             |  EXISTS (SELECT 1 FROM wn w WHERE w.da = p.da AND w.db = p.db) AS by_winnow,
             |  EXISTS (SELECT 1 FROM em e WHERE e.da = p.da AND e.db = p.db) AS by_embedding
             |FROM allp p ORDER BY da, db""".stripMargin)),

    // Unigram-LM tokenizer TRAINING (Kudo 2018 — the SentencePiece
    // unigram model; public algorithm), the tokenizer family's second
    // member beside BPE (q138/q154) — the choice a data pipeline actually
    // makes. Seed substring vocabulary → hard-EM rounds (Viterbi counts =
    // exact long sums, partition-order-free) → SentencePiece
    // likelihood-loss pruning to the target size. Corpus touched ONCE
    // (word histogram); every E-step is a vocab-scale job whose collect
    // is bounded by the current vocabulary — the q138 driver contract.
    // Rows-only: iterative EM has no SQL oracle; gated by UnigramSpec
    // (handcrafted-corpus golden, partition determinism, pinned
    // tie-breaks, chars-never-pruned, segment≡final-counts).
    Q("q201_unigram_vocab", { (s, dir) =>
        import s.implicits._
        val v = Unigram.train(t(s, dir, "documents"), "text",
          targetMulti = 48, seedSize = 400, maxPieceLen = 6)
        v.pieces.zipWithIndex.map { case ((p, c, lp), i) =>
          (i.toLong + 1, p, c, lp)
        }.toDF("rank", "piece", "count", "logprob")
      },
      None),

    // Unigram ENCODE applied corpus-wide (the q154 shape for the second
    // tokenizer): train the vocabulary (bounded driver EM, as q201), then
    // segment each DISTINCT word once with the codegen'd Viterbi kernel
    // and join back (Unigram.encodeStats — the r15 distinct-word shape
    // shared with q154/q212; Zipf makes the per-occurrence transform
    // re-pay the kernel ~frequency times). Rows-only: iterative EM
    // upstream; gated by UnigramSpec's distributed≡driver-kernel
    // equivalence, the concatenation-restores-every-word DP property,
    // and the by-word ≡ per-occurrence equivalence.
    Q("q202_unigram_encode", { (s, dir) =>
        val d = t(s, dir, "documents")
        val vocab = Unigram.train(d, "text", targetMulti = 48,
          seedSize = 400, maxPieceLen = 6).logProbs
        Unigram.encodeStats(d, "doc_id", "text", vocab, 6).orderBy("doc_id")
      },
      None),

    // WordPiece tokenizer TRAINING (Schuster & Nakajima 2012 — the BERT
    // tokenizer; public algorithm), completing the family's big three
    // beside BPE (q138/q154) and unigram-LM (q201/q202). The ranking is
    // the LIKELIHOOD score count(pair)/(count(left)·count(right)) — a
    // pair wins by co-occurring more than its parts predict, not by raw
    // frequency (the signature difference from BPE) — computed as exact
    // fixed-scale DECIMAL division so training is bit-deterministic
    // under any partitioning. Corpus touched once (word histogram); each
    // round is one pair agg + one symbol agg + a single-row argmax
    // collect. Rows-only: iterative argmax has no SQL oracle; gated by
    // WordPieceSpec (score-vs-count divergence golden where WordPiece
    // and BPE provably pick DIFFERENT merges, partition determinism,
    // encode invariants).
    Q("q211_wordpiece_vocab", { (s, dir) =>
        import s.implicits._
        WordPiece.trainMerges(t(s, dir, "documents"), "text", nMerges = 20)
          .toDF("rank", "left", "right", "merged", "cnt")
      },
      None),

    // WordPiece ENCODE applied corpus-wide (the q154 shape for the third
    // tokenizer): train the vocabulary, then tokenize each DISTINCT word
    // once with the codegen'd GREEDY LONGEST-MATCH kernel and join back
    // (WordPiece.encodeStats — the r15 distinct-word shape shared with
    // q154/q202; WordPiece inference never replays merge ranks, it is
    // one longest-prefix hash-set pass per word, and Zipf makes the
    // per-occurrence transform re-pay even that ~frequency times). Also
    // surfaces unk_words, the coverage metric a pipeline watches when a
    // vocabulary meets a new corpus. Rows-only; gated by WordPieceSpec
    // (BERT-style piece goldens, every-token-in-vocab + concatenation
    // round-trip, [UNK] whole-word rule, by-word ≡ per-occurrence).
    Q("q212_wordpiece_encode", { (s, dir) =>
        val d = t(s, dir, "documents")
        val (vocab, _) = WordPiece.trainVocab(d, "text", nMerges = 20)
        WordPiece.encodeStats(d, "doc_id", "text", vocab).orderBy("doc_id")
      },
      None),

    // Exact train/val/test split by largest-remainder apportionment
    // (Hamilton's method — the classic integer-exact way to turn 80/10/10
    // into per-group quotas that SUM EXACTLY to each group's size; naive
    // per-row hashing only approximates the proportions): per language,
    // base quotas floor(n·w/10), the leftover seats go to the splits with
    // the largest remainders (ties to the earlier split), then docs are
    // assigned to quota ranges in salted-md5 rank order. All integer
    // arithmetic; one metadata-scale quota agg broadcast back onto one
    // per-language rank window.
    Q("q190_split_apportion", { (s, dir) =>
        val d = t(s, dir, "documents")
        val weights = Seq(("train", 8, 1), ("val", 1, 2), ("test", 1, 3))
        val n = d.groupBy("lang").agg(count(lit(1)).as("n"))
        val qrows = weights.map { case (nm, w, ord) =>
          n.select(col("lang"), lit(nm).as("split"), lit(ord).as("ord"),
            floor((col("n") * w) / lit(10)).cast(LongType).as("base"),
            ((col("n") * w) % 10).as("rem"), col("n"))
        }.reduce(_ unionAll _)
        val wRem = org.apache.spark.sql.expressions.Window
          .partitionBy("lang").orderBy(col("rem").desc, col("ord"))
        val quotas = qrows
          .withColumn("seat_rank", row_number().over(wRem))
          .withColumn("seats_left",
            (col("n") - sum("base").over(
              org.apache.spark.sql.expressions.Window.partitionBy("lang"))))
          .withColumn("quota",
            col("base") + when(col("seat_rank") <= col("seats_left"), 1L).otherwise(0L))
          .select(col("lang"), col("split"), col("ord"), col("quota"))
        val wCum = org.apache.spark.sql.expressions.Window
          .partitionBy("lang").orderBy("ord")
          .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, 0)
        val bounds = quotas.withColumn("hi", sum("quota").over(wCum))
          .withColumn("lo", col("hi") - col("quota"))
        val wRank = org.apache.spark.sql.expressions.Window
          .partitionBy("lang").orderBy("skey", "doc_id")
        val ranked = d.select(col("doc_id"), col("lang"),
            md5(concat(lit("split:"), col("doc_id").cast(StringType))).as("skey"))
          .withColumn("rk", row_number().over(wRank).cast(LongType))
        ranked.join(broadcast(bounds), Seq("lang"))
          .filter(col("rk") > col("lo") && col("rk") <= col("hi"))
          .select(col("doc_id"), col("lang"), col("split"))
          .orderBy("doc_id")
      },
      Some("""WITH n AS (SELECT lang, CAST(count(*) AS BIGINT) AS n
             |  FROM documents GROUP BY lang),
             |q0 AS (
             |  SELECT lang, 'train' AS split, 1 AS ord, n * 8 // 10 AS base,
             |    n * 8 % 10 AS rem, n FROM n
             |  UNION ALL SELECT lang, 'val', 2, n // 10, n % 10, n FROM n
             |  UNION ALL SELECT lang, 'test', 3, n // 10, n % 10, n FROM n),
             |q1 AS (SELECT lang, split, ord, base, n,
             |    row_number() OVER (PARTITION BY lang ORDER BY rem DESC, ord) AS seat_rank,
             |    n - sum(base) OVER (PARTITION BY lang) AS seats_left
             |  FROM q0),
             |quotas AS (SELECT lang, split, ord,
             |    base + CASE WHEN seat_rank <= seats_left THEN 1 ELSE 0 END AS quota
             |  FROM q1),
             |bounds AS (SELECT lang, split, ord,
             |    sum(quota) OVER (PARTITION BY lang ORDER BY ord
             |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS hi,
             |    sum(quota) OVER (PARTITION BY lang ORDER BY ord
             |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - quota AS lo
             |  FROM quotas),
             |ranked AS (SELECT doc_id, lang,
             |    CAST(row_number() OVER (PARTITION BY lang
             |      ORDER BY md5('split:' || CAST(doc_id AS VARCHAR)), doc_id)
             |      AS BIGINT) AS rk
             |  FROM documents)
             |SELECT r.doc_id, r.lang, b.split
             |FROM ranked r JOIN bounds b
             |  ON r.lang = b.lang AND r.rk > b.lo AND r.rk <= b.hi
             |ORDER BY doc_id""".stripMargin)),

    // Pointwise mutual information over windowed co-occurrence (Church &
    // Hanks 1990 — the association statistic behind collocation mining
    // and the word2vec-era count matrices): unordered token pairs within
    // a ±2 window, PMI = ln(c_ab·N_w² / (N_p·c_a·c_b)) with every factor
    // an INTEGER count (the single ln runs on an exactly-representable
    // ratio and is snapped to the house DECIMAL(18,9) grid), pairs seen
    // ≥ 20 times ranked by PMI. Scale: the windowed pair explode is one
    // (pair) hash agg; unigram counts join on the word key (the q122
    // key-shuffle shape — a real corpus's vocabulary does not
    // broadcast); the two 1-row totals broadcast; top-50 is
    // TakeOrderedAndProject.
    Q("q192_pmi_collocations", { (s, dir) =>
        val d = t(s, dir, "documents")
        val toks = TextOps.tokens(col("text"))
        val pos = d.select(col("doc_id"), posexplode(toks).as(Seq("p", "w")))
        val a = pos.select(col("doc_id"), col("p").as("pa"), col("w").as("wa"))
        val b = pos.select(col("doc_id"), col("p").as("pb"), col("w").as("wb"))
        val pairs = a.join(b, Seq("doc_id"))
          .filter(col("pb") > col("pa") && col("pb") - col("pa") <= 2)
          .select(least(col("wa"), col("wb")).as("x"),
            greatest(col("wa"), col("wb")).as("y"))
        val pc = pairs.groupBy("x", "y").agg(count(lit(1)).as("cab"))
        val uni = pos.groupBy(col("w")).agg(count(lit(1)).as("c1"))
        val nw = pos.agg(count(lit(1)).as("nw"))
        val np = pairs.agg(count(lit(1)).as("np"))
        pc.filter(col("cab") >= 20)
          .join(uni.select(col("w").as("x"), col("c1").as("ca")), "x")
          .join(uni.select(col("w").as("y"), col("c1").as("cb")), "y")
          .crossJoin(broadcast(nw)).crossJoin(broadcast(np))
          .select(col("x"), col("y"), col("cab"),
            log((col("cab") * col("nw") * col("nw")).cast(DoubleType) /
              (col("np") * col("ca") * col("cb")).cast(DoubleType))
              .cast(DecimalType(18, 9)).cast(DoubleType).as("pmi"))
          .orderBy(col("pmi").desc, col("x"), col("y")).limit(50)
      },
      Some("""WITH pos AS (SELECT doc_id, i - 1 AS p, toks[i] AS w
             |  FROM (SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
             |       (SELECT unnest(generate_series(1, 200)) AS i)
             |  WHERE i <= len(toks)),
             |pairs AS (SELECT least(a.w, b.w) AS x, greatest(a.w, b.w) AS y
             |  FROM pos a JOIN pos b ON a.doc_id = b.doc_id
             |    AND b.p > a.p AND b.p - a.p <= 2),
             |pc AS (SELECT x, y, CAST(count(*) AS BIGINT) AS cab
             |  FROM pairs GROUP BY 1, 2),
             |uni AS (SELECT w, CAST(count(*) AS BIGINT) AS c1 FROM pos GROUP BY w),
             |nw AS (SELECT CAST(count(*) AS BIGINT) AS nw FROM pos),
             |np AS (SELECT CAST(count(*) AS BIGINT) AS np FROM pairs)
             |SELECT x, y, cab,
             |  CAST(CAST(ln(CAST(cab * nw.nw * nw.nw AS DOUBLE)
             |      / CAST(np.np * ua.c1 * ub.c1 AS DOUBLE)) AS DECIMAL(18,9))
             |    AS DOUBLE) AS pmi
             |FROM pc
             |JOIN uni ua ON ua.w = pc.x JOIN uni ub ON ub.w = pc.y
             |CROSS JOIN nw CROSS JOIN np
             |WHERE cab >= 20
             |ORDER BY pmi DESC, x, y LIMIT 50""".stripMargin)),

    // Inverted-index construction (the canonical distributed-indexing
    // workload — the original MapReduce motivating example, Dean &
    // Ghemawat 2004 §2.1): per (term, doc) posting rows with occurrence
    // count and first position, plus each term's document frequency —
    // the index q146's BM25 retrieval conceptually reads. Scale: one
    // (term, doc) hash agg off the position explode; the df agg and the
    // join back both key on the term — the posting lists' natural
    // partition (a search shard IS a term partition).
    Q("q193_inverted_index", { (s, dir) =>
        val d = t(s, dir, "documents")
        val pos = d.select(col("doc_id"),
          posexplode(TextOps.tokens(col("text"))).as(Seq("p", "w")))
        val posting = pos.groupBy("w", "doc_id")
          .agg(count(lit(1)).as("n_occ"), min("p").cast(LongType).as("first_pos"))
        val dfc = posting.groupBy("w").agg(count(lit(1)).as("df"))
        posting.join(dfc, "w")
          .select(col("w").as("term"), col("df"), col("doc_id"),
            col("n_occ"), col("first_pos"))
          .orderBy("term", "doc_id")
      },
      Some("""WITH d AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
             |ix AS (SELECT doc_id, toks,
             |    unnest(generate_series(1, len(toks))) AS i FROM d),
             |pos AS (SELECT doc_id, i - 1 AS p, toks[i] AS w FROM ix),
             |posting AS (SELECT w, doc_id, CAST(count(*) AS BIGINT) AS n_occ,
             |    CAST(min(p) AS BIGINT) AS first_pos
             |  FROM pos GROUP BY 1, 2),
             |dfc AS (SELECT w, CAST(count(*) AS BIGINT) AS df
             |  FROM posting GROUP BY 1)
             |SELECT posting.w AS term, df, doc_id, n_occ, first_pos
             |FROM posting JOIN dfc ON posting.w = dfc.w
             |ORDER BY term, doc_id""".stripMargin)),

    // Cross-source contamination matrix — corpus governance over q181's
    // winnowing pairs: who copies from whom, aggregated to (source_a,
    // source_b) with pair counts and the mean shared-fingerprint depth.
    // The view a curation team reviews before weighting sources (a
    // source pair with heavy overlap double-counts its text under any
    // per-source mixture). Pairs are the bounded q181 set; the source
    // join adds two broadcast-size doc lookups and one tiny agg.
    Q("q194_source_overlap", { (s, dir) =>
        val d = t(s, dir, "documents")
        val fp = d.select(col("doc_id"),
            explode(WinnowFingerprint(TextOps.tokens(col("text")), 3, 4)).as("f"))
          .select(col("doc_id"), col("f.hash").as("h")).distinct()
        val dfc = fp.groupBy("h").agg(count(lit(1)).as("c"))
        val keep = fp.join(dfc.filter(col("c") <= 20), "h")
        val pairs = keep.select(col("doc_id").as("da"), col("h"))
          .join(keep.select(col("doc_id").as("db"), col("h")), "h")
          .filter(col("da") < col("db"))
          .groupBy("da", "db").agg(count(lit(1)).as("shared"))
          .filter(col("shared") >= 5)
        val src = d.select(col("doc_id"), col("source"))
        pairs
          .join(src.select(col("doc_id").as("da"), col("source").as("sa")), "da")
          .join(src.select(col("doc_id").as("db"), col("source").as("sb")), "db")
          .select(least(col("sa"), col("sb")).as("source_a"),
            greatest(col("sa"), col("sb")).as("source_b"), col("shared"))
          .groupBy("source_a", "source_b")
          .agg(count(lit(1)).as("n_pairs"),
            sum("shared").as("shared_total"))
          .orderBy("source_a", "source_b")
      },
      Some("""WITH d AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
             |ix AS (SELECT doc_id, toks,
             |    unnest(generate_series(1, len(toks) - 2)) AS i FROM d),
             |g AS (SELECT doc_id, i - 1 AS pos,
             |    substr(md5(toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2]), 1, 16) AS h,
             |    len(toks) - 2 AS ng FROM ix),
             |win AS (SELECT b.doc_id, b.pos, b.h,
             |    row_number() OVER (PARTITION BY a.doc_id, a.pos
             |                       ORDER BY b.h ASC, b.pos DESC) AS rn
             |  FROM g a JOIN g b ON b.doc_id = a.doc_id
             |    AND b.pos BETWEEN a.pos AND a.pos + 3
             |  WHERE a.pos <= a.ng - 4),
             |fp AS (SELECT DISTINCT doc_id, h FROM win WHERE rn = 1),
             |dfc AS (SELECT h, count(*) AS c FROM fp GROUP BY h),
             |keep AS (SELECT fp.doc_id, fp.h FROM fp JOIN dfc USING (h)
             |  WHERE dfc.c <= 20),
             |pairs AS (SELECT a.doc_id AS da, b.doc_id AS db,
             |    CAST(count(*) AS BIGINT) AS shared
             |  FROM keep a JOIN keep b ON a.h = b.h AND a.doc_id < b.doc_id
             |  GROUP BY 1, 2 HAVING count(*) >= 5),
             |lbl AS (SELECT p.shared,
             |    least(sa.source, sb.source) AS source_a,
             |    greatest(sa.source, sb.source) AS source_b
             |  FROM pairs p
             |  JOIN documents sa ON sa.doc_id = p.da
             |  JOIN documents sb ON sb.doc_id = p.db)
             |SELECT source_a, source_b, CAST(count(*) AS BIGINT) AS n_pairs,
             |  CAST(sum(shared) AS BIGINT) AS shared_total
             |FROM lbl GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin)),

    // Half-life-decayed document score (the freshness/popularity
    // weighting a recency-aware sampler applies; the standard
    // exponential-decay trick with a twist that makes it BIT-EXACT
    // cross-engine: integer age-in-days over a fixed 7-day half-life
    // gives decay = 2^-(age/7) — with the exponent floor'd to an
    // integer, the decay is an exact power of two in doubles, the
    // per-row product snaps to DECIMAL, the sum is order-insensitive
    // decimal addition, and the RESULT ships as integer micro-units —
    // a final decimal-to-double cast differs by 1 ulp across engines at
    // scale 11, measured; floor-to-micros does not). Anchor fixed past the fixture's max date so ages are non-negative
    // and reproducible.
    Q("q195_decayed_score", { (s, dir) =>
        val o = t(s, dir, "orders")
        val age = datediff(lit("2001-08-02").cast(DateType),
          col("o_orderdate").cast(DateType))
        val halves = floor(age / 7).cast(IntegerType)
        val decay = pow(lit(2.0), -halves.cast(DoubleType))
        o.groupBy(col("o_custkey"))
          .agg(floor(sum((col("o_totalprice").cast(DecimalType(18, 2)) *
              decay.cast(DecimalType(18, 9))).cast(DecimalType(28, 11))) *
              lit(1000000)).cast(LongType).as("decayed_spend_micros"),
            count(lit(1)).as("n_orders"))
          .orderBy("o_custkey")
      },
      Some("""SELECT o_custkey,
             |  CAST(floor(SUM(CAST(CAST(o_totalprice AS DECIMAL(18,2))
             |    * CAST(power(2.0, -CAST(floor(date_diff('day',
             |        CAST(o_orderdate AS DATE), DATE '2001-08-02') / 7)
             |        AS INTEGER)) AS DECIMAL(18,9)) AS DECIMAL(28,11)))
             |    * 1000000) AS BIGINT) AS decayed_spend_micros,
             |  CAST(count(*) AS BIGINT) AS n_orders
             |FROM orders GROUP BY o_custkey ORDER BY o_custkey""".stripMargin)),

    // Corpus composition report — the one-page summary a curation run
    // publishes (per source × lang: documents, token supply, share of
    // the corpus, exact-dup rate): three integer aggs + one broadcast
    // total; the integer-ratio columns ship as parts-per-million BIGINTs
    // (the q195 lesson — no trailing decimal→double casts).
    Q("q198_corpus_report", { (s, dir) =>
        val d = t(s, dir, "documents")
        val toks = TextOps.tokens(col("text"))
        val base = d.select(col("source"), col("lang"),
          size(toks).cast(LongType).as("n_tok"), sha2(col("text"), 256).as("h"))
        val grp = base.groupBy("source", "lang")
          .agg(count(lit(1)).as("docs"), sum("n_tok").as("tokens"),
            countDistinct("h").as("distinct_docs"))
        val tot = base.agg(sum("n_tok").as("tot_tokens"))
        grp.crossJoin(broadcast(tot))
          .select(col("source"), col("lang"), col("docs"), col("tokens"),
            floor(col("tokens") * 1000000 / col("tot_tokens"))
              .cast(LongType).as("token_share_ppm"),
            floor((col("docs") - col("distinct_docs")) * 1000000 / col("docs"))
              .cast(LongType).as("dup_rate_ppm"))
          .orderBy("source", "lang")
      },
      Some("""WITH base AS (SELECT source, lang,
             |    CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tok,
             |    sha256(text) AS h FROM documents),
             |grp AS (SELECT source, lang, CAST(count(*) AS BIGINT) AS docs,
             |    CAST(sum(n_tok) AS BIGINT) AS tokens,
             |    CAST(count(DISTINCT h) AS BIGINT) AS distinct_docs
             |  FROM base GROUP BY 1, 2),
             |tot AS (SELECT CAST(sum(n_tok) AS BIGINT) AS tot_tokens FROM base)
             |SELECT source, lang, docs, tokens,
             |  CAST(floor(tokens * 1000000 / tot_tokens) AS BIGINT) AS token_share_ppm,
             |  CAST(floor((docs - distinct_docs) * 1000000 / docs) AS BIGINT) AS dup_rate_ppm
             |FROM grp CROSS JOIN tot ORDER BY source, lang""".stripMargin)),

    // Corpus DRIFT report — the between-snapshots audit a recurring
    // crawl publishes (the q198 report's time derivative): v2 is a
    // deterministic simulated next generation of the corpus (every 10th
    // doc dropped, every 7th survivor's text amended, every 13th doc
    // re-ingested under a fresh id), and the report classifies every id
    // across a FULL OUTER join on doc_id — added / removed / changed
    // (content hash differs) / unchanged — aggregated per lang with the
    // net character supply delta. One id-keyed shuffle join + one agg;
    // at 100 TB both sides are the stored snapshot manifests, so the
    // join is pk-colocatable (the CdcSnapshot bucketing posture).
    Q("q213_corpus_drift", { (s, dir) =>
        val d = t(s, dir, "documents").select("doc_id", "lang", "text")
        val v2base = d.filter(col("doc_id") % 10 =!= 0)
          .withColumn("text",
            when(col("doc_id") % 7 === 0, concat(col("text"), lit(" updated")))
              .otherwise(col("text")))
        val arrived = d.filter(col("doc_id") % 13 === 0)
          .select((col("doc_id") + graft.multimodal.MultimodalQueries.DupOffset).as("doc_id"),
            col("lang"), col("text"))
        val v2 = v2base.unionByName(arrived)
        val j = d.select(col("doc_id"), col("lang").as("lang1"), col("text").as("t1"))
          .join(v2.select(col("doc_id"), col("lang").as("lang2"), col("text").as("t2")),
            Seq("doc_id"), "full_outer")
        j.select(coalesce(col("lang1"), col("lang2")).as("lang"),
            when(col("t1").isNull, "added")
              .when(col("t2").isNull, "removed")
              .when(col("t1") =!= col("t2"), "changed")
              .otherwise("unchanged").as("status"),
            (coalesce(length(col("t2")), lit(0))
              - coalesce(length(col("t1")), lit(0))).cast(LongType).as("cd"))
          .groupBy("lang")
          .agg(sum(when(col("status") === "added", 1L).otherwise(0L)).as("n_added"),
            sum(when(col("status") === "removed", 1L).otherwise(0L)).as("n_removed"),
            sum(when(col("status") === "changed", 1L).otherwise(0L)).as("n_changed"),
            sum(when(col("status") === "unchanged", 1L).otherwise(0L)).as("n_unchanged"),
            sum(col("cd")).as("char_delta"))
          .orderBy("lang")
      },
      Some("""WITH v1 AS (SELECT doc_id, lang, text FROM documents),
             |v2 AS (
             |  SELECT doc_id, lang,
             |    CASE WHEN doc_id % 7 = 0 THEN text || ' updated' ELSE text END AS text
             |  FROM documents WHERE doc_id % 10 <> 0
             |  UNION ALL
             |  SELECT doc_id + 1099511627776, lang, text FROM documents WHERE doc_id % 13 = 0),
             |j AS (SELECT coalesce(v1.lang, v2.lang) AS lang,
             |    CASE WHEN v1.text IS NULL THEN 'added'
             |      WHEN v2.text IS NULL THEN 'removed'
             |      WHEN v1.text <> v2.text THEN 'changed'
             |      ELSE 'unchanged' END AS status,
             |    coalesce(len(v2.text), 0) - coalesce(len(v1.text), 0) AS cd
             |  FROM v1 FULL OUTER JOIN v2 USING (doc_id))
             |SELECT lang,
             |  CAST(sum(CASE WHEN status = 'added' THEN 1 ELSE 0 END) AS BIGINT) AS n_added,
             |  CAST(sum(CASE WHEN status = 'removed' THEN 1 ELSE 0 END) AS BIGINT) AS n_removed,
             |  CAST(sum(CASE WHEN status = 'changed' THEN 1 ELSE 0 END) AS BIGINT) AS n_changed,
             |  CAST(sum(CASE WHEN status = 'unchanged' THEN 1 ELSE 0 END) AS BIGINT) AS n_unchanged,
             |  CAST(sum(cd) AS BIGINT) AS char_delta
             |FROM j GROUP BY lang ORDER BY lang""".stripMargin)),

    // Quality-priority dedup — the keep rule production dedup actually
    // uses (RefinedWeb/FineWeb keep the LONGEST duplicate, not the
    // first-seen): per exact-content group keep max length then min id,
    // emitted beside the q40-style min-id canonical so the policy
    // difference is itself visible. One content-hash shuffle with a
    // struct-max agg — no window needed.
    Q("q199_dedup_keep_best", { (s, dir) =>
        val d = t(s, dir, "documents")
        val keyed = d.select(sha2(col("text"), 256).as("h"),
          col("doc_id"), col("n_chars").cast(LongType).as("n_chars"))
        keyed.groupBy("h")
          .agg(count(lit(1)).as("n_dups"),
            min("doc_id").as("first_id"),
            max(struct(col("n_chars"), (-col("doc_id")).as("negid")))
              .getField("negid").as("negbest"))
          .select(col("h").as("content_hash"), col("n_dups"),
            col("first_id"), (-col("negbest")).as("kept_id"))
          .orderBy("content_hash")
      },
      Some("""SELECT sha256(text) AS content_hash,
             |  CAST(count(*) AS BIGINT) AS n_dups,
             |  min(doc_id) AS first_id,
             |  -((max({'nc': CAST(n_chars AS BIGINT), 'negid': -doc_id})).negid) AS kept_id
             |FROM documents GROUP BY 1 ORDER BY content_hash""".stripMargin)),

    // Compression-ratio quality signal (RedPajama-v2, Together 2023 —
    // one of its published per-document quality signals; the
    // information-density cousin of q91's repetition fractions): zlib
    // ratio per doc, flagged when outside the [0.3, 0.9] band — far
    // below = boilerplate/repetition, above = noise. Per-row codegen'd
    // Deflater kernel, zero shuffle. Rows-only (no zlib in the oracle
    // engine); gated in TextKernelProps (determinism, repetitive <<
    // natural < noise ordering, bounds) and the corpus shape guard.
    Q("q184_compression_ratio", { (s, dir) =>
        val d = t(s, dir, "documents")
        val ratio = DeflateRatio(col("text"))
        d.select(col("doc_id"), ratio.as("zlib_ratio"),
            (ratio >= 0.3 && ratio <= 0.9).as("kept"))
          .orderBy("doc_id")
      },
      None),

    // Zipf rank-frequency audit — the corpus-health regression every
    // scraped/synthetic source should pass before training (natural
    // language fits ln(tf) ≈ a + s·ln(rank) with s ≈ -1; template spam
    // flattens the head, mode-collapsed synthetic text steepens it).
    // Per lang: token histogram (ONE corpus-scale hash shuffle on
    // (lang, token)), deterministic top-100 by (tf desc, token) via a
    // rank filter Spark rewrites to WindowGroupLimit — each map task
    // keeps only its local top-100 per lang, so the window never sorts
    // the full Heaps-law vocabulary — then an OLS fit over the 100
    // (ln rank, ln tf) points. Both lns snap to DECIMAL(18,9) at the
    // row (q156's 1-ulp rule) so the moment sums are exact decimals;
    // the closed-form slope/intercept/r² then run in identical IEEE
    // double ops in both engines.
    Q("q205_zipf_audit", { (s, dir) =>
        val w = org.apache.spark.sql.expressions.Window
          .partitionBy("lang").orderBy(col("tf").desc, col("token"))
        val pts = t(s, dir, "documents")
          .select(col("lang"), explode(TextOps.tokens(col("text"))).as("token"))
          .groupBy("lang", "token").agg(count(lit(1)).as("tf"))
          .withColumn("rk", row_number().over(w))
          .filter(col("rk") <= 100)
          .select(col("lang"),
            log(col("rk").cast(DoubleType)).cast(DecimalType(18, 9)).as("x"),
            log(col("tf").cast(DoubleType)).cast(DecimalType(18, 9)).as("y"))
        val m = pts.groupBy("lang")
          .agg(count(lit(1)).as("n_top"),
            sum(col("x")).cast(DoubleType).as("sx"),
            sum(col("y")).cast(DoubleType).as("sy"),
            sum(col("x") * col("y")).cast(DoubleType).as("sxy"),
            sum(col("x") * col("x")).cast(DoubleType).as("sxx"),
            sum(col("y") * col("y")).cast(DoubleType).as("syy"))
        val nd = col("n_top").cast(DoubleType)
        val cov = nd * col("sxy") - col("sx") * col("sy")
        val varx = nd * col("sxx") - col("sx") * col("sx")
        val vary = nd * col("syy") - col("sy") * col("sy")
        m.select(col("lang"), col("n_top"),
            (cov / varx).as("slope"),
            ((col("sy") - cov / varx * col("sx")) / nd).as("intercept"),
            (cov * cov / (varx * vary)).as("r2"))
          .orderBy("lang")
      },
      Some("""WITH freq AS (
             |  SELECT lang, tok AS token, CAST(count(*) AS BIGINT) AS tf
             |  FROM (SELECT lang, unnest(string_split(text, ' ')) AS tok FROM documents)
             |  GROUP BY 1, 2),
             |ranked AS (
             |  SELECT lang,
             |    CAST(ln(CAST(rk AS DOUBLE)) AS DECIMAL(18,9)) AS x,
             |    CAST(ln(CAST(tf AS DOUBLE)) AS DECIMAL(18,9)) AS y
             |  FROM (SELECT lang, tf,
             |      row_number() OVER (PARTITION BY lang ORDER BY tf DESC, token) AS rk
             |    FROM freq)
             |  WHERE rk <= 100),
             |m AS (
             |  SELECT lang, CAST(count(*) AS BIGINT) AS n_top,
             |    CAST(sum(x) AS DOUBLE) AS sx, CAST(sum(y) AS DOUBLE) AS sy,
             |    CAST(sum(x * y) AS DOUBLE) AS sxy,
             |    CAST(sum(x * x) AS DOUBLE) AS sxx,
             |    CAST(sum(y * y) AS DOUBLE) AS syy
             |  FROM ranked GROUP BY 1)
             |SELECT lang, n_top,
             |  (CAST(n_top AS DOUBLE) * sxy - sx * sy)
             |    / (CAST(n_top AS DOUBLE) * sxx - sx * sx) AS slope,
             |  (sy - (CAST(n_top AS DOUBLE) * sxy - sx * sy)
             |    / (CAST(n_top AS DOUBLE) * sxx - sx * sx) * sx)
             |    / CAST(n_top AS DOUBLE) AS intercept,
             |  ((CAST(n_top AS DOUBLE) * sxy - sx * sy)
             |    * (CAST(n_top AS DOUBLE) * sxy - sx * sy))
             |    / ((CAST(n_top AS DOUBLE) * sxx - sx * sx)
             |      * (CAST(n_top AS DOUBLE) * syy - sy * sy)) AS r2
             |FROM m ORDER BY lang""".stripMargin)),

    // Token-entropy diversity audit — the mode-collapse detector for
    // synthetic/distilled sources (self-training on low-entropy output
    // degenerates; cf. the Zipf head-flattening q205 catches). Per
    // source: unigram Shannon entropy H = ln N - (Σ tf·ln tf)/N in
    // nats, normalized by the ln|V| maximum, plus the type-token
    // ratio. One (source, token) hash histogram — the same single
    // corpus-scale shuffle as q205 — then a per-source fold; tf·ln tf
    // terms are BIGINT × DECIMAL(18,9) products, so the sum is exact
    // and partition-order-free, and the final H is identical double
    // arithmetic in both engines.
    Q("q206_token_entropy", { (s, dir) =>
        val freq = t(s, dir, "documents")
          .select(col("source"), explode(TextOps.tokens(col("text"))).as("token"))
          .groupBy("source", "token").agg(count(lit(1)).as("tf"))
        val m = freq.groupBy("source")
          .agg(sum("tf").as("n_tokens"),
            count(lit(1)).as("n_types"),
            sum(col("tf").cast(DecimalType(18, 0))
                * log(col("tf").cast(DoubleType)).cast(DecimalType(18, 9)))
              .cast(DoubleType).as("s_tlnt"))
        val nd = col("n_tokens").cast(DoubleType)
        val h = log(nd).cast(DecimalType(18, 9)).cast(DoubleType) - col("s_tlnt") / nd
        val lnV = log(col("n_types").cast(DoubleType)).cast(DecimalType(18, 9)).cast(DoubleType)
        m.select(col("source"), col("n_tokens"), col("n_types"),
            (col("n_types").cast(DoubleType) / nd).as("ttr"),
            h.as("entropy"),
            (h / nullif(lnV, lit(0.0d))).as("norm_entropy"))
          .orderBy("source")
      },
      Some("""WITH freq AS (
             |  SELECT source, tok AS token, CAST(count(*) AS BIGINT) AS tf
             |  FROM (SELECT source, unnest(string_split(text, ' ')) AS tok FROM documents)
             |  GROUP BY 1, 2),
             |m AS (
             |  SELECT source, CAST(sum(tf) AS BIGINT) AS n_tokens,
             |    CAST(count(*) AS BIGINT) AS n_types,
             |    CAST(sum(CAST(tf AS DECIMAL(18,0))
             |      * CAST(ln(CAST(tf AS DOUBLE)) AS DECIMAL(18,9))) AS DOUBLE) AS s_tlnt
             |  FROM freq GROUP BY 1)
             |SELECT source, n_tokens, n_types,
             |  CAST(n_types AS DOUBLE) / CAST(n_tokens AS DOUBLE) AS ttr,
             |  CAST(CAST(ln(CAST(n_tokens AS DOUBLE)) AS DECIMAL(18,9)) AS DOUBLE)
             |    - s_tlnt / CAST(n_tokens AS DOUBLE) AS entropy,
             |  (CAST(CAST(ln(CAST(n_tokens AS DOUBLE)) AS DECIMAL(18,9)) AS DOUBLE)
             |    - s_tlnt / CAST(n_tokens AS DOUBLE))
             |    / nullif(CAST(CAST(ln(CAST(n_types AS DOUBLE)) AS DECIMAL(18,9)) AS DOUBLE), 0.0)
             |    AS norm_entropy
             |FROM m ORDER BY source""".stripMargin))
  )
}

/** The q173 phrase blocklist — one definition feeding both the Spark
  * literal array and the DuckDB oracle list so the two can never drift.
  * (C4 screens against the public "List of Dirty, Naughty, Obscene…"
  * list; the fixture corpus is synthetic SQL-flavored text, so this list
  * screens pipeline smells instead — the operator contract is identical.)
  */
object Blocklist {
  // Mix of phrases that DO occur in the fixture corpus at every sf
  // (bigrams of the fixture vocabulary — the screen must actually fire to
  // be tested) and ones that never do (the negative path).
  val phrases: Seq[String] = Seq(
    "table scan", "slow hash", "key order", "window window",
    "merge data", "drop table", "full outer panic", "cartesian storm")

  def sqlList: String = phrases.map(p => s"'$p'").mkString("[", ", ", "]")
}
