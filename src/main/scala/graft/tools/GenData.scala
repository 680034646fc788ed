package graft.tools

import graft.LocalSpark
import org.apache.spark.sql.SaveMode

/** Deterministic fixture generator mirroring the driver's TESTDATA.md
  * tables (schemas, value ranges, dup/near-dup density) at arbitrary
  * scale: `runMain graft.tools.GenData <outDir> <mult>` writes the ten
  * tables at `mult`× the sf0.1 row counts (mult=10 ≈ sf1). Exists for
  * scale-curve measurements (PERFORMANCE.md): the driver's own fixtures
  * stop at sf0.1, and a 100 TB posture claim needs at least one measured
  * 10× step. Every value is a pure function of (table, row id), so any
  * partitioning of the range produces identical data.
  *
  * Matched shape highlights (profiled from /root/testdata/sf0.1):
  * documents ≈4.5% near-dup copies of a random earlier doc with 1-3 word
  * edits (Jaccard 0.95-0.99) + ≈0.2% exact copies — over an OPEN
  * Zipf/Heaps vocabulary (see the word synthesizer below), deliberately
  * richer than the driver's closed 32-word fixture so shingle-space
  * detectors can be measured at 100× instead of saturating; embeddings = 64-dim
  * unit vectors in 10 clusters with ≈5% near-identical copies; lineitem
  * ≈4.07 rows/order; events.ts stored as long nanos exactly like the
  * driver's TIMESTAMP(NANOS) so [[graft.Tables]] reads both identically.
  */
object GenData {

  // ---- open-vocabulary word synthesizer (Zipf/Heaps) -------------------
  // The driver's sf fixtures draw from a CLOSED 32-word vocabulary, which
  // saturates the shingle space at scale: by sf10 every possible trigram
  // exists in thousands of docs, so exact-Jaccard detectors (q79/q88/
  // q106/q135) go quadratic BY FIXTURE and novelty signals (q228)
  // deflate — three sightings in round 10. Real text obeys Heaps' law
  // (distinct words ~ n^beta); synthesize it with a hash-derived long-tail
  // vocabulary of 2^22 ranks sampled Zipf(s=1) — frequency ~ 1/rank via
  // inverse-CDF (rank = floor(exp(u * ln V))), so rank-1..30 words act as
  // natural stopwords while the tail keeps producing corpus-unique words
  // at every scale. Deterministic: word(k) is a pure function of k.
  private val VocabRanks: Long = 1L << 22
  private val LnV: Double = math.log(VocabRanks.toDouble)

  /** Deterministic 3–10 lowercase-char word for Zipf rank `k`. */
  def word(k: Long): String = {
    var x = k * 0x9E3779B97F4A7C15L + 0x632BE59BD9B4E019L
    x ^= x >>> 29; x *= 0xBF58476D1CE4E5B9L; x ^= x >>> 32
    val len = 3 + (x & 7).toInt
    val sb = new java.lang.StringBuilder(len)
    var y = x | 1L
    var i = 0
    while (i < len) {
      sb.append(('a' + java.lang.Long.remainderUnsigned(y >>> 8, 26).toInt).toChar)
      y = y * 6364136223846793005L + 1442695040888963407L
      i += 1
    }
    sb.toString
  }

  /** Zipf(s=1) rank sample over [1, VocabRanks): P(k) ~ 1/k. */
  private def zipfRank(r: java.util.Random): Long =
    math.min(VocabRanks - 1, math.max(1L, math.floor(math.exp(r.nextDouble() * LnV)).toLong))

  private def sampleWord(r: java.util.Random): String = word(zipfRank(r))
  private val Langs = Array("en", "de", "es", "fr", "zh")
  private val Segments = Array("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")
  private val Priorities = Array("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
  private val Statuses = Array("F", "O", "P")
  private val EventTypes = Array("click", "error", "purchase", "signup", "view")
  private val PartNames1 = Array("small", "red", "blue", "green", "large", "tiny")
  private val PartNames2 = Array("ring", "widget", "bolt", "gear", "cog", "plate")
  private val PartTypes = Array("ECONOMY", "SMALL", "STANDARD", "LARGE", "PROMO", "MEDIUM")
  private val Regions = Array("AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST")

  /** Splittable per-row RNG: value depends only on (salt, id). */
  private def rng(salt: Long, id: Long): java.util.Random =
    new java.util.Random((salt * 0x9E3779B97F4A7C15L) ^ (id * 0xC2B2AE3D27D4EB4FL) ^ 42L)

  private def round2(x: Double): Double = math.rint(x * 100.0) / 100.0

  // ---- documents ------------------------------------------------------
  private def docWords(id: Long): Array[String] = {
    val r = rng(1, id)
    Array.fill(8 + r.nextInt(92))(sampleWord(r))
  }

  def docText(id: Long): String = {
    val r = rng(2, id)
    val roll = r.nextDouble()
    if (id > 20 && roll < 0.002) docWords(r.nextInt(id.toInt).toLong).mkString(" ")
    else if (id > 20 && roll < 0.047) {
      val w = docWords(r.nextInt(id.toInt).toLong)
      for (_ <- 0 to r.nextInt(3)) w(r.nextInt(w.length)) = sampleWord(r)
      w.mkString(" ")
    } else docWords(id).mkString(" ")
  }

  // ---- embeddings -----------------------------------------------------
  private val Dim = 64
  private def normalize(v: Array[Float]): Array[Float] = {
    var s = 0.0
    var i = 0
    while (i < v.length) { s += v(i).toDouble * v(i); i += 1 }
    val n = math.sqrt(s)
    v.map(x => (x / n).toFloat)
  }
  private def centroid(label: Int): Array[Float] = {
    val r = rng(3, label.toLong)
    normalize(Array.fill(Dim)(r.nextGaussian().toFloat))
  }
  def embLabel(id: Long): Int = rng(4, id).nextInt(10)
  private def baseVec(id: Long): Array[Float] = {
    val c = centroid(embLabel(id))
    val r = rng(5, id)
    normalize(c.map(x => x + 0.3f * r.nextGaussian().toFloat))
  }
  def embVec(id: Long): Array[Float] = {
    val r = rng(6, id)
    if (id > 20 && r.nextDouble() < 0.05) {
      val b = baseVec(r.nextInt(id.toInt).toLong)
      normalize(b.map(x => x + 0.005f * r.nextGaussian().toFloat))
    } else baseVec(id)
  }

  def main(args: Array[String]): Unit = {
    require(args.length >= 2, "usage: GenData <outDir> <mult>")
    val out = args(0)
    val mult = args(1).toDouble
    def n(base: Long): Long = math.max(1L, math.round(base * mult))
    val spark = LocalSpark.session()
    import spark.implicits._

    val nCust = n(15000); val nSupp = n(1000); val nPart = n(20000)
    val nOrders = n(150000); val nEvents = n(100000); val nUsers = n(1500)
    val nDocs = n(5000); val nEmb = n(2000)
    val parts = math.max(8, (mult * 16).toInt)

    def write(df: org.apache.spark.sql.DataFrame, name: String, coalesce: Int = 0): Unit = {
      val d = if (coalesce > 0) df.coalesce(coalesce) else df
      d.write.mode(SaveMode.Overwrite).parquet(s"$out/$name.parquet")
      println(s"wrote $name")
    }

    write(Regions.indices.map(i => (i, Regions(i))).toDF("r_regionkey", "r_name"), "region", 1)
    write((0 until 25).map(i => (i, s"NATION_$i", i % 5)).toDF("n_nationkey", "n_name", "n_regionkey"), "nation", 1)

    write(spark.range(0, nCust, 1, parts).map { id =>
      val r = rng(10, id)
      (id, f"Customer#$id%09d", r.nextInt(25),
        round2(r.nextDouble() * 11000 - 1000), Segments(r.nextInt(5)))
    }.toDF("c_custkey", "c_name", "c_nationkey", "c_acctbal", "c_mktsegment"), "customer", 4)

    write(spark.range(0, nSupp, 1, parts).map { id =>
      val r = rng(11, id)
      (id, f"Supplier#$id%09d", r.nextInt(25), round2(r.nextDouble() * 10000))
    }.toDF("s_suppkey", "s_name", "s_nationkey", "s_acctbal"), "supplier", 2)

    write(spark.range(0, nPart, 1, parts).map { id =>
      val r = rng(12, id)
      (id, s"${PartNames1(r.nextInt(6))} ${PartNames2(r.nextInt(6))}",
        s"Brand#${r.nextInt(25)}", PartTypes(r.nextInt(6)),
        1 + r.nextInt(50), round2(900.0 + (id % 1000) * 0.1))
    }.toDF("p_partkey", "p_name", "p_brand", "p_type", "p_size", "p_retailprice"), "part", 4)

    val epoch95 = java.sql.Timestamp.valueOf("1995-01-01 00:00:00").getTime
    val days = 2404 // through 2001-08-01
    write(spark.range(0, nOrders, 1, parts).map { id =>
      val r = rng(13, id)
      (id, math.abs(r.nextLong()) % nCust, Statuses(r.nextInt(3)),
        round2(1000.0 + r.nextDouble() * 499000.0),
        new java.sql.Timestamp(epoch95 + r.nextInt(days).toLong * 86400000L),
        Priorities(r.nextInt(5)))
    }.toDF("o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice",
      "o_orderdate", "o_orderpriority"), "orders")

    write(spark.range(0, nOrders, 1, parts).flatMap { oid =>
      val ro = rng(14, oid)
      val cnt = 1 + ro.nextInt(7)
      (1 to cnt).map { ln =>
        val r = rng(15, oid * 8 + ln)
        val qty = (1 + r.nextInt(50)).toDouble
        (oid, math.abs(r.nextLong()) % nPart, math.abs(r.nextLong()) % nSupp, ln,
          qty, round2(qty * (900.0 + r.nextDouble() * 1200.0)),
          r.nextInt(11) / 100.0, r.nextInt(9) / 100.0,
          Array("A", "N", "R").apply(r.nextInt(3)), Array("F", "O").apply(r.nextInt(2)),
          new java.sql.Timestamp(epoch95 + r.nextInt(days).toLong * 86400000L))
      }
    }.toDF("l_orderkey", "l_partkey", "l_suppkey", "l_linenumber", "l_quantity",
      "l_extendedprice", "l_discount", "l_tax", "l_returnflag", "l_linestatus",
      "l_shipdate"), "lineitem")

    // events.ts is long NANOS on disk, exactly like the driver's fixture
    // (Tables() does `ts div 1000` then timestamp_micros).
    val ev0Us = java.sql.Timestamp.valueOf("2024-01-01 00:00:00").getTime * 1000L
    val monthUs = 30L * 86400L * 1000000L
    write(spark.range(0, nEvents, 1, parts).map { id =>
      val r = rng(16, id)
      val tsUs = ev0Us + math.abs(r.nextLong()) % monthUs
      (id, tsUs * 1000L, 1L + (math.abs(r.nextLong()) % nUsers),
        EventTypes(r.nextInt(5)), round2(0.01 + r.nextDouble() * 490.0),
        s"""{"k": ${r.nextInt(100)}}""")
    }.toDF("event_id", "ts", "user_id", "event_type", "value", "props"), "events")

    write(spark.range(0, nDocs, 1, parts).map { id =>
      val t = docText(id)
      val lr = rng(17, id)
      val lang = if (lr.nextDouble() < 0.41) "en" else Langs(1 + lr.nextInt(4))
      (id, t, lang, s"src${id % 20}", t.length.toLong)
    }.toDF("doc_id", "text", "lang", "source", "n_chars"), "documents", math.max(2, parts / 4))

    write(spark.range(0, nEmb, 1, parts).map { id =>
      (id, embVec(id), embLabel(id))
    }.toDF("vec_id", "embedding", "label"), "embeddings", math.max(2, parts / 4))

    println(s"done: $out (mult=$mult)")
    spark.stop()
  }
}
