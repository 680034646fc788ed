package graft.tools

import graft.{LocalSpark, Tables}
import graft.llm.Similarity
import org.apache.spark.sql.functions._

/** q230 recall at the TAPERED probe fraction (r11 verdict item 6):
  * BitextSpec's recall gate runs at sf0.01, where the data-sized
  * quantizer sizes to nlist = 16 / nprobe = 8 — a 1/2 probe fraction; the
  * production point tapers toward 1/16, and r11 recorded its throughput
  * (61 s at sf10) but not its recall. This runner measures pair recall of
  * the ANN mode against the exact q221 pair set on a GenData fixture
  * (sf1g: 10k-vector sides → nlist = 100, nprobe = 8 — the 1/12.5
  * fraction, i.e. the tapered regime), plus the strong (top-half-cos)
  * recall split BitextSpec gates at sf0.01.
  *
  * `runMain graft.tools.BitextRecallBench <sfDir> [probeFloor]`
  */
object BitextRecallBench {
  def main(args: Array[String]): Unit = {
    require(args.nonEmpty, "usage: BitextRecallBench <sfDir> [probeFloor]")
    val sfDir = args(0)
    val probeFloor = if (args.length > 1) args(1).toInt else 16
    val spark = LocalSpark.session()

    val e = Tables(spark, sfDir, "embeddings")
    val a = e.filter(col("vec_id") % 2 === 0)
    val b = e.filter(col("vec_id") % 2 =!= 0)
    val nA = a.count(); val nB = b.count()
    // report the sizing bitextMineAnn derives (same formulas)
    def sizing(n: Long): (Int, Int) = {
      val nlist = math.max(16, math.ceil(math.sqrt(n.toDouble)).toInt)
      (nlist, math.min(nlist, math.max(probeFloor, nlist / 16)))
    }
    val (nlistA, nprobeA) = sizing(nB) // a-side probes the b corpus
    println(f"sides: |A|=$nA |B|=$nB; quantizer nlist=$nlistA nprobe=$nprobeA " +
      f"fraction=${nprobeA.toDouble / nlistA}%.4f")

    def timed[T](what: String)(f: => T): T = {
      val t0 = System.nanoTime()
      val r = f
      println(f"$what: ${(System.nanoTime() - t0) / 1e9}%.1f s")
      r
    }
    val exact = timed("exact bitextMine") {
      Similarity.bitextMine(a, b)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    }
    val ann = timed("ANN bitextMineAnn") {
      Similarity.bitextMineAnn(a, b, probeFloor = probeFloor)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    }
    require(nA + nB <= 100000, "cos split collects vectors; cap at 100k")
    val vecs = e.collect().map(r =>
      r.getLong(0) -> r.getSeq[Float](1).map(_.toDouble).toArray).toMap
    def cos(p: (Long, Long)): Double = {
      val (u, v) = (vecs(p._1), vecs(p._2))
      var d = 0.0; var nu = 0.0; var nv = 0.0
      var i = 0
      while (i < u.length) { d += u(i) * v(i); nu += u(i) * u(i); nv += v(i) * v(i); i += 1 }
      d / math.sqrt(nu * nv)
    }
    val byCos = exact.toSeq.map(p => p -> cos(p)).sortBy(-_._2)
    val strong = byCos.take(byCos.size / 2).map(_._1)
    val recall = exact.count(ann.contains).toDouble / exact.size
    val strongRecall = strong.count(ann.contains).toDouble / strong.size
    println(f"""{"sf":"$sfDir","exact_pairs":${exact.size},"ann_pairs":${ann.size},""" +
      f""""recall":$recall%.3f,"strong_recall":$strongRecall%.3f,""" +
      f""""nlist":$nlistA,"nprobe":$nprobeA}""")
    spark.stop()
  }
}
