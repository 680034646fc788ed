package graft.tools

import graft.{LocalSpark, Tables}
import graft.llm.Bpe

/** BPE training cost curve: `runMain graft.tools.BpeBench <sfDir> <nMerges> <batch[,batch...]>`
  * trains the merge table on `documents` at each batch size and prints one
  * JSON line per run — the per-merge driver-loop cost evidence for
  * PERFORMANCE.md (r8 verdict item 7: is the sequential argmax loop
  * amortizable by the disjoint-prefix batch?).
  */
object BpeBench {
  def main(args: Array[String]): Unit = {
    require(args.length >= 3, "usage: BpeBench <sfDir> <nMerges> <batch[,batch...]>")
    val sfDir = args(0)
    val nMerges = args(1).toInt
    val batches = args(2).split(",").map(_.toInt).toSeq
    val spark = LocalSpark.session()
    val docs = Tables(spark, sfDir, "documents")
    docs.count() // warm the parquet footer + JVM
    batches.foreach { b =>
      val t0 = System.nanoTime()
      val merges = Bpe.trainMerges(docs, "text", nMerges = nMerges, batch = b)
      val sec = (System.nanoTime() - t0) / 1e9
      println(f"""{"tool":"bpe_bench","sf":"$sfDir","n_merges":${merges.length},""" +
        f""""batch":$b,"sec":$sec%.2f,"sec_per_merge":${sec / math.max(merges.length, 1)}%.4f}""")
    }
    spark.stop()
  }
}
