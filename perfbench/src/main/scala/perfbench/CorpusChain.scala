package perfbench

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.functions._

import graft.streaming.{ByteChunk, CdcCorpusChain, CurationChain, ReplicaStream}

/** `corpus_chain`: the capstone, binlog bytes → admitted corpus docs via
  * [[CdcCorpusChain.startCdc]] (full DML, embeddings into the semantic
  * screen), one trigger per tranche. A chain trigger costs 15-25 s, so the
  * run is one cold warm-up trigger (part of set-up) and one timed trigger,
  * which carries the tranche's planted duplicates, UPDATEs and DELETEs.
  * The stores do not compact: a compaction adds 33 jobs and 8-10 s to a
  * trigger, which the run budget does not have.
  */
object CorpusChain {
  val CompactEvery = 0
  val Warm = 1
  val Timed = 1
  // the traced run's wire and decode prefix runs, warmed like
  // cdc_replicate's
  val PrefixWarm = CdcReplicate.PrefixWarm
  val PrefixTimed = CdcReplicate.PrefixTimed

  /** The chain's job label → the stage it is reported under. */
  def stageOf(label: String): String = {
    val s = label.stripPrefix("graft.chain ")
    if (s == label) "other"
    else if (s.startsWith("stage-") || s == "admit-checkpoint-sigs") "staging"
    else if (Layers.ChainStages.contains(s)) s
    else "other"
  }

  def run(ctx: Ctx): Outcome = {
    val spark = ctx.spark
    val gen = new CorpusGen(ctx.args.seed)
    val session = new Wire.Session(0L)
    val log = ArrayBuffer.empty[Seq[Array[Byte]]]
    def next(): (Seq[ByteChunk], Long) = {
      val evs = gen.tranche()
      if (ctx.args.trace) log += evs
      (session.tranche(evs), evs.iterator.map(_.length.toLong).sum)
    }
    val root = ctx.dir("corpus")
    val stream = new TrancheStream(ctx, "chain", (src, ckpt) =>
      CdcCorpusChain.startCdc(src, Wire.config, CorpusGen.Columns, root.toString, ckpt,
        compactEvery = CompactEvery, embeddingCol = Some("embedding")))

    val times = ArrayBuffer.empty[Double]
    var bytes = 0L
    try {
      (0 until Warm).foreach(_ => stream.push(next()._1))
      val region = ctx.timedRegion(Timed) { _ =>
        val (chunks, b) = next()
        times += stream.push(chunks)
        bytes += b
      }
      val units = region.units
      val byStage = Layers.ChainStages.map(s => s -> ctx.rec.total(l => stageOf(l) == s))
      val all = region.spark
      val progress = stream.progress((Warm.toLong until (Warm + units).toLong).toSet)
      stream.stop()

      // independent check: the admitted corpus against the generator's own
      val actual = CurationChain.readAdmitted(spark, root.toString)
        .select(col("doc_id"), col("text")).collect().toSeq
        .map(r => r.getLong(0) -> r.getString(1))
      val bad = Checks.corpus(gen.expected.toMap, actual)
      if (bad > 0)
        System.err.println(s"corpus_chain check: $bad admitted docs differ")
      val attempted = gen.offered + gen.deleted
      val failed = math.min(attempted, bad)

      val perLayer = if (!ctx.args.trace) Nil else {
        // the prefixes need more tranches than the chain ran; the check
        // is done, so the generator may run on
        while (log.size < PrefixWarm + PrefixTimed) log += gen.tranche()
        val prefixT = {
          val s = new Wire.Session(0L)
          log.map(evs => s.tranche(evs)).toSeq
        }
        val (wireS, wireP, wireShuffle) = TrancheStream.prefixRun(ctx, "prefix-wire",
          prefixT, PrefixWarm, (src, ck) =>
            TrancheStream.noop(ReplicaStream.fromChunks(src, Wire.config).toDF(), ck))
        val (decS, _, _) = TrancheStream.prefixRun(ctx, "prefix-decode",
          prefixT, PrefixWarm, (src, ck) => TrancheStream.noop(
            CdcCorpusChain.cdcDocsFromChunks(src, Wire.config, CorpusGen.Columns,
              embeddingCol = Some("embedding")), ck))
        val storeFiles = Stats.dirFiles(root, f => !f.getFileName.toString.startsWith("."))
        Layers.all(Seq(
          "wire.kernel_mb_per_s" -> ctx.tracer.span("kernel.wire")(Kernels.wireMbPerSec(prefixT)),
          "wire.stage_s" -> wireS,
          "wire.state_commit_ms" -> TrancheStream.stateCommitMs(wireP),
          "wire.state_mb" -> TrancheStream.stateMb(wireP),
          "wire.shuffle_mb" -> wireShuffle,
          "decode.kernel_rows_per_s" -> ctx.tracer.span("kernel.decode")(
            Kernels.decodeRowsPerSec(log.iterator.flatten.toSeq, CorpusGen.Schema)),
          "decode.stage_s" -> (decS - wireS),
          "chain.jobs_per_trigger" -> all.jobs.toDouble / units,
          "chain.shuffle_mb_per_trigger" -> all.shuffleWriteBytes / 1e6 / units,
          "chain.store_mb" -> Stats.dirBytes(root) / 1e6,
          "chain.store_files" -> storeFiles.toDouble,
          "trigger.wall_p50_s" -> Stats.median(times.toSeq),
          "trigger.binlog_mb_per_s" -> bytes / times.sum / 1e6) ++
          ctx.jvmLayer(region) ++
          byStage.flatMap { case (s, a) =>
            Seq(s"chain.$s.s" -> a.jobWallMs / 1000.0 / units,
              s"chain.$s.jobs" -> a.jobs.toDouble / units)
          } ++ TrancheStream.triggerFloor(progress))
      }
      Outcome(failed == 0, attempted, failed, ctx.endToEnd(region), perLayer)
    } finally {
      if (stream.query.isActive) stream.query.stop()
    }
  }
}
