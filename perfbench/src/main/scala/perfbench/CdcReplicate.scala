package perfbench

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.LongAdder
import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._

import graft.cdc.{BinlogDecode, BinlogRowCodec, Instance}
import graft.streaming.{ByteChunk, CdcSnapshot, Pipeline, ReplicaStream, SchemaStream}

/** In-process queue sink: counts the records pushed per MQ (executors run
  * in this JVM under `local[k]`, so there is no network hop). */
object QueueSink {
  private val pushed = new ConcurrentHashMap[String, LongAdder]()
  def push(mq: String): Unit = pushed.computeIfAbsent(mq, _ => new LongAdder).increment()
  def counts: Map[String, Long] = pushed.asScala.map { case (k, v) => k -> v.sum }.toMap
  def total: Long = counts.values.sum
}

/** `cdc_replicate`: the reference's own dataflow in OLTP shape. Tranches
  * of single-row events over three tables, framed as replica sessions,
  * flow chunks → ReplicaStream → SchemaStream → Canal envelopes → routed
  * records (two instances with overlapping wildcards; `audit_log` routes
  * to neither), into an in-process queue sink and a CdcSnapshot
  * latest-image table, one trigger per tranche.
  */
object CdcReplicate {
  val Sessions = 4
  val PerSession = 250
  // The gated counts do not depend on a warm JVM, so one warm-up trigger
  // (the cold first one, part of set-up) and one timed trigger are enough
  // for them.
  val Warm = 1
  val Timed = 1
  // Trigger times keep falling for about 8 triggers of a cold JVM, so the
  // traced run's main-stream wall figures come from triggers after 8 warm
  // ones (the stream runs on past the timed region). The prefix runs come
  // after that, with the JIT warm: their triggers settle after 2, so 4
  // warm-up triggers each; the stage figures are differences of two
  // prefix medians, so 6 timed triggers each.
  val TracedWarm = 8
  val TracedTimed = 3
  val PrefixWarm = 4
  val PrefixTimed = 6

  val InstA = Instance(mq = "mq_a", topic = "t_orders", schemas = "shop", tables = "ord*")
  val InstB = Instance(mq = "mq_b", topic = "t_shop", schemas = "sh*", tables = "*s")
  private val Fields = Seq("amount", "ts", "name", "note")
  private val bootstrap =
    CdcGen.Tables.map { case (t, _) => (CdcGen.Db, t) -> CdcGen.Columns }.toMap

  def run(ctx: Ctx): Outcome = {
    val spark = ctx.spark
    val gen = new CdcGen(ctx.args.seed, Sessions, PerSession)
    val sessions = (0 until Sessions).map(i => new Wire.Session(i.toLong))
    val log = ArrayBuffer.empty[Seq[Seq[Array[Byte]]]]
    val rowsPerTranche = Sessions * PerSession
    def next(): (Seq[ByteChunk], Long) = {
      val t = gen.tranche()
      if (ctx.args.trace) log += t
      (t.zip(sessions).flatMap { case (evs, s) => s.tranche(evs) },
        t.iterator.flatten.map(_.length.toLong).sum)
    }

    val snapDir = ctx.dir("snapshot").toString
    val mergeTimes = ArrayBuffer.empty[Double]
    val stream = new TrancheStream(ctx, "cdc", (src, ckpt) => {
      val stamped = SchemaStream.withSchema(ReplicaStream.fromChunks(src, Wire.config), bootstrap)
      Pipeline.routedRecords(Pipeline.envelopesFromWire(stamped), Seq(InstA, InstB))
        .writeStream.outputMode("append")
        .option("checkpointLocation", ckpt)
        .foreachBatch { (b: DataFrame, _: Long) =>
          // two actions read the batch: pin it so the stateful stages run once
          val p = b.persist()
          try {
            p.select("mq").foreachPartition { (rows: Iterator[Row]) =>
              rows.foreach(r => QueueSink.push(r.getString(0)))
            }
            val changes = CdcSnapshot.canalChanges(p.filter(col("mq") === InstB.mq),
              "value", Seq(InstB), "pk", Fields)
            mergeTimes += Stats.timed(ctx.tracer.span("CdcSnapshot.mergeBatch")(
              CdcSnapshot.mergeBatch(changes, Seq("pk"), "cid", snapDir,
                numBuckets = ctx.args.cores)))._2
            ()
          } finally { p.unpersist(); () }
        }
        .start()
    })

    val times = ArrayBuffer.empty[Double]
    var bytes = 0L
    try {
      (0 until Warm).foreach(_ => stream.push(next()._1))
      val routed0 = QueueSink.total
      val region = ctx.timedRegion(Timed) { _ => stream.push(next()._1) }
      val units = region.units
      val routedPerTrigger = (QueueSink.total - routed0).toDouble / units
      // traced only: warm on to TracedWarm triggers, then time TracedTimed
      if (ctx.args.trace) (Warm + units until TracedWarm).foreach(_ => stream.push(next()._1))
      val merge0 = mergeTimes.size
      if (ctx.args.trace) (0 until TracedTimed).foreach { _ =>
        val (chunks, b) = next()
        times += stream.push(chunks)
        bytes += b
      }
      val pushed = if (ctx.args.trace) TracedWarm + TracedTimed else Warm + units
      val attempted = pushed.toLong * rowsPerTranche
      val progress = stream.progress((TracedWarm.toLong until pushed.toLong).toSet)
      val mergeS = if (ctx.args.trace) Stats.median(mergeTimes.drop(merge0).toSeq) else 0.0
      stream.stop()

      // independent checks: the snapshot against the generator's own replay,
      // the per-instance record counts against its table-to-instance map
      val expected = gen.images.iterator
        .filter { case (pk, _) => CdcGen.tableOf(pk) != 2 }
        .map { case (pk, img) => pk -> img.drop(1).map(v => if (v == null) null else v.toString) }
        .toMap
      val actual = CdcSnapshot.read(spark, snapDir)
        .select((col("pk") +: Fields.map(col)): _*).collect().toSeq
        .map(r => r.getString(0).toLong -> (1 to Fields.size).map(r.getString))
      val snapBad = Checks.snapshot(expected, actual)
      val countBad = Checks.counts(
        Map(InstA.mq -> gen.opsPerTable(0), InstB.mq -> (gen.opsPerTable(0) + gen.opsPerTable(1))),
        QueueSink.counts)
      if (snapBad + countBad > 0)
        System.err.println(s"cdc_replicate check: $snapBad snapshot rows and " +
          s"$countBad routed records differ")
      val failed = math.min(attempted, snapBad + countBad)

      val perLayer = if (!ctx.args.trace) Nil else {
        // the check is done, so the generator may run on for the prefixes
        val prefixT = CdcGen.frame(log.toSeq.take(PrefixWarm + PrefixTimed))
        val decodeOnly = (src: org.apache.spark.sql.Dataset[ByteChunk], ck: String) =>
          TrancheStream.noop(ReplicaStream.fromChunks(src, Wire.config).toDF()
            .select(BinlogDecode.eventSplit(col("event")).as("h"))
            .filter(col("h.event_type").isin(BinlogRowCodec.WriteV2,
              BinlogRowCodec.UpdateV2, BinlogRowCodec.DeleteV2))
            .select(BinlogDecode.rows(col("h.body"), col("h.event_type"), CdcGen.Schema).as("r"))
            .select(explode(col("r.data")).as("m"))
            .select(element_at(col("m"), "pk")), ck)
        val (wireS, wireP, wireShuffle) = TrancheStream.prefixRun(ctx, "prefix-wire",
          prefixT, PrefixWarm, (src, ck) =>
            TrancheStream.noop(ReplicaStream.fromChunks(src, Wire.config).toDF(), ck))
        val (decS, _, _) = TrancheStream.prefixRun(ctx, "prefix-decode",
          prefixT, PrefixWarm, decodeOnly)
        val (schemaS, _, _) = TrancheStream.prefixRun(ctx, "prefix-schema",
          prefixT, PrefixWarm, (src, ck) => TrancheStream.noop(SchemaStream.withSchema(
            ReplicaStream.fromChunks(src, Wire.config), bootstrap).toDF(), ck))
        val (envS, _, _) = TrancheStream.prefixRun(ctx, "prefix-envelope",
          prefixT, PrefixWarm, (src, ck) => TrancheStream.noop(Pipeline.routedRecords(
            Pipeline.envelopesFromWire(SchemaStream.withSchema(
              ReplicaStream.fromChunks(src, Wire.config), bootstrap)), Seq(InstA, InstB)), ck))
        val events = log.iterator.flatten.flatten.toSeq
        Layers.all(Seq(
          "wire.kernel_mb_per_s" -> ctx.tracer.span("kernel.wire")(Kernels.wireMbPerSec(prefixT)),
          "wire.stage_s" -> wireS,
          "wire.state_commit_ms" -> TrancheStream.stateCommitMs(wireP),
          "wire.state_mb" -> TrancheStream.stateMb(wireP),
          "wire.shuffle_mb" -> wireShuffle,
          "decode.kernel_rows_per_s" ->
            ctx.tracer.span("kernel.decode")(Kernels.decodeRowsPerSec(events, CdcGen.Schema)),
          "decode.stage_s" -> (decS - wireS),
          "dataflow.schema_stage_s" -> (schemaS - wireS),
          "dataflow.envelope_stage_s" -> (envS - schemaS),
          "dataflow.snapshot_merge_s" -> mergeS,
          "dataflow.snapshot_mb" -> Stats.dirBytes(ctx.args.work.resolve("snapshot")) / 1e6,
          "dataflow.records_routed" -> routedPerTrigger,
          "dataflow.shuffle_mb" -> region.spark.shuffleWriteBytes / 1e6 / units,
          "trigger.wall_p50_s" -> Stats.median(times.toSeq),
          "trigger.binlog_mb_per_s" -> bytes / times.sum / 1e6) ++
          ctx.jvmLayer(region) ++ TrancheStream.triggerFloor(progress))
      }
      Outcome(failed == 0, attempted, failed, ctx.endToEnd(region), perLayer)
    } finally {
      if (stream.query.isActive) stream.query.stop()
    }
  }
}
