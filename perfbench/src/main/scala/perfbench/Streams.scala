package perfbench

import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.streaming.{StreamingQuery, StreamingQueryProgress}

import graft.streaming.ByteChunk

/** One streaming query fed tranche by tranche from an in-memory source, in
  * a closed loop: a tranche is handed over only after the previous one has
  * been committed at the sink. Batch `i` carries tranche `i`.
  */
final class TrancheStream(ctx: Ctx, name: String,
    build: (Dataset[ByteChunk], String) => StreamingQuery) {
  private implicit val sqlCtx: org.apache.spark.sql.SQLContext = ctx.spark.sqlContext
  import ctx.spark.implicits._
  private val in = MemoryStream[ByteChunk]
  val query: StreamingQuery =
    build(in.toDS(), ctx.dir(s"$name-checkpoint").toString)
  private var pushed = 0L

  /** Hands one tranche over and waits until its batch is committed;
    * returns the seconds that took. */
  def push(chunks: Seq[ByteChunk]): Double = ctx.tracer.span(s"$name.trigger") {
    val (_, s) = Stats.timed {
      in.addData(chunks)
      query.processAllAvailable()
    }
    System.err.println(f"perfbench: $name batch $pushed took $s%.3f s")
    pushed += 1
    s
  }

  /** Progress of the batches `ids` (batch id = tranche index). */
  def progress(ids: Set[Long]): Seq[StreamingQueryProgress] = {
    ctx.drain()
    query.recentProgress.toSeq.filter(p => ids.contains(p.batchId) && p.numInputRows > 0)
  }

  def stop(): Unit = {
    query.stop()
    query.exception.foreach(e => throw e)
  }
}

object TrancheStream {
  /** A prefix of a chain run to the noop sink. */
  def noop(df: DataFrame, checkpoint: String): StreamingQuery =
    df.writeStream.format("noop").outputMode("append")
      .option("checkpointLocation", checkpoint).start()

  def durationMs(ps: Seq[StreamingQueryProgress], key: String): Double =
    if (ps.isEmpty) 0.0
    else Stats.median(ps.map(p => Option(p.durationMs.get(key)).map(_.toDouble).getOrElse(0.0)))

  /** Median per batch of state-store commit ms / state MB over all operators. */
  def stateCommitMs(ps: Seq[StreamingQueryProgress]): Double =
    if (ps.isEmpty) 0.0
    else Stats.median(ps.map(_.stateOperators.map(_.commitTimeMs.toDouble).sum))

  def stateMb(ps: Seq[StreamingQueryProgress]): Double =
    if (ps.isEmpty) 0.0
    else Stats.median(ps.map(_.stateOperators.map(_.memoryUsedBytes.toDouble).sum / 1e6))

  /** The four fixed per-trigger costs, medians over `ps`. */
  def triggerFloor(ps: Seq[StreamingQueryProgress]): Seq[(String, Double)] = Seq(
    "trigger.planning_ms" -> durationMs(ps, "queryPlanning"),
    "trigger.wal_commit_ms" -> durationMs(ps, "walCommit"),
    "trigger.offsets_commit_ms" -> durationMs(ps, "commitOffsets"),
    "trigger.add_batch_ms" -> durationMs(ps, "addBatch"))

  /** Runs `build` over `tranches` (the first `warm` untimed) and returns
    * the median trigger seconds, the timed batches' progress and their
    * shuffle MB per trigger. */
  def prefixRun(ctx: Ctx, name: String, tranches: Seq[Seq[ByteChunk]], warm: Int,
      build: (Dataset[ByteChunk], String) => StreamingQuery)
      : (Double, Seq[StreamingQueryProgress], Double) = ctx.tracer.span(s"prefix.$name") {
    val s = new TrancheStream(ctx, name, build)
    try {
      tranches.take(warm).foreach(s.push)
      val j0 = { ctx.drain(); ctx.rec.total() }
      val times = tranches.drop(warm).map(s.push)
      ctx.drain()
      val j1 = ctx.rec.total()
      val shuffle = (j1.shuffleWriteBytes - j0.shuffleWriteBytes) / 1e6 / times.size
      val ps = s.progress((warm.toLong until tranches.size.toLong).toSet)
      (Stats.median(times), ps, shuffle)
    } finally s.stop()
  }
}
