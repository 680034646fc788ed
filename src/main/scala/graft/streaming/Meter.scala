package graft.streaming

import java.util.concurrent.atomic.{AtomicLong, AtomicReference}
import org.apache.spark.sql.streaming.StreamingQueryListener

/** Streaming throughput meter (the reference's MB/s statistics thread,
  * `/root/reference/src/statistics.rs:18-35`, restated as a
  * `StreamingQueryListener`): cumulative input rows plus the engine's own
  * per-batch input/processing rates — no extra work on the data path.
  *
  * Attach with `spark.streams.addListener(meter)`; read [[snapshot]] at any
  * time (thread-safe; progress events arrive asynchronously).
  */
class ThroughputMeter extends StreamingQueryListener {

  final case class Snapshot(
      batches: Long,
      totalInputRows: Long,
      lastInputRowsPerSecond: Double,
      lastProcessedRowsPerSecond: Double)

  private val batches = new AtomicLong(0)
  private val totalRows = new AtomicLong(0)
  private val lastRates = new AtomicReference[(Double, Double)]((0.0, 0.0))

  override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
  override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()

  override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
    val p = e.progress
    batches.incrementAndGet()
    totalRows.addAndGet(p.numInputRows)
    val in = p.inputRowsPerSecond
    val proc = p.processedRowsPerSecond
    lastRates.set((if (in.isNaN) 0.0 else in, if (proc.isNaN) 0.0 else proc))
  }

  def snapshot: Snapshot = {
    val (in, proc) = lastRates.get()
    Snapshot(batches.get(), totalRows.get(), in, proc)
  }
}

/** Stamp every Spark job `f` runs with the description `label`, so the
  * Spark UI, perfbench's per-label metrics and `tools/joblog.py`
  * attribute a trigger's jobs to its stages instead of to anonymous call
  * sites. The trigger bodies prefix their stage names: `graft.chain`
  * ([[CurationChain]]), `graft.sem` ([[SemDedupStream]]'s indexed root),
  * `graft.text` ([[TextDedupStream]]) and `graft.image`
  * ([[ImageDedupStream]]). A pinned frame computes under the label of
  * the FIRST action that reads it, so per-label job counts move when a
  * pin moves work between stages. Labels do not nest: the description
  * clears when `f` returns.
  */
private[streaming] object JobLabel {
  def apply[T](spark: org.apache.spark.sql.SparkSession, label: String)(f: => T): T = {
    spark.sparkContext.setJobDescription(label)
    try f finally spark.sparkContext.setJobDescription(null)
  }
}
