package perfbench

/** The per-layer metric names, in the order BENCHMARK.json lists them. A
  * traced run reports every one; a layer the workload does not exercise
  * reads 0.
  */
object Layers {
  val ChainStages: Seq[String] = Seq("exact-screen", "sig-screen", "semantic-screen",
    "admit-checkpoint", "staging", "other")
  val Queries: Seq[String] = Seq("q247", "q79", "q132")

  val names: Seq[String] = Seq(
    "wire.kernel_mb_per_s", "wire.stage_s", "wire.state_commit_ms", "wire.state_mb",
    "wire.shuffle_mb",
    "decode.kernel_rows_per_s", "decode.stage_s",
    "dataflow.schema_stage_s", "dataflow.envelope_stage_s", "dataflow.snapshot_merge_s",
    "dataflow.snapshot_mb", "dataflow.records_routed", "dataflow.shuffle_mb",
    "trigger.wall_p50_s", "trigger.binlog_mb_per_s",
    "trigger.planning_ms", "trigger.wal_commit_ms", "trigger.offsets_commit_ms",
    "trigger.add_batch_ms") ++
    ChainStages.flatMap(s => Seq(s"chain.$s.s", s"chain.$s.jobs")) ++
    Seq("chain.jobs_per_trigger", "chain.shuffle_mb_per_trigger", "chain.store_mb",
      "chain.store_files") ++
    Queries.flatMap(q => Seq("s", "jobs", "stages", "shuffle_mb", "spill_mb")
      .map(m => s"queries.$q.$m")) ++
    Seq("queries.mix_s", "jvm.gc_s", "jvm.executor_cpu_s", "jvm.process_cpu_s",
      "jvm.internal_cpu_s", "jvm.heap_live_mb", "jvm.storage_mb")

  /** Every layer metric, measured ones from `measured`, the rest 0. */
  def all(measured: Seq[(String, Double)]): Seq[(String, Double)] = {
    val m = measured.toMap
    val unknown = m.keySet -- names
    require(unknown.isEmpty, s"unlisted layer metrics: ${unknown.mkString(", ")}")
    names.map(n => n -> m.getOrElse(n, 0.0))
  }
}
