package perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Path, Paths}
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession

/** Command-line arguments, as run.py passes them. */
final case class Args(workload: String, seed: Long, seconds: Int,
    trace: Boolean, work: Path, cores: Int, fixture: Option[Path])

/** What a workload reports: whether its outputs matched the independent
  * computation, how many operations it attempted and how many failed,
  * its end-to-end metrics, its per-layer metrics (traced mode only), and
  * extra lines for run.py (query outputs still to be checked outside the
  * JVM).
  */
final case class Outcome(correct: Boolean, attempted: Long, failed: Long,
    endToEnd: Seq[(String, Double)], perLayer: Seq[(String, Double)],
    extra: Seq[(String, Any)] = Nil)

/** Shared run context: the session, the listener counters, the tracer and
  * the timing helpers every workload uses the same way.
  */
final class Ctx(val args: Args, val spark: SparkSession, val rec: Recorder,
    val tracer: Tracer) {
  val jvmStartMs: Long = ManagementFactory.getRuntimeMXBean.getStartTime
  private var firstUnitMs = -1L

  /** Seconds from process start to the first timed unit: one cold set-up. */
  def setupSeconds: Double = (firstUnitMs - jvmStartMs) / 1000.0

  def dir(name: String): Path = {
    val p = args.work.resolve(name)
    Files.createDirectories(p)
    p
  }

  def drain(): Unit = Recorder.drain(spark.sparkContext)

  /** CPU seconds this process has used, all threads. */
  def cpuSeconds(): Double =
    ManagementFactory.getOperatingSystemMXBean
      .asInstanceOf[com.sun.management.OperatingSystemMXBean].getProcessCpuTime / 1e9

  /** CPU seconds of the JVM's own threads (JIT compilers, GC): the process
    * total minus every live Java thread's. */
  def jvmInternalCpuSeconds(): Double = {
    val tm = ManagementFactory.getThreadMXBean
    val javaNs = tm.getAllThreadIds.map(tm.getThreadCpuTime).filter(_ > 0).sum
    cpuSeconds() - javaNs / 1e9
  }

  def gcMs(): Long =
    ManagementFactory.getGarbageCollectorMXBeans.asScala
      .map(b => math.max(0L, b.getCollectionTime)).sum

  /** MB of Spark storage memory in use: cached and checkpointed blocks and
    * broadcasts, which Spark's cleaner thread frees some time after their
    * handles become unreachable. */
  def storageMb(): Double =
    spark.sparkContext.getExecutorMemoryStatus.values
      .map { case (max, free) => max - free }.sum / 1e6

  /** Heap still in use after a full collection, outside Spark's storage
    * memory: what outlives the work. Blocks waiting for the cleaner are
    * left out, as their release time varies run to run; they are reported
    * as [[storageMb]]. */
  def heapLiveMb(): Double = {
    System.gc()
    ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1e6 - storageMb()
  }

  /** The timed region: exactly `units` units, the same number on every run
    * and every commit, so per-unit counts always cover the same work (state
    * grows with every unit). If they end before `--seconds` have passed, the
    * run idles for the rest: `--seconds` only sets a minimum run length.
    * Returns the Spark counters, CPU and GC time the units used and the
    * heap they left live.
    */
  def timedRegion(units: Int)(unit: Int => Unit): Region = {
    drain()
    rec.reset()
    val proc0 = cpuSeconds()
    val internal0 = jvmInternalCpuSeconds()
    val gc0 = gcMs()
    firstUnitMs = System.currentTimeMillis()
    val t0 = System.nanoTime()
    (0 until units).foreach(i => tracer.span(s"unit-$i")(unit(i)))
    drain()
    val region = Region(units, rec.total(), (cpuSeconds() - proc0) / units,
      (jvmInternalCpuSeconds() - internal0) / units, (gcMs() - gc0) / 1000.0 / units,
      heapLiveMb(), storageMb())
    val left = args.seconds * 1000L - (System.nanoTime() - t0) / 1000000L
    if (left > 0) Thread.sleep(left)
    region
  }

  /** The end-to-end metrics, the same on every workload. */
  def endToEnd(r: Region): Seq[(String, Double)] = Seq(
    "setup_s" -> setupSeconds,
    "spark_jobs_per_unit" -> r.spark.jobs.toDouble / r.units,
    "spark_tasks_per_unit" -> r.spark.tasks.toDouble / r.units)

  def jvmLayer(r: Region): Seq[(String, Double)] = Seq(
    "jvm.gc_s" -> r.gcS,
    "jvm.executor_cpu_s" -> r.spark.cpuNs / 1e9 / r.units,
    "jvm.process_cpu_s" -> r.processCpuS,
    "jvm.internal_cpu_s" -> r.internalCpuS,
    "jvm.heap_live_mb" -> r.heapLiveMb,
    "jvm.storage_mb" -> r.storageMb)
}

/** A timed region's figures; CPU and GC seconds are per unit. */
final case class Region(units: Int, spark: Recorder#Agg, processCpuS: Double,
    internalCpuS: Double, gcS: Double, heapLiveMb: Double, storageMb: Double)

object Stats {
  def median(xs: Seq[Double]): Double = {
    require(xs.nonEmpty, "median of nothing")
    val s = xs.sorted
    val m = s.length / 2
    if (s.length % 2 == 1) s(m) else (s(m - 1) + s(m)) / 2
  }

  def timed[T](f: => T): (T, Double) = {
    val t0 = System.nanoTime()
    val r = f
    (r, (System.nanoTime() - t0) / 1e9)
  }

  def dirBytes(p: Path): Long =
    if (!Files.exists(p)) 0L
    else {
      val s = Files.walk(p)
      try s.iterator().asScala.filter(Files.isRegularFile(_)).map(Files.size).sum
      finally s.close()
    }

  def dirFiles(p: Path, keep: Path => Boolean = _ => true): Long =
    if (!Files.exists(p)) 0L
    else {
      val s = Files.walk(p)
      try s.iterator().asScala.count(f => Files.isRegularFile(f) && keep(f)).toLong
      finally s.close()
    }
}

/** Entry point: `Main --workload <w> --seed <n> --seconds <s> --trace <0|1>
  * --work <dir> --cores <k> [--fixture <dir>]`. Prints one result line prefixed
  * `PERFBENCH_RESULT ` on stdout; everything else goes to stderr.
  */
object Main {
  val Workloads: Map[String, Ctx => Outcome] = Map(
    "cdc_replicate" -> CdcReplicate.run,
    "corpus_chain" -> CorpusChain.run,
    "query_mix" -> QueryMix.run)

  private def parse(argv: Array[String]): Args = {
    val m = argv.grouped(2).map {
      case Array(k, v) if k.startsWith("--") => k.drop(2) -> v
      case other => throw new IllegalArgumentException(
        s"bad arguments: ${other.mkString(" ")}")
    }.toMap
    def need(k: String) = m.getOrElse(k, throw new IllegalArgumentException(s"missing --$k"))
    Args(need("workload"), need("seed").toLong, need("seconds").toInt,
      need("trace") == "1", Paths.get(need("work")).toAbsolutePath,
      need("cores").toInt, m.get("fixture").map(Paths.get(_).toAbsolutePath))
  }

  def main(argv: Array[String]): Unit = {
    val args = parse(argv)
    val wl = Workloads.getOrElse(args.workload,
      throw new IllegalArgumentException(s"unknown workload ${args.workload}"))
    require(args.seconds >= 1 && args.cores >= 1, "seconds and cores must be positive")
    // stdout carries the result line only
    val out = System.out
    System.setOut(System.err)
    Files.createDirectories(args.work)
    val spark = SparkSession.builder()
      .master(s"local[${args.cores}]")
      .appName(s"perfbench-${args.workload}")
      .config("spark.sql.shuffle.partitions", args.cores.toString)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.local.dir", args.work.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", args.work.resolve("warehouse").toString)
      .config("spark.sql.streaming.numRecentProgressUpdates", "10000")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val runId = s"${args.workload}-${args.seed}-${System.currentTimeMillis()}"
    val ctx = new Ctx(args, spark, Recorder.attach(spark.sparkContext),
      new Tracer(args.trace, runId))
    try {
      val o = ctx.tracer.span(args.workload)(wl(ctx))
      // the traced run's own end-to-end figures ride along, so traced and
      // untraced runs can be set side by side (the tracing overhead)
      ctx.tracer.write(args.work.resolve("trace.json"), Seq(
        "workload" -> args.workload, "seed" -> args.seed,
        "end_to_end" -> Json.Raw(Json.obj(o.endToEnd))))
      val metrics = (if (args.trace) o.perLayer else o.endToEnd)
        .map { case (k, v) => k -> Json.Raw(Json.value(v)) }
      val line = Json.obj(Seq(
        "correct" -> o.correct, "attempted" -> o.attempted, "failed" -> o.failed,
        "metrics" -> Json.Raw(Json.obj(metrics))) ++ o.extra)
      out.println("PERFBENCH_RESULT " + line)
      out.flush()
    } finally spark.stop()
  }
}
