package perfbench

import java.util.concurrent.ConcurrentHashMap
import scala.jdk.CollectionConverters._

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._

/** Spark-side counters, keyed by the job description each job was launched
  * under (the chain labels its stages as `graft.chain <stage>`; the
  * benchmark labels query passes itself). Read only after [[drain]].
  */
final class Recorder extends SparkListener {
  final class Agg {
    var jobs = 0L
    var jobWallMs = 0L
    var stages = 0L
    var tasks = 0L
    var shuffleWriteBytes = 0L
    var spillBytes = 0L
    var cpuNs = 0L
  }

  private val byLabel = new ConcurrentHashMap[String, Agg]()
  private val jobLabel = new ConcurrentHashMap[Int, (String, Long)]()
  private val stageLabel = new ConcurrentHashMap[Int, String]()

  private def agg(label: String): Agg = byLabel.computeIfAbsent(label, _ => new Agg)

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val label = Option(e.properties)
      .flatMap(p => Option(p.getProperty("spark.job.description")))
      .getOrElse("")
    jobLabel.put(e.jobId, (label, e.time))
    e.stageIds.foreach(stageLabel.put(_, label))
    val a = agg(label)
    a.synchronized { a.jobs += 1 }
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    Option(jobLabel.remove(e.jobId)).foreach { case (label, t0) =>
      val a = agg(label)
      a.synchronized { a.jobWallMs += e.time - t0 }
    }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
    val info = e.stageInfo
    val a = agg(Option(stageLabel.remove(info.stageId)).getOrElse(""))
    val m = info.taskMetrics
    a.synchronized {
      a.stages += 1
      a.tasks += info.numTasks
      if (m != null) {
        a.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
        a.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
        a.cpuNs += m.executorCpuTime
      }
    }
  }

  /** Totals over the labels `keep` accepts. */
  def total(keep: String => Boolean = _ => true): Agg = {
    val t = new Agg
    byLabel.asScala.foreach { case (l, a) =>
      if (keep(l)) a.synchronized {
        t.jobs += a.jobs; t.jobWallMs += a.jobWallMs; t.stages += a.stages
        t.tasks += a.tasks
        t.shuffleWriteBytes += a.shuffleWriteBytes
        t.spillBytes += a.spillBytes; t.cpuNs += a.cpuNs
      }
    }
    t
  }

  def reset(): Unit = byLabel.clear()
}

object Recorder {
  def attach(sc: SparkContext): Recorder = {
    val r = new Recorder
    sc.addSparkListener(r)
    r
  }

  def drain(sc: SparkContext): Unit = org.apache.spark.PerfbenchBus.drain(sc)
}

private final case class Span(id: Int, name: String, parent: Int,
    startNs: Long, var endNs: Long)

/** In-memory spans for the traced mode, written as JSON when the run ends. */
final class Tracer(val enabled: Boolean, runId: String) {
  private val spans = scala.collection.mutable.ArrayBuffer.empty[Span]
  private val stack = new ThreadLocal[List[Int]] { override def initialValue() = Nil }
  private val epochNs = System.currentTimeMillis() * 1000000L - System.nanoTime()

  def span[T](name: String)(f: => T): T =
    if (!enabled) f
    else {
      val s = spans.synchronized {
        val sp = Span(spans.size, name, stack.get.headOption.getOrElse(-1),
          System.nanoTime(), 0L)
        spans += sp
        sp
      }
      stack.set(s.id :: stack.get)
      try f finally {
        s.endNs = System.nanoTime()
        stack.set(stack.get.tail)
      }
    }

  /** Writes `{<header>, "spans": [...]}`; times are epoch nanoseconds. */
  def write(path: java.nio.file.Path, header: Seq[(String, Any)]): Unit = if (enabled) {
    val rows = spans.synchronized(spans.toList).map { s =>
      Json.obj(Seq("id" -> s.id, "name" -> s.name,
        "parent" -> (if (s.parent < 0) null else s.parent),
        "start_ns" -> (s.startNs + epochNs), "end_ns" -> (s.endNs + epochNs),
        "run_id" -> runId))
    }
    val body = Json.obj(("run_id" -> runId) +: header :+
      ("spans" -> Json.Raw(rows.mkString("[\n", ",\n", "\n]"))))
    java.nio.file.Files.createDirectories(path.getParent)
    java.nio.file.Files.writeString(path, body + "\n")
  }
}

/** Minimal JSON rendering for flat values, enough for result lines. */
object Json {
  def value(v: Any): String = v match {
    case null => "null"
    case b: Boolean => b.toString
    case d: Double =>
      require(!d.isNaN && !d.isInfinite, s"non-finite metric value $d")
      java.lang.Double.toString(d)
    case f: Float => value(f.toDouble)
    case n: Number => n.toString
    case s: String => "\"" + s.flatMap {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    case raw: Raw => raw.s
    case other => value(other.toString)
  }
  final case class Raw(s: String)
  def obj(kvs: Seq[(String, Any)]): String =
    kvs.map { case (k, v) => value(k) + ": " + value(v) }.mkString("{", ", ", "}")
}
