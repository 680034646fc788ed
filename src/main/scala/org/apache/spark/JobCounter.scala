package org.apache.spark

import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}

/** Counts the Spark jobs a block starts. The listener bus is asynchronous,
  * so the count is read only after the bus has drained (the driver's own
  * `waitUntilEmpty`, reachable from this package only) — never after a
  * sleep, which under-counts on a loaded host.
  */
object JobCounter {

  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()

  /** `f`'s result and the number of jobs started while it ran that
    * `keep` accepts.
    */
  def count[T](sc: SparkContext,
      keep: SparkListenerJobStart => Boolean = _ => true)(f: => T): (T, Int) = {
    val (out, jobs, _) = countWithStages(sc, keep)(f)
    (out, jobs)
  }

  /** As [[count]], plus the stages those jobs declared (skipped ones
    * included, as the job-start event lists them).
    */
  def countWithStages[T](sc: SparkContext,
      keep: SparkListenerJobStart => Boolean = _ => true)(f: => T): (T, Int, Int) = {
    drain(sc) // earlier jobs' events must not reach the new listener
    val jobs = new AtomicInteger()
    val stages = new AtomicInteger()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (keep(e)) {
          jobs.incrementAndGet()
          stages.addAndGet(e.stageInfos.size)
        }
    }
    sc.addSparkListener(listener)
    try {
      val out = f
      drain(sc)
      (out, jobs.get, stages.get)
    } finally sc.removeSparkListener(listener)
  }
}
