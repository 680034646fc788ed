package perfbench

import org.apache.spark.sql.SaveMode

import graft.SparkEntry

/** `query_mix`: three heavy corpus queries over the fixture run.py has
  * GenData write once per build (its tables at 0.1× sf0.1's row counts),
  * run in turn with the cache cleared between queries (the Bench method).
  * The timed pass writes each output for the oracle check; the traced run
  * adds warmed passes through the noop sink.
  */
object QueryMix {
  val Names: Seq[(String, String)] = Seq(
    "q247" -> "q247_pipeline_curation_v3", "q79" -> "q79_dedup_components",
    "q132" -> "q132_binlog_txn_payload")
  // warmed passes per query in the traced run
  val WarmPasses = 3

  def run(ctx: Ctx): Outcome = {
    val spark = ctx.spark
    val data = ctx.args.fixture.getOrElse(
      throw new IllegalArgumentException("query_mix needs --fixture")).toString
    val queries = Names.map { case (short, full) =>
      (short, full, SparkEntry.queries(full), SparkEntry.oracleSql(full))
    }
    def pass(short: String, f: => Unit): Double = {
      spark.sparkContext.setJobDescription(s"perfbench $short")
      try {
        val s = Stats.timed(ctx.tracer.span(s"query.$short")(f))._2
        System.err.println(f"perfbench: $short pass took $s%.3f s")
        s
      } finally {
        spark.sparkContext.setJobDescription(null)
        spark.catalog.clearCache()
      }
    }

    // The timed region is the check pass: each query writes its output for
    // run.py's DuckDB compare against the query's own oracle SQL. The gated
    // counts do not depend on a warm JVM, and a warmed round would cost
    // every run another ~10 s; the traced run times warmed passes after it.
    val region = ctx.timedRegion(1) { _ =>
      queries.foreach { case (short, full, fn, _) =>
        pass(short, fn(spark, data).write.mode(SaveMode.Overwrite)
          .parquet(ctx.dir("out").resolve(full).toString))
      }
    }
    val rounds = region.units
    val counts = queries.map(q => q._1 -> ctx.rec.total(_ == s"perfbench ${q._1}")).toMap
    val perLayer = if (!ctx.args.trace) Nil else {
      val warmed = queries.map { case (short, _, fn, _) =>
        short -> Stats.median((0 until WarmPasses).map(_ =>
          pass(short, fn(spark, data).write.format("noop").mode("overwrite").save())))
      }.toMap
      Layers.all(queries.flatMap { case (short, _, _, _) =>
        val a = counts(short)
        Seq(s"queries.$short.s" -> warmed(short),
          s"queries.$short.jobs" -> a.jobs.toDouble / rounds,
          s"queries.$short.stages" -> a.stages.toDouble / rounds,
          s"queries.$short.shuffle_mb" -> a.shuffleWriteBytes / 1e6 / rounds,
          s"queries.$short.spill_mb" -> a.spillBytes / 1e6 / rounds)
      } ++ Seq("queries.mix_s" -> warmed.values.sum) ++ ctx.jvmLayer(region))
    }
    val oracle = Json.obj(Seq("fixture" -> data, "queries" -> Json.Raw(Json.obj(
      queries.map { case (_, full, _, sql) =>
        full -> Json.Raw(Json.obj(Seq("sql" -> sql, "out" -> s"out/$full", "passes" -> rounds)))
      }))))
    Outcome(correct = true, rounds.toLong * queries.size, failed = 0L, ctx.endToEnd(region), perLayer,
      Seq("oracle" -> Json.Raw(oracle)))
  }
}
