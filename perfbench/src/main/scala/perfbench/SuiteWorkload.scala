package perfbench

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession

import graft.SparkEntry

/** One query of the pass: its phase boundaries (ms) and its count.
  * Timed runs record build and count only (`analyzed` = `optimized` =
  * `planned` = `built`); traced runs force each Catalyst phase in turn. */
case class QueryRec(name: String, startMs: Double, builtMs: Double,
    analyzedMs: Double, optimizedMs: Double, plannedMs: Double, endMs: Double,
    count: Long) {
  def wallMs: Double = endMs - startMs
  def readMs: Double = endMs - builtMs
}

/** The `query_suite` workload: a fixed slice of `SparkEntry.queries`
  * ([[Spec.suiteQueries]]) at sf0.01, run once in name order, closed
  * loop, one query at a time: builder call, then `count()`. */
final class SuiteWorkload(ctx: RunCtx) {
  private val names = Spec.suiteQueries(SparkEntry.queries.keys)

  private def warm(spark: SparkSession, i: Int): Unit =
    Spec.SuiteWarmup.foreach(q => SparkEntry.queries(q)(spark, ctx.dataDir).count())

  /** DuckDB oracle row counts committed for sf0.01. */
  private def oracleRows(): Map[String, Long] = {
    val tree = new com.fasterxml.jackson.databind.ObjectMapper()
      .readTree(new java.io.File(s"${ctx.root}/CORRECTNESS_LOCAL.json"))
    tree.fields().asScala.map(e => e.getKey -> e.getValue.get("oracle_rows").asLong).toMap
  }

  def run(): RunResult = {
    val oracle = oracleRows()
    val (spark, setupS, setupTimes) = Main.setUp(ctx)(warm)
    val rec = new Recorder(spark, ctx.traced)
    def tag(t: String): Unit = if (ctx.traced) rec.tag(t)
    val m0 = rec.mark()
    val passStart = Main.nowMs()
    val results = names.map { name =>
      val build = SparkEntry.queries(name)
      val r = Main.attempt {
        val t0 = Main.nowMs()
        tag("build")
        val df = build(spark, ctx.dataDir)
        val t1 = Main.nowMs()
        if (ctx.traced) {
          // count() = groupBy().count() collected; forcing its
          // QueryExecution phase by phase splits the same work
          tag("plans")
          val agg = df.groupBy().count()
          agg.queryExecution.analyzed
          val t2 = Main.nowMs()
          agg.queryExecution.optimizedPlan
          val t3 = Main.nowMs()
          agg.queryExecution.executedPlan
          val t4 = Main.nowMs()
          tag("exec")
          val n = agg.collect().head.getLong(0)
          QueryRec(name, t0, t1, t2, t3, t4, Main.nowMs(), n)
        } else {
          val n = df.count()
          QueryRec(name, t0, t1, t1, t1, t1, Main.nowMs(), n)
        }
      }
      tag("")
      r.left.foreach(e => System.err.println(s"[perfbench] $name failed: $e"))
      name -> r
    }
    val passMs = Main.nowMs() - passStart
    val m1 = rec.mark()
    val rssMb = Recorder.peakRssMb()

    val ok = results.collect { case (_, Right(q)) => q }
    val failed = results.count(_._2.isLeft)
    // output check (untimed): every count equals the oracle's row count
    val wrong = ok.filter(q => !oracle.get(q.name).contains(q.count))
      .map(q => s"${q.name}: ${q.count} rows, oracle ${oracle.get(q.name).orNull}")
    wrong.foreach(w => System.err.println(s"[perfbench] wrong count: $w"))

    val lat = ok.map(_.wallMs)
    val read = ok.map(_.readMs)
    val latTail = if (lat.isEmpty) Stats.Tail(0, 0, 0) else Stats.tail(lat)
    val readTail = if (read.isEmpty) Stats.Tail(0, 0, 0) else Stats.tail(read)
    val e2e = Map(
      "setup_s" -> Metric(setupS, "s"),
      "throughput_per_s" -> Metric(ok.size / (passMs / 1000.0), "1/s"),
      "latency_p50_ms" -> Metric(Stats.p50or0(lat), "ms"),
      "latency_tail_ms" -> Metric(latTail.value, "ms"))

    val jobs = rec.slice(rec.jobs, m0.jobs, m1.jobs)
    val tasks = rec.slice(rec.tasks, m0.tasks, m1.tasks).filter(_.tag == "exec")
    val buildMs = ok.map(q => q.builtMs - q.startMs).sum
    val execMs = ok.map(q => q.endMs - q.plannedMs).sum
    val taskMs = tasks.map(_.runMs).sum.toDouble
    // phases are contiguous by construction; the residual is the clock
    // reads between them
    val gapMs = ok.map(q => math.abs(q.wallMs - ((q.builtMs - q.startMs) +
      (q.analyzedMs - q.builtMs) + (q.optimizedMs - q.analyzedMs) +
      (q.plannedMs - q.optimizedMs) + (q.endMs - q.plannedMs))))
    val layers = Map(
      "entry.build_ms" -> Metric(buildMs, "ms"),
      "entry.build_jobs" -> Metric(jobs.count(_.tag == "build"), "count"),
      "entry.build_share" -> Metric(buildMs / passMs, "ratio"),
      "plans.analysis_ms" -> Metric(ok.map(q => q.analyzedMs - q.builtMs).sum, "ms"),
      "plans.optimize_ms" -> Metric(ok.map(q => q.optimizedMs - q.analyzedMs).sum, "ms"),
      "plans.planning_ms" -> Metric(ok.map(q => q.plannedMs - q.optimizedMs).sum, "ms"),
      "exec.wall_ms" -> Metric(execMs, "ms"),
      "exec.task_ms" -> Metric(taskMs, "ms"),
      "exec.task_over_wall" -> Metric(taskMs / math.max(execMs, 1.0), "ratio"),
      "exec.jobs" -> Metric(jobs.count(_.tag == "exec"), "count"),
      "exec.shuffle_bytes" -> Metric(tasks.map(_.shuffleBytes).sum.toDouble, "B"),
      "exec.spill_bytes" -> Metric(tasks.map(_.spillBytes).sum.toDouble, "B"),
      "jvm.gc_ms" -> Metric((m1.gcMs - m0.gcMs).toDouble, "ms"),
      "jvm.peak_rss_mb" -> Metric(rssMb, "MB")) ++
      Spec.unusedLayers("stream.", "ops.", "load.")

    val spans = if (!ctx.traced) Nil else ok.flatMap { q =>
      Seq(Span("query", q.name, q.startMs, q.endMs, None),
        Span("build", q.name, q.startMs, q.builtMs, Some("query")),
        Span("analysis", q.name, q.builtMs, q.analyzedMs, Some("query")),
        Span("optimize", q.name, q.analyzedMs, q.optimizedMs, Some("query")),
        Span("planning", q.name, q.optimizedMs, q.plannedMs, Some("query")),
        Span("exec", q.name, q.plannedMs, q.endMs, Some("query")))
    }
    Main.stop(spark)
    RunResult(wrong.isEmpty && failed == 0, names.size.toLong, failed.toLong, e2e, layers,
      Map("queries" -> names, "pass_s" -> passMs / 1000.0, "setup_s_all" -> setupTimes,
        "latency_tail_percentile" -> latTail.percentile,
        "latency_tail_samples" -> latTail.samples,
        "read_latency_p50_ms" -> Stats.p50or0(read),
        "read_latency_tail_ms" -> readTail.value,
        "read_tail_percentile" -> readTail.percentile,
        "read_tail_samples" -> readTail.samples,
        "phase_sum_max_gap_ms" -> (if (gapMs.isEmpty) 0.0 else gapMs.max),
        "per_query_ms" -> ok.map(q => q.name -> Map("wall" -> q.wallMs,
          "build" -> (q.builtMs - q.startMs), "analysis" -> (q.analyzedMs - q.builtMs),
          "optimize" -> (q.optimizedMs - q.analyzedMs),
          "planning" -> (q.plannedMs - q.optimizedMs), "exec" -> (q.endMs - q.plannedMs)))
          .toMap,
        "wrong_counts" -> wrong), spans)
  }
}
