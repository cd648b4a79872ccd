package perfbench

import java.nio.file.{Files, Paths}

import scala.util.control.NonFatal

import com.fasterxml.jackson.databind.{ObjectMapper, SerializationFeature}
import com.fasterxml.jackson.module.scala.DefaultScalaModule
import org.apache.spark.sql.SparkSession

/** A measured value and its unit. */
case class Metric(value: Double, unit: String)

/** What one run reports: the output check, the failure accounting, the
  * end-to-end and per-layer metrics, and a free-form detail record that
  * is written to the run's detail file (never to stdout). */
case class RunResult(correct: Boolean, attempted: Long, failed: Long,
    endToEnd: Map[String, Metric], perLayer: Map[String, Metric],
    detail: Map[String, Any], spans: Seq[Span])

/** One traced interval. `trace` is the epoch id, read id or query name. */
case class Span(name: String, trace: String, startMs: Double, endMs: Double,
    parent: Option[String]) {
  def ms: Double = endMs - startMs
}

/** The settings every run shares. */
case class RunCtx(workload: String, seed: Long, seconds: Int, traced: Boolean,
    cpus: Int, root: String, runDir: String) {
  def dataDir: String = s"$root/perfbench/data/sf0.01"
}

/** Entry point: `perfbench.Main --workload <ingest|warehouse|query_suite>
  * --seed <n> --seconds <s> --trace <0|1> [--cpus <n>] --root <checkout>
  * --run-dir <working dir under the checkout> --detail <file>`.
  * Prints one JSON result object as the last line of stdout. */
object Main {

  /** Setups per run; `setup_s` is their median. */
  val Setups = 3

  /** Writes the result line and the detail file, map keys sorted. */
  private val json = new ObjectMapper().registerModule(DefaultScalaModule)
    .configure(SerializationFeature.ORDER_MAP_ENTRIES_BY_KEYS, true)

  def main(args: Array[String]): Unit = {
    val a = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val ctx = RunCtx(
      workload = a("workload"),
      seed = a("seed").toLong,
      seconds = a("seconds").toInt,
      traced = a("trace") == "1",
      cpus = a.get("cpus").map(_.toInt).getOrElse(Runtime.getRuntime.availableProcessors),
      root = a.getOrElse("root", "."),
      runDir = a("run-dir"))
    require(ctx.seconds >= 1, "--seconds must be at least 1")
    Files.createDirectories(Paths.get(ctx.runDir))
    val r = ctx.workload match {
      case "ingest" | "warehouse" => new StreamWorkload(ctx).run()
      case "query_suite" => new SuiteWorkload(ctx).run()
      case w => throw new IllegalArgumentException(s"unknown workload: $w")
    }
    a.get("detail").foreach { p =>
      val metrics = Map("end_to_end" -> metricsJson(r.endToEnd),
        "per_layer" -> metricsJson(r.perLayer))
      Files.write(Paths.get(p), json.writeValueAsString(Map(
        "workload" -> ctx.workload, "seed" -> ctx.seed, "seconds" -> ctx.seconds,
        "trace" -> ctx.traced, "cpus" -> ctx.cpus, "correct" -> r.correct,
        "attempted" -> r.attempted, "failed" -> r.failed,
        "error_rate" -> r.failed.toDouble / math.max(r.attempted, 1L),
        "metrics" -> metrics, "detail" -> r.detail,
        "spans" -> selfTimes(r.spans))).getBytes("UTF-8"))
    }
    val shown = if (ctx.traced) r.perLayer else r.endToEnd
    System.out.flush()
    println(json.writeValueAsString(Map("correct" -> r.correct, "attempted" -> r.attempted,
      "failed" -> r.failed, "metrics" -> metricsJson(shown))))
    System.out.flush()
    // Spark's non-daemon threads must not keep the JVM alive
    sys.exit(0)
  }

  private def metricsJson(m: Map[String, Metric]): Map[String, Any] =
    m.map { case (k, v) => k -> Map("value" -> v.value, "unit" -> v.unit) }

  /** Spans with self time (duration minus the children's), the form the
    * trace file stores. */
  def selfTimes(spans: Seq[Span]): Seq[Map[String, Any]] = {
    val childMs = spans.filter(_.parent.isDefined)
      .groupBy(s => (s.trace, s.parent.get)).map { case (k, v) => k -> v.map(_.ms).sum }
    spans.map { s =>
      Map("name" -> s.name, "trace" -> s.trace, "start_ms" -> s.startMs,
        "end_ms" -> s.endMs, "parent" -> s.parent.orNull,
        "self_ms" -> (s.ms - childMs.getOrElse((s.trace, s.name), 0.0)))
    }
  }

  /** Spark session with the program's own bench configuration. */
  def session(ctx: RunCtx): SparkSession = SparkSession.builder()
    .master(s"local[${ctx.cpus}]")
    .config("spark.sql.shuffle.partitions", ctx.cpus.toString)
    .config("spark.ui.enabled", "false")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.sql.extensions", "graft.GraftExtensions")
    .config("spark.sql.ansi.enabled", "false")
    .config("spark.sql.legacy.parquet.nanosAsLong", "true")
    .config("spark.sql.warehouse.dir", s"${ctx.runDir}/spark-warehouse")
    .config("spark.local.dir", s"${ctx.runDir}/spark-local")
    .getOrCreate()

  def stop(spark: SparkSession): Unit = {
    spark.stop()
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
  }

  /** Creates the session and warms it [[Setups]] times, stopping all but
    * the last; returns it with the median set-up time in seconds. */
  def setUp(ctx: RunCtx)(warm: (SparkSession, Int) => Unit): (SparkSession, Double, Seq[Double]) = {
    var spark: SparkSession = null
    val times = (1 to Setups).map { i =>
      if (spark != null) stop(spark)
      val t0 = System.nanoTime()
      spark = session(ctx)
      spark.sparkContext.setLogLevel("WARN")
      warm(spark, i)
      (System.nanoTime() - t0) / 1e9
    }
    (spark, Stats.median(times), times)
  }

  def nowMs(): Double = System.nanoTime() / 1e6

  /** Runs `f`, returning its result or the non-fatal error it threw. */
  def attempt[T](f: => T): Either[Throwable, T] =
    try Right(f) catch { case NonFatal(e) => Left(e) }
}
