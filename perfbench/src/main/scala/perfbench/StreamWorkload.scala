package perfbench

import java.util.concurrent.locks.LockSupport

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery

import graft.ops.LoadCycle
import graft.stream.{FlightStream, WarehouseSink}

/** A sent poll page: its source offset, scheduled and actual send times
  * (wall-clock ms) and size. */
case class PageRec(offset: Long, schedMs: Double, sentMs: Double, events: Int)

/** A scheduled export read: scheduled time, start, end of the program
  * call that builds the read's DataFrame, end of its collect. */
case class ReadRec(id: Int, schedMs: Double, startMs: Double, builtMs: Double,
    endMs: Double)

/** The `ingest` and `warehouse` workloads: an open-loop stream of poll
  * pages into `FlightStream.pipeline`, then either the staging sink
  * (`ingest`) or the warehouse sink (`warehouse`), with a reader thread
  * exporting new rows on a fixed schedule.
  *
  * A run is: set-up (session + a small stream through the same sink,
  * [[Main.Setups]] times), the fixed-rate phase
  * (`--seconds` long; the latency metrics), the drain phase (a backlog
  * added at once, [[StreamProps.drains]] times; throughput), the read
  * phase (one more backlog, with the reader exporting beside its epoch
  * for [[StreamProps.readPhaseMs]]), then the output checks, which are
  * not timed. */
final class StreamWorkload(ctx: RunCtx) {
  private val warehouse = ctx.workload == "warehouse"
  private val props = Spec.props(ctx.workload)
  private val anchor = System.currentTimeMillis() / 1000 / 3600 * 3600
  private val dir = s"${ctx.runDir}/stream"
  private val stagingDir = s"$dir/staging"
  private val warehouseDir = s"$dir/warehouse"

  /** The staging table's schema: the pipeline's output schema, so the
    * reader skips footer inference like a catalog-backed reader would. */
  @volatile private var stagingSchema: org.apache.spark.sql.types.StructType = _

  private def start(spark: SparkSession, ms: MemoryStream[String], base: String)
      : (StreamingQuery, Option[WarehouseSink]) = {
    val staged = FlightStream.pipeline(ms.toDF().toDF("json"), current_timestamp())
    stagingSchema = staged.schema
    if (warehouse) {
      val sink = new WarehouseSink(spark, s"$base/warehouse")
      (sink.start(staged, s"$base/checkpoint"), Some(sink))
    } else
      (FlightStream.startStagingSink(staged, s"$base/staging", s"$base/checkpoint"), None)
  }

  /** The reader's export: rows newer than the high-watermark, collected.
    * Returns the new watermark (epoch micros) and the build time. Before
    * the staging sink's first commit creates its directory there is
    * nothing to export, and the read is an empty one. */
  private def exportRead(spark: SparkSession, sink: Option[WarehouseSink],
      base: String, hwm: Long): (Long, Double) =
    if (sink.isEmpty && !pathExists(spark, s"$base/staging")) (hwm, 0.0)
    else {
      val t0 = Main.nowMs()
      val (df, tsCol) = sink match {
        case Some(s) => (LoadCycle.curatedView(s.warehouse), "last_updated")
        case None => (spark.read.schema(stagingSchema).parquet(s"$base/staging"), "ingest_time")
      }
      val fresh = df.filter(col(tsCol) > timestamp_micros(lit(hwm)))
      val built = Main.nowMs() - t0
      val rows = fresh.select(unix_micros(col(tsCol))).collect()
      (if (rows.isEmpty) hwm else math.max(hwm, rows.map(_.getLong(0)).max), built)
    }

  private def warm(spark: SparkSession, i: Int): Unit = {
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    import spark.implicits._
    val base = s"${ctx.runDir}/warm$i"
    val ms = MemoryStream[String](ctx.cpus)
    val (q, sink) = start(spark, ms, base)
    val g = new Gen(ctx.seed + 7919L * i, props, anchor)
    try {
      ms.addData(g.page(props.pageEvents).map(_.json).toSeq)
      q.processAllAvailable()
      exportRead(spark, sink, base, 0L)
    } finally q.stop()
  }

  private def sleepUntil(ns: Long): Unit = {
    var d = ns - System.nanoTime()
    while (d > 0) { LockSupport.parkNanos(d); d = ns - System.nanoTime() }
  }

  def run(): RunResult = {
    val began = Main.nowMs()
    val timeline = ArrayBuffer.empty[(String, Double)]
    def stamp(what: String): Unit = timeline += what -> (Main.nowMs() - began) / 1000.0
    val (spark, setupS, setupTimes) = Main.setUp(ctx)(warm)
    stamp("setup")
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    import spark.implicits._
    val rec = new Recorder(spark, ctx.traced)
    // one source partition per core, like a topic with that many partitions
    val ms = MemoryStream[String](ctx.cpus)
    if (ctx.traced) rec.tag("stream") // inherited by the stream's thread
    val (query, sink) = start(spark, ms, dir)
    if (ctx.traced) rec.tag("")
    val gen = new Gen(ctx.seed, props, anchor)
    val sent = ArrayBuffer.empty[(Long, Int)] // (offset, events) of every addData

    def send(events: Array[Event]): Long = {
      val off = ms.addData(events.map(_.json).toSeq).json.trim.toLong
      sent.synchronized(sent += ((off, events.length)))
      off
    }
    def alive: Boolean = query.isActive && rec.streamError.isEmpty
    def awaitCommit(off: Long, timeoutMs: Long): Boolean = {
      val deadline = System.nanoTime() + timeoutMs * 1000000L
      while (rec.committedOffset < off && alive && System.nanoTime() < deadline)
        LockSupport.parkNanos(200000L)
      rec.committedOffset >= off
    }


    // ---- fixed-rate phase: the latency metrics -----------------------------
    val nPages = math.max(1, math.round(ctx.seconds * 1000.0 / props.pageMs).toInt)
    val pageNs = props.pageMs * 1e6
    val pages = new Array[PageRec](nPages)
    val m0 = rec.mark()
    val t0Ns = System.nanoTime()
    val t0Ms = System.currentTimeMillis().toDouble
    def wallMs(ns: Long): Double = t0Ms + (ns - t0Ns) / 1e6
    val generator = new Thread(() => {
      var k = 0
      while (k < nPages && alive) {
        val page = gen.page(props.pageEvents)
        val sched = t0Ns + (k * pageNs).toLong
        sleepUntil(sched)
        val sentNs = System.nanoTime()
        val off = send(page)
        pages(k) = PageRec(off, wallMs(sched), wallMs(sentNs), page.length)
        k += 1
      }
    }, "perfbench-generator")
    generator.start(); generator.join()
    val lastPage = pages.lastOption.flatMap(Option(_)).map(_.offset).getOrElse(-1L)
    stamp("sent")
    awaitCommit(lastPage, 120000L)
    val m1 = rec.mark()
    stamp("committed")

    // ---- drain phase: throughput -------------------------------------------
    def drain(events: Int): Option[Double] =
      if (!alive) None
      else {
        val backlog = gen.page(events)
        val added = System.currentTimeMillis().toDouble
        val off = send(backlog)
        if (!awaitCommit(off, 120000L)) None
        else {
          rec.drain()
          val done = rec.slice(rec.epochs, 0, rec.epochs.size)
            .filter(_.endOffset >= off).map(_.endMs).min
          Some(events / ((done - added) / 1000.0))
        }
      }
    val drains = (1 to props.drains).flatMap(_ => drain(props.drainEvents))
    stamp("drained")

    // ---- read phase: the export reader beside one more drain ---------------
    // A read's jobs share the cores with an epoch's, and where they land in
    // it set the epoch's time: with a read every second beside the timed
    // pages, the latency median moved by a fifth between runs. So the
    // reads run after the timed phase, beside the epoch that loads one
    // more backlog (readPhaseMs of events at the fixed rate) into the
    // warehouse the timed phase built.
    val readBuf = ArrayBuffer.empty[ReadRec]
    var readFailures = 0
    val r0Ns = System.nanoTime()
    val r0Ms = System.currentTimeMillis().toDouble
    def readWallMs(ns: Long): Double = r0Ms + (ns - r0Ns) / 1e6
    val reader = new Thread(() => {
      if (ctx.traced) spark.sparkContext.setLocalProperty(Recorder.TagKey, "read")
      var hwm = 0L
      for (j <- 0 until (props.readPhaseMs / props.readEveryMs).toInt if alive) {
        val sched = r0Ns + j * props.readEveryMs * 1000000L
        sleepUntil(sched)
        val s = System.nanoTime()
        Main.attempt(exportRead(spark, sink, dir, hwm)) match {
          case Right((h, builtMs)) =>
            hwm = h
            val e = System.nanoTime()
            readBuf += ReadRec(j, readWallMs(sched), readWallMs(s), readWallMs(s) + builtMs,
              readWallMs(e))
          case Left(err) =>
            System.err.println(s"[perfbench] read $j failed: $err")
            readFailures += 1
        }
      }
    }, "perfbench-reader")
    reader.start()
    drain(math.round(props.readPhaseMs * props.rateEventsPerS / 1000).toInt)
    reader.join()
    val reads = readBuf.toVector
    rec.drain()
    stamp("read")
    val rssMb = Recorder.peakRssMb()
    val finalCommitted = rec.committedOffset
    val streamError = rec.streamError
    query.stop()

    // ---- accounting --------------------------------------------------------
    val allEpochs = rec.slice(rec.epochs, 0, rec.epochs.size)
    val sentAll = sent.synchronized(sent.toVector)
    val totalEvents = sentAll.map(_._2.toLong).sum
    val lostEvents = sentAll.filter(_._1 > finalCommitted).map(_._2.toLong).sum
    val failedEpochs = if (streamError.isDefined) 1 else 0
    val attempted = totalEvents + allEpochs.size + failedEpochs + reads.size + readFailures
    val failed = lostEvents + failedEpochs + readFailures
    streamError.foreach(e => System.err.println(s"[perfbench] stream failed: $e"))

    // ---- output checks (untimed) -----------------------------------------
    val check = Main.attempt(
      if (warehouse) checkWarehouse(spark, sink.get, totalEvents)
      else checkIngest(spark, totalEvents))
    val (checkOk, checkDetail, keepRatio, factRows) = check match {
      case Right(c) => c
      case Left(e) =>
        System.err.println(s"[perfbench] output check failed: $e")
        (false, Map[String, Any]("error" -> e.toString), 0.0, 0L)
    }
    if (!checkOk) System.err.println(s"[perfbench] output check failed: $checkDetail")
    val correct = checkOk && failed == 0
    stamp("checked")

    // ---- end-to-end metrics --------------------------------------------------
    val phasePages = pages.toVector.filter(_ != null)
    val byOffset = allEpochs.sortBy(_.endOffset)
    def commitMs(off: Long): Option[Double] =
      byOffset.find(_.endOffset >= off).map(_.endMs.toDouble)
    val latencies = phasePages.flatMap(p => commitMs(p.offset).map(_ - p.schedMs))
    val readLat = reads.map(r => r.endMs - r.schedMs)
    val latTail = tailOr0(latencies)
    val readTail = tailOr0(readLat)
    val e2e = Map(
      "setup_s" -> Metric(setupS, "s"),
      "throughput_per_s" -> Metric(if (drains.isEmpty) 0.0 else Stats.median(drains), "1/s"),
      "latency_p50_ms" -> Metric(Stats.p50or0(latencies), "ms"),
      "latency_tail_ms" -> Metric(latTail.value, "ms"))

    // ---- per-layer metrics (fixed-rate phase) ---------------------------------
    val ep = rec.slice(rec.epochs, m0.epochs, m1.epochs)
    val acts = rec.slice(rec.actions, m0.actions, m1.actions)
    val jobs = rec.slice(rec.jobs, m0.jobs, m1.jobs)
    val tasks = rec.slice(rec.tasks, m0.tasks, m1.tasks)
    def dur(k: String) = ep.map(_.durations.getOrElse(k, 0L).toDouble)
    val offsetsMs = ep.map(e => Seq("latestOffset", "getBatch", "walCommit", "commitOffsets")
      .map(e.durations.getOrElse(_, 0L)).sum.toDouble)
    val phaseEnd = t0Ms + nPages * props.pageMs
    val busy = covered(ep.map(e => (e.startMs.toDouble, e.endMs.toDouble)), t0Ms, phaseEnd)
    def writes(suffix: String) = acts.filter(_.path.exists(_.endsWith(suffix))).map(_.ms)
    val dimWrites = Seq("/dim_airline", "/dim_airport", "/dim_route").map(writes)
    val perEpochDims = (0 until dimWrites.map(_.size).min).map(i => dimWrites.map(_(i)).sum)
    val factWrites = writes("/fact")
    val fifth = math.max(1, factWrites.size / 5)
    val epochIds = ep.map(_.batchId).toSet
    val jobsPerEpoch = jobs.flatMap(_.batchId).filter(epochIds).groupBy(identity)
      .values.map(_.size.toDouble).toVector
    val wallPhase = (m1.wallMs - m0.wallMs).toDouble
    val taskMs = tasks.map(_.runMs).sum.toDouble
    val lags = phasePages.map(p => p.sentMs - p.schedMs)
    val whBytes = if (warehouse) dirBytes(spark, warehouseDir) else 0L
    val layers = Map(
      "stream.epochs" -> Metric(ep.size, "count"),
      "stream.rows_per_epoch_p50" ->
        Metric(Stats.p50or0(eventsPerEpoch(ep, allEpochs, sentAll)), "rows"),
      "stream.trigger_ms_p50" -> Metric(Stats.p50or0(dur("triggerExecution")), "ms"),
      "stream.trigger_ms_p99" -> Metric(Stats.p99or0(dur("triggerExecution")), "ms"),
      "stream.query_planning_ms_p50" -> Metric(Stats.p50or0(dur("queryPlanning")), "ms"),
      "stream.add_batch_ms_p50" -> Metric(Stats.p50or0(dur("addBatch")), "ms"),
      "stream.add_batch_ms_p99" -> Metric(Stats.p99or0(dur("addBatch")), "ms"),
      "stream.offsets_ms_p50" -> Metric(Stats.p50or0(offsetsMs), "ms"),
      "stream.idle_share" -> Metric(1.0 - busy / (phaseEnd - t0Ms), "ratio"),
      "stream.keep_ratio" -> Metric(keepRatio, "ratio"),
      "stream.staging_write_ms_p50" -> Metric(Stats.p50or0(writes("/staging")), "ms"),
      "ops.epoch_jobs_p50" -> Metric(Stats.p50or0(jobsPerEpoch), "count"),
      "ops.cutoff_ms_p50" -> Metric(Stats.p50or0(acts.filter(_.func == "head").map(_.ms)), "ms"),
      "ops.write_dims_ms_p50" -> Metric(Stats.p50or0(perEpochDims), "ms"),
      "ops.write_fact_ms_p50" -> Metric(Stats.p50or0(factWrites), "ms"),
      "ops.write_fact_ms_first_fifth" -> Metric(Stats.p50or0(factWrites.take(fifth)), "ms"),
      "ops.write_fact_ms_last_fifth" -> Metric(Stats.p50or0(factWrites.takeRight(fifth)), "ms"),
      "ops.bytes_written_per_event" -> Metric(
        if (warehouse) whBytes / math.max(keepRatio * totalEvents, 1.0) else 0.0,
        "B/event"),
      "ops.fact_rows" -> Metric(factRows.toDouble, "rows"),
      "ops.read_latency_p50_ms" -> Metric(
        if (warehouse) Stats.p50or0(readLat) else 0.0, "ms"),
      "ops.read_build_ms_p50" -> Metric(
        if (warehouse) Stats.p50or0(reads.map(r => r.builtMs - r.startMs)) else 0.0, "ms"),
      "ops.read_exec_ms_p50" -> Metric(
        if (warehouse) Stats.p50or0(reads.map(r => r.endMs - r.builtMs)) else 0.0, "ms"),
      "exec.wall_ms" -> Metric(wallPhase, "ms"),
      "exec.task_ms" -> Metric(taskMs, "ms"),
      "exec.task_over_wall" -> Metric(taskMs / math.max(wallPhase, 1.0), "ratio"),
      "exec.jobs" -> Metric(jobs.size, "count"),
      "exec.shuffle_bytes" -> Metric(tasks.map(_.shuffleBytes).sum.toDouble, "B"),
      "exec.spill_bytes" -> Metric(tasks.map(_.spillBytes).sum.toDouble, "B"),
      "load.lag_ms_tail" -> Metric(tailOr0(lags).value, "ms"),
      "load.backlog_max_events" -> Metric(backlogMax(phasePages, allEpochs).toDouble, "events"),
      "jvm.gc_ms" -> Metric((m1.gcMs - m0.gcMs).toDouble, "ms"),
      "jvm.peak_rss_mb" -> Metric(rssMb, "MB")) ++ Spec.unusedLayers(
      "entry.", "plans.")

    val spans = if (!ctx.traced) Nil else epochSpans(ep) ++ reads.flatMap(r => Seq(
      Span("read", s"read-${r.id}", r.schedMs, r.endMs, None),
      Span("wait", s"read-${r.id}", r.schedMs, r.startMs, Some("read")),
      Span("build", s"read-${r.id}", r.startMs, r.builtMs, Some("read")),
      Span("exec", s"read-${r.id}", r.builtMs, r.endMs, Some("read"))))

    Main.stop(spark)
    RunResult(correct, attempted, failed, e2e, layers,
      Map("props" -> Spec.propsJson(props), "setup_s_all" -> setupTimes,
        "pages" -> nPages, "reads" -> reads.size, "drain_throughputs" -> drains,
        "latency_tail_percentile" -> latTail.percentile,
        "latency_tail_samples" -> latTail.samples,
        "read_latency_p50_ms" -> Stats.p50or0(readLat),
        "read_latency_tail_ms" -> readTail.value,
        "read_tail_percentile" -> readTail.percentile,
        "read_tail_samples" -> readTail.samples,
        "events_total" -> totalEvents, "epochs_total" -> allEpochs.size,
        "generated_by_kind" -> gen.byKind.map { case (k, v) => k.toString -> v }.toMap,
        "generated_updates" -> gen.updates,
        "check" -> checkDetail, "timeline_s" -> timeline.toMap), spans)
  }

  /** Events each epoch committed: those sent at offsets after the
    * previous epoch's end, up to its own. (The progress record's
    * numInputRows counts every scan of the source, so a sink that reads
    * its batch several times inflates it.) */
  private def eventsPerEpoch(ep: Vector[Epoch], all: Vector[Epoch],
      sent: Vector[(Long, Int)]): Vector[Double] = {
    val sorted = all.sortBy(_.endOffset)
    val prevEnd = sorted.map(_.batchId).zip(-1L +: sorted.map(_.endOffset)).toMap
    ep.map { e =>
      sent.filter { case (o, _) => o > prevEnd(e.batchId) && o <= e.endOffset }
        .map(_._2).sum.toDouble
    }
  }

  private def tailOr0(xs: Seq[Double]): Stats.Tail =
    if (xs.isEmpty) Stats.Tail(0.0, 0.0, 0) else Stats.tail(xs)

  /** Total length of the union of intervals, clipped to [lo, hi]. */
  private def covered(iv: Seq[(Double, Double)], lo: Double, hi: Double): Double = {
    var total = 0.0
    var end = lo
    for ((s0, e0) <- iv.sortBy(_._1)) {
      val s = math.max(s0, end)
      val e = math.min(e0, hi)
      if (e > s) { total += e - s; end = e }
    }
    total
  }

  /** Most events sent but not yet committed, seen at any page send. */
  private def backlogMax(pages: Vector[PageRec], epochs: Vector[Epoch]): Long = {
    val byEnd = epochs.sortBy(_.endMs)
    pages.zipWithIndex.map { case (p, k) =>
      val committed = byEnd.takeWhile(_.endMs <= p.sentMs).map(_.endOffset)
        .foldLeft(-1L)(math.max)
      val pending = pages.take(k + 1).filter(_.offset > committed).map(_.events.toLong).sum
      pending
    }.foldLeft(0L)(math.max)
  }

  private def epochSpans(ep: Vector[Epoch]): Vector[Span] = ep.flatMap { e =>
    val id = s"epoch-${e.batchId}"
    var t = e.startMs.toDouble
    Span("epoch", id, e.startMs, e.endMs, None) +:
      Seq("latestOffset", "walCommit", "getBatch", "queryPlanning", "addBatch",
          "commitOffsets").flatMap { k =>
        e.durations.get(k).map { d =>
          val s = Span(k, id, t, t + d, Some("epoch")); t += d; s
        }
      }
  }

  private def pathExists(spark: SparkSession, path: String): Boolean = {
    val p = new org.apache.hadoop.fs.Path(path)
    p.getFileSystem(spark.sparkContext.hadoopConfiguration).exists(p)
  }

  private def dirBytes(spark: SparkSession, path: String): Long = {
    val p = new org.apache.hadoop.fs.Path(path)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (fs.exists(p)) fs.getContentSummary(p).getLength else 0L
  }

  /** Staged-row signature column, the program-side twin of
    * [[Gen.signature]]. */
  private def signature(df: DataFrame): Column = {
    def secs(c: String) = coalesce(col(c).cast("long").cast("string"), lit("null"))
    concat_ws("|", col("flight_key"), col("status"), secs("ingest_time"),
      secs("dep_scheduled"), secs("dep_estimated"), secs("dep_actual"),
      secs("arr_scheduled"), secs("arr_estimated"), secs("arr_actual"))
  }

  /** Replays the run's events from the seed (same anchor, same order). */
  private def replay(total: Long): Iterator[Event] = {
    val g = new Gen(ctx.seed, props, anchor)
    Iterator.fill(total.toInt)(g.next())
  }

  /** `ingest`: the staged rows equal, key for key, the generator's kept
    * events. Returns (ok, detail, keep ratio, fact rows). */
  private def checkIngest(spark: SparkSession, total: Long)
      : (Boolean, Map[String, Any], Double, Long) = {
    import spark.implicits._
    val expected = replay(total).filter(_.kept).map(_.sig).toVector.sorted
    val staged = spark.read.parquet(stagingDir)
    val got = staged.select(signature(staged)).as[String].collect().toVector.sorted
    val ok = got == expected
    (ok, Map("staged_rows" -> got.size, "expected_rows" -> expected.size,
      "mismatches" -> (if (ok) Nil else got.diff(expected).take(3) ++
        expected.diff(got).take(3))), got.size.toDouble / total, 0L)
  }

  /** `warehouse`: the fact holds the generator's latest kept event per
    * key, the dims hold the expected codes, and the fact equals one
    * batch `LoadCycle.run` over every staged row. */
  private def checkWarehouse(spark: SparkSession, sink: WarehouseSink, total: Long)
      : (Boolean, Map[String, Any], Double, Long) = {
    import spark.implicits._
    val events = replay(total).toVector
    val g = new Gen(ctx.seed, props, anchor) // code tables only
    val kept = events.filter(_.kept)
    val latest = kept.map(e => e.key -> e.sig).toMap
    val wh = sink.warehouse
    val fact = wh.fact
    val factSigs = fact.select(signature(fact)).as[String].collect().toVector.sorted
    val factOk = factSigs == latest.values.toVector.sorted
    def codes(df: DataFrame) = df.select(col("iata"), col("icao")).as[(String, String)]
      .collect().toSet
    val airlinesOk = codes(wh.dimAirline) == kept.map(e => g.airlineCodes(e.airline)).toSet
    val airportsOk = codes(wh.dimAirport) ==
      kept.flatMap(e => Seq(g.airportCodes(e.depAirport), g.airportCodes(e.arrAirport))).toSet
    val batchStaged = FlightStream.pipeline(
      events.map(_.json).toDS().toDF("json"), current_timestamp()).cache()
    val stagedRows = batchStaged.count()
    val cutoff = batchStaged.agg(max(col("ingest_time"))).first().getTimestamp(0)
    // dims persisted per LoadCycle.run's contract for one-shot callers
    val persisted = scala.collection.mutable.Buffer.empty[DataFrame]
    val batch = LoadCycle.run(LoadCycle.emptyWarehouse(batchStaged), lit(cutoff),
      materialize = { df => persisted += df.persist(); df }).fact
    // every column but last_updated (the streamed fact stamps each
    // epoch's own cutoff there), compared row for row
    def rows(df: DataFrame): Vector[String] = {
      val cols = df.columns.filter(_ != "last_updated").sorted
      df.select(cols.map(c => coalesce(col(c).cast("string"), lit("null"))): _*)
        .collect().map(_.mkString("|")).toVector.sorted
    }
    val (batchRows, streamRows) = (rows(batch), rows(fact))
    val batchDiff = batchRows.diff(streamRows).size + streamRows.diff(batchRows).size
    (persisted :+ batchStaged).foreach(_.unpersist())
    val ok = factOk && airlinesOk && airportsOk && batchDiff == 0L &&
      stagedRows == kept.size
    (ok, Map("fact_rows" -> factSigs.size, "expected_fact_rows" -> latest.size,
      "fact_matches_generator" -> factOk, "dim_airline_ok" -> airlinesOk,
      "dim_airport_ok" -> airportsOk, "fact_vs_batch_load_cycle_diff_rows" -> batchDiff,
      "staged_rows" -> stagedRows, "expected_staged_rows" -> kept.size),
      stagedRows.toDouble / total, factSigs.size.toLong)
  }
}
