package perfbench

/** The benchmark's constants: workload properties and the per-layer
  * metric names. `perfbench/spec.json` records the same values (a test
  * keeps the two in step). */
object Spec {

  /** Dirty-input mix shared by both streams. The shares are chosen, not
    * measured (no source gives the producer's real mix): each is large
    * enough that every 100-event page exercises its filter branch, and
    * kept polls stay about four fifths of the input. The airline and
    * airport counts follow the reference feed's scale (tens of airlines,
    * hundreds of airports); a tenth of them carry no IATA code, so both
    * dim upsert paths run every epoch. */
  private def stream(rate: Double, updateShare: Double, drainEvents: Int) = StreamProps(
    rateEventsPerS = rate,
    pageEvents = 100, // the reference producer's 100-record poll
    readEveryMs = 1000,
    readPhaseMs = 3000,
    updateShare = updateShare,
    droppedStatusShare = 0.10,
    staleShare = 0.04,
    nullKeyShare = 0.02,
    junkTsShare = 0.04,
    iataNullShare = 0.10,
    airlines = 40,
    airports = 300,
    drainEvents = drainEvents,
    drains = 1)

  /** Each stream's fixed rate is about half its drain-phase throughput
    * measured on four cores (`ingest` 19 600 events/s, `warehouse`
    * 1 490 events/s), so the fixed-rate phase runs below saturation. The
    * update share is chosen: `warehouse` models re-polling, so most
    * records move a known flight along and the fact takes latest-wins
    * updates while it grows; `ingest` does not depend on it. */
  val Ingest: StreamProps = stream(rate = 10000, updateShare = 0.5, drainEvents = 30000)
  val Warehouse: StreamProps = stream(rate = 750, updateShare = 0.7, drainEvents = 8000)

  def props(workload: String): StreamProps = workload match {
    case "ingest" => Ingest
    case "warehouse" => Warehouse
  }

  def propsJson(p: StreamProps): Map[String, Any] = Map(
    "rate_events_per_s" -> p.rateEventsPerS, "page_events" -> p.pageEvents,
    "page_every_ms" -> p.pageMs, "read_every_ms" -> p.readEveryMs,
    "read_phase_ms" -> p.readPhaseMs,
    "update_share" -> p.updateShare, "dropped_status_share" -> p.droppedStatusShare,
    "stale_share" -> p.staleShare, "null_key_share" -> p.nullKeyShare,
    "junk_ts_share" -> p.junkTsShare, "iata_null_share" -> p.iataNullShare,
    "airlines" -> p.airlines, "airports" -> p.airports,
    "drain_events" -> p.drainEvents, "drains" -> p.drains)

  /** `query_suite` runs every [[SuiteStride]]-th query of the registry in
    * name order: a whole pass of all queries takes minutes on four cores,
    * far past one run's budget. */
  val SuiteStride = 16

  def suiteQueries(all: Iterable[String]): Vector[String] =
    all.toVector.sorted.zipWithIndex.collect { case (q, i) if i % SuiteStride == 0 => q }

  /** Queries outside the measured slice that warm each set-up. */
  val SuiteWarmup: Seq[String] = Seq("q04_status_filter", "q09_star_revenue")

  /** Every per-layer metric and its unit. A layer a workload does not
    * exercise reports 0. */
  val PerLayer: Seq[(String, String)] = Seq(
    "stream.epochs" -> "count", "stream.rows_per_epoch_p50" -> "rows",
    "stream.trigger_ms_p50" -> "ms", "stream.trigger_ms_p99" -> "ms",
    "stream.query_planning_ms_p50" -> "ms", "stream.add_batch_ms_p50" -> "ms",
    "stream.add_batch_ms_p99" -> "ms", "stream.offsets_ms_p50" -> "ms",
    "stream.idle_share" -> "ratio", "stream.keep_ratio" -> "ratio",
    "stream.staging_write_ms_p50" -> "ms",
    "ops.epoch_jobs_p50" -> "count", "ops.cutoff_ms_p50" -> "ms",
    "ops.write_dims_ms_p50" -> "ms", "ops.write_fact_ms_p50" -> "ms",
    "ops.write_fact_ms_first_fifth" -> "ms", "ops.write_fact_ms_last_fifth" -> "ms",
    "ops.bytes_written_per_event" -> "B/event", "ops.fact_rows" -> "rows",
    "ops.read_latency_p50_ms" -> "ms", "ops.read_build_ms_p50" -> "ms",
    "ops.read_exec_ms_p50" -> "ms",
    "entry.build_ms" -> "ms", "entry.build_jobs" -> "count",
    "entry.build_share" -> "ratio",
    "plans.analysis_ms" -> "ms", "plans.optimize_ms" -> "ms",
    "plans.planning_ms" -> "ms",
    "exec.wall_ms" -> "ms", "exec.task_ms" -> "ms", "exec.task_over_wall" -> "ratio",
    "exec.jobs" -> "count", "exec.shuffle_bytes" -> "B", "exec.spill_bytes" -> "B",
    "load.lag_ms_tail" -> "ms", "load.backlog_max_events" -> "events",
    "jvm.gc_ms" -> "ms", "jvm.peak_rss_mb" -> "MB")

  def unusedLayers(prefixes: String*): Map[String, Metric] =
    PerLayer.collect { case (n, u) if prefixes.exists(n.startsWith) => n -> Metric(0.0, u) }.toMap
}
