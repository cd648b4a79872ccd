package perfbench

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicLong

import scala.jdk.CollectionConverters._
import scala.util.Try

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerTaskEnd}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.datasources.InsertIntoHadoopFsRelationCommand
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.streaming.StreamingQueryListener.{QueryProgressEvent,
  QueryStartedEvent, QueryTerminatedEvent}
import org.apache.spark.sql.util.QueryExecutionListener

/** One completed micro-batch, from the engine's own progress record.
  * `endMs` is the trigger's start plus its `triggerExecution` time, on
  * the same wall clock as `System.currentTimeMillis`. */
case class Epoch(batchId: Long, startMs: Long, endMs: Long, endOffset: Long,
    durations: Map[String, Long])

/** A finished Dataset action seen by the QueryExecutionListener:
  * function name, output path for file writes, and its duration. */
case class Action(func: String, path: Option[String], ms: Double)

/** A job start: its streaming batch id (set by the micro-batch engine on
  * the jobs it runs) and the benchmark's phase tag. */
case class Job(batchId: Option[Long], tag: String)

/** One finished task: its job's phase tag, run time, shuffle write and
  * spill. */
case class TaskEnd(tag: String, runMs: Long, shuffleBytes: Long, spillBytes: Long)

/** Listeners registered from outside the program, with Spark's public
  * listener APIs. A timed run registers only the progress listener,
  * which epoch completion needs; a traced run adds the query-execution
  * and scheduler listeners that split time across layers. */
final class Recorder(spark: SparkSession, traced: Boolean) {
  val epochs = new ConcurrentLinkedQueue[Epoch]()
  val actions = new ConcurrentLinkedQueue[Action]()
  val jobs = new ConcurrentLinkedQueue[Job]()
  val tasks = new ConcurrentLinkedQueue[TaskEnd]()
  private val committed = new AtomicLong(-1L)
  @volatile var streamError: Option[String] = None

  /** Highest source offset committed by a completed epoch. */
  def committedOffset: Long = committed.get()

  /** The phase tag jobs started from this thread carry. */
  def tag(t: String): Unit = spark.sparkContext.setLocalProperty(Recorder.TagKey, t)

  private val progress = new StreamingQueryListener {
    override def onQueryStarted(e: QueryStartedEvent): Unit = ()
    override def onQueryTerminated(e: QueryTerminatedEvent): Unit =
      e.exception.foreach(x => streamError = Some(x))
    override def onQueryProgress(e: QueryProgressEvent): Unit = {
      val p = e.progress
      val d = p.durationMs.asScala.map { case (k, v) => k -> v.longValue }.toMap
      // progress without addBatch is the engine's idle heartbeat
      if (d.contains("addBatch") && p.sources.nonEmpty) {
        val start = java.time.Instant.parse(p.timestamp).toEpochMilli
        val end = Try(p.sources.head.endOffset.trim.toLong).getOrElse(-1L)
        epochs.add(Epoch(p.batchId, start, start + d.getOrElse("triggerExecution", 0L),
          end, d))
        committed.accumulateAndGet(end, math.max)
      }
    }
  }

  private val execution = new QueryExecutionListener {
    override def onSuccess(func: String, qe: QueryExecution, ns: Long): Unit =
      actions.add(Action(func, Recorder.outputPath(qe), ns / 1e6))
    override def onFailure(func: String, qe: QueryExecution, e: Exception): Unit = ()
  }

  private val scheduler = new SparkListener {
    private val stageTag = new java.util.concurrent.ConcurrentHashMap[Int, String]()
    override def onJobStart(j: SparkListenerJobStart): Unit = {
      val props = Option(j.properties)
      val tag = props.flatMap(p => Option(p.getProperty(Recorder.TagKey))).getOrElse("")
      val batch = props.flatMap(p => Option(p.getProperty("streaming.sql.batchId")))
        .flatMap(s => Try(s.toLong).toOption)
      j.stageIds.foreach(s => stageTag.put(s, tag))
      jobs.add(Job(batch, tag))
    }
    override def onTaskEnd(t: SparkListenerTaskEnd): Unit = Option(t.taskMetrics).foreach { m =>
      tasks.add(TaskEnd(Option(stageTag.get(t.stageId)).getOrElse(""),
        m.executorRunTime, m.shuffleWriteMetrics.bytesWritten,
        m.memoryBytesSpilled + m.diskBytesSpilled))
    }
  }

  spark.streams.addListener(progress)
  if (traced) {
    spark.listenerManager.register(execution)
    spark.sparkContext.addSparkListener(scheduler)
  }

  /** Wait until every listener has seen every event posted so far. */
  def drain(): Unit = org.apache.spark.PerfbenchBridge.drainListeners(spark.sparkContext)

  /** Event counts so far; records between two marks belong to a phase. */
  case class Mark(epochs: Int, actions: Int, jobs: Int, tasks: Int, gcMs: Long, wallMs: Long)

  def mark(): Mark = {
    drain()
    Mark(epochs.size, actions.size, jobs.size, tasks.size, Recorder.gcMs(),
      System.currentTimeMillis())
  }

  def slice[T](q: ConcurrentLinkedQueue[T], from: Int, to: Int): Vector[T] =
    q.iterator.asScala.slice(from, to).toVector
}

object Recorder {
  val TagKey = "perfbench.phase"

  def gcMs(): Long = java.lang.management.ManagementFactory
    .getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime.max(0L)).sum

  /** Peak resident set of this process in MB (VmHWM). */
  def peakRssMb(): Double = {
    val src = scala.io.Source.fromFile("/proc/self/status")
    try src.getLines().collectFirst {
      case l if l.startsWith("VmHWM:") =>
        l.split("\\s+")(1).toDouble / 1024.0
    }.getOrElse(0.0)
    finally src.close()
  }

  /** Output path of a file-writing action, if the action wrote files. */
  def outputPath(qe: QueryExecution): Option[String] = {
    def find(p: LogicalPlan): Option[String] = p.collectFirst {
      case c: InsertIntoHadoopFsRelationCommand => c.outputPath.toString
    }
    find(qe.logical).orElse(Try(qe.commandExecuted).toOption.flatMap(find))
  }
}
