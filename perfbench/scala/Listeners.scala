package perfbench

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.{AtomicLong, DoubleAdder}

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.catalyst.plans.logical.{AppendData, OverwriteByExpression}
import org.apache.spark.sql.execution._
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, AQEShuffleReadExec, QueryStageExec}
import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
import org.apache.spark.sql.execution.window.WindowExec
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** Write option that names the benchmark execution a noop write belongs
  * to. The noop source ignores options, so the plan under test is the
  * same with or without it. */
object ExecTag {
  val Option = "perfbench.exec"
  /** Spark local property carrying `<exec id>:<phase>` to jobs. */
  val Property = "perfbench.span"
}

/** Rows each tagged noop write produced, read from the written plan's
  * SQL metrics after it ran. Registered on every session through
  * `spark.sql.queryExecutionListeners`, so gates that build their
  * frame on an isolated session are covered too. */
class RowsListener extends QueryExecutionListener {
  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = {
    val tag = qe.analyzed.collectFirst {
      case w: AppendData => w.writeOptions.get(ExecTag.Option)
      case w: OverwriteByExpression => w.writeOptions.get(ExecTag.Option)
    }.flatten
    tag.foreach { id =>
      val write = qe.executedPlan match {
        case c: CommandResultExec => c.commandPhysicalPlan
        case p => p
      }
      RowsListener.rows.put(id.toLong, write.children.headOption.flatMap(RowsListener.rowsOut).getOrElse(-1L))
    }
  }
  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()
}

object RowsListener {
  val rows = new ConcurrentHashMap[Long, Long]()

  /** Output cardinality of an executed plan: the nearest `numOutputRows`
    * metric reached through operators that neither add nor drop rows,
    * or whose output count follows from their input's. */
  def rowsOut(p: SparkPlan): Option[Long] = p match {
    case a: AdaptiveSparkPlanExec => rowsOut(a.executedPlan)
    case s: QueryStageExec => rowsOut(s.plan)
    case _ if p.metrics.contains("numOutputRows") => Some(p.metrics("numOutputRows").value)
    case t: TakeOrderedAndProjectExec =>
      rowsOut(t.child).map(n => math.max(0L, math.min(n, t.limit.toLong) - t.offset))
    // graft's as-of join emits every left row once
    case j: graft.plans.AsOfJoinExec => rowsOut(j.left)
    case u: UnionExec =>
      val parts = u.children.map(rowsOut)
      if (parts.forall(_.isDefined)) Some(parts.flatten.sum) else None
    case _: ProjectExec | _: SortExec | _: WindowExec | _: WholeStageCodegenExec |
         _: InputAdapter | _: ColumnarToRowExec | _: RowToColumnarExec |
         _: ShuffleExchangeExec | _: AQEShuffleReadExec | _: CollectMetricsExec |
         _: DeserializeToObjectExec | _: SerializeFromObjectExec | _: MapElementsExec =>
      p.children.headOption.flatMap(rowsOut)
    case _ => None
  }
}

/** Counters of one traced interval. Every field is additive, so the
  * listeners write to it from the bus thread while the main thread reads a
  * snapshot after draining the bus. */
final class Tally {
  private val longs = new ConcurrentHashMap[String, AtomicLong]()
  private val doubles = new ConcurrentHashMap[String, DoubleAdder]()
  def add(k: String, v: Long): Unit = longs.computeIfAbsent(k, _ => new AtomicLong()).addAndGet(v)
  def addD(k: String, v: Double): Unit = doubles.computeIfAbsent(k, _ => new DoubleAdder()).add(v)
  val batchMs = new java.util.concurrent.ConcurrentLinkedQueue[java.lang.Long]()
  def snapshot: Map[String, Double] =
    longs.asScala.map { case (k, v) => k -> v.get.toDouble }.toMap ++
      doubles.asScala.map { case (k, v) => k -> v.sum }.toMap
}

/** The traced run's collectors. `current` is swapped per interval
  * (census pass, timed phase) so each interval is counted alone. */
object Trace {
  @volatile var current: Tally = new Tally
  /** Gates the session-wide query and stream listeners; the Spark
    * listener is added and removed around each traced interval. */
  @volatile var enabled = false
  private val stageSubmit = new ConcurrentHashMap[Int, java.lang.Long]()
  /** Wall time of the jobs each `<exec id>:<phase>` span launched. */
  val jobWall = new ConcurrentHashMap[String, DoubleAdder]()
  private val jobStart = new ConcurrentHashMap[Int, (String, Long)]()

  def onJobStart(e: SparkListenerJobStart): Unit = {
    val span = Option(e.properties).flatMap(p => Option(p.getProperty(ExecTag.Property))).getOrElse("")
    current.add("scheduler.jobs", 1)
    if (span.endsWith(":build")) current.add("operators.eager_jobs", 1)
    jobStart.put(e.jobId, (span, e.time))
  }
  def onJobEnd(e: SparkListenerJobEnd): Unit =
    Option(jobStart.remove(e.jobId)).foreach { case (span, t0) =>
      if (span.nonEmpty) jobWall.computeIfAbsent(span, _ => new DoubleAdder()).add((e.time - t0) / 1e3)
    }
  def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = {
    current.add("scheduler.stages", 1)
    e.stageInfo.submissionTime.foreach(t => stageSubmit.put(e.stageInfo.stageId, t))
  }
  def onStageCompleted(e: SparkListenerStageCompleted): Unit = stageSubmit.remove(e.stageInfo.stageId)
  def onTaskStart(e: SparkListenerTaskStart): Unit = {
    current.add("scheduler.tasks", 1)
    Option(stageSubmit.get(e.stageId)).foreach { t =>
      current.addD("scheduler.task_wait_s", math.max(0L, e.taskInfo.launchTime - t) / 1e3)
    }
  }
  def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val t = current
    t.add("exec.task_ends", 1)
    if (e.taskInfo.successful) t.add("exec.task_ok", 1)
    if (e.taskInfo.attemptNumber > 0 || !e.taskInfo.successful) t.add("exec.task_retries", 1)
    Option(e.taskMetrics).foreach { m =>
      t.addD("exec.task_s", m.executorRunTime / 1e3)
      t.addD("exec.cpu_s", m.executorCpuTime / 1e9)
      t.addD("exec.gc_s", m.jvmGCTime / 1e3)
      t.add("exec.shuffle_write_b", m.shuffleWriteMetrics.bytesWritten)
      t.add("exec.shuffle_read_b", m.shuffleReadMetrics.totalBytesRead)
      t.add("exec.spill_b", m.memoryBytesSpilled + m.diskBytesSpilled)
      t.add("sources.input_b", m.inputMetrics.bytesRead)
      t.add("sources.input_rows", m.inputMetrics.recordsRead)
      t.add("sink.output_b", m.outputMetrics.bytesWritten)
      t.add("sink.output_rows", m.outputMetrics.recordsWritten)
    }
  }
  def onQueryPlanned(qe: QueryExecution): Unit = {
    val t = current
    t.add("plans.executions", 1)
    qe.tracker.phases.foreach { case (phase, s) =>
      if (Set("analysis", "optimization", "planning")(phase)) t.addD(s"plans.${phase}_s", s.durationMs / 1e3)
    }
  }
  def onProgress(p: org.apache.spark.sql.streaming.StreamingQueryProgress): Unit = {
    val t = current
    t.add("streaming.batches", 1)
    val d = p.durationMs.asScala
    d.get("triggerExecution").foreach(ms => t.batchMs.add(ms))
    Seq("addBatch" -> "add_batch_s", "walCommit" -> "wal_commit_s",
        "commitOffsets" -> "commit_offsets_s", "queryPlanning" -> "query_planning_s")
      .foreach { case (k, name) => d.get(k).foreach(ms => t.addD(s"streaming.$name", ms / 1e3)) }
  }
}

class TraceSparkListener extends SparkListener {
  override def onJobStart(e: SparkListenerJobStart): Unit = Trace.onJobStart(e)
  override def onJobEnd(e: SparkListenerJobEnd): Unit = Trace.onJobEnd(e)
  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = Trace.onStageSubmitted(e)
  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = Trace.onStageCompleted(e)
  override def onTaskStart(e: SparkListenerTaskStart): Unit = Trace.onTaskStart(e)
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = Trace.onTaskEnd(e)
}

class TraceQeListener extends QueryExecutionListener {
  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
    if (Trace.enabled) Trace.onQueryPlanned(qe)
  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit =
    if (Trace.enabled) Trace.onQueryPlanned(qe)
}

class TraceStreamListener extends StreamingQueryListener {
  import StreamingQueryListener._
  override def onQueryStarted(e: QueryStartedEvent): Unit = ()
  override def onQueryProgress(e: QueryProgressEvent): Unit =
    if (Trace.enabled) Trace.onProgress(e.progress)
  override def onQueryTerminated(e: QueryTerminatedEvent): Unit = ()
}
