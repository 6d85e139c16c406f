package perfbench

import java.util.concurrent.ConcurrentLinkedQueue

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.ui.{SparkListenerSQLExecutionEnd, SparkListenerSQLExecutionStart}
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** Event sinks of the traced run. Spark instantiates these listeners from
  * the static confs `spark.extraListeners`, `spark.sql.queryExecutionListeners`
  * and `spark.sql.streaming.streamingQueryListeners`, which the benchmark
  * sets only when tracing; the conf route also reaches the sessions the
  * engine clones internally (`newSession()`). Every instance appends to
  * the queues of [[Trace]]; the benchmark reads them after the listener
  * bus has drained. */
object Trace {
  /** Local property naming the timed op that submitted a job. It is
    * inherited by the threads a streaming query starts. */
  val OpKey = "perfbench.op"

  final case class Job(id: Int, op: Option[Int], execId: Option[Long], start: Long,
      stages: Seq[Int], module: String)
  final case class JobEnd(id: Int, end: Long)
  final case class Stage(id: Int, attempt: Int, name: String, start: Long, end: Long, tasks: Int)
  final case class Task(stage: Int, launch: Long, finish: Long, failed: Boolean,
      runMs: Long, cpuNs: Long, gcMs: Long, recordsRead: Long, bytesRead: Long,
      shuffleWrite: Long, shuffleRead: Long, fetchWaitMs: Long, spill: Long)
  final case class Exec(id: Long, start: Long, description: String, module: String)
  final case class Plan(start: Long, end: Long, analysisMs: Long, optimizerMs: Long,
      physicalMs: Long, func: String)
  final case class Batch(query: String, start: Long, durationMs: Long, inputRows: Long,
      phases: Map[String, Long], stateCommitMs: Long, stateRows: Long, stateBytes: Long)

  val jobs = new ConcurrentLinkedQueue[Job]()
  val jobEnds = new ConcurrentLinkedQueue[JobEnd]()
  val stages = new ConcurrentLinkedQueue[Stage]()
  val tasks = new ConcurrentLinkedQueue[Task]()
  val execStarts = new ConcurrentLinkedQueue[Exec]()
  val execEnds = new ConcurrentLinkedQueue[(Long, Long)]()
  val plans = new ConcurrentLinkedQueue[Plan]()
  val batches = new ConcurrentLinkedQueue[Batch]()

  /** Engine module of a call site: its first `graft.` frame, as
    * `pack.Object` (`ext.Similarity`, `queries.StreamingQueries`). Without
    * an engine frame: `bench.sink` for the benchmark's own materialisation,
    * `spark.stream` for a micro-batch Spark runs by itself, else `spark`
    * (which a job inherits from its SQL execution when it can, since AQE
    * submits stages from a pool thread whose stack holds no caller). */
  def moduleOf(callSite: String): String =
    callSite.linesIterator.map(_.trim).find(_.startsWith("graft.")) match {
      case Some(frame) =>
        val cls = frame.takeWhile(_ != '(').split('.').dropRight(1) // drop method
        cls.drop(1).mkString(".").takeWhile(c => c != '$')
      case None if callSite.contains("perfbench.") => "bench.sink"
      case None if callSite.contains("StreamExecution") => "spark.stream"
      case None => "spark"
    }
}

class JobTrace extends SparkListener {
  import Trace._
  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val props = Option(e.properties)
    val op = props.flatMap(p => Option(p.getProperty(OpKey))).map(_.toInt)
    val exec = props.flatMap(p => Option(p.getProperty("spark.sql.execution.id"))).map(_.toLong)
    val site = e.stageInfos.sortBy(_.stageId).lastOption.map(_.details).getOrElse("")
    jobs.add(Job(e.jobId, op, exec, e.time, e.stageIds, moduleOf(site)))
  }
  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    jobEnds.add(JobEnd(e.jobId, e.time))
  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
    val s = e.stageInfo
    stages.add(Stage(s.stageId, s.attemptNumber(), s.name,
      s.submissionTime.getOrElse(0L), s.completionTime.getOrElse(0L), s.numTasks))
  }
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val i = e.taskInfo
    val m = Option(e.taskMetrics)
    def g(f: org.apache.spark.executor.TaskMetrics => Long): Long = m.map(f).getOrElse(0L)
    tasks.add(Task(e.stageId, i.launchTime, i.finishTime, i.failed,
      g(_.executorRunTime), g(_.executorCpuTime), g(_.jvmGCTime),
      g(_.inputMetrics.recordsRead), g(_.inputMetrics.bytesRead),
      g(_.shuffleWriteMetrics.bytesWritten),
      g(t => t.shuffleReadMetrics.remoteBytesRead + t.shuffleReadMetrics.localBytesRead),
      g(_.shuffleReadMetrics.fetchWaitTime),
      g(t => t.memoryBytesSpilled + t.diskBytesSpilled)))
  }
  override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
    case s: SparkListenerSQLExecutionStart =>
      execStarts.add(Exec(s.executionId, s.time, s.description, moduleOf(s.details)))
    case s: SparkListenerSQLExecutionEnd => execEnds.add(s.executionId -> s.time)
    case _ => ()
  }
}

class PlanTrace extends QueryExecutionListener {
  private def record(func: String, qe: QueryExecution): Unit = {
    val ph = qe.tracker.phases
    def ms(k: String): Long = ph.get(k).map(_.durationMs).getOrElse(0L)
    val starts = ph.values.map(_.startTimeMs)
    val ends = ph.values.map(_.endTimeMs)
    if (starts.nonEmpty)
      Trace.plans.add(Trace.Plan(starts.min, ends.max, ms("analysis"), ms("optimization"),
        ms("planning"), func))
  }
  override def onSuccess(func: String, qe: QueryExecution, durationNs: Long): Unit =
    record(func, qe)
  override def onFailure(func: String, qe: QueryExecution, e: Exception): Unit =
    record(func, qe)
}

class StreamTrace extends StreamingQueryListener {
  import StreamingQueryListener._
  override def onQueryStarted(e: QueryStartedEvent): Unit = ()
  override def onQueryTerminated(e: QueryTerminatedEvent): Unit = ()
  override def onQueryProgress(e: QueryProgressEvent): Unit = {
    val p = e.progress
    val d = p.durationMs.asScala.map { case (k, v) => k -> v.longValue }.toMap
    val st = p.stateOperators
    Trace.batches.add(Trace.Batch(p.id.toString,
      java.time.Instant.parse(p.timestamp).toEpochMilli, d.getOrElse("triggerExecution", 0L),
      p.numInputRows, d, st.map(_.commitTimeMs).sum, st.map(_.numRowsTotal).sum,
      st.map(_.memoryUsedBytes).sum))
  }
}
