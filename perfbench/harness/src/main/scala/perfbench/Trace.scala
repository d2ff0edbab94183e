package perfbench

import java.util.concurrent.ConcurrentLinkedQueue

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** Layered tracing through Spark's public listener APIs.
  *
  * Spans nest pass → op → build | action → plan | job → stage, plus
  * stream batch spans from progress events. The harness marks the op and
  * its phase with two local properties before each call; jobs carry the
  * submitting thread's properties (stream threads inherit them), so a job
  * is attributed to its op even when it runs on another thread. Planning
  * phases and stream batches are attributed by time containment. Events
  * stay in memory and are read only after the listener bus drains.
  */
final class Trace(spark: SparkSession) {
  import Trace._

  private val jobs = new ConcurrentLinkedQueue[JobEv]()
  private val jobEnds = new java.util.concurrent.ConcurrentHashMap[Int, java.lang.Long]()
  private val stageJob = new java.util.concurrent.ConcurrentHashMap[Int, Integer]()
  private val stages = new ConcurrentLinkedQueue[StageEv]()
  private val tasks = new java.util.concurrent.ConcurrentHashMap[Int, TaskAgg]()
  private val plans = new ConcurrentLinkedQueue[PlanEv]()
  private val batches = new ConcurrentLinkedQueue[BatchEv]()

  private val sparkListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val props = Option(e.properties)
      val op = props.flatMap(p => Option(p.getProperty(OpProp))).map(_.toInt).getOrElse(-1)
      val phase = props.flatMap(p => Option(p.getProperty(PhaseProp))).getOrElse("")
      e.stageIds.foreach(s => stageJob.putIfAbsent(s, e.jobId))
      jobs.add(JobEv(e.jobId, op, phase, e.time))
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit =
      jobEnds.put(e.jobId, e.time)
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
      val i = e.stageInfo
      stages.add(StageEv(i.stageId, i.submissionTime.getOrElse(0L),
        i.completionTime.getOrElse(0L)))
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      val m = e.taskMetrics
      if (m != null) {
        val a = tasks.computeIfAbsent(e.stageId, _ => new TaskAgg)
        a.synchronized {
          a.tasks += 1
          a.cpuNs += m.executorCpuTime
          a.runMs += m.executorRunTime
          a.inputBytes += m.inputMetrics.bytesRead
          a.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
          a.shuffleRead += m.shuffleReadMetrics.totalBytesRead
          a.spill += m.memoryBytesSpilled + m.diskBytesSpilled
        }
      }
    }
  }

  private val qeListener = new QueryExecutionListener {
    private def record(qe: QueryExecution): Unit = {
      val ph = qe.tracker.phases
      val opt = ph.get("optimization")
      val pln = ph.get("planning")
      val start = opt.orElse(pln).map(_.startTimeMs).getOrElse(0L)
      val ms = opt.map(p => p.endTimeMs - p.startTimeMs).getOrElse(0L) +
        pln.map(p => p.endTimeMs - p.startTimeMs).getOrElse(0L)
      plans.add(PlanEv(start, ms))
    }
    override def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit = record(qe)
    override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = record(qe)
  }

  private val streamListener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
      val p = e.progress
      val d = p.durationMs.asScala.map { case (k, v) => k -> v.longValue }
      val start = java.time.Instant.parse(p.timestamp).toEpochMilli
      batches.add(BatchEv(p.runId.toString, start, d.getOrElse("triggerExecution", 0L),
        d.getOrElse("addBatch", 0L), d.getOrElse("queryPlanning", 0L),
        d.getOrElse("walCommit", 0L), d.getOrElse("commitOffsets", 0L),
        p.numInputRows,
        p.stateOperators.map(_.numRowsTotal).sum,
        p.stateOperators.map(_.commitTimeMs).sum,
        p.stateOperators.map(_.memoryUsedBytes).sum))
    }
  }

  def install(): Unit = {
    spark.sparkContext.addSparkListener(sparkListener)
    spark.listenerManager.register(qeListener)
    spark.streams.addListener(streamListener)
  }

  def drain(): Unit = org.apache.spark.perfbench.BusDrain.drain(spark.sparkContext)

  /** Resolve every recorded event against the ops' time windows. Call
    * after [[drain]]. */
  def resolve(ops: Seq[OpSpan]): Resolved = {
    val byId = ops.map(o => o.id -> o).toMap
    def opAt(ms: Long): Option[OpSpan] = ops.find(o => ms >= o.startMs && ms <= o.endMs)
    val jobList = jobs.asScala.toSeq.map { j =>
      val end = Option(jobEnds.get(j.jobId)).map(_.longValue).getOrElse(j.startMs)
      val stageIds = stageJob.asScala.collect { case (s, jid) if jid == j.jobId => s.intValue }
      val aggs = stageIds.flatMap(s => Option(tasks.get(s)))
      val sum = new TaskAgg
      aggs.foreach { a => a.synchronized(sum.add(a)) }
      val op = if (byId.contains(j.op)) Some(j.op) else opAt(j.startMs).map(_.id)
      JobSpan(j.jobId, op, j.phase, j.startMs, end, stageIds.size, sum)
    }
    val planList = plans.asScala.toSeq.map(p => PlanSpan(opAt(p.startMs).map(_.id), p.startMs, p.ms))
    val batchList = batches.asScala.toSeq.map(b => b -> opAt(b.startMs).map(_.id))
    val stageList = stages.asScala.toSeq.map(s =>
      StageSpan(s.stageId, Option(stageJob.get(s.stageId)).map(_.intValue), s.startMs, s.endMs,
        Option(tasks.get(s.stageId)).getOrElse(new TaskAgg)))
    Resolved(jobList, planList, batchList, stageList)
  }
}

object Trace {
  val OpProp = "perfbench.op"
  val PhaseProp = "perfbench.phase"

  final case class JobEv(jobId: Int, op: Int, phase: String, startMs: Long)
  final case class StageEv(stageId: Int, startMs: Long, endMs: Long)
  final case class PlanEv(startMs: Long, ms: Long)
  final case class BatchEv(runId: String, startMs: Long, triggerMs: Long, addBatchMs: Long,
                           planningMs: Long, walMs: Long, commitMs: Long, inputRows: Long,
                           stateRows: Long, stateCommitMs: Long, stateMemBytes: Long)

  final class TaskAgg {
    var tasks = 0L; var cpuNs = 0L; var runMs = 0L; var inputBytes = 0L
    var shuffleWrite = 0L; var shuffleRead = 0L; var spill = 0L
    def add(o: TaskAgg): Unit = {
      tasks += o.tasks; cpuNs += o.cpuNs; runMs += o.runMs; inputBytes += o.inputBytes
      shuffleWrite += o.shuffleWrite; shuffleRead += o.shuffleRead; spill += o.spill
    }
  }

  /** One op execution on the driver thread, in epoch milliseconds. */
  final case class OpSpan(id: Int, startMs: Long, endMs: Long)
  final case class JobSpan(jobId: Int, op: Option[Int], phase: String, startMs: Long,
                           endMs: Long, stages: Int, agg: TaskAgg)
  final case class PlanSpan(op: Option[Int], startMs: Long, ms: Long)
  final case class StageSpan(stageId: Int, job: Option[Int], startMs: Long, endMs: Long,
                             agg: TaskAgg)
  final case class Resolved(jobs: Seq[JobSpan], plans: Seq[PlanSpan],
                            batches: Seq[(BatchEv, Option[Int])], stages: Seq[StageSpan])

  /** Total length of the union of closed intervals. */
  def unionMs(iv: Seq[(Long, Long)]): Long = {
    var total = 0L
    var curS = Long.MinValue
    var curE = Long.MinValue
    iv.filter { case (s, e) => e > s }.sortBy(_._1).foreach { case (s, e) =>
      if (s > curE) {
        if (curE > curS) total += curE - curS
        curS = s; curE = e
      } else if (e > curE) curE = e
    }
    if (curE > curS) total += curE - curS
    total
  }

  /** Length of the union of `a` that also lies inside the union of `b`. */
  def overlapMs(a: Seq[(Long, Long)], b: Seq[(Long, Long)]): Long =
    unionMs(a) + unionMs(b) - unionMs(a ++ b)
}
