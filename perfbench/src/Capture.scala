package perfbench

import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue, CountDownLatch}

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener
import org.apache.spark.storage.RDDBlockId

/** Spark-side event capture for the traced run, from public listener APIs
  * only: `SparkListener` for jobs, stages and block updates, and
  * `QueryExecutionListener` for Catalyst phase times
  * (`qe.tracker.phases`).
  *
  * Events arrive on Spark's asynchronous listener bus, so nothing is
  * attributed while it is recorded. Each record keeps its own wall-clock
  * time and [[Capture.attribute]] assigns it to the op whose interval holds
  * that time once [[drain]] has seen every event. Ops run one at a time
  * (one closed-loop client), so the intervals never overlap.
  */
final class Capture extends SparkListener with QueryExecutionListener {
  import Capture._

  val jobs = new ConcurrentLinkedQueue[Job]()
  val stages = new ConcurrentLinkedQueue[Stage]()
  val queries = new ConcurrentLinkedQueue[Query]()
  /** (job started last when the update arrived, live RDD blocks after it) */
  val blockUpdates = new ConcurrentLinkedQueue[(Int, Int)]()

  private val jobStart = new ConcurrentHashMap[Int, java.lang.Long]()
  private val stageJob = new ConcurrentHashMap[Int, Integer]()
  /** Cached RDD partitions by RDD id. Unpersisting an RDD removes its
    * blocks without a block update, so the unpersist event clears them. */
  private val liveBlocks = new ConcurrentHashMap[Int, java.util.Set[Int]]()
  @volatile private var lastJob = -1
  @volatile private var drainJob = -2
  @volatile private var drainLatch: CountDownLatch = null

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    if (Option(e.properties).exists(p =>
        p.getProperty("spark.job.description") == DrainDescription))
      drainJob = e.jobId
    jobStart.put(e.jobId, e.time)
    e.stageIds.foreach(s => stageJob.putIfAbsent(s, e.jobId))
    lastJob = e.jobId
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = {
    val t0 = jobStart.remove(e.jobId)
    if (t0 != null) jobs.add(Job(e.jobId, t0, e.time))
    val l = drainLatch
    if (l != null && e.jobId == drainJob) l.countDown()
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
    val i = e.stageInfo
    val m = i.taskMetrics
    val job = Option(stageJob.get(i.stageId)).map(_.intValue).getOrElse(-1)
    if (m != null)
      stages.add(Stage(i.stageId, job, i.submissionTime.getOrElse(0L),
        i.completionTime.getOrElse(0L), i.numTasks, m.executorRunTime,
        m.executorCpuTime, m.shuffleWriteMetrics.bytesWritten,
        m.shuffleReadMetrics.totalBytesRead, m.shuffleReadMetrics.fetchWaitTime,
        m.diskBytesSpilled, m.inputMetrics.bytesRead))
  }

  override def onBlockUpdated(e: SparkListenerBlockUpdated): Unit = {
    val info = e.blockUpdatedInfo
    info.blockId match {
      case b: RDDBlockId =>
        val parts = liveBlocks.computeIfAbsent(b.rddId, _ => ConcurrentHashMap.newKeySet[Int]())
        if (info.storageLevel.isValid) parts.add(b.splitIndex) else parts.remove(b.splitIndex)
        blockUpdates.add((lastJob, liveBlocks.values.asScala.map(_.size).sum))
      case _ =>
    }
  }

  override def onUnpersistRDD(e: SparkListenerUnpersistRDD): Unit = {
    liveBlocks.remove(e.rddId); ()
  }

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
    queries.add(query(qe))

  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit =
    queries.add(query(qe))

  private def query(qe: QueryExecution): Query = {
    val phases = qe.tracker.phases
    def ms(p: String): Long = phases.get(p).map(_.durationMs).getOrElse(0L)
    val start =
      if (phases.isEmpty) System.currentTimeMillis()
      else phases.values.map(_.startTimeMs).min
    Query(start, ms("analysis"), ms("optimization"), ms("planning"))
  }

  /** Blocks until the listener bus has delivered every event posted before
    * this call: one marker job runs after the last op, and the bus delivers
    * in order, so its end event comes after everything earlier. */
  def drain(sc: org.apache.spark.SparkContext): Unit = {
    drainLatch = new CountDownLatch(1)
    sc.setJobDescription(DrainDescription)
    try {
      sc.parallelize(Seq(1), 1).count()
      drainLatch.await(30, java.util.concurrent.TimeUnit.SECONDS)
    } finally sc.setJobDescription(null)
    ()
  }

  def jobList: Seq[Job] = jobs.asScala.toSeq.filterNot(_.id == drainJob)
  def stageList: Seq[Stage] = stages.asScala.toSeq.filterNot(_.job == drainJob)
}

object Capture {
  val DrainDescription = "perfbench-drain"

  final case class Job(id: Int, startMs: Long, endMs: Long)
  final case class Stage(id: Int, job: Int, startMs: Long, endMs: Long, tasks: Int,
                         runMs: Long, cpuNs: Long, shuffleWriteB: Long,
                         shuffleReadB: Long, fetchWaitMs: Long, spillB: Long,
                         inputB: Long)
  final case class Query(startMs: Long, analysisMs: Long, optimizationMs: Long,
                         planningMs: Long)

  /** Index of the op whose [start, end] wall interval (ms) holds `t`, or -1. */
  def attribute(intervals: IndexedSeq[(Long, Long)], t: Long): Int =
    intervals.indexWhere { case (a, b) => t >= a && t <= b }

  /** Length of the union of intervals, in the intervals' unit. */
  def unionLength(iv: Seq[(Long, Long)]): Long = {
    var total = 0L; var curA = Long.MinValue; var curB = Long.MinValue
    iv.filter { case (a, b) => b > a }.sortBy(_._1).foreach { case (a, b) =>
      if (a > curB) { if (curB > curA) total += curB - curA; curA = a; curB = b }
      else if (b > curB) curB = b
    }
    if (curB > curA) total += curB - curA
    total
  }
}
