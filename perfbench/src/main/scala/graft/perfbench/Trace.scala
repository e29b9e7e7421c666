package graft.perfbench

import java.util.concurrent.atomic.AtomicInteger
import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._
import org.apache.spark.{Success, SparkContext}
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{FileSourceScanExec, QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
import org.apache.spark.sql.util.QueryExecutionListener

/** Spans recorded around calls into the program's public functions, plus
  * the Spark jobs, stages and tasks those calls ran.
  *
  * A span sets the Spark job group of its thread to its own id, so every
  * job the call triggers on that thread is attributed to it. Jobs run on
  * other threads (the API server's job futures) carry no group and are
  * attributed to no span. Everything stays in memory until [[write]]. */
final class Tracer(spark: SparkSession) extends SparkListener {
  import Tracer._

  private val sc: SparkContext = spark.sparkContext
  private val ids = new AtomicInteger(0)
  private val stack = new ThreadLocal[List[Int]] { override def initialValue() = Nil }
  private val spanBuf = ArrayBuffer.empty[Span]
  private val jobBuf = ArrayBuffer.empty[Job]
  private val stageSubmit = scala.collection.mutable.Map.empty[Int, Long]
  private val stageJob = scala.collection.mutable.Map.empty[Int, Int]
  private val taskBuf = ArrayBuffer.empty[Task]

  // every file-scan node of every completed query, including the plans
  // inside cached relations; a node shared by several queries counts once
  private val scanNodes = java.util.Collections.synchronizedMap(
    new java.util.IdentityHashMap[FileSourceScanExec, java.lang.Boolean]())
  private object ScanListener extends QueryExecutionListener with AdaptiveSparkPlanHelper {
    def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
      visit(qe.executedPlan)
    def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit =
      visit(qe.executedPlan)
    private def visit(p: SparkPlan): Unit = collectWithSubqueries(p) { case n => n }.foreach {
      case s: FileSourceScanExec => scanNodes.put(s, true)
      case m: InMemoryTableScanExec => visit(m.relation.cachedPlan)
      case _ =>
    }
  }

  resume()

  /** Attach the listeners again after [[stop]]. */
  def resume(): Unit = {
    sc.addSparkListener(this)
    spark.listenerManager.register(ScanListener)
  }

  def span[T](name: String)(body: => T): T = {
    val id = ids.incrementAndGet()
    val parent = stack.get.headOption.getOrElse(0)
    val prevGroup = Option(sc.getLocalProperty(GroupKey))
    sc.setJobGroup(s"span-$id", name)
    stack.set(id :: stack.get)
    val m0 = System.currentTimeMillis(); val n0 = System.nanoTime()
    try body
    finally {
      val n1 = System.nanoTime()
      stack.set(stack.get.tail)
      prevGroup match {
        case Some(g) => sc.setJobGroup(g, g)
        case None => sc.clearJobGroup()
      }
      spanBuf.synchronized {
        spanBuf += Span(id, name, parent, m0, m0 + (n1 - n0) / 1000000L, (n1 - n0) / 1e9)
      }
    }
  }

  /** Block until every listener event so far has been delivered. */
  def drain(): Unit =
    org.apache.spark.GraftSparkBridge.drainListenerBus(sc, 30000L)

  def stop(): Unit = {
    drain()
    sc.removeSparkListener(this)
    spark.listenerManager.unregister(ScanListener)
  }

  /** Rows the file scans of the last traced operation produced. */
  var opScannedRows = 0L

  /** Rows the file scans of the queries completed since the last call
    * produced (the scans' own row counters); resets the count. */
  def takeScannedRows(): Long = {
    drain()
    scanNodes.synchronized {
      val n = scanNodes.keySet.asScala.toSeq.map(_.metrics("numOutputRows").value).sum
      scanNodes.clear()
      n
    }
  }

  // ------------------------------------------------------------ listener
  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val group = Option(e.properties).flatMap(p => Option(p.getProperty(GroupKey)))
    jobBuf += Job(e.jobId, group.getOrElse(""), e.time)
    e.stageIds.foreach(s => stageJob(s) = e.jobId)
  }
  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobBuf.find(_.id == e.jobId).foreach(_.endMs = e.time)
  }
  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = synchronized {
    stageSubmit(e.stageInfo.stageId) =
      e.stageInfo.submissionTime.getOrElse(System.currentTimeMillis())
  }
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val m = e.taskMetrics
    val i = e.taskInfo
    val failed = e.reason != Success
    taskBuf += Task(
      job = stageJob.getOrElse(e.stageId, -1),
      launchMs = i.launchTime, finishMs = i.finishTime,
      waitMs = i.launchTime - stageSubmit.getOrElse(e.stageId, i.launchTime),
      cpuNs = if (m == null) 0L else m.executorCpuTime,
      shuffleWrite = if (m == null) 0L else m.shuffleWriteMetrics.bytesWritten,
      spill = if (m == null) 0L else m.memoryBytesSpilled + m.diskBytesSpilled,
      bytesWritten = if (m == null) 0L else m.outputMetrics.bytesWritten,
      recordsRead = if (m == null) 0L else m.inputMetrics.recordsRead,
      failed = failed)
  }

  // ------------------------------------------------------------- queries
  def spans: Seq[Span] = spanBuf.synchronized(spanBuf.toList)
  def spansNamed(name: String): Seq[Span] = spans.filter(_.name == name)

  /** Span seconds minus the seconds its direct children cover. */
  def selfS(name: String): Double = {
    val all = spans
    all.filter(_.name == name).map { s =>
      s.seconds - all.filter(_.parent == s.id).map(_.seconds).sum
    }.sum
  }

  private def descendants(id: Int, all: Seq[Span]): Set[Int] = {
    val kids = all.filter(_.parent == id).map(_.id)
    kids.toSet ++ kids.flatMap(descendants(_, all))
  }

  /** Jobs run under the spans named `name`; `inclusive` adds the jobs of
    * their child spans. */
  def jobsOf(name: String, inclusive: Boolean = false): Seq[Job] = {
    val all = spans
    val roots = all.filter(_.name == name).map(_.id).toSet
    val groups = (if (inclusive) roots ++ roots.flatMap(descendants(_, all)) else roots)
      .map(i => s"span-$i")
    synchronized(jobBuf.filter(j => groups.contains(j.group)).toList)
  }

  def allJobs: Seq[Job] = synchronized(jobBuf.toList)

  /** Jobs started within [t0Ms, t1Ms] (wall clock), whatever their
    * group: how jobs run on the API server's handler threads are
    * attributed to the request that was in flight. */
  def jobsBetween(t0Ms: Long, t1Ms: Long): Seq[Job] =
    synchronized(jobBuf.filter(j => j.startMs >= t0Ms && j.startMs <= t1Ms).toList)

  def tasksOf(jobs: Seq[Job]): Seq[Task] = {
    val ids = jobs.map(_.id).toSet
    synchronized(taskBuf.filter(t => ids.contains(t.job)).toList)
  }

  def write(path: String): Unit = {
    val w = new java.io.PrintWriter(path, "UTF-8")
    try {
      spans.foreach { s =>
        w.println(s"""{"span":${s.id},"name":"${s.name}","parent":${s.parent},""" +
          s""""start_ms":${s.startMs},"end_ms":${s.endMs},"seconds":${s.seconds}}""")
      }
      allJobs.foreach { j =>
        w.println(s"""{"job":${j.id},"group":"${j.group}","start_ms":${j.startMs},""" +
          s""""end_ms":${j.endMs}}""")
      }
    } finally w.close()
  }
}

object Tracer {
  private val GroupKey = "spark.jobGroup.id"

  final case class Span(id: Int, name: String, parent: Int, startMs: Long,
      endMs: Long, seconds: Double)
  final case class Job(id: Int, group: String, startMs: Long) {
    var endMs: Long = startMs
  }
  final case class Task(job: Int, launchMs: Long, finishMs: Long, waitMs: Long,
      cpuNs: Long, shuffleWrite: Long, spill: Long,
      bytesWritten: Long, recordsRead: Long, failed: Boolean)

  /** Milliseconds covered by the union of the given intervals. */
  def unionMs(iv: Seq[(Long, Long)]): Long = {
    var covered = 0L; var end = Long.MinValue
    iv.sortBy(_._1).foreach { case (a, b) =>
      if (b > end) { covered += b - math.max(a, end); end = b }
    }
    covered
  }
}
