package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.scalatest.funsuite.AnyFunSuite

/** One shared session for the whole test JVM (suites run in one forked
  * JVM; building a session per suite would dominate test time). */
object TestSpark {
  lazy val spark: SparkSession = {
    val s = SparkSession.builder()
      .master("local[4]")
      .appName("graft-test")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.warehouse.dir",
        java.nio.file.Files.createTempDirectory("graft-warehouse").toString)
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }
}

/** JVM-wide registry of test scratch dirs, removed on exit (r12
  * ADVICE: index/sink temp trees created with bare createTempDirectory
  * accumulated multi-MB per suite run — the bench mains rm their
  * trees; the suites should too). A shutdown hook beats afterAll here
  * because the session (and some artifacts) are shared across suites
  * in one forked JVM. */
object TestScratch {
  import scala.jdk.CollectionConverters._
  private val dirs =
    new java.util.concurrent.ConcurrentLinkedQueue[java.nio.file.Path]()
  // each root deletes under its own Try and the walk stream is closed
  // (round-13 review): Spark's own shutdown hooks may still touch a
  // checkpoint/sink dir concurrently — one DirectoryNotEmpty/IO
  // exception must not kill the hook thread and leak every dir
  // registered after it
  Runtime.getRuntime.addShutdownHook(new Thread(() =>
    dirs.asScala.foreach { root =>
      scala.util.Try {
        if (java.nio.file.Files.exists(root)) {
          val walk = java.nio.file.Files.walk(root)
          try walk.sorted(
              java.util.Comparator.reverseOrder[java.nio.file.Path]())
            .forEach(p => scala.util.Try(
              java.nio.file.Files.deleteIfExists(p)))
          finally walk.close()
        }
      }
    }))
  def dir(prefix: String): String = {
    val p = java.nio.file.Files.createTempDirectory(prefix)
    dirs.add(p)
    p.toString
  }
}

/** One stage that ran: its task count and the names of the RDDs in it
  * (a cached frame's RDD is named after its plan). */
final case class StageRun(tasks: Int, rddNames: Seq[String])

/** The Spark work a block ran: its jobs as (SQL execution id or None for
  * a plain RDD job, stage count), the stages that ran, and the rows each
  * file scan produced, keyed by the scan's location. */
final case class SparkWork(jobs: Seq[(Option[String], Int)],
    stages: Seq[StageRun], scanRows: Map[String, Long]) {
  /** Rows read from the files under `path`, over every scan of them. */
  def rowsScanned(path: String): Long =
    scanRows.collect { case (loc, n) if loc.contains(path) => n }.sum
}

abstract class SparkSpec extends AnyFunSuite {
  lazy val spark: SparkSession = TestSpark.spark
  import scala.jdk.CollectionConverters._

  /** The jobs, stages and file-scan rows `body` runs, tagged by a job
    * group of their own so no other suite's work is counted. Scan rows
    * come from each file scan's "number of output rows" metric (a scan
    * that builds a cache included), found in the SQL plans as they are
    * planned and re-planned, and summed over the group's tasks. Reads of
    * cached blocks are not file reads and do not count. */
  def sparkWork(body: => Unit): SparkWork = {
    import org.apache.spark.scheduler._
    import org.apache.spark.sql.execution.SparkPlanInfo
    import org.apache.spark.sql.execution.ui.{SparkListenerSQLAdaptiveExecutionUpdate,
      SparkListenerSQLExecutionStart}
    val sc = spark.sparkContext
    val group = s"spark-work-${System.nanoTime}"
    val jobs = new java.util.concurrent.ConcurrentLinkedQueue[(Option[String], Int)]()
    val stageIds = java.util.concurrent.ConcurrentHashMap.newKeySet[Int]()
    val stages = new java.util.concurrent.ConcurrentLinkedQueue[StageRun]()
    // scan row-count accumulator id → the scan's location
    val scanAcc = new java.util.concurrent.ConcurrentHashMap[Long, String]()
    val scanRows = new java.util.concurrent.ConcurrentHashMap[String, Long]()
    def scans(p: SparkPlanInfo): Unit = {
      p.metadata.get("Location").foreach { loc =>
        p.metrics.filter(_.name == "number of output rows")
          .foreach(m => scanAcc.put(m.accumulatorId, loc))
      }
      p.children.foreach(scans)
    }
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (Option(e.properties).exists(_.getProperty("spark.jobGroup.id") == group)) {
          jobs.add((Option(e.properties.getProperty("spark.sql.execution.id")),
            e.stageInfos.size))
          e.stageIds.foreach(stageIds.add)
        }
      override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
        val i = e.stageInfo
        if (stageIds.contains(i.stageId))
          stages.add(StageRun(i.numTasks, i.rddInfos.map(_.name)))
      }
      override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
        if (stageIds.contains(e.stageId)) e.taskInfo.accumulables.foreach { a =>
          Option(scanAcc.get(a.id)).foreach { loc =>
            val n = a.update.map(_.toString.toLong).getOrElse(0L)
            scanRows.merge(loc, n, (x: Long, y: Long) => x + y)
          }
        }
      override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
        case s: SparkListenerSQLExecutionStart => scans(s.sparkPlanInfo)
        case u: SparkListenerSQLAdaptiveExecutionUpdate => scans(u.sparkPlanInfo)
        case _ =>
      }
    }
    sc.addSparkListener(listener)
    sc.setJobGroup(group, "spark work of one test block")
    try body
    finally {
      sc.clearJobGroup()
      org.apache.spark.GraftSparkBridge.drainListenerBus(sc)
      sc.removeSparkListener(listener)
    }
    SparkWork(jobs.asScala.toSeq, stages.asScala.toSeq,
      scanRows.asScala.map { case (k, v) => k -> v }.toMap)
  }

  /** Each case owns the operator caches it builds, like an API request
    * does: they are released when the case ends, so the shared session
    * does not pile them up. */
  override def withFixture(test: NoArgTest): org.scalatest.Outcome =
    graft.engine.CacheScope.run(super.withFixture(test))

  /** Temp dir removed at JVM exit — use for any on-disk test artifact
    * (index trees, stream sinks, checkpoints). */
  def scratch(prefix: String): String = TestScratch.dir(prefix)

  def rows(df: DataFrame): Seq[Seq[Any]] =
    df.collect().toSeq.map(_.toSeq)

  def col1[T](df: DataFrame, c: String): Seq[T] =
    df.select(c).collect().toSeq.map(_.getAs[T](0))
}
