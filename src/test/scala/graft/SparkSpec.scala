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

abstract class SparkSpec extends AnyFunSuite {
  lazy val spark: SparkSession = TestSpark.spark
  import scala.jdk.CollectionConverters._

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
