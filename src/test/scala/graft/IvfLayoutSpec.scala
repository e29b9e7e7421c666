package graft

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.functions.col
import graft.sim.Ann
import scala.jdk.CollectionConverters._

/** The IVF index's cell layout has one owner, `sim/Ann.scala`: it is
  * fixed at build, recorded in the manifest and read back from there,
  * so no other module decides it again. And an append certifies its
  * row total off its own staged write, not off a second job over the
  * batch. */
class IvfLayoutSpec extends SparkSpec {

  // ---- single owner: the layout is decided in one module

  test("the IVF layout fields and per-layout entry points occur in " +
      "src/main only in sim/Ann.scala") {
    val root = java.nio.file.Paths.get("src/main/scala")
    assert(java.nio.file.Files.isDirectory(root), root.toAbsolutePath)
    val owner = root.resolve("graft/sim/Ann.scala")
    // reading the manifest's layout codes, or naming a build or probe
    // that serves one layout, re-decides the layout outside its owner
    val patterns = Seq("""\.quant\b""", """\.pqRes\b""",
      """\bwriteIvfIndexPq\b""", """\bivfIndexTopK\b""",
      """\bivfIndexTopKQuantized\b""", """\bivfIndexTopKPq\b""")
      .map(_.r)
    val walk = java.nio.file.Files.walk(root)
    val offenders =
      try walk.iterator().asScala.toSeq
        .filter(p => p.toString.endsWith(".scala") && p != owner)
        .flatMap { p =>
          val txt = new String(java.nio.file.Files.readAllBytes(p), "UTF-8")
          patterns.filter(_.findFirstIn(txt).isDefined).map(r => s"$p: $r")
        }
      finally walk.close()
    assert(offenders.isEmpty, offenders.mkString("\n"))
    val own = new String(java.nio.file.Files.readAllBytes(owner), "UTF-8")
    assert(own.contains("sealed abstract class IvfLayout"))
  }

  /** Spark jobs `body` runs, tagged by a job group of its own so no
    * other suite's job is counted (the ConnectedComponentsSpec
    * pattern). */
  private def jobsOf(body: => Unit): Int = {
    val sc = spark.sparkContext
    val group = s"ivf-jobs-${System.nanoTime}"
    val seen = new java.util.concurrent.atomic.AtomicInteger()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (Option(e.properties).exists(_.getProperty("spark.jobGroup.id") == group))
          seen.incrementAndGet()
    }
    sc.addSparkListener(listener)
    sc.setJobGroup(group, "IVF append job count")
    try body
    finally {
      sc.clearJobGroup()
      org.apache.spark.GraftSparkBridge.drainListenerBus(sc)
      sc.removeSparkListener(listener)
    }
    seen.get
  }

  test("appendIvfIndex certifies old total + batch off its own write, " +
      "with no second job over the batch") {
    import spark.implicits._
    val rnd = new scala.util.Random(11)
    val vecs = (0L until 60L).map(i => (i, Seq.fill(8)(rnd.nextFloat())))
      .toDF("vec_id", "embedding")
    val idx = scratch("ivf-append-jobs")
    Ann.writeIvfIndex(vecs.filter(col("vec_id") < 40), "vec_id", "embedding",
      idx, nlist = 4)
    val batch = vecs.filter(col("vec_id") >= 40)
    val jobs = jobsOf(Ann.appendIvfIndex(batch, "vec_id", "embedding", idx))
    assert(Ann.readManifest(spark, idx).map(_.rows) == Some(60L))
    // the geometry load and the staged write take 7 jobs here; a
    // separate count over the batch for the row total added 2 more
    // (its shuffle and result jobs)
    assert(jobs <= 7, s"append ran $jobs Spark jobs")
  }
}
