package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.execution.FileSourceScanExec
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec

/** Measures what z-ordering is FOR: the rows a 2-predicate box query
  * actually reads from parquet, under the three layouts a table can
  * have. Wall time on local[32] over page-cached files understates the
  * effect; rows-surviving-the-scan is the 1000-executor number (at
  * 100 TB the scan IS the cost, and row-group pruning is the only
  * thing between a box query and a full-table read).
  *
  * Data: N rows with two INDEPENDENT uniform keys in [0, 1024) derived
  * by hashing the row id (so physical order correlates with neither —
  * the honest baseline; an id-ordered write would accidentally cluster
  * any id-derived column). Query: a 1/8 × 1/8 box (1/64 of the key
  * space).
  *
  * Layouts:
  *   raw      — as generated (64 files, no useful clustering)
  *   x-sorted — range-partitioned + sorted by x alone (the best a
  *              single-key layout can do: prunes x, blind to y)
  *   z-order  — Reference.writeZOrdered on (x, y), bits=10
  *
  * Expected: raw reads ~N, x-sorted ~N/8, z-order ~N/64 (+ boundary
  * slack) — the same pruning a partition-by-x table gets on x, but on
  * BOTH columns at once, from ordinary parquet min/max stats.
  *
  *   sbt "Test/runMain graft.LayoutBench [N] [files]"
  */
object LayoutBench {
  /** Every FileSourceScanExec in an executed plan, recursing through
    * AQE's materialized query stages (the adaptive plan's leaves are
    * QueryStageExec wrappers, not the scans themselves). */
  private def allScans(p: org.apache.spark.sql.execution.SparkPlan)
      : Seq[FileSourceScanExec] = p match {
    case a: AdaptiveSparkPlanExec => allScans(a.executedPlan)
    case q: org.apache.spark.sql.execution.adaptive.QueryStageExec =>
      allScans(q.plan)
    case s: FileSourceScanExec => Seq(s)
    case other => other.children.flatMap(allScans)
  }

  private def scanRows(spark: SparkSession, dir: String): (Long, Double) = {
    val q = spark.read.parquet(dir)
      .filter(col("x") < 128 && col("y") < 128)
      .agg(count(lit(1)))
    val t0 = System.nanoTime()
    q.collect()
    val secs = (System.nanoTime() - t0) / 1e9
    (allScans(q.queryExecution.executedPlan)
      .map(_.metrics("numOutputRows").value).sum, secs)
  }

  def main(args: Array[String]): Unit = {
    val n = args.headOption.map(_.toLong).getOrElse(4000000L)
    val files = args.drop(1).headOption.map(_.toInt).getOrElse(64)
    val spark = SparkSession.builder().master("local[32]")
      .config("spark.sql.shuffle.partitions", "32")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val base = java.nio.file.Files.createTempDirectory("graft-layoutbench").toString
    val df = spark.range(n).select(
      col("id"),
      pmod(xxhash64(col("id"), lit(1)), lit(1024L)).as("x"),
      pmod(xxhash64(col("id"), lit(2)), lit(1024L)).as("y"))

    df.repartition(files).write.parquet(s"$base/raw")
    df.repartitionByRange(files, col("x")).sortWithinPartitions("x")
      .write.parquet(s"$base/xsorted")
    val t0 = System.nanoTime()
    Reference.writeZOrdered(df, s"$base/zorder", Seq("x", "y"),
      numFiles = files, bits = 10)
    val zWriteSecs = (System.nanoTime() - t0) / 1e9

    // warm page cache AND the query shape's codegen (the first timed
    // layout would otherwise pay one-time JIT/compile cost), then
    // measure; min-of-2 per layout
    Seq("raw", "xsorted", "zorder").foreach { l => scanRows(spark, s"$base/$l") }
    println(f"[layoutbench] n=$n files=$files boxSelectivity=1/64 " +
      f"zorderWriteSecs=$zWriteSecs%.2f")
    Seq("raw", "xsorted", "zorder").foreach { l =>
      val (rows, s1) = scanRows(spark, s"$base/$l")
      val (_, s2) = scanRows(spark, s"$base/$l")
      val secs = math.min(s1, s2)
      println(f"[layoutbench] layout=$l%-8s scanRows=$rows%9d " +
        f"(${rows * 100.0 / n}%5.1f%% of table) secs=$secs%.3f")
    }
    spark.stop()
  }
}
