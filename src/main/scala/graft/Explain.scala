package graft
import java.nio.file.{Files, Paths}

/** Plan-capture main for the optimization rounds: writes each query's
  * `.explain("formatted")` output to `<outDir>/<name>.txt` so plan
  * claims (Exchange counts, join strategies, PushedFilters) are
  * checkable without running Spark. Usage:
  *   runMain graft.Explain <sfDir> <outDir> [query...]
  * Defaults to the headline bench set; `all` dumps every registered
  * query. Same session conf as Bench so plans match what it times. */
object Explain {
  def main(args: Array[String]): Unit = {
    val sfDir = args(0)
    val outDir = args(1)
    val spark = Tables.session()
    val names: Seq[String] = args.drop(2) match {
      case a if a.isEmpty        => SparkEntry.benchQueries
      case Array("all")          => SparkEntry.queries.keys.toSeq.sorted
      case a                     => a.toIndexedSeq
    }
    Files.createDirectories(Paths.get(outDir))
    names.foreach { name =>
      val fn = SparkEntry.queries.getOrElse(name,
        sys.error(s"unknown query '$name'"))
      try {
        spark.sparkContext.setJobDescription(s"explain: $name")
        val df = fn(spark, sfDir)
        val txt = df.queryExecution.explainString(
          org.apache.spark.sql.execution.FormattedMode)
        Files.writeString(Paths.get(s"$outDir/$name.txt"), txt)
        System.err.println(s"[explain] $name: ${txt.linesIterator.size} lines")
      } catch { case e: Throwable =>
        System.err.println(s"[explain] $name failed: ${e.getMessage}")
      }
    }
    spark.stop()
  }
}
