package graft

import java.io.File
import java.lang.management.ManagementFactory
import scala.jdk.CollectionConverters._
import com.fasterxml.jackson.databind.ObjectMapper
import org.scalatest.funsuite.AnyFunSuite

/** The output contract of `graft.Bench`: whoever reads a bench run parses
  * its LAST stdout line as the JSON summary. The main is forked as
  * `sbt runMain graft.Bench` runs it (its own JVM with the build's java
  * options, stdout kept whole), on one query, one run and no wait for a
  * quiet host. */
class BenchContractSpec extends AnyFunSuite {
  private val query = "q39_matching_e2e"

  test("graft.Bench ends its stdout with a parseable summary line") {
    val javaBin = new File(System.getProperty("java.home"), "bin/java").getPath
    // this JVM's own flags are the javaOptions build.sbt also gives a
    // forked `run` (the JDK 17 --add-opens set Spark needs)
    val flags = ManagementFactory.getRuntimeMXBean.getInputArguments.asScala
      .filterNot(_.startsWith("-Xmx"))
    val cmd = Seq(javaBin, "-Xmx2g") ++ flags ++
      Seq("-cp", System.getProperty("java.class.path"), "graft.Bench")
    def tmp(suffix: String): File = {
      val f = File.createTempFile("bench-contract", suffix)
      f.deleteOnExit(); f
    }
    val (stdout, stderr) = (tmp(".out"), tmp(".log"))
    val pb = new ProcessBuilder(cmd: _*)
      .redirectOutput(stdout)
      .redirectError(stderr)
      .redirectInput(ProcessBuilder.Redirect.from(new File("/dev/null")))
    val env = pb.environment()
    env.put("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.001")
    env.put("SPARK_GRAFT_QUERIES", query)
    env.put("SPARK_GRAFT_BENCH_RUNS", "1")
    env.put("SPARK_GRAFT_CPUS", "2")
    env.put("SPARK_GRAFT_LOAD_WAIT_SECS", "0")
    env.put("SPARK_GRAFT_QUIET_BUDGET_SECS", "0")
    val proc = pb.start()
    val finished = proc.waitFor(300, java.util.concurrent.TimeUnit.SECONDS)
    if (!finished) proc.destroyForcibly().waitFor()
    def read(f: File): Vector[String] = {
      val src = scala.io.Source.fromFile(f, "UTF-8")
      try src.getLines().toVector finally src.close()
    }
    val lines = read(stdout).filter(_.trim.nonEmpty)
    def log = read(stderr).takeRight(20).mkString("\n")
    assert(finished && proc.exitValue() == 0,
      s"graft.Bench did not exit cleanly; stderr tail:\n$log")
    assert(lines.nonEmpty, s"graft.Bench printed nothing; stderr tail:\n$log")

    val json = new ObjectMapper()
    val summary = json.readTree(lines.last)
    assert(summary != null && summary.path("metric").asText() == "summary",
      s"last stdout line is not the summary: ${lines.last}")
    val secs = summary.path("queries").path(query)
    assert(secs.isNumber && secs.asDouble() >= 0,
      s"summary does not list a successful $query: ${lines.last}")
    // the full line before it names every query whose runs all failed
    val total = lines.reverseIterator.drop(1).map(l => scala.util.Try(json.readTree(l)))
      .collectFirst { case scala.util.Success(t) if t.path("metric").asText() == "total" => t }
    assert(total.exists(t => t.path("failed").isArray && t.path("failed").size() == 0),
      s"no total line with an empty failed list: ${total.map(_.toString)}")
  }
}
