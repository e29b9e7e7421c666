package graft.perfbench

import java.nio.file.{Files, Path, Paths}
import scala.jdk.CollectionConverters._
import org.apache.spark.sql.SparkSession

/** End-to-end benchmark main. One run = one workload on one seed:
  *
  *   graft.perfbench.Main --workload W --seed N --seconds S --trace 0|1
  *     --inputs DIR --work DIR --pins DIR
  *
  * `--inputs` holds what perfbench/gen.py wrote for the seed; `--work` is
  * scratch space for artifacts and outputs; `--pins` keeps the outputs
  * the first run of each seed pinned. The last stdout line is
  * `PERFBENCH_RESULT {json}`: correct/attempted/failed plus the metric
  * values by name (perfbench/run.py attaches the units declared in
  * BENCHMARK.json).
  *
  * `--trace 0` reports the end-to-end metrics, measured with tracing off:
  * the median latency of at least [[MinOps]] operations run for about
  * `--seconds`. `--trace 1` runs the operation untraced, traced and
  * untraced again (the tracing overhead is the difference), then the
  * workload's per-layer breakdown, and reports the per-layer metrics. */
object Main {

  final case class Opts(workload: String, seed: Long, seconds: Double,
      trace: Boolean, inputs: Path, work: Path, pins: Path)

  /** Times the workload's set-up procedure is repeated; setup_s reports
    * the median. */
  val SetupReps = 3
  /** Operations a timed pass runs at least, however long they take. */
  val MinOps = 3

  def main(args: Array[String]): Unit = {
    val o = parse(args)
    val t0 = System.nanoTime()
    val spark = session(o.work)
    val sessionS = (System.nanoTime() - t0) / 1e9
    val ctx = Ctx(spark, o.seed, o.inputs, o.work, o.pins)
    val wl: Workload = o.workload match {
      case "match_bulk" => new MatchBulk(ctx)
      case "curate_recipe" => new CurateRecipe(ctx)
      case other => sys.error(s"unknown workload '$other'")
    }
    // host contamination: cores busy with OTHER processes, sampled before
    // set-up and after the timed passes (the figure goes to stderr; it
    // is disclosure, not a metric)
    val extBefore = graft.Bench.externalBusyCores(300)
    val result = try {
      // a traced run reports no setup_s, so it sets up once
      val prepS = (1 to (if (o.trace) 1 else SetupReps)).map { rep =>
        val p0 = System.nanoTime(); wl.prepare(rep); (System.nanoTime() - p0) / 1e9
      }
      val w0 = System.nanoTime()
      val warm = pass(wl, 0.0, 1, None)
      val warmS = (System.nanoTime() - w0) / 1e9
      val setupS = sessionS + Stats.median(prepS) + warmS
      System.err.println(f"[perfbench] session $sessionS%.2f s, prepare " +
        prepS.map(s => f"$s%.2f").mkString("/") + f" s, warm-up $warmS%.2f s")
      // the warm-up's output is checked like any other operation's
      val checked = warm.copy(latMs = Nil)

      if (!o.trace) {
        val out = pass(wl, o.seconds, MinOps, None)
        System.err.println("[perfbench] operations (ms): " +
          out.latMs.map(x => f"$x%.0f").mkString(" "))
        (checked.merge(out), Map(
          "setup_s" -> setupS,
          "run_p50_s" -> Stats.median(out.latMs) / 1e3))
      } else {
        // untraced, traced, untraced: the overhead is the traced
        // operation minus the mean of its neighbours, so a steady drift
        // (the JIT still warming) cancels
        val plain0 = pass(wl, 0.0, 1, None)
        val tracer = new Tracer(spark)
        val traced = try pass(wl, 0.0, 1, Some(tracer)) finally tracer.stop()
        val plain1 = pass(wl, 0.0, 1, None)
        tracer.resume()
        val broken = try wl.trace(tracer) finally tracer.stop()
        val plainMs = (plain0.allMs.head + plain1.allMs.head) / 2
        System.err.println(f"[perfbench] untraced ${plain0.allMs.head}%.0f ms, traced " +
          f"${traced.allMs.head}%.0f ms, untraced ${plain1.allMs.head}%.0f ms")
        tracer.write(o.work.resolve("trace.jsonl").toString)
        val layers = wl.layers(tracer) ++ Common.layers(tracer) +
          ("bench.tracing_overhead_ms" -> (traced.allMs.head - plainMs))
        val missing = (wl.layerNames ++ Common.names).filterNot(layers.contains)
        require(missing.isEmpty, s"workload did not report: ${missing.mkString(", ")}")
        // layers another workload measures read 0 here: not exercised
        (Seq(plain0, traced, plain1, broken).foldLeft(checked)(_.merge(_)),
          Workloads.layerNames.map(n => n -> layers.getOrElse(n, 0.0)).toMap)
      }
    } finally {
      val extAfter = graft.Bench.externalBusyCores(300)
      System.err.println(f"[perfbench] external busy cores: before $extBefore%.2f, " +
        f"after $extAfter%.2f")
      wl.close()
      spark.stop()
    }
    val (out, metrics) = result
    out.problems.take(20).foreach(p => System.err.println(s"[perfbench] FAILED: $p"))
    val m = metrics.toSeq.sortBy(_._1).map { case (k, v) =>
      require(!v.isNaN && !v.isInfinite, s"metric $k is $v")
      s""""$k":$v"""
    }.mkString("{", ",", "}")
    println(s"""PERFBENCH_RESULT {"correct":${out.failed == 0},""" +
      s""""attempted":${out.attempted},"failed":${out.failed},"metrics":$m}""")
  }

  /** Runs the workload's operation at least `minOps` times and until
    * `seconds` have passed, checking each output. With a tracer, each
    * operation runs under the span "bench.op" and the rows its file scans
    * produced are kept in the tracer. */
  private def pass(wl: Workload, seconds: Double, minOps: Int,
      tracer: Option[Tracer]): Outcome = {
    val ok = Seq.newBuilder[Double]
    val all = Seq.newBuilder[Double]
    val problems = Seq.newBuilder[String]
    var n = 0; var failed = 0
    val deadline = System.nanoTime() + (seconds * 1e9).toLong
    while (n < minOps || System.nanoTime() < deadline) {
      tracer.foreach(_.takeScannedRows())
      val n0 = System.nanoTime()
      val r = scala.util.Try(tracer.fold(wl.op())(_.span("bench.op")(wl.op())))
      val ms = Stats.ms(n0)
      tracer.foreach(t => t.opScannedRows = t.takeScannedRows())
      val p = r.fold(e => Seq(s"operation threw: $e"), _ => wl.check())
      if (p.nonEmpty) { failed += 1; problems ++= p } else ok += ms
      all += ms; n += 1
    }
    Outcome(n, failed, ok.result(), problems.result(), all.result())
  }

  private def parse(args: Array[String]): Opts = {
    val kv = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    def req(k: String) = kv.getOrElse(k, sys.error(s"--$k required"))
    Opts(req("workload"), req("seed").toLong, req("seconds").toDouble,
      req("trace") == "1", Paths.get(req("inputs")), Paths.get(req("work")),
      Paths.get(req("pins")))
  }

  /** `local[nproc]` with nproc shuffle partitions and graft.Bench's other
    * session settings; scratch dirs inside the work dir. */
  def session(work: Path): SparkSession = {
    val cores = Runtime.getRuntime.availableProcessors().toString
    Files.createDirectories(work)
    val s = SparkSession.builder()
      .master(s"local[$cores]")
      .config("spark.sql.shuffle.partitions", cores)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.parquet.outputTimestampType", "TIMESTAMP_MICROS")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", work.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", work.resolve("warehouse").toString)
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }
}

final case class Ctx(spark: SparkSession, seed: Long, inputs: Path, work: Path,
    pins: Path) {
  /** A fresh, empty directory under the work dir. */
  def freshDir(name: String): String = {
    val p = work.resolve(name)
    if (Files.exists(p)) Ctx.deleteTree(p)
    Files.createDirectories(p)
    p.toString
  }
  def input(name: String): String = inputs.resolve(name).toString

  /** Values pinned for this seed by the first run in this checkout; later
    * runs must reproduce them exactly. Returns the problems found. */
  def pin(key: String, value: String): Seq[String] = {
    Files.createDirectories(pins)
    val f = pins.resolve(s"$key-$seed.txt")
    if (!Files.exists(f)) { Files.writeString(f, value); Nil }
    else {
      val was = Files.readString(f)
      if (was == value) Nil else Seq(s"$key for seed $seed: pinned '$was', got '$value'")
    }
  }
}

object Ctx {
  def deleteTree(p: Path): Unit = {
    val s = Files.walk(p)
    try s.sorted(java.util.Comparator.reverseOrder()).forEach(x => Files.delete(x))
    finally s.close()
  }

  /** The data files under a directory: files not starting with `_` or
    * `.` (no markers, manifests or checksums). */
  def dataFiles(dir: String): Seq[Path] = {
    val s = Files.walk(Paths.get(dir))
    try s.iterator().asScala.filter(Files.isRegularFile(_)).filterNot { p =>
      val n = p.getFileName.toString
      n.startsWith("_") || n.startsWith(".")
    }.toList
    finally s.close()
  }

  /** Bytes of the data files under a directory. */
  def dirBytes(dir: String): Double = dataFiles(dir).map(Files.size(_).toDouble).sum
}

/** Checked operations: how many ran, how many failed a check, the
  * latencies of those that passed (`latMs`) and of all (`allMs`). */
final case class Outcome(attempted: Long, failed: Long, latMs: Seq[Double],
    problems: Seq[String] = Nil, allMs: Seq[Double] = Nil) {
  def merge(o: Outcome): Outcome = Outcome(attempted + o.attempted,
    failed + o.failed, latMs ++ o.latMs, problems ++ o.problems, allMs ++ o.allMs)
}

object Outcome {
  /** One operation per check list; an empty list passed. */
  def of(checks: Seq[Seq[String]]): Outcome =
    Outcome(checks.size, checks.count(_.nonEmpty), Nil, checks.flatten)
}

trait Workload {
  /** Build this workload's inputs and artifacts from the generated files,
    * from scratch; repeated [[Main.SetupReps]] times, the last one is
    * kept. */
  def prepare(rep: Int): Unit
  /** One operation, as a user runs it (the timed unit). */
  def op(): Unit
  /** Checks the last operation's output; the problems found. */
  def check(): Seq[String]
  /** The per-layer breakdown, run after the traced operation with every
    * call into the program under its own span; the checked operations it
    * ran. */
  def trace(t: Tracer): Outcome
  /** Per-layer metrics from the traced operation and [[trace]]. */
  def layers(t: Tracer): Map[String, Double]
  def layerNames: Seq[String]
  def close(): Unit = ()
}

object Workloads {
  /** Every per-layer metric any workload reports. */
  lazy val layerNames: Seq[String] =
    (MatchBulk.layerNames ++ CurateRecipe.layerNames ++ Common.names).distinct
}

/** Spark-level layer metrics every traced workload reports. */
object Common {
  val names = Seq("spark.spill_bytes", "spark.tasks_failed", "spark.task_wait_ms",
    "bench.tracing_overhead_ms")

  def layers(t: Tracer): Map[String, Double] = {
    val tasks = t.tasksOf(t.allJobs)
    Map(
      "spark.spill_bytes" -> tasks.map(_.spill).sum.toDouble,
      "spark.tasks_failed" -> tasks.count(_.failed).toDouble,
      "spark.task_wait_ms" -> Stats.median(tasks.map(_.waitMs.toDouble)))
  }
}

object Stats {
  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)
  /** Linear-interpolated quantile; NaN-free (0 for no samples). */
  def quantile(xs: Seq[Double], q: Double): Double =
    if (xs.isEmpty) 0.0
    else {
      val s = xs.sorted
      val pos = q * (s.size - 1)
      val lo = math.floor(pos).toInt; val hi = math.ceil(pos).toInt
      s(lo) + (s(hi) - s(lo)) * (pos - lo)
    }
  def sha256(lines: Iterable[String]): String = {
    val md = java.security.MessageDigest.getInstance("SHA-256")
    lines.foreach(l => md.update((l + "\n").getBytes("UTF-8")))
    md.digest().map("%02x".format(_)).mkString
  }
  def ms(n0: Long): Double = (System.nanoTime() - n0) / 1e6
}
