package graft.perfbench

import java.nio.file.{Files, Paths}
import scala.jdk.CollectionConverters._
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.{col, split}
import graft.dedup.Dedup
import graft.sim.Ann
import graft.sources.{Sinks, Sources}

/** The artifact lifecycle, run in curate_recipe's traced run: the three
  * persisted artifacts (IVF index, near-dup band index, document store)
  * are built from the base rows; each seeded batch then passes the
  * indexed near-dup gate, is appended to all three, is probed, has a
  * takedown slice deleted from all three and is probed again; the leg
  * ends with the three compactions. Every call into an artifact verb runs
  * under its own span. One operation = one batch, plus the compaction;
  * each is checked: probes at nprobe = nlist equal brute force over the
  * live rows, taken-down ids never surface, and after compaction every
  * artifact holds exactly the rows appended minus those deleted. */
final class ArtifactLeg(ctx: Ctx) {
  import ArtifactLeg._
  private val spark = ctx.spark
  import spark.implicits._
  private lazy val dir = ctx.freshDir("artifact")
  private def ivf = s"$dir/ivf"
  private def nd = s"$dir/neardup"
  private def store = s"$dir/store"
  private def input(f: String) = ctx.input(s"artifact/$f")
  private var live = Set.empty[Long]
  private var deleted = Set.empty[Long]
  private var inputBytes = 0.0
  private var admittedRows = 0L
  private var writeS = 0.0
  private val probeMs = Seq.newBuilder[Double]

  private def rows(file: String): DataFrame =
    spark.read.schema("id LONG, text STRING, v ARRAY<FLOAT>").json(input(file))
  private def docs(df: DataFrame) = df.withColumn("tokens", split(col("text"), " "))
  private lazy val queries = spark.read.schema("qid LONG, v ARRAY<FLOAT>")
    .json(input("queries.jsonl")).collect()
    .map(r => (r.getLong(0), r.getSeq[Float](1).toArray)).toSeq.toDF("qid", "v").cache()
  private lazy val allRows = ("base.jsonl" +: (0 until batches).map(b => f"batch_$b%03d.jsonl"))
    .map(rows).reduce(_ union _).select("id", "v").cache()
  private lazy val batches: Int = {
    val s = Files.list(Paths.get(input("")))
    try s.iterator().asScala.count(_.getFileName.toString.startsWith("batch_"))
    finally s.close()
  }

  private def build(): Unit = {
    val base = rows("base.jsonl").cache()
    Ann.writeIvfIndex(base, "id", "v", ivf, nlist = NList)
    Dedup.writeNearDupIndex(base, "id", "text", nd)
    Sinks.indexed(docs(base), store, idCol = Some("id"), analyzedCol = "tokens")
    live = base.select("id").as[Long].collect().toSet
    base.unpersist()
    inputBytes = Files.size(Paths.get(input("base.jsonl"))).toDouble
  }

  private def probe(t: Tracer, nprobe: Int): Seq[(Long, Long, Int)] =
    t.span("sim.Ann.ivfIndexTopKAuto") {
      Ann.ivfIndexTopKAuto(spark, ivf, queries, "qid", "v", K, nprobe = nprobe,
        excludeSelf = false).select("query_id", "neighbor_id", "rank").as[(Long, Long, Int)]
        .collect().toSeq
    }

  private def timedProbe(t: Tracer): Seq[(Long, Long, Int)] = {
    val p0 = System.nanoTime()
    try probe(t, NProbe) finally probeMs += Stats.ms(p0)
  }

  /** Writes of artifact verbs, timed for the admitted-rows rate. */
  private def write[T](t: Tracer, name: String)(f: => T): T = {
    val n0 = System.nanoTime()
    try t.span(name)(f) finally writeS += (System.nanoTime() - n0) / 1e9
  }

  /** No id taken down so far may surface in a probe. */
  private def surfaced(at: String, hits: Seq[(Long, Long, Int)]): Seq[String] =
    hits.map(_._2).filter(deleted.contains).distinct
      .map(id => s"$at: taken-down id $id surfaced in a probe")

  /** Probes at nprobe = nlist must equal brute force over the live rows,
    * and no taken-down id may surface in them. */
  private def checkProbes(t: Tracer, at: String): Seq[String] = {
    val full = probe(t, NList).sortBy(h => (h._1, h._3))
    val exact = Ann.bruteForceTopK(queries, allRows.join(live.toSeq.toDF("id"), "id"),
        "qid", "v", "id", "v", K, excludeSelf = false)
      .select("query_id", "neighbor_id", "rank").as[(Long, Long, Int)]
      .collect().toSeq.sortBy(h => (h._1, h._3))
    (if (full.map(h => (h._1, h._2)) == exact.map(h => (h._1, h._2))) Nil
     else Seq(s"$at: IVF probe at nprobe=nlist differs from brute force")) ++
      surfaced(at, full)
  }

  private def batch(t: Tracer, b: Int): Seq[String] = {
    val file = f"batch_$b%03d.jsonl"
    val rowsIn = rows(file).cache()
    inputBytes += Files.size(Paths.get(input(file)))
    val verdicts = t.span("dedup.Dedup.incrementalNearDupsIndexed") {
      Dedup.incrementalNearDupsIndexed(rowsIn, nd, "id", "text")
        .select("id", "kept").as[(Long, Boolean)].collect()
    }
    val admitted = verdicts.collect { case (id, true) => id }.toSet
    val kept = rowsIn.join(admitted.toSeq.toDF("id"), "id").cache()
    write(t, "dedup.Dedup.appendToNearDupIndex")(Dedup.appendToNearDupIndex(kept, "id", "text", nd))
    write(t, "sim.Ann.appendIvfIndex")(Ann.appendIvfIndex(kept, "id", "v", ivf))
    write(t, "sources.Sinks.indexed")(Sinks.indexed(docs(kept), store, Some("id"), "tokens",
      mode = "append"))
    live ++= admitted; admittedRows += admitted.size
    val before = surfaced(s"batch $b", timedProbe(t))
    val take = spark.read.option("header", "true").schema("id LONG")
      .csv(input(f"takedown_$b%03d.csv"))
    write(t, "sim.Ann.deleteFromIvfIndex")(Ann.deleteFromIvfIndex(take, "id", ivf))
    write(t, "dedup.Dedup.deleteFromNearDupIndex")(Dedup.deleteFromNearDupIndex(take, "id", nd))
    write(t, "sources.Sinks.deleteFromIndexed")(Sinks.deleteFromIndexed(take, "id", store))
    val gone = take.as[Long].collect().toSet
    deleted ++= gone; live --= gone
    val after = surfaced(s"batch $b", timedProbe(t))
    rowsIn.unpersist(); kept.unpersist()
    (if (admitted.size < verdicts.length) Nil
     else Seq(s"batch $b: the near-dup gate admitted every row")) ++
      before ++ after ++ checkProbes(t, s"batch $b")
  }

  def run(t: Tracer): Outcome = {
    build()
    val perBatch = (0 until batches).map { b =>
      scala.util.Try(batch(t, b)).fold(e => Seq(s"batch $b threw: $e"), identity)
    }
    val compacted = scala.util.Try {
      write(t, "sim.Ann.compactIvfIndex")(Ann.compactIvfIndex(spark, ivf))
      write(t, "dedup.Dedup.compactNearDupIndex")(Dedup.compactNearDupIndex(spark, nd))
      write(t, "sources.Sinks.compactIndexed")(Sinks.compactIndexed(spark, store))
    }.fold(e => Seq(s"compaction threw: $e"),
      _ => checkCounts() ++ checkProbes(t, "after compaction"))
    Outcome.of(perBatch :+ compacted)
  }

  /** After compaction every artifact holds exactly appended − deleted. */
  private def checkCounts(): Seq[String] = {
    val stored = Sources.indexedTable(spark, store, "docs").select("id").as[Long]
      .collect().toSet
    Seq(
      "ivf" -> Ann.readManifest(spark, ivf).map(_.rows).getOrElse(-1L),
      "neardup" -> Dedup.readNearDupManifest(spark, nd).map(_._4).getOrElse(-1L),
      "store" -> Sinks.readIndexedManifest(spark, store).map(_._1).getOrElse(-1L),
      "store docs" -> stored.size.toLong
    ).collect { case (a, r) if r != live.size =>
      s"$a holds $r rows after compaction, expected ${live.size}"
    } ++ (stored intersect deleted).toSeq.map(id => s"taken-down id $id still in the store")
  }

  def layers(t: Tracer): Map[String, Double] = {
    val perArtifact = ArtifactVerbs.flatMap { case (a, verbs) =>
      val bytes = t.tasksOf(verbs.flatMap(t.jobsOf(_))).map(_.bytesWritten).sum
      val path = Map("ivf" -> ivf, "neardup" -> nd, "store" -> store)(a)
      val mf = new String(Files.readAllBytes(Paths.get(path, "_MANIFEST.json")), "UTF-8")
      Seq(
        s"artifact.$a.bytes_written_per_input_byte" -> bytes / inputBytes,
        s"artifact.$a.files" -> Ctx.dataFiles(path).size.toDouble,
        s"artifact.$a.dead_files" ->
          graft.engine.LayoutFs.parseDeadFiles(mf).values.map(_.size).sum.toDouble)
    }
    val probeJobs = t.jobsOf("sim.Ann.ivfIndexTopKAuto")
    val probeHits = t.spansNamed("sim.Ann.ivfIndexTopKAuto").size * K * queries.count()
    val verbCalls = VerbNames.map(t.spansNamed(_).size).sum
    perArtifact.toMap ++ VerbNames.map(v => s"$v.self_s" -> t.selfS(v)) ++ Map(
      "dedup.Dedup.incrementalNearDupsIndexed.self_s" ->
        t.selfS("dedup.Dedup.incrementalNearDupsIndexed"),
      "artifact.spark.jobs_per_call" -> VerbNames.map(t.jobsOf(_).size).sum.toDouble / verbCalls,
      "artifact.admitted_rows_per_s" -> admittedRows / writeS,
      "sim.Ann.ivfIndexTopKAuto.p50_ms" -> Stats.median(probeMs.result()),
      "sim.Ann.ivfIndexTopKAuto.rows_scanned_per_hit" ->
        t.tasksOf(probeJobs).map(_.recordsRead).sum.toDouble / probeHits,
      "artifact.stored_bytes_per_input_byte" ->
        Seq(ivf, nd, store).map(Ctx.dirBytes).sum / inputBytes)
  }
}

object ArtifactLeg {
  val NList = 8
  val NProbe = 4
  val K = 5
  /** Each artifact's append, delete and compact verbs, as span names. */
  val ArtifactVerbs: Seq[(String, Seq[String])] = Seq(
    "ivf" -> Seq("sim.Ann.appendIvfIndex", "sim.Ann.deleteFromIvfIndex",
      "sim.Ann.compactIvfIndex"),
    "neardup" -> Seq("dedup.Dedup.appendToNearDupIndex",
      "dedup.Dedup.deleteFromNearDupIndex", "dedup.Dedup.compactNearDupIndex"),
    "store" -> Seq("sources.Sinks.indexed", "sources.Sinks.deleteFromIndexed",
      "sources.Sinks.compactIndexed"))
  val VerbNames: Seq[String] = ArtifactVerbs.flatMap(_._2)
  val layerNames: Seq[String] =
    VerbNames.map(v => s"$v.self_s") ++
      ArtifactVerbs.map(_._1).flatMap(a =>
        Seq("bytes_written_per_input_byte", "files", "dead_files").map(q => s"artifact.$a.$q")) ++
      Seq("dedup.Dedup.incrementalNearDupsIndexed.self_s", "artifact.spark.jobs_per_call",
        "artifact.admitted_rows_per_s", "sim.Ann.ivfIndexTopKAuto.p50_ms",
        "sim.Ann.ivfIndexTopKAuto.rows_scanned_per_hit", "artifact.stored_bytes_per_input_byte")
}
