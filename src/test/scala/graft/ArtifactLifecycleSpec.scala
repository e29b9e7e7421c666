package graft

import org.apache.hadoop.fs.{FileUtil, Path}
import org.apache.spark.sql.DataFrame
import graft.dedup.Dedup
import graft.engine.LayoutFs
import graft.sim.Ann
import graft.sources.{Sinks, Sources}

/** The shared artifact lifecycle ([[LayoutFs]]) driven through the
  * three persisted artifacts' public verbs: certificate patience on
  * every takedown path, the on-disk state after each commit point of
  * the protocol (reopened by readers, healed by the next maintenance
  * call), and certificate compatibility with the formats already on
  * disk. */
class ArtifactLifecycleSpec extends SparkSpec {
  import spark.implicits._

  private val base = (0L until 40L)
  private val batch = (100L until 110L)
  private val takedown = Seq(3L, 7L)

  private def rowsOf(ids: Seq[Long]): DataFrame =
    ids.map { i =>
      (i, Seq.tabulate(8)(j => math.sin(i * 1.7 + j).toFloat),
        s"doc $i lorem ipsum dolor sit amet ${i * 31} consectetur " +
          s"adipiscing elit ${i % 7} sed do eiusmod tempor",
        Seq(s"t$i", s"g${i % 5}"))
    }.toDF("id", "v", "text", "toks")

  /** One artifact's verbs, its live-id reader and its lifecycle
    * handle — the table the crash matrix iterates. */
  private case class Layout(name: String, tables: Seq[String],
      build: String => Unit, append: (String, DataFrame) => Unit,
      delete: (String, Seq[Long]) => Unit, compact: String => Long,
      read: String => Set[Long], art: String => LayoutFs.Artifact,
      certRows: String => Option[Long])

  private val query = Seq((0L, Seq.fill(8)(0.5f))).toDF("qid", "v")

  private val layouts = Seq(
    Layout("ivf", Seq("assigned"),
      dir => Ann.writeIvfIndex(rowsOf(base), "id", "v", dir, nlist = 4),
      (dir, df) => Ann.appendIvfIndex(df, "id", "v", dir),
      (dir, ids) => Ann.deleteFromIvfIndex(ids.toDF("id"), "id", dir),
      dir => Ann.compactIvfIndex(spark, dir),
      dir => Ann.ivfIndexTopKAuto(spark, dir, query, "qid", "v", k = 1000,
          nprobe = 4, excludeSelf = false)
        .select("neighbor_id").as[Long].collect().toSet,
      dir => Ann.ivf(spark, dir),
      dir => Ann.readManifest(spark, dir).map(_.rows)),
    Layout("neardup", Seq("shingles", "bands"),
      dir => Dedup.writeNearDupIndex(rowsOf(base), "id", "text", dir),
      (dir, df) => Dedup.appendToNearDupIndex(df, "id", "text", dir),
      (dir, ids) => Dedup.deleteFromNearDupIndex(ids.toDF("id"), "id", dir),
      dir => Dedup.compactNearDupIndex(spark, dir),
      dir => Dedup.openNearDupTable(spark, dir, "shingles",
          suppressDeletes = true)
        .select("__cid").as[Long].collect().toSet,
      dir => Dedup.bandIndex(spark, dir),
      dir => Dedup.readNearDupManifest(spark, dir).map(_._4)),
    Layout("store", Seq("docs", "postings"),
      dir => Sinks.indexed(rowsOf(base), dir, Some("id"), "toks"),
      (dir, df) => Sinks.indexed(df, dir, Some("id"), "toks", mode = "append"),
      (dir, ids) => Sinks.deleteFromIndexed(ids.toDF("id"), "id", dir),
      dir => Sinks.compactIndexed(spark, dir),
      dir => Sources.indexedTable(spark, dir, "docs")
        .select("_id").as[Long].collect().toSet,
      dir => Sinks.store(spark, dir),
      dir => Sinks.readIndexedManifest(spark, dir).map(_._1)))

  private def hconf = spark.sparkContext.hadoopConfiguration

  /** Restore the certificate bytes `delayMs` from now on a second
    * thread — a maintenance swap's retraction window, from outside. */
  private def retractFor[A](art: LayoutFs.Artifact, delayMs: Long)(body: => A): A = {
    val saved = {
      val in = art.fs.open(art.manifestPath)
      try in.readAllBytes() finally in.close()
    }
    art.retract()
    val restore = new Thread(() => {
      Thread.sleep(delayMs)
      val out = art.fs.create(art.manifestPath, true)
      try out.write(saved) finally out.close()
    })
    restore.start()
    try body finally restore.join()
  }

  test("every takedown path rides out a certificate-retraction window") {
    val dirs = layouts.map(l => l.name -> scratch(s"patient-${l.name}")).toMap
    layouts.foreach(l => l.build(dirs(l.name)))
    // the band index's takedown and its indexed admit gate (both read
    // the certificate without holding a marker)
    val nd = layouts.find(_.name == "neardup").get
    retractFor(nd.art(dirs("neardup")), 300) {
      Dedup.deleteFromNearDupIndex(Seq(3L).toDF("id"), "id", dirs("neardup"))
    }
    retractFor(nd.art(dirs("neardup")), 300) {
      assert(Dedup.incrementalNearDedupIndexed(rowsOf(batch), dirs("neardup"),
        "id", "text").count() > 0)
    }
    // the other two artifacts on the same schedule
    retractFor(layouts.head.art(dirs("ivf")), 300) {
      Ann.deleteFromIvfIndex(Seq(3L).toDF("id"), "id", dirs("ivf"))
    }
    retractFor(layouts.last.art(dirs("store")), 300) {
      Sinks.deleteFromIndexed(Seq(3L).toDF("id"), "id", dirs("store"))
    }
    layouts.foreach(l => assert(!l.read(dirs(l.name)).contains(3L), l.name))
  }

  /** Copy every data file of the artifact's tables to its
    * `<table>_fold` stage under a fresh name — what a crashed fold's
    * staging step leaves behind. */
  private def stageCopies(l: Layout, dir: String): Seq[(Path, Path)] = {
    val art = l.art(dir)
    l.tables.flatMap { t =>
      val root = art.fs.makeQualified(art.at(t)).toString
      val files = art.fs.listFiles(art.at(t), true)
      val out = Seq.newBuilder[(Path, Path)]
      while (files.hasNext) {
        val p = files.next().getPath
        if (p.getName.endsWith(".parquet") && !p.getName.startsWith(".")) {
          val rel = p.getParent.toString.stripPrefix(root)
          val staged = new Path(art.at(s"${t}_fold").toString + rel,
            "staged-" + p.getName)
          FileUtil.copy(art.fs, p, art.fs, staged, false, hconf)
          out += ((staged, new Path(p.getParent, staged.getName)))
        }
      }
      out.result()
    }
  }

  private def stagedLeft(l: Layout, dir: String): Seq[String] =
    for (t <- l.tables; k <- Seq("append", "fold", "compact")
         if l.art(dir).fs.exists(l.art(dir).at(s"${t}_$k"))) yield s"${t}_$k"

  private def refusal(f: => Any): String =
    intercept[Exception](f).getMessage

  // the commit points of the staged swap and the purge, one row each
  layouts.foreach { l =>
    test(s"crash-state matrix (${l.name}): reopen after each commit point, " +
        "then the next maintenance call heals") {
      val all = base.toSet
      val grown = all ++ batch

      // (1) a staged dir left over, certificate intact: readers see
      // the old snapshot; the next append sweeps the leftover and lands
      // its batch once
      val d1 = scratch(s"crash1-${l.name}")
      l.build(d1)
      stageCopies(l, d1)
      assert(l.read(d1) == all)
      l.append(d1, rowsOf(batch))
      assert(stagedLeft(l, d1).isEmpty, "a staged leftover survived")
      assert(l.read(d1) == grown)
      assert(l.certRows(d1).contains(grown.size.toLong))

      // (2) certificate retracted, staged files not yet moved, and
      // (3) retracted with half the files moved: readers and writers
      // refuse loudly naming the certificate; a rebuild restores, and
      // the next append sweeps the leftovers
      Seq(false, true).foreach { halfMoved =>
        val d = scratch(s"crash23-${l.name}")
        l.build(d)
        val staged = stageCopies(l, d)
        l.art(d).retract()
        if (halfMoved)
          staged.take(staged.size / 2 max 1).foreach { case (s, t) =>
            assert(l.art(d).fs.rename(s, t)) }
        assert(refusal(l.read(d)).contains(LayoutFs.ManifestName))
        assert(refusal(l.append(d, rowsOf(batch)))
          .contains(LayoutFs.ManifestName))
        l.build(d)
        assert(l.read(d) == all)
        l.append(d, rowsOf(batch))
        assert(stagedLeft(l, d).isEmpty, "a staged leftover survived")
        assert(l.read(d) == grown)
      }

      // (4) purge re-issued, tombstone snapshot not yet consumed:
      // readers see the new snapshot; the next compaction re-purges
      // idempotently and consumes the tombstones
      val d4 = scratch(s"crash4-${l.name}")
      l.build(d4)
      l.delete(d4, takedown)
      val art = l.art(d4)
      val saved = new Path(scratch(s"crash4-dels-${l.name}"), "deletes")
      FileUtil.copy(art.fs, art.at("deletes"), art.fs, saved, false, hconf)
      assert(l.compact(d4) == takedown.size)
      FileUtil.copy(art.fs, saved, art.fs, art.at("deletes"), false, hconf)
      val purged = all -- takedown
      assert(l.read(d4) == purged)
      assert(l.compact(d4) == 0L, "the re-purge was not idempotent")
      assert(!art.fs.exists(art.at("deletes")), "tombstones not consumed")
      assert(l.read(d4) == purged)
      assert(l.certRows(d4).contains(purged.size.toLong))

      // (5) a marker left by a dead writer: readers are unaffected,
      // writers refuse naming it; once removed by hand the next
      // maintenance call runs
      val d5 = scratch(s"crash5-${l.name}")
      l.build(d5)
      val marker = l.art(d5).at("_COMPACTING")
      l.art(d5).fs.create(marker, false).close()
      assert(l.read(d5) == all)
      assert(refusal(l.append(d5, rowsOf(batch))).contains("_COMPACTING"))
      l.art(d5).fs.delete(marker, false)
      l.append(d5, rowsOf(batch))
      assert(l.read(d5) == grown)
    }
  }

  // ---- certificate compatibility with the formats already on disk

  private val ivfParent =
    """{"nlist": 4, "rows": 100, "quant": 2, "pq_m": 8, "pq_ksub": 256, """ +
      """"pq_res": 1, "version": 3, "geom_id": 123456789, "stream_marks": """ +
      """{"aa": 7, "bb": 2}, "dead_files": {"assigned": """ +
      """["__cell=1/part-00000-x.snappy.parquet"]}, "built_ms": 1700000000000}"""
  private val ivfOld = """{"nlist": 16, "rows": 10, "built_ms": 17}"""
  private val ndParent =
    """{"shingle_size": 3, "num_hashes": 60, "bands": 10, "rows": 42, """ +
      """"version": 2, "stream_marks": {"tagA": 1}, "dead_files": """ +
      """{"bands": ["part-1.parquet"], "shingles": ["part-0.parquet"]}, """ +
      """"built_ms": 1700000000001}"""
  private val ndOld =
    """{"shingle_size": 3, "num_hashes": 64, "bands": 16, "rows": 9, "built_ms": 1}"""
  private val storeParent =
    """{"rows": 5, "version": 4, "stream_marks": {"c0ffee": 3}, """ +
      """"dead_files": {}, "built_ms": 1700000000002}"""
  private val storeOld = """{"rows": 5, "version": 1, "built_ms": 3}"""

  private def plant(txt: String): String = {
    val dir = scratch("mfcompat")
    val out = new Path(dir).getFileSystem(hconf)
      .create(new Path(dir, LayoutFs.ManifestName), true)
    try out.write(txt.getBytes("UTF-8")) finally out.close()
    dir
  }

  test("certificates in the previous writers' formats parse to the same " +
      "values, older variants included") {
    val ivf = Ann.readManifest(spark, plant(ivfParent)).get
    assert((ivf.nlist, ivf.rows, ivf.quant, ivf.pqM, ivf.pqKsub, ivf.pqRes,
      ivf.version, ivf.geomId, ivf.cert.builtMs) ==
      (4, 100L, 2, 8, 256, 1, 3L, 123456789L, 1700000000000L))
    assert(ivf.streamMarks == Map("aa" -> 7L, "bb" -> 2L))
    assert(ivf.deadFiles == Seq("__cell=1/part-00000-x.snappy.parquet"))
    val ivf0 = Ann.readManifest(spark, plant(ivfOld)).get
    assert((ivf0.nlist, ivf0.rows, ivf0.quant, ivf0.pqM, ivf0.pqKsub,
      ivf0.pqRes, ivf0.version, ivf0.geomId) == (16, 10L, 0, 0, 0, 0, 0L, 0L))
    assert(ivf0.streamMarks.isEmpty && ivf0.deadFiles.isEmpty)

    val ndDir = plant(ndParent)
    assert(Dedup.readNearDupManifest(spark, ndDir) == Some((3, 60, 10, 42L)))
    val nd = Dedup.bandIndex(spark, ndDir).manifest().get
    assert(nd.version == 2L && nd.streamMarks == Map("tagA" -> 1L) &&
      nd.deadFiles == Map("bands" -> Seq("part-1.parquet"),
        "shingles" -> Seq("part-0.parquet")), nd.toString)
    val nd0Dir = plant(ndOld)
    assert(Dedup.readNearDupManifest(spark, nd0Dir) == Some((3, 64, 16, 9L)))
    val nd0 = Dedup.bandIndex(spark, nd0Dir).manifest().get
    assert(nd0.version == 0L && nd0.streamMarks.isEmpty && nd0.deadFiles.isEmpty)

    val stDir = plant(storeParent)
    assert(Sinks.readIndexedManifest(spark, stDir) == Some((5L, 4L)))
    assert(Sinks.store(spark, stDir).manifest().get.streamMarks ==
      Map("c0ffee" -> 3L))
    val st0Dir = plant(storeOld)
    assert(Sinks.readIndexedManifest(spark, st0Dir) == Some((5L, 1L)))
    assert(Sinks.store(spark, st0Dir).manifest().get.deadFiles.isEmpty)
    // a certificate without rows is no certificate
    assert(Sinks.readIndexedManifest(spark, plant("""{"version": 1}""")).isEmpty)
    // the dead-file list still reads through the frozen entry point
    assert(LayoutFs.parseDeadFiles(ndParent).keySet == Set("bands", "shingles"))
  }

  test("certificate write -> read is the identity") {
    val m = LayoutFs.Manifest(rows = 12L, version = 5L,
      geometry = Seq("nlist" -> 4L, "quant" -> 1L, "geom_id" -> -42L),
      streamMarks = Map("ab12" -> 3L, "ff" -> 0L),
      deadFiles = Map("assigned" -> Seq("__cell=0/a.parquet", "__cell=2/b.parquet")),
      builtMs = 99L)
    assert(LayoutFs.Manifest.parse(m.json) == Some(m))
    val art = Sinks.store(spark, scratch("mf-identity"))
    val written = art.write(m)
    assert(written == m.copy(builtMs = written.builtMs))
    assert(art.manifest() == Some(written))
    assert(written.next().version == 6L && written.next().geometry == m.geometry)
  }

  test("artifact directories certified in the previous writers' formats " +
      "still open and probe") {
    layouts.foreach { l =>
      val dir = scratch(s"mfcompat-open-${l.name}")
      l.build(dir)
      val before = l.read(dir)
      val m = l.art(dir).manifest().get
      val g = m.geometry.toMap
      // the previous writers' field order, pre-grace and pre-stream
      // variants (no dead_files / stream_marks), as they sit on disk
      val txt = l.name match {
        case "ivf" =>
          s"""{"nlist": ${g("nlist")}, "rows": ${m.rows}, "quant": 0, """ +
            s""""pq_m": 0, "pq_ksub": 0, "pq_res": 0, "version": 0, """ +
            s""""geom_id": ${g("geom_id")}, "built_ms": 1}"""
        case "neardup" =>
          s"""{"shingle_size": 3, "num_hashes": 64, "bands": 16, """ +
            s""""rows": ${m.rows}, "built_ms": 1}"""
        case _ => s"""{"rows": ${m.rows}, "version": 1, "built_ms": 1}"""
      }
      val out = l.art(dir).fs.create(l.art(dir).manifestPath, true)
      try out.write(txt.getBytes("UTF-8")) finally out.close()
      assert(l.read(dir) == before, l.name)
      l.append(dir, rowsOf(batch))
      assert(l.read(dir) == before ++ batch, l.name)
    }
  }
}
