package graft

import java.nio.file.Files
import org.apache.spark.sql.functions._
import graft.sources.{Sinks, Sources}
import graft.engine.LayoutFs
import graft.conf.RecipeConf
import graft.ml.Scoring
import graft.streaming.EventStream
import graft.multimodal.Multimodal
import graft.graph.GraphMetrics
import graft.functions.Registry

class ModulesSpec extends SparkSpec {
  import spark.implicits._

  private def tmpDir = scratch("graft-test")

  test("csv sink/source round trip: all-string, ';' sep, missing → empty string") {
    val dir = s"$tmpDir/csv"
    val df = Seq(("1", "a"), ("2", "")).toDF("id", "v")
    Sinks.csv(df, dir, names = Seq("id", "v"))
    val back = Sources.csv(spark, dir)
    assert(back.schema.fields.forall(_.dataType.typeName == "string"))
    assert(rows(back.orderBy("id")) == Seq(Seq("1", "a"), Seq("2", "")))
  }

  test("csv skiprows drops leading junk lines before the header (recipes.py:386-388)") {
    val dir = tmpDir
    Files.writeString(java.nio.file.Paths.get(s"$dir/skip.csv"),
      "# exported 2026-01-01\n# by tool v3\nid;v\n1;a\n2;b\n")
    val back = Sources.csv(spark, s"$dir/skip.csv", skiprows = 2)
    assert(back.columns.toSeq == Seq("id", "v"))
    assert(rows(back.orderBy("id")) == Seq(Seq("1", "a"), Seq("2", "b")))
  }

  test("fwf sink/source round trip: left-justified pad to widths (recipes.py:77-108)") {
    val dir = s"$tmpDir/fwf"
    val df = Seq(("ab", "x"), ("c", "yz")).toDF("A", "B")
    Sinks.fwf(df, dir, widths = Seq(3, 3), names = Seq("A", "B"))
    val raw = spark.read.text(dir).orderBy("value")
    assert(col1[String](raw, "value") == Seq("ab x  ", "c  yz "))
    val back = Sources.fwf(spark, dir, widths = Seq(3, 3), names = Seq("A", "B"))
    assert(rows(back.orderBy("A")) == Seq(Seq("ab", "x"), Seq("c", "yz")))
  }

  test("csv skiprows on a DIRECTORY drops the preamble from every file, not just the first") {
    val dir = s"$tmpDir/skipdir"
    Files.createDirectories(java.nio.file.Paths.get(dir))
    Files.writeString(java.nio.file.Paths.get(s"$dir/a.csv"), "# junk a\nid;v\n1;a\n")
    Files.writeString(java.nio.file.Paths.get(s"$dir/b.csv"), "# junk b\nid;v\n2;b\n")
    val back = Sources.csv(spark, dir, skiprows = 1)
    assert(back.columns.toSeq == Seq("id", "v"))
    assert(rows(back.orderBy("id")) == Seq(Seq("1", "a"), Seq("2", "b")))
  }

  test("csv skiprows + non-UTF8 encoding decodes the requested charset") {
    val f = s"$tmpDir/latin1.csv"
    java.nio.file.Files.write(java.nio.file.Paths.get(f),
      "# junk\nid;v\n1;café\n".getBytes("ISO-8859-1"))
    val back = Sources.csv(spark, f, encoding = "ISO-8859-1", skiprows = 1)
    assert(rows(back) == Seq(Seq("1", "café")))
  }

  test("orc source/sink round-trip, pushdown reaches the scan") {
    val dir = tmpDir // tmpDir is a def: capture ONE directory
    val df = Seq((1L, "ana", 30), (2L, "ben", 41)).toDF("id", "name", "age")
    Sinks.orc(df, s"$dir/orc_rt")
    val back = Sources.orc(spark, s"$dir/orc_rt")
    assert(rows(back.orderBy("id")) == rows(df.orderBy("id")))
    // filters and column pruning reach the ORC scan like parquet
    val plan = back.filter(col("age") > 35).select("name")
      .queryExecution.executedPlan.toString
    assert(plan.contains("PushedFilters: [IsNotNull(age), GreaterThan(age"), plan)
    // and the YAML layer reads/writes the format
    val conf = RecipeConf.load(
      s"""datasets:
         |  oin:  {path: $dir/orc_rt, format: orc}
         |  oout: {path: $dir/orc_out, format: orc}
         |recipes:
         |  cp: {input: oin, steps: [{keep: {select: [id, name]}}], output: oout}
         |""".stripMargin)
    RecipeConf.run(spark, conf, "cp")
    assert(Sources.orc(spark, s"$dir/orc_out").columns.toSeq == Seq("id", "name"))
    // jsonl sink: reader's write side, round-trips through the YAML layer
    val jconf = RecipeConf.load(
      s"""datasets:
         |  jin:  {path: $dir/orc_rt, format: orc}
         |  jout: {path: $dir/jl_out, format: jsonl}
         |recipes:
         |  tojl: {input: jin, steps: [], output: jout}
         |""".stripMargin)
    RecipeConf.run(spark, jconf, "tojl")
    val jback = Sources.jsonl(spark, s"$dir/jl_out")
    assert(jback.count() == 2 &&
      jback.columns.toSet == Set("id", "name", "age"))
  }

  test("avro and xml source/sink round-trip, incl. the YAML layer") {
    val dir = tmpDir
    val df = Seq((1L, "ana", 30), (2L, "ben", 41)).toDF("id", "name", "age")
    Sinks.avro(df, s"$dir/av_rt")
    val aback = Sources.avro(spark, s"$dir/av_rt")
    assert(rows(aback.orderBy("id")) == rows(df.orderBy("id")))
    Sinks.xml(df, s"$dir/xml_rt", rowTag = "person")
    val xback = Sources.xml(spark, s"$dir/xml_rt", rowTag = "person")
      .select("id", "name", "age") // XML infers its own column order
    assert(rows(xback.orderBy("id")) == rows(df.orderBy("id")))
    // YAML: avro in → xml out with a custom row tag, read back
    val conf = RecipeConf.load(
      s"""datasets:
         |  ain:  {path: $dir/av_rt, format: avro}
         |  xout: {path: $dir/xml_out, format: xml, options: {row_tag: rec}}
         |recipes:
         |  cp: {input: ain, steps: [{keep: {select: [id, name]}}], output: xout}
         |""".stripMargin)
    RecipeConf.run(spark, conf, "cp")
    val yback = Sources.xml(spark, s"$dir/xml_out", rowTag = "rec")
    assert(yback.count() == 2 && yback.columns.toSet == Set("id", "name"))
  }

  test("csv skiprows rejects charsets whose newline is not the single byte 0x0A") {
    // TextInputFormat splits on \n bytes; UTF-16 encodes '\n' as 2-4
    // bytes, so the skiprows path would shred records mid-character
    val f = s"$tmpDir/utf16.csv"
    java.nio.file.Files.write(java.nio.file.Paths.get(f),
      "# junk\nid;v\n1;a\n".getBytes("UTF-16"))
    val e = intercept[IllegalArgumentException] {
      Sources.csv(spark, f, encoding = "UTF-16", skiprows = 1)
    }
    assert(e.getMessage.contains("UTF-16"))
  }

  test("fwf sink fails loudly instead of silently truncating overlong values") {
    val df = Seq(Tuple1("marseille")).toDF("city")
    val e = intercept[Exception] {
      Sinks.fwf(df, s"$tmpDir/fwf_overflow", widths = Seq(5), names = Seq("city"))
    }
    def chain(t: Throwable): String =
      if (t == null) "" else t.getMessage + "|" + chain(t.getCause)
    assert(chain(e).contains("exceeds width 5"), chain(e))
  }

  test("upsertPartial: a mixed batch overlays existing ids AND inserts new ids") {
    val p = s"$tmpDir/ups_mixed"
    Sinks.parquet(Seq((1L, "a", "x")).toDF("id", "v", "extra"), p)
    Sinks.upsertPartial(Seq((1L, "b"), (2L, "c")).toDF("id", "v"), p, "id")
    val back = spark.read.parquet(p).orderBy("id").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getString(2)))
    // id 1: posted column overlaid, stored-only column kept;
    // id 2: inserted with the stored-only column null
    assert(back.toSeq == Seq((1L, "b", "x"), (2L, "c", null)))
  }

  test("multi-file regex source concatenates matching files; gz csv reads natively") {
    val dir = tmpDir
    java.nio.file.Files.writeString(java.nio.file.Paths.get(s"$dir/data_1.csv"), "id;v\n1;a\n")
    java.nio.file.Files.writeString(java.nio.file.Paths.get(s"$dir/data_2.csv"), "id;v\n2;b\n")
    java.nio.file.Files.writeString(java.nio.file.Paths.get(s"$dir/other.txt"), "junk\n")
    val df = Sources.multiFile(spark, dir, "data_\\d+\\.csv",
      p => Sources.csv(spark, p))
    assert(col1[String](df.orderBy("id"), "id") == Seq("1", "2"))
    // gzip: Spark decompresses by extension, like the reference's
    // smart_open compression infer (recipes.py:535-541)
    val gz = new java.util.zip.GZIPOutputStream(
      new java.io.FileOutputStream(s"$dir/z.csv.gz"))
    gz.write("id;v\n9;z\n".getBytes); gz.close()
    val gzDf = Sources.csv(spark, s"$dir/z.csv.gz")
    assert(rows(gzDf) == Seq(Seq("9", "z")))
  }

  test("withProvenance stamps each row with its own source file across a multi-file scan") {
    val dir = tmpDir
    java.nio.file.Files.writeString(java.nio.file.Paths.get(s"$dir/part_a.csv"), "id;v\n1;a\n")
    java.nio.file.Files.writeString(java.nio.file.Paths.get(s"$dir/part_b.csv"), "id;v\n2;b\n")
    val df = Sources.multiFile(spark, dir, "part_[ab]\\.csv",
      p => Sources.csv(spark, p))
    val out = graft.operators.Ops.withProvenance(df).collect()
      .map(r => r.getString(0) -> r.getString(2)).toMap
    assert(out == Map("1" -> "part_a.csv", "2" -> "part_b.csv"))
    // non-file rows (in-memory fixture) surface NULL, not ''
    import spark.implicits._
    val mem = graft.operators.Ops.withProvenance(Seq((1, "x")).toDF("id", "v")).collect()(0)
    assert(mem.isNullAt(2))
    // input_file_name() is a percent-encoded URI: a file named with a
    // space must stamp the ON-DISK name, and a literal '+' must survive
    // (url_decode alone would form-decode it to a space)
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get(s"$dir/my file+v2.csv"), "id;v\n3;c\n")
    val weird = graft.operators.Ops.withProvenance(
      Sources.csv(spark, s"$dir/my file+v2.csv")).collect()(0)
    assert(weird.getString(2) == "my file+v2.csv", weird.toString)
  }

  test("jsonl source keeps primitives as strings") {
    val dir = s"$tmpDir/jsonl"
    Files.write(java.nio.file.Paths.get(dir),
      "{\"a\": 1, \"b\": \"x\"}\n{\"a\": 2, \"b\": \"y\"}\n".getBytes)
    val df = Sources.jsonl(spark, dir)
    assert(df.schema("a").dataType.typeName == "string")
    assert(df.count() == 2)
  }

  test("indexed sink writes docs + postings tables") {
    val dir = s"$tmpDir/idx"
    val df = Seq((1L, Seq("red", "apple")), (2L, Seq("red", "pear")))
      .toDF("id", "toks")
    Sinks.indexed(df, dir, idCol = Some("id"), analyzedCol = "toks")
    assert(spark.read.parquet(s"$dir/docs").count() == 2)
    val postings = spark.read.parquet(s"$dir/postings")
    assert(postings.filter($"token" === "red").count() == 2)
    // DELETE (takedown verb, r14): a tombstoned doc vanishes from the
    // shared reader — docs AND postings — while physically remaining;
    // rebuild purges the tombstones
    Sinks.deleteFromIndexed(Seq(1L).toDF("id"), "id", dir)
    assert(Sources.indexedTable(spark, dir, "docs").count() == 1)
    assert(Sources.indexedTable(spark, dir, "postings")
      .filter($"token" === "red").count() == 1)
    // the recipe `index` dataset read routes through the same reader
    val conf = graft.conf.RecipeConf.load(
      s"""datasets:
         |  the_idx: {path: $dir, format: index}
         |recipes:
         |  r: {input: the_idx, steps: []}
         |""".stripMargin)
    assert(graft.conf.RecipeConf.run(spark, conf, "r").count() == 1)
    // idempotent / unknown ids; delete of both docs leaves zero rows
    Sinks.deleteFromIndexed(Seq(1L, 2L, 99L).toDF("id"), "id", dir)
    assert(Sources.indexedTable(spark, dir, "docs").count() == 0)
    // rebuild (overwrite) clears the tombstones — the new corpus is
    // the authority on membership
    Sinks.indexed(df, dir, idCol = Some("id"), analyzedCol = "toks")
    assert(Sources.indexedTable(spark, dir, "docs").count() == 2)
    val eNoIdx = intercept[RuntimeException](
      Sinks.deleteFromIndexed(Seq(1L).toDF("id"), "id", s"$dir/nope"))
    assert(eNoIdx.getMessage.contains("manifest"), eNoIdx.getMessage)
  }

  test("document-store manifest discipline: certified rows/version, " +
      "staged append accounting, reader-atomic purge, retraction-window " +
      "patience (r14 verdict #1)") {
    val dir = s"$tmpDir/idxmf"
    val df = Seq((1L, Seq("red", "apple")), (2L, Seq("red", "pear")))
      .toDF("id", "toks")
    Sinks.indexed(df, dir, idCol = Some("id"), analyzedCol = "toks")
    // the certificate is written LAST and certifies the docs total
    assert(Sinks.readIndexedManifest(spark, dir) == Some((2L, 1L)))
    // append: signs only the batch, incremental accounting, version bump
    Sinks.indexed(Seq((3L, Seq("plum"))).toDF("id", "toks"), dir,
      idCol = Some("id"), analyzedCol = "toks", mode = "append")
    assert(Sinks.readIndexedManifest(spark, dir) == Some((3L, 2L)))
    assert(Sources.indexedTable(spark, dir, "docs").count() == 3)
    assert(Sources.indexedTable(spark, dir, "postings")
      .filter($"token" === "plum").count() == 1)
    // appends extend a COMPLETE store only
    val eApp = intercept[RuntimeException](Sinks.indexed(df,
      s"$dir-none", idCol = Some("id"), analyzedCol = "toks",
      mode = "append"))
    assert(eApp.getMessage.contains("manifest"), eApp.getMessage)
    // an empty batch is a no-op append: no version churn, and no
    // schema-inference crash on a data-less staging dir
    Sinks.indexed(df.limit(0), dir, idCol = Some("id"),
      analyzedCol = "toks", mode = "append")
    assert(Sinks.readIndexedManifest(spark, dir) == Some((3L, 2L)))
    // the purge decrements the certified total, bumps the version,
    // and physically removes the rows
    Sinks.deleteFromIndexed(Seq(1L).toDF("id"), "id", dir)
    Sinks.compactIndexed(spark, dir)
    assert(Sinks.readIndexedManifest(spark, dir) == Some((2L, 3L)))
    // reader-visible erasure: the replaced files ride the dead-file
    // grace (still on disk, excluded by name) until the next entry
    assert(Sources.indexedTable(spark, dir, "docs",
        suppressDeletes = false)
      .filter($"_id" === 1L).count() == 0, "purge left the doc visible")
    assert(Sinks.store(spark, dir).manifest().get.deadFiles.values.flatten.nonEmpty,
      "the purge left no dead-file grace list")
    val fs = new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    assert(!fs.exists(new org.apache.hadoop.fs.Path(s"$dir/deletes")))
    // writer exclusion via the shared atomic markers, both ways — and
    // the auto-purge policy DEFERS under a live marker
    val compacting = new org.apache.hadoop.fs.Path(s"$dir/_COMPACTING")
    fs.create(compacting, false).close()
    val e1 = intercept[IllegalArgumentException](Sinks.indexed(
      Seq((9L, Seq("x"))).toDF("id", "toks"), dir,
      idCol = Some("id"), analyzedCol = "toks", mode = "append"))
    assert(e1.getMessage.contains("_COMPACTING"), e1.getMessage)
    fs.delete(compacting, false)
    val appending = new org.apache.hadoop.fs.Path(s"$dir/_APPENDING")
    fs.create(appending, false).close()
    Sinks.deleteFromIndexed(Seq(2L).toDF("id"), "id", dir)
    val e2 = intercept[IllegalArgumentException](
      Sinks.compactIndexed(spark, dir))
    assert(e2.getMessage.contains("_APPENDING"), e2.getMessage)
    assert(!Sinks.maybeCompactIndexed(spark, dir,
        afterDeletes = Some(1L)),
      "the policy did not defer under _APPENDING")
    fs.delete(appending, false)
    // the pct knob against the certified total: 1 tombstone over 2
    // certified docs = 50% — below a 80% threshold the backlog stays,
    // past a 40% one it purges
    assert(!Sinks.maybeCompactIndexed(spark, dir, afterDeletes = None,
      afterDeletesPct = Some(80.0)))
    assert(fs.exists(new org.apache.hadoop.fs.Path(s"$dir/deletes")),
      "pct policy purged below its threshold")
    assert(Sinks.maybeCompactIndexed(spark, dir, afterDeletes = None,
      afterDeletesPct = Some(40.0)))
    assert(Sinks.readIndexedManifest(spark, dir) == Some((1L, 4L)))
    // the next maintenance entry collects the grace files and clears
    // the list (version bumps) — the hand-written re-issues below
    // would otherwise wipe a live dead list
    Sinks.compactIndexed(spark, dir)
    assert(Sinks.readIndexedManifest(spark, dir) == Some((1L, 5L)))
    assert(Sinks.store(spark, dir).manifest().get.deadFiles.values.flatten.isEmpty,
      "the next entry must clear the dead-file list")
    // RETRACTION WINDOW: a read landing mid-swap rides it out on the
    // patient manifest read (this reader serves the live _search
    // route); a PERMANENT absence still refuses loudly
    val mfp = Sinks.store(spark, dir).manifestPath
    fs.delete(mfp, false)
    val reissue = new Thread(() => {
      Thread.sleep(400)
      Sinks.store(spark, dir).write(LayoutFs.Manifest(1L, 5L))
    })
    reissue.start()
    assert(Sources.indexedTable(spark, dir, "docs").count() == 1,
      "the patient read did not ride out the retraction window")
    reissue.join()
    fs.delete(mfp, false)
    val eGone = intercept[RuntimeException](
      Sources.indexedTable(spark, dir, "docs"))
    assert(eGone.getMessage.contains("manifest"), eGone.getMessage)
    Sinks.store(spark, dir).write(LayoutFs.Manifest(1L, 5L))
  }

  test("readers hand s3a:// URIs to Hadoop unmodified (no engine-side path parsing)") {
    // the sandbox carries no hadoop-aws jar and no network, so the only
    // acceptable failure is Hadoop's own unknown-filesystem error — it
    // proves the scheme flowed through our listing/reader code to
    // FileSystem.get unrejected, which is all that is testable offline.
    // Deploy-side conf for a real bucket is documented in README §S3.
    val viaSkiprows = intercept[Exception] {
      Sources.csv(spark, "s3a://bucket/data/*.csv", skiprows = 1)
    }
    val viaListing = intercept[Exception] {
      Sources.multiFile(spark, "s3a://bucket/dir", ".*\\.csv",
        f => Sources.csv(spark, f))
    }
    Seq(viaSkiprows, viaListing).foreach { e =>
      val msg = (e.getMessage + Option(e.getCause).map(_.getMessage).mkString).toLowerCase
      assert(msg.contains("s3a"), s"expected Hadoop's s3a filesystem error, got: $msg")
    }
  }

  test("ML build/apply: learns a separable target, scores in [0,100]") {
    // y = 1 iff x > 50: trivially separable — AUC should be ~1
    val df = (1 to 200).map(i => (i.toLong, i.toDouble, if (i > 100) "1" else "0"))
      .toDF("id", "x", "label")
    val model = Scoring.buildModel(df, numerical = Seq("x"), categorical = Nil,
      target = "label", tries = 2, numTrees = 10)
    assert(model.auc > 0.95)
    val scored = Scoring.applyModel(df, model, Seq("x"))
    val hi = scored.filter($"id" > 150).agg(avg("matchid_hit_score_ml")).head.getDouble(0)
    val lo = scored.filter($"id" < 50).agg(avg("matchid_hit_score_ml")).head.getDouble(0)
    assert(hi > 80 && lo < 20)
    // misconfiguration fails at the call with the knob NAMED, not deep
    // inside the fit / on a head-of-empty-list
    intercept[IllegalArgumentException] {
      Scoring.buildModel(df, Seq("x"), Nil, "label", tries = 0)
    }
    intercept[IllegalArgumentException] {
      Scoring.buildModel(df, Seq("x"), Nil, "label", testSize = 1.5)
    }
  }

  test("sessionize survives null value/event_id and drops unkeyable rows") {
    import graft.streaming.EventStream
    val ts = java.sql.Timestamp.valueOf("2026-01-01 10:00:00")
    val later = java.sql.Timestamp.valueOf("2026-01-01 10:01:00")
    val rows = Seq(
      (java.lang.Long.valueOf(1L), ts, java.lang.Long.valueOf(7L), "c", java.lang.Double.valueOf(2.5)),
      (null.asInstanceOf[java.lang.Long], later, java.lang.Long.valueOf(7L), "c",
        null.asInstanceOf[java.lang.Double]),                           // null id+value: kept, adds 0
      (java.lang.Long.valueOf(3L), null.asInstanceOf[java.sql.Timestamp],
        java.lang.Long.valueOf(7L), "c", java.lang.Double.valueOf(9.0)), // null ts: dropped
      (java.lang.Long.valueOf(4L), ts, null.asInstanceOf[java.lang.Long], "c",
        java.lang.Double.valueOf(9.0)))                                  // null user: dropped
      .toDF("event_id", "ts", "user_id", "event_type", "value")
    val out = EventStream.sessionize(spark, rows, gapMs = 10 * 60 * 1000L).collect()
    assert(out.length == 1)
    val s = out.head
    assert(s.getAs[Long]("user_id") == 7L)
    assert(s.getAs[Long]("n_events") == 2L)       // the two keyable rows
    assert(s.getAs[Double]("sum_value") == 2.5)   // null value counted as 0
  }

  test("sessionize splits on the inactivity gap and sums exactly") {
    val ts = (ms: Long) => new java.sql.Timestamp(ms)
    val df = Seq(
      (1L, ts(0L), 10L, "a", 1.10),
      (2L, ts(60000L), 10L, "a", 2.20),       // same session (1 min later)
      (3L, ts(45 * 60000L), 10L, "a", 3.30),  // new session (45 min gap)
      (4L, ts(0L), 20L, "b", 5.0))
      .toDF("event_id", "ts", "user_id", "event_type", "value")
    val out = EventStream.sessionize(spark, df, gapMs = 30 * 60000L)
    val sessions = out.orderBy("user_id", "start_ms").collect()
    assert(sessions.length == 3)
    assert(sessions(0).getAs[Long]("n_events") == 2)
    assert(sessions(0).getAs[Double]("sum_value") == 3.30)
    assert(sessions(1).getAs[Long]("n_events") == 1)
    assert(sessions(2).getAs[Long]("user_id") == 20L)
  }

  test("streaming decontamination flags bloom hits map-side across micro-batches") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import graft.streaming.EventStream
    implicit val sq = spark.sqlContext
    val bench = Seq("the secret held out benchmark phrase").toDF("text")
    val src = MemoryStream[(Long, String)]
    val out = EventStream.contaminationFlagsStream(
      src.toDF().toDF("doc_id", "text"), bench, "text", n = 3)
    val q = out.writeStream.outputMode("append")
      .format("memory").queryName("dcf_stream").start()
    try {
      src.addData((1L, "clean document about nothing relevant at all"),
        (2L, "contains the secret held out benchmark phrase verbatim"))
      q.processAllAvailable()
      src.addData((3L, "another clean one in a later micro-batch"))
      q.processAllAvailable()
      val m = spark.table("dcf_stream").collect()
        .map(r => r.getAs[Long]("doc_id") -> r.getAs[Boolean]("maybe_contaminated"))
        .toMap
      // default mode is EXACT (broadcast sorted gram array) — these
      // are equalities, not probabilistic expectations
      assert(m == Map(1L -> false, 2L -> true, 3L -> false), m.toString)
    } finally q.stop()
    // drop-variant and the empty-benchmark identity, on the batch
    // runner for brevity (same plan: the flag column is a pure map)
    val docs = Seq((1L, "totally clean"),
      (2L, "the secret held out benchmark phrase")).toDF("doc_id", "text")
    val kept = EventStream.decontaminateStream(docs, bench, "text", n = 3)
    assert(kept.select("doc_id").collect().map(_.getLong(0)).toSeq == Seq(1L))
    val none = EventStream.contaminationFlagsStream(
      docs, bench.limit(0), "text", n = 3)
    assert(none.filter(col("maybe_contaminated")).count() == 0)
    // the Bloom variant stays available for outsized suites (no false
    // negatives; approximate on the clean side) and validates its fpp
    val bl = EventStream.contaminationFlagsStream(docs, bench, "text",
      n = 3, fpp = Some(0.01))
    assert(bl.filter(col("doc_id") === 2L).head.getAs[Boolean]("maybe_contaminated"))
    intercept[IllegalArgumentException] {
      EventStream.contaminationFlagsStream(docs, bench, "text", fpp = Some(2.0))
    }
  }

  test("streaming near-dup gate flags index candidates across micro-batches") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import graft.streaming.EventStream
    import graft.dedup.Dedup
    implicit val sq = spark.sqlContext
    val tpl = "a well known corpus boilerplate paragraph repeated verbatim"
    val corpus = Seq((100L, tpl),
      (101L, "some other corpus material entirely distinct from anything"))
      .toDF("doc_id", "text")
    val idx = scratch("neardup-gate")
    Dedup.writeNearDupIndex(corpus, "doc_id", "text", idx)
    val src = MemoryStream[(Long, String)]
    val out = EventStream.nearDupFlagsStream(
      src.toDF().toDF("doc_id", "text"), idx, "text")
    val q = out.writeStream.outputMode("append")
      .format("memory").queryName("ndg_stream").start()
    try {
      src.addData((1L, tpl),                                   // exact clone → certain hit
        (2L, "a completely novel incoming document about nothing"),
        (3L, null: String),                                    // no shingles → never flagged
        (4L, ""))
      q.processAllAvailable()
      src.addData((5L, tpl))                                   // later micro-batch, same gate
      q.processAllAvailable()
      val m = spark.table("ndg_stream").collect()
        .map(r => r.getAs[Long]("doc_id") -> r.getAs[Boolean]("maybe_near_dup"))
        .toMap
      assert(m == Map(1L -> true, 2L -> false, 3L -> false, 4L -> false,
        5L -> true), m.toString)
    } finally q.stop()
    // the drop-variant, the Bloom mode's no-false-negative contract,
    // and the torn-build loud fail, on the batch runner for brevity
    val docs = Seq((1L, tpl), (2L, "nothing like the corpus")).toDF("doc_id", "text")
    assert(EventStream.nearDupFilterStream(docs, idx, "text")
      .select("doc_id").collect().map(_.getLong(0)).toSeq == Seq(2L))
    assert(EventStream.nearDupFlagsStream(docs, idx, "text", fpp = Some(0.01))
      .filter(col("doc_id") === 1L).head.getAs[Boolean]("maybe_near_dup"))
    val e = intercept[RuntimeException](
      EventStream.nearDupFlagsStream(docs, s"$idx/nope", "text"))
    assert(e.getMessage.contains("manifest"), e.getMessage)
  }

  test("streaming ANN probe equals the batch probe across micro-batches; " +
      "dispatches on the manifest; refuses a missing index at start") {
    import graft.streaming.EventStream
    import graft.sim.Ann
    val e = Tables.t(spark, "/root/testdata/sf0.001", "embeddings")
      .select("vec_id", "embedding")
    val q0 = e.filter(col("vec_id") % 100 === 0)
    val idxF = scratch("annps-f")
    Ann.writeIvfIndex(e, "vec_id", "embedding", idxF, nlist = 8)
    val idxQ = scratch("annps-q")
    Ann.writeIvfIndex(e, "vec_id", "embedding", idxQ, nlist = 8,
      layout = Ann.IvfLayout.Sq8)
    // the arriving queries as a 3-file dir + maxFilesPerTrigger=1 →
    // three REAL micro-batches, so the union-of-batches contract is
    // what's tested, not a single-batch degenerate case
    val qDir = scratch("annps-in")
    q0.repartition(3).write.mode("overwrite").parquet(qDir)
    def streamed(idx: String): (org.apache.spark.sql.DataFrame, Int) = {
      val out = scratch("annps-out")
      val ckpt = scratch("annps-ck")
      val stream = spark.readStream.schema(q0.schema)
        .option("maxFilesPerTrigger", 1).parquet(qDir)
      val sq = EventStream.annProbeStream(stream, idx,
        "vec_id", "embedding", k = 5, nprobe = 8,
        outPath = out, checkpoint = ckpt)
      sq.processAllAvailable()
      val fed = sq.recentProgress.count(_.numInputRows > 0)
      sq.stop()
      // per-epoch subdirectories (the replay-idempotency contract)
      (spark.read.option("recursiveFileLookup", "true").parquet(out), fed)
    }
    // float layout: stream ≡ batch, hash-for-hash
    val (gotF, batchesF) = streamed(idxF)
    assert(batchesF >= 2,
      s"expected multiple micro-batches, got $batchesF — the union " +
        "contract was not exercised")
    val batF = Ann.ivfIndexTopKAuto(spark, idxF, q0, "vec_id", "embedding",
      k = 5, nprobe = 8)
    assert(gotF.exceptAll(batF).count() == 0 &&
      batF.exceptAll(gotF).count() == 0,
      "streamed float probe diverged from the batch probe")
    // SQ8 layout through the SAME entry point: the manifest routed to
    // the quantized probe (native d2q metric column), result ≡ batch
    val (gotQ, _) = streamed(idxQ)
    assert(gotQ.columns.contains("d2q"),
      s"manifest dispatch missed: got columns ${gotQ.columns.mkString(",")}")
    val batQ = Ann.ivfIndexTopKAuto(spark, idxQ, q0,
      "vec_id", "embedding", k = 5, nprobe = 8)
    assert(gotQ.exceptAll(batQ).count() == 0 &&
      batQ.exceptAll(gotQ).count() == 0,
      "streamed SQ8 probe diverged from the batch probe")
    // a dir with no manifest refuses at stream START — before any
    // micro-batch runs, not as a mid-stream task failure
    val bare = scratch("annps-bare")
    val err = intercept[RuntimeException](EventStream.annProbeStream(
      spark.readStream.schema(q0.schema).parquet(qDir), bare,
      "vec_id", "embedding", k = 5, nprobe = 8,
      outPath = bare + "/out", checkpoint = bare + "/ck"))
    assert(err.getMessage.contains("manifest"), err.getMessage)
    // a LEFTOVER outPath under a FRESH checkpoint refuses at start:
    // epoch numbering restarts at 0 and would silently mix/overwrite
    // the old epoch dirs into the read-back (r12 ADVICE — the
    // outPath/checkpoint live-together contract)
    val staleOut = scratch("annps-stale")
    new java.io.File(staleOut, "epoch_0").mkdirs()
    val err2 = intercept[RuntimeException](EventStream.annProbeStream(
      spark.readStream.schema(q0.schema).parquet(qDir), idxF,
      "vec_id", "embedding", k = 5, nprobe = 8,
      outPath = staleOut, checkpoint = scratch("annps-freshck") + "/ck"))
    assert(err2.getMessage.contains("outPath"), err2.getMessage)
    // an existing-but-EMPTY (cleared/mkdir'd) checkpoint dir is just
    // as fresh — no committed offsets — and must refuse the same way
    // (round-13 review: a dir-existence test would let it slip)
    val err3 = intercept[RuntimeException](EventStream.annProbeStream(
      spark.readStream.schema(q0.schema).parquet(qDir), idxF,
      "vec_id", "embedding", k = 5, nprobe = 8,
      outPath = staleOut, checkpoint = scratch("annps-emptyck")))
    assert(err3.getMessage.contains("outPath"), err3.getMessage)
  }

  test("streaming classifier gate equals the batch scorer row for row") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import graft.streaming.EventStream
    import graft.ml.LinearClassifier
    implicit val sq = spark.sqlContext
    val train = spark.range(40).select(col("id"),
      when(col("id") % 2 === 0, concat(lit("good solid prose item "),
          col("id").cast("string")))
        .otherwise(concat(lit("bad spam junk item "),
          col("id").cast("string"))).as("text"),
      when(col("id") % 2 === 0, 1L).otherwise(-1L).as("y"))
    val w = LinearClassifier.trainTextClassifier(train, "id", "text", "y",
      buckets = 64, epochs = 3, binary = true)
    // the batch scorer's answers on a probe set incl. NULL and blank
    val probe = Seq((1L, "good solid prose item 2"),
      (2L, "bad spam junk item 3"), (3L, null.asInstanceOf[String]),
      (4L, "")).toDF("id", "text")
    val batch = LinearClassifier.scoreTextClassifier(probe, "id", "text", w,
        buckets = 64, binary = true)
      .collect().map(r => r.getLong(0) ->
        (Option(r.get(r.fieldIndex("margin"))),
          Option(r.get(r.fieldIndex("pred"))))).toMap
    val src = MemoryStream[(Long, String)]
    // id 99 maps to a NULL id inside the stream plan — the unknown-id
    // branch (MemoryStream's tuple encoder cannot carry a null Long)
    val out = EventStream.classifyStream(
      src.toDF().toDF("id", "text").withColumn("id",
        when(col("id") === 99L, lit(null).cast("long")).otherwise(col("id"))),
      w, "id", "text", buckets = 64, binary = true)
    val q = out.writeStream.outputMode("append")
      .format("memory").queryName("cls_stream").start()
    try {
      src.addData((1L, "good solid prose item 2"),
        (2L, "bad spam junk item 3"), (3L, null: String))
      q.processAllAvailable()
      src.addData((4L, ""), (99L, "good solid prose item 2"))
      q.processAllAvailable()
      val rows = spark.table("cls_stream").collect()
      val m = rows.filter(!_.isNullAt(0))
        .map(r => r.getLong(0) ->
          (Option(r.get(r.fieldIndex("margin"))),
            Option(r.get(r.fieldIndex("pred"))))).toMap
      assert(m == batch, s"stream $m vs batch $batch")
      assert(m(1L)._2 == Some(1) && m(2L)._2 == Some(-1))
      assert(m(3L) == (None, None), "NULL text stays unknown")
      val nullId = rows.find(_.isNullAt(0)).get
      assert(nullId.isNullAt(nullId.fieldIndex("margin")) &&
        nullId.isNullAt(nullId.fieldIndex("pred")),
        "NULL id stays unknown even with scoreable text")
    } finally q.stop()
    intercept[IllegalArgumentException](EventStream.classifyStream(
      probe, w.filter(lit(false)), "id", "text", buckets = 64))
  }

  test("streaming multiclass gate equals the batch voter row for row") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import graft.streaming.EventStream
    import graft.ml.LinearClassifier
    implicit val sq = spark.sqlContext
    val train = spark.range(90).select(col("id"),
      when(col("id") % 3 === 0, concat(lit("alpha quality writing piece "), col("id")))
        .when(col("id") % 3 === 1, concat(lit("beta advertising clickbait piece "), col("id")))
        .otherwise(concat(lit("gamma neutral reference piece "), col("id"))).as("text"),
      when(col("id") % 3 === 0, "good").when(col("id") % 3 === 1, "ads")
        .otherwise("ref").as("lb"))
    val w = LinearClassifier.trainTextClassifierMulti(train, "id", "text",
      "lb", buckets = 128, epochs = 3, binary = true)
    val probe = Seq((1L, "alpha quality writing piece 3"),
      (2L, "beta advertising clickbait piece 4"),
      (3L, "gamma neutral reference piece 5"),
      (4L, null.asInstanceOf[String]), (5L, "")).toDF("id", "text")
    val batch = LinearClassifier.scoreTextClassifierMulti(probe, "id",
        "text", w, buckets = 128, binary = true)
      .collect().map(r => r.getLong(0) ->
        (Option(r.get(r.fieldIndex("pred_label"))),
          Option(r.get(r.fieldIndex("n_votes"))))).toMap
    val src = MemoryStream[(Long, String)]
    val out = EventStream.classifyStreamMulti(src.toDF().toDF("id", "text"),
      w, "id", "text", buckets = 128, binary = true)
    val q = out.writeStream.outputMode("append")
      .format("memory").queryName("clsm_stream").start()
    try {
      src.addData((1L, "alpha quality writing piece 3"),
        (2L, "beta advertising clickbait piece 4"), (4L, null: String))
      q.processAllAvailable()
      src.addData((3L, "gamma neutral reference piece 5"), (5L, ""))
      q.processAllAvailable()
      val m = spark.table("clsm_stream").collect()
        .map(r => r.getLong(0) ->
          (Option(r.get(r.fieldIndex("pred_label"))),
            Option(r.get(r.fieldIndex("n_votes"))))).toMap
      assert(m == batch, s"stream $m vs batch $batch")
      assert(m(1L)._1 == Some("good") && m(2L)._1 == Some("ads") &&
        m(3L)._1 == Some("ref"))
      assert(m(4L) == (None, None), "NULL text stays unknown")
    } finally q.stop()
    intercept[IllegalArgumentException](EventStream.classifyStreamMulti(
      probe, w.filter(lit(false)), "id", "text", buckets = 128))
    // the binary gate must refuse a multiclass table by SHAPE (its
    // feat/w columns would select fine and then mis-score silently)
    val eShape = intercept[IllegalArgumentException](
      EventStream.classifyStream(probe, w, "id", "text", buckets = 128))
    assert(eShape.getMessage.contains("pairwise"), eShape.getMessage)
  }

  test("streaming sessionize carries the open session ACROSS micro-batches") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import graft.streaming.EventStream.Ev
    implicit val sq = spark.sqlContext
    val ts = (ms: Long) => new java.sql.Timestamp(ms)
    val src = MemoryStream[Ev]
    val out = EventStream.sessionize(spark, src.toDF(), gapMs = 30 * 60000L)
    val q = out.writeStream.outputMode("append")
      .format("memory").queryName("sess_stream").start()
    try {
      // base epoch well above 0 — an event AT the initial watermark (0)
      // would be dropped as late
      val t0 = 10L * 24 * 3600000L
      // batch 1 and batch 2 both belong to ONE session of user 10 — the
      // broken version emitted one session per micro-batch
      src.addData(Ev(1L, ts(t0), 10L, "a", 1.10)); q.processAllAvailable()
      src.addData(Ev(2L, ts(t0 + 60000L), 10L, "a", 2.20)); q.processAllAvailable()
      // later events push the watermark past user 10's gap so the
      // event-time timeout closes the open session (watermark lags one
      // batch → two pushes)
      src.addData(Ev(3L, ts(t0 + 5 * 3600000L), 20L, "b", 5.0)); q.processAllAvailable()
      src.addData(Ev(4L, ts(t0 + 6 * 3600000L), 20L, "b", 5.0)); q.processAllAvailable()
      val sessions = spark.table("sess_stream")
        .filter(col("user_id") === 10L).collect()
      assert(sessions.length == 1, s"expected ONE merged session, got ${sessions.length}")
      assert(sessions.head.getAs[Long]("n_events") == 2)
      assert(sessions.head.getAs[Long]("start_ms") == t0)
      assert(sessions.head.getAs[Long]("end_ms") == t0 + 60000L)
      assert(sessions.head.getAs[Double]("sum_value") == 3.30)
    } finally q.stop()
  }

  test("streaming sessionize: an in-watermark out-of-order event never regresses the session end") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import graft.streaming.EventStream.Ev
    implicit val sq = spark.sqlContext
    val ts = (ms: Long) => new java.sql.Timestamp(ms)
    val src = MemoryStream[Ev]
    val out = EventStream.sessionize(spark, src.toDF(), gapMs = 30 * 60000L)
    val q = out.writeStream.outputMode("append")
      .format("memory").queryName("sess_ooo").start()
    try {
      val t0 = 10L * 24 * 3600000L
      // batch 1: session head ends at t0+20min
      src.addData(Ev(1L, ts(t0), 10L, "a", 1.0),
        Ev(2L, ts(t0 + 20 * 60000L), 10L, "a", 1.0)); q.processAllAvailable()
      // batch 2: a LATE event (t0+5min) — within the 2h watermark, older
      // than the carried head. Broken version set last = t0+5min, so the
      // next event (25 min after the TRUE last) would open a new session.
      src.addData(Ev(3L, ts(t0 + 5 * 60000L), 10L, "a", 1.0)); q.processAllAvailable()
      // batch 3: 25 min after the true last → must MERGE, not split
      src.addData(Ev(4L, ts(t0 + 45 * 60000L), 10L, "a", 1.0)); q.processAllAvailable()
      // close user 10's session via the event-time timeout
      src.addData(Ev(5L, ts(t0 + 12 * 3600000L), 20L, "b", 1.0)); q.processAllAvailable()
      src.addData(Ev(6L, ts(t0 + 13 * 3600000L), 20L, "b", 1.0)); q.processAllAvailable()
      val sessions = spark.table("sess_ooo")
        .filter(col("user_id") === 10L).collect()
      assert(sessions.length == 1, s"expected ONE session, got ${sessions.length}")
      assert(sessions.head.getAs[Long]("n_events") == 4)
      assert(sessions.head.getAs[Long]("start_ms") == t0)
      assert(sessions.head.getAs[Long]("end_ms") == t0 + 45 * 60000L)
    } finally q.stop()
  }

  test("streaming sessionize: a late event separated from the open session by a real gap gets its OWN session") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import graft.streaming.EventStream.Ev
    implicit val sq = spark.sqlContext
    val ts = (ms: Long) => new java.sql.Timestamp(ms)
    val src = MemoryStream[Ev]
    val out = EventStream.sessionize(spark, src.toDF(), gapMs = 30 * 60000L)
    val q = out.writeStream.outputMode("append")
      .format("memory").queryName("sess_late").start()
    try {
      val t0 = 10L * 24 * 3600000L
      // open session [t0+60min, t0+70min]
      src.addData(Ev(1L, ts(t0 + 60 * 60000L), 10L, "a", 1.0),
        Ev(2L, ts(t0 + 70 * 60000L), 10L, "a", 1.0)); q.processAllAvailable()
      // TWO late events at t0 and t0+5min — within the 2h watermark but
      // a 55-min silence from the open session: batch gap semantics give
      // them their own single merged session, never a merge into head
      src.addData(Ev(3L, ts(t0), 10L, "a", 1.0),
        Ev(4L, ts(t0 + 5 * 60000L), 10L, "a", 1.0)); q.processAllAvailable()
      // advance the watermark so the open session times out
      src.addData(Ev(5L, ts(t0 + 12 * 3600000L), 20L, "b", 1.0)); q.processAllAvailable()
      src.addData(Ev(6L, ts(t0 + 13 * 3600000L), 20L, "b", 1.0)); q.processAllAvailable()
      val sessions = spark.table("sess_late")
        .filter(col("user_id") === 10L).orderBy("start_ms").collect()
      assert(sessions.length == 2, s"expected TWO sessions, got ${sessions.length}")
      assert(sessions(0).getAs[Long]("start_ms") == t0)
      assert(sessions(0).getAs[Long]("end_ms") == t0 + 5 * 60000L)
      assert(sessions(0).getAs[Long]("n_events") == 2) // late pair merged together
      assert(sessions(1).getAs[Long]("start_ms") == t0 + 60 * 60000L)
      assert(sessions(1).getAs[Long]("n_events") == 2)
    } finally q.stop()
  }

  test("streaming windowed agg runs on a bounded stream (memory sink)") {
    val dir = s"$tmpDir/stream"
    val ts = (ms: Long) => new java.sql.Timestamp(ms)
    Seq((1L, ts(0L), 1L, "click", 1.0), (2L, ts(10 * 60000L), 1L, "click", 2.0))
      .toDF("event_id", "ts", "user_id", "event_type", "value")
      .write.parquet(dir)
    val result = EventStream.runOnce(spark, dir,
      df => EventStream.windowedCounts(df, window_ = "1 hour", watermark = "2 hours"),
      "win_test")
    // append mode emits nothing until the watermark passes — bounded input
    // never advances it past the last window, so assert the query RAN and
    // the sink table exists with the right schema
    assert(result.columns.contains("event_type"))
  }

  test("watermark finalizes windows in append mode as event time advances") {
    import org.apache.spark.sql.streaming.Trigger
    val dir = s"$tmpDir/wm"
    val ts = (min: Long) => new java.sql.Timestamp(min * 60000L)
    new java.io.File(s"$dir/in").mkdirs()
    // batch 1: events in minutes 0-10 (window [0:00, 1:00))
    Seq((1L, ts(5), 1L, "click", 1.0), (2L, ts(10), 1L, "click", 2.0))
      .toDF("event_id", "ts", "user_id", "event_type", "value")
      .write.mode("append").parquet(s"$dir/in")
    val stream = spark.readStream.schema(EventStream.eventSchema).parquet(s"$dir/in")
    val agg = EventStream.windowedCounts(stream, window_ = "1 hour", watermark = "30 minutes")
    val q = agg.writeStream.outputMode("append")
      .format("memory").queryName("wm_test")
      .trigger(Trigger.AvailableNow()).start()
    q.processAllAvailable()
    // watermark hasn't passed the first window's end yet → nothing emitted
    assert(spark.table("wm_test").count() == 0)
    q.stop()
    // batch 2: an event at minute 180 pushes the watermark past 1:00
    Seq((3L, ts(180), 1L, "view", 5.0))
      .toDF("event_id", "ts", "user_id", "event_type", "value")
      .write.mode("append").parquet(s"$dir/in")
    val q2 = agg.writeStream.outputMode("append")
      .format("memory").queryName("wm_test2")
      .option("checkpointLocation", s"$dir/ckpt2")
      .trigger(Trigger.AvailableNow()).start()
    q2.processAllAvailable()
    q2.stop()
    val finalized = spark.table("wm_test2").collect()
    // the [0:00, 1:00) click window is now final: n=2, sum=3.0
    val clickWin = finalized.find(_.getAs[String]("event_type") == "click")
    assert(clickWin.isDefined && clickWin.get.getAs[Long]("n") == 2L)
    assert(clickWin.get.getAs[Double]("sum_value") == 3.0)
    // the minute-180 window is NOT final yet → absent in append mode
    assert(!finalized.exists(_.getAs[String]("event_type") == "view"))
  }

  test("multimodal: synthesize → extract → frame-sample plumbing") {
    val base = Seq(1L, 2L, 3L).toDF("k")
    val media = Multimodal.synthesize(base, "k", bytesPerRow = 512)
    assert(media.schema("payload").dataType.typeName == "binary")
    val feats = Multimodal.extractFeatures(media)
    val r = feats.orderBy("media_id").collect()
    assert(r.forall(_.getAs[Int]("byte_count") == 512))
    assert(r.forall(x => x.getAs[Double]("mean_intensity") > 0))
    // deterministic: same key → same stats
    val again = Multimodal.extractFeatures(Multimodal.synthesize(base, "k", bytesPerRow = 512))
    assert(rows(feats.select("media_id", "mean_intensity").orderBy("media_id")) ==
      rows(again.select("media_id", "mean_intensity").orderBy("media_id")))
    val frames = Multimodal.sampleFrames(media.withColumn("meta",
      struct(lit("v").as("mime"), lit(1).as("width"), lit(1).as("height"),
        lit(100L).as("duration_ms"))), everyMs = 50L)
    assert(frames.count() == 9) // 3 rows × offsets {0,50,100}
    // a NULL duration keeps the row (one NULL frame), never drops it
    val noDur = Multimodal.sampleFrames(media.withColumn("meta",
      struct(lit("v").as("mime"), lit(1).as("width"), lit(1).as("height"),
        lit(null).cast("long").as("duration_ms"))), everyMs = 50L)
    assert(noDur.count() == 3)
    assert(noDur.collect().forall(_.isNullAt(noDur.columns.indexOf("frame_ms"))))
    // a non-positive step fails at plan build, not per-row mid-job
    intercept[IllegalArgumentException] {
      Multimodal.sampleFrames(media, everyMs = 0L)
    }

    // exact content dedup: synthetic payloads repeat at key mod 256, so
    // keys 1 and 257 are byte-identical and group together (min id keeps)
    val dup = Multimodal.synthesize(
      Seq(1L, 2L, 257L).toDF("k"), "k", bytesPerRow = 64)
    val groups = Multimodal.dedupGroups(dup).collect()
      .map(r => r.getAs[Long]("keeper_id") -> r.getAs[Long]("n_copies")).toMap
    assert(groups == Map(1L -> 2L, 2L -> 1L))
  }

  test("multimodal: REAL PNG decode via javax.imageio gives exact pixel stats") {
    import graft.multimodal.Multimodal
    // hand-build a 2×2 gray PNG with known samples {10, 20, 30, 40}:
    // mean 25, std sqrt(((10²+20²+30²+40²)/4) - 25²) = sqrt(125)
    val img = new java.awt.image.BufferedImage(
      2, 2, java.awt.image.BufferedImage.TYPE_BYTE_GRAY)
    img.getRaster.setSample(0, 0, 0, 10); img.getRaster.setSample(1, 0, 0, 20)
    img.getRaster.setSample(0, 1, 0, 30); img.getRaster.setSample(1, 1, 0, 40)
    val bos = new java.io.ByteArrayOutputStream()
    javax.imageio.ImageIO.write(img, "png", bos)
    val (w, h, mean, std) = Multimodal.ImageCodec.decodeStats(bos.toByteArray).get
    assert((w, h, mean) == (2, 2, 25.0))
    assert(math.abs(std - math.sqrt(125.0)) < 1e-12)
    // RGB: intensity = mean of the 3 bands, from raster samples (getRGB
    // would gamma-convert); pixel (200, 100, 0) → intensity 100
    val rgb = new java.awt.image.BufferedImage(
      1, 1, java.awt.image.BufferedImage.TYPE_3BYTE_BGR)
    rgb.getRaster.setSample(0, 0, 0, 200)
    rgb.getRaster.setSample(0, 0, 1, 100)
    rgb.getRaster.setSample(0, 0, 2, 0)
    val bos2 = new java.io.ByteArrayOutputStream()
    javax.imageio.ImageIO.write(rgb, "png", bos2)
    val (_, _, m2, s2) = Multimodal.ImageCodec.decodeStats(bos2.toByteArray).get
    assert(m2 == 100.0 && s2 == 0.0)
    // gray+alpha (2-band LA raster): intensity is the GRAY band only —
    // averaging alpha in would report (gray+255)/2 for opaque pixels
    val cs = java.awt.color.ColorSpace.getInstance(java.awt.color.ColorSpace.CS_GRAY)
    val cm = new java.awt.image.ComponentColorModel(cs, true, false,
      java.awt.Transparency.TRANSLUCENT, java.awt.image.DataBuffer.TYPE_BYTE)
    val raster = cm.createCompatibleWritableRaster(1, 1)
    raster.setSample(0, 0, 0, 100) // gray
    raster.setSample(0, 0, 1, 255) // alpha (opaque)
    val la = new java.awt.image.BufferedImage(cm, raster, false, null)
    val bos3 = new java.io.ByteArrayOutputStream()
    javax.imageio.ImageIO.write(la, "png", bos3)
    val (_, _, m3, s3) = Multimodal.ImageCodec.decodeStats(bos3.toByteArray).get
    assert(m3 == 100.0 && s3 == 0.0, s"LA decode gave mean=$m3 std=$s3")
    // corrupt payloads are data, not errors: null stats, no exception
    assert(Multimodal.ImageCodec.decodeStats("not a png".getBytes).isEmpty)
    assert(Multimodal.ImageCodec.decodeStats(null).isEmpty)
    assert(Multimodal.ImageCodec.decodeStats(
      bos.toByteArray.take(11)).isEmpty) // truncated mid-header

    // the DataFrame operator: synthesized PNGs decode to formula stats;
    // non-image kinds and corrupt payloads carry NULLs
    val media = Multimodal.synthesizeImages(Seq(5L).toDF("k"), "k", w = 4, h = 2)
    val out = Multimodal.decodeImages(
        media.unionByName(media.select(col("media_id") + 1 as "media_id",
          lit("audio").as("kind"), col("payload"), col("meta"))))
      .orderBy("media_id").collect()
    // pixels (5 + x + y) mod 256 for x<4, y<2: {5,6,7,8, 6,7,8,9}
    val vals = for { y <- 0 until 2; x <- 0 until 4 } yield 5 + x + y
    val em = vals.sum.toDouble / 8
    assert(out(0).getAs[Int]("img_width") == 4)
    assert(out(0).getAs[Int]("img_height") == 2)
    assert(out(0).getAs[Double]("mean_intensity") == em)
    assert(out(1).isNullAt(out(1).fieldIndex("img_width"))) // kind=audio
  }

  test("multimodal: REAL WAV decode via javax.sound.sampled gives exact sample stats") {
    import graft.multimodal.Multimodal
    // hand-build a WAV with known samples {-100, 0, 100, 200}:
    // mean 50, rms = sqrt((100² + 0 + 100² + 200²)/4) = sqrt(15000)
    def le(ss: Array[Short]): Array[Byte] = {
      val b = new Array[Byte](ss.length * 2)
      ss.zipWithIndex.foreach { case (s, i) =>
        b(2 * i) = (s & 0xff).toByte; b(2 * i + 1) = ((s >> 8) & 0xff).toByte }
      b
    }
    def encode(pcm: Array[Byte], fmt: javax.sound.sampled.AudioFormat,
        frames: Long, tpe: javax.sound.sampled.AudioFileFormat.Type): Array[Byte] = {
      val ais = new javax.sound.sampled.AudioInputStream(
        new java.io.ByteArrayInputStream(pcm), fmt, frames)
      val bos = new java.io.ByteArrayOutputStream()
      javax.sound.sampled.AudioSystem.write(ais, tpe, bos)
      bos.toByteArray
    }
    val wav = encode(le(Array[Short](-100, 0, 100, 200)),
      new javax.sound.sampled.AudioFormat(8000f, 16, 1, true, false), 4L,
      javax.sound.sampled.AudioFileFormat.Type.WAVE)
    val (n, dur, mean, rms) = Multimodal.AudioCodec.decodeStats(wav).get
    assert(n == 4 && dur == 0) // 4 frames / 8000 Hz floors to 0 ms
    assert(mean == 50.0)
    assert(math.abs(rms - math.sqrt(15000.0)) < 1e-12)
    // stereo big-endian (AIFF): both channels' samples pool into stats
    val pcmBE = Array[Short](1000, -1000, 1000, -1000).flatMap(s =>
      Array(((s >> 8) & 0xff).toByte, (s & 0xff).toByte))
    val aiff = encode(pcmBE,
      new javax.sound.sampled.AudioFormat(8000f, 16, 2, true, true), 2L,
      javax.sound.sampled.AudioFileFormat.Type.AIFF)
    val (n2, _, m2, r2) = Multimodal.AudioCodec.decodeStats(aiff).get
    assert(n2 == 4 && m2 == 0.0 && r2 == 1000.0)
    // corrupt payloads are data, not errors: null stats, no exception
    assert(Multimodal.AudioCodec.decodeStats("not audio".getBytes).isEmpty)
    assert(Multimodal.AudioCodec.decodeStats(null).isEmpty)
    assert(Multimodal.AudioCodec.decodeStats(wav.take(10)).isEmpty)
    // padded block alignment (mono 16-bit, blockAlign 4): the JDK WAV
    // parser NORMALIZES PCM frame size to channels*bits/8 — it ignores
    // the container's blockAlign — so this malformed file surfaces as 4
    // contiguous frames and we follow the JDK's reading (the pad words
    // become samples of value 0). Pin that, so if a future JDK ever
    // reports the container's blockAlign verbatim the frameSize guard
    // in AudioCodec flips this to None and the pin catches the change.
    def u32(v: Int) = Array[Byte]((v & 0xff).toByte, ((v >> 8) & 0xff).toByte,
      ((v >> 16) & 0xff).toByte, ((v >> 24) & 0xff).toByte)
    def u16(v: Int) = Array[Byte]((v & 0xff).toByte, ((v >> 8) & 0xff).toByte)
    val padData = le(Array[Short](100, 0, 200, 0)) // 2 frames: sample, pad
    val padded = "RIFF".getBytes ++ u32(36 + padData.length) ++
      "WAVE".getBytes ++ "fmt ".getBytes ++ u32(16) ++ u16(1) ++ u16(1) ++
      u32(8000) ++ u32(8000 * 4) ++ u16(4) ++ u16(16) ++
      "data".getBytes ++ u32(padData.length) ++ padData
    val (np, _, mp, rp) = Multimodal.AudioCodec.decodeStats(padded).get
    assert(np == 4 && mp == 75.0)
    assert(math.abs(rp - math.sqrt(12500.0)) < 1e-12)

    // the DataFrame operator: synthesized WAVs decode to formula stats;
    // non-audio kinds carry NULLs
    val media = Multimodal.synthesizeAudio(Seq(5L).toDF("k"), "k",
      sampleRate = 1000, nSamples = 4)
    val out = Multimodal.decodeAudio(
        media.unionByName(media.select(col("media_id") + 1 as "media_id",
          lit("image").as("kind"), col("payload"), col("meta"))))
      .orderBy("media_id").collect()
    // samples (5*7 + i²) mod 65536 − 32768 for i < 4
    val vals = (0 until 4).map(i => 35 + i * i - 32768)
    assert(out(0).getAs[Long]("n_samples") == 4)
    assert(out(0).getAs[Long]("audio_duration_ms") == 4) // 4 frames / 1000 Hz
    assert(out(0).getAs[Double]("mean_sample") == vals.sum.toDouble / 4)
    assert(out(1).isNullAt(out(1).fieldIndex("n_samples"))) // kind=image
  }

  test("multimodal: REAL animated-GIF video decode gives exact per-frame stats") {
    import graft.multimodal.Multimodal
    // synthesized GIF, frame f pixel (x,y) = (k + 17f + x + y) mod 256:
    // the identity gray palette makes the round-trip lossless, so the
    // decoded stats equal the formula stats EXACTLY (no tolerance)
    def formula(k: Long, f: Int, w: Int, h: Int): (Double, Double) = {
      val vs = for { y <- 0 until h; x <- 0 until w }
        yield ((k + 17L * f + x + y) % 256).toDouble
      val m = vs.sum / vs.size
      (m, math.sqrt(vs.map(v => v * v).sum / vs.size - m * m))
    }
    val media = Multimodal.synthesizeVideos(Seq(5L, 250L).toDF("k"), "k",
      w = 16, h = 12, nFrames = 4, delayCs = 7)
    val out = Multimodal.decodeVideos(media, every = 2)
      .orderBy("media_id", "frame_idx").collect()
    assert(out.length == 4) // 2 videos × sampled frames {0, 2}
    for (r <- out) {
      val k = r.getAs[Long]("media_id")
      val f = r.getAs[Int]("frame_idx")
      val (em, es) = formula(k, f, 16, 12)
      assert(r.getAs[Int]("n_frames") == 4)
      assert(r.getAs[Int]("vid_width") == 16)
      assert(r.getAs[Int]("vid_height") == 12)
      // duration and offsets come from REAL container metadata (the
      // GraphicControlExtension delays), not the meta column
      assert(r.getAs[Long]("video_duration_ms") == 4 * 70L)
      assert(r.getAs[Long]("frame_ms") == f * 70L)
      assert(r.getAs[Double]("frame_mean") == em, s"k=$k f=$f")
      assert(math.abs(r.getAs[Double]("frame_stddev") - es) < 1e-12)
    }
    // k=250 wraps mod 256 mid-frame — the formula covers it, pin one
    assert(out(2).getAs[Long]("media_id") == 250L)

    // non-video kinds and corrupt payloads carry NULLs, rows kept
    val mixed = Multimodal.decodeVideos(
      media.limit(1).unionByName(media.limit(1).select(
        (col("media_id") + 1).as("media_id"), lit("image").as("kind"),
        col("payload"), col("meta"))), every = 2)
      .orderBy("media_id", "frame_idx").collect()
    assert(mixed.length == 3) // 2 sampled frames + 1 NULL row for the image
    assert(mixed.last.isNullAt(mixed.last.fieldIndex("n_frames")))
    // codec-level contract: bad payloads are data, not errors
    assert(Multimodal.VideoCodec.decodeStats("not a gif".getBytes, 1).isEmpty)
    assert(Multimodal.VideoCodec.decodeStats(null, 1).isEmpty)
    val bytes = media.select("payload").head.getAs[Array[Byte]](0)
    assert(Multimodal.VideoCodec.decodeStats(bytes.take(9), 1).isEmpty)
    // a truncated-mid-stream GIF still decodes its complete frames: the
    // JDK reader's getNumImages counts only frames it can seek past
    val partial = Multimodal.VideoCodec.decodeStats(
      bytes.take(bytes.length / 2), 1)
    assert(partial.forall(_._1 < 4))
    // a non-positive sampling step fails at plan build, not mid-job
    intercept[IllegalArgumentException] {
      Multimodal.decodeVideos(media, every = 0)
    }
  }

  test("graph metrics: degree, pagerank, clustering on a triangle+tail") {
    val edges = Seq((1L, 2L), (2L, 3L), (3L, 1L), (3L, 4L)).toDF("src", "dst")
    val m = GraphMetrics.metrics(edges, Seq("pagerank", "triangles", "clustering"))
      .collect().map(r => r.getAs[Long]("node") -> r).toMap
    assert(m(3L).getAs[Int]("degree") == 3)
    assert(m(1L).getAs[Int]("triangles") == 1)
    assert(m(1L).getAs[Double]("clustering") == 1.0)
    assert(m(4L).getAs[Int]("triangles") == 0)
    assert(m.values.forall(_.getAs[Double]("pagerank") > 0))
  }

  test("graph metrics long tail: closeness, eigenvector, square clustering") {
    // triangle {1,2,3} + tail 3—4 (hand-checked against networkx)
    val edges = Seq((1L, 2L), (2L, 3L), (3L, 1L), (3L, 4L)).toDF("src", "dst")
    val m = GraphMetrics.metrics(edges,
        Seq("closeness_centrality", "eigenvector_centrality_numpy"))
      .collect().map(r => r.getAs[Long]("node") -> r).toMap
    assert(m(1L).getAs[Double]("closeness") == 0.75)
    assert(m(2L).getAs[Double]("closeness") == 0.75)
    assert(m(3L).getAs[Double]("closeness") == 1.0)
    assert(m(4L).getAs[Double]("closeness") == 0.6)
    // principal eigenvector: symmetric nodes equal, center largest,
    // tail smallest, unit L2 norm
    val ev = m.view.mapValues(_.getAs[Double]("eigenvector")).toMap
    assert(ev(1L) == ev(2L))
    assert(ev(3L) > ev(1L) && ev(1L) > ev(4L))
    assert(math.abs(ev.values.map(v => v * v).sum - 1.0) < 1e-3)

    // square clustering: every node of a 4-cycle closes exactly its one
    // possible square → 1.0 (networkx square_clustering parity)
    val c4 = Seq((1L, 2L), (2L, 3L), (3L, 4L), (4L, 1L)).toDF("src", "dst")
    val sq = GraphMetrics.metrics(c4, Seq("square_clustering"))
      .collect().map(r => r.getAs[Long]("node") -> r.getAs[Double]("square_clustering")).toMap
    assert(sq.values.forall(_ == 1.0))
    // and the triangle+tail graph has no squares at all
    val sq0 = GraphMetrics.metrics(edges, Seq("square_clustering"))
      .collect().map(_.getAs[Double]("square_clustering"))
    assert(sq0.forall(_ == 0.0))
  }

  test("eigenvector centrality converges on bipartite graphs (star)") {
    // a star is bipartite: plain-A power iteration oscillates with
    // period 2 and reports equal center/leaf scores; the (A+I) shift
    // must converge to the true principal eigenvector — center 1/√2,
    // leaves 1/(2√2) (networkx eigenvector_centrality parity)
    val star = Seq((0L, 1L), (0L, 2L), (0L, 3L), (0L, 4L)).toDF("src", "dst")
    val ev = GraphMetrics.eigenvector(star)
      .collect().map(r => r.getAs[Long]("node") -> r.getAs[Double]("eigenvector")).toMap
    assert(math.abs(ev(0L) - 1.0 / math.sqrt(2)) < 1e-3)
    (1L to 4L).foreach(l => assert(math.abs(ev(l) - 1.0 / (2 * math.sqrt(2))) < 1e-3))
    // even-cycle (also bipartite): all four nodes equal at 1/2
    val c4 = Seq((1L, 2L), (2L, 3L), (3L, 4L), (4L, 1L)).toDF("src", "dst")
    val evc = GraphMetrics.eigenvector(c4)
      .collect().map(r => r.getAs[Long]("node") -> r.getAs[Double]("eigenvector")).toMap
    (1L to 4L).foreach(n => assert(math.abs(evc(n) - 0.5) < 1e-3))
  }

  test("registry functions are the SAME expressions as the library scalars") {
    graft.functions.Registry.register(spark)
    val df = Seq(("Crème Brûlée!", null: String)).toDF("a", "b")
    // SQL spelling == Column spelling, including NULL propagation (the
    // old hand-rolled levenshtein_norm returned 0.0 for null)
    val r = df.selectExpr("a", "b", "graft_normalize(a) AS n",
        "levenshtein_norm(a, b) AS ln")
      .withColumn("n2", graft.functions.Tools.normalize(col("a")))
      .collect()(0)
    assert(r.getString(2) == r.getString(4))
    assert(r.isNullAt(3), "levenshtein_norm(null) must be NULL")
    // wrong arity fails at analysis (udf.register carries the arity)
    val e = intercept[Exception] {
      df.selectExpr("levenshtein_norm(a, b, a)").collect()
    }
    def chain(t: Throwable): String =
      if (t == null) "" else t.getMessage + "|" + chain(t.getCause)
    assert(chain(e).contains("levenshtein_norm"), chain(e))
    val e2 = intercept[Exception] {
      graft.functions.NativeExpressions.register(spark)
      df.selectExpr("damerau_levenshtein(a, b, a)").collect()
    }
    assert(chain(e2).contains("damerau_levenshtein expects 2"), chain(e2))
    // native expression rejects non-string args at ANALYSIS, not mid-task
    val e3 = intercept[Exception] {
      Seq((1, 2)).toDF("x", "y").selectExpr("damerau_levenshtein(x, y)").collect()
    }
    assert(chain(e3).toLowerCase.contains("string"), chain(e3))
  }

  test("profile: per-column nulls/distincts/ranges in one pass; approx mode tracks exact") {
    import graft.sources.Profile
    val df = Seq(
      (1L, Some("a"), Some(1.5)),
      (2L, Some("a"), None),
      (3L, None, Some(-2.0)))
      .toDF("id", "s", "x")
    val m = Profile.profile(df, exact = true).collect()
      .map(r => r.getString(0) -> r).toMap
    def stats(c: String) = {
      val r = m(c)
      (r.getAs[Long]("n_rows"), r.getAs[Long]("n_nulls"),
        r.getAs[Long]("n_distinct"), Option(r.getAs[java.lang.Double]("min_num")),
        Option(r.getAs[java.lang.Double]("max_num")))
    }
    assert(m("id").getAs[String]("dtype") == "bigint")
    assert(stats("id") == ((3L, 0L, 3L, Some(1.0), Some(3.0))))
    // NULLs: counted, excluded from distincts; strings carry no min_num
    assert(stats("s") == ((3L, 1L, 1L, None, None)))
    assert(stats("x") == ((3L, 1L, 2L, Some(-2.0), Some(1.5))))
    // approx mode (the corpus default) returns the same schema and is
    // exact at this cardinality (HLL++ is exact for tiny sets)
    val a = Profile.profile(df).collect().map(r => r.getString(0) ->
      r.getAs[Long]("n_distinct")).toMap
    assert(a == Map("id" -> 3L, "s" -> 1L, "x" -> 2L))
    // quoted column names would corrupt the generated stack expr — loud
    intercept[IllegalArgumentException] {
      Profile.profile(df.withColumnRenamed("s", "it's"))
    }
  }

  test("registry: scalar functions usable from SQL") {
    Registry.register(spark)
    val r = spark.sql(
      """SELECT levenshtein_norm('martha', 'marhta') AS ln,
        |  graft_jw('martha', 'marhta') AS jw,
        |  graft_damerau('ab', 'ba') AS dl,
        |  graft_normalize('Été!') AS n,
        |  graft_distance_km(48.8566, 2.3522, 45.764, 4.8357) AS km""".stripMargin).head()
    assert(r.getAs[Double]("ln") == 0.86) // damerau('martha','marhta')=1
    assert(r.getAs[Double]("jw") == 0.96)
    assert(r.getAs[Int]("dl") == 1)
    assert(r.getAs[String]("n") == "ete")
    val km = r.getAs[Double]("km")
    assert(km > 380 && km < 400)
  }

  test("qualityGateStream: batch ≡ stream incl. NULL rows; scrub + verdict live") {
    import spark.implicits._
    val dir = s"$tmpDir/qgate"
    val good = "the quick brown fox jumps over the lazy dog and that " +
      "fine hound have kept with it to be sure of the outcome today " +
      "contact bob@mail.example.com or call +1555123456 from 10.0.0.1"
    val docs = Seq(
      (1L, good),                          // passes at minWords=5, PII scrubbed
      (2L, "short"),                       // fails the word floor
      (3L, null.asInstanceOf[String]))     // NULL → NULL verdict, NULL clean
      .toDF("doc_id", "text")
    docs.write.parquet(s"$dir/in")
    val plan = (df: org.apache.spark.sql.DataFrame) =>
      EventStream.qualityGateStream(df, "text", minWords = 5)
    val streamed = EventStream.runOnce(spark, s"$dir/in", plan,
      "qgate_mem", schema = docs.schema)
    val batch = plan(spark.read.parquet(s"$dir/in"))
    assert(streamed.exceptAll(batch).isEmpty && batch.exceptAll(streamed).isEmpty,
      "streaming quality gate diverged from the batch Columns")
    val by = streamed.collect().map(r => r.getLong(0) ->
      (if (r.isNullAt(2)) None else Some(r.getBoolean(2)),
        Option(r.getString(3)))).toMap
    assert(by(1L)._1 == Some(true))
    val clean = by(1L)._2.get
    assert(clean.contains("<EMAIL>") && clean.contains("<PHONE>") &&
      clean.contains("<IP>") && !clean.contains("bob@"), clean)
    assert(by(2L) == (Some(false), Some("short")))
    assert(by(3L) == (None, None), "NULL text must stay unknown, not a verdict")
  }

  test("ingest router CHAIN: near-dup → decontaminate → classify → " +
      "quality composes stream ≡ batch across real micro-batches; each " +
      "stage's survivors feed the next (the q130 contract)") {
    import graft.ml.LinearClassifier
    import graft.dedup.Dedup
    // stage artifacts, all batch-side (the router's contract: gates are
    // stateless maps under driver-collected artifacts)
    val tpl = "a well known corpus boilerplate paragraph repeated verbatim " +
      "across the whole crawl with every mirror keeping it intact"
    val idx = scratch("router-idx")
    Dedup.writeNearDupIndex(Seq((100L, tpl),
        (101L, "some other corpus material entirely distinct from anything"))
      .toDF("doc_id", "text"), "doc_id", "text", idx)
    val bench = Seq((900L, "the secret held out benchmark phrase appears"))
      .toDF("doc_id", "text")
    val train = spark.range(40).select(col("id").as("doc_id"),
      when(col("id") % 2 === 0, concat(lit("good solid prose item "),
          col("id").cast("string")))
        .otherwise(concat(lit("bad spam junk item "),
          col("id").cast("string"))).as("text"),
      when(col("id") % 2 === 0, 1L).otherwise(-1L).as("y"))
    val w = LinearClassifier.trainTextClassifier(train, "doc_id", "text",
      "y", buckets = 64, epochs = 3, binary = true)
    val good = "good solid prose item 2 and the quick brown fox jumps " +
      "over the lazy dog to be sure of that fine outcome today with " +
      "contact bob@mail.example.com on file"
    val docs = Seq(
      (1L, tpl),                                            // dropped @ near-dup
      (2L, "the secret held out benchmark phrase appears here too"), // dropped @ decontaminate
      (3L, good),                                           // full pass, PII scrubbed
      (4L, "bad spam junk item 3"),                         // passes gates, keep=false (short)
      (5L, null.asInstanceOf[String]))                      // NULL → admitted, NULL verdicts
      .toDF("doc_id", "text")
    val inDir = scratch("router-in")
    docs.repartition(3).write.mode("overwrite").parquet(inDir)
    // the CHAIN, shared verbatim between the stream and batch runs —
    // every stage is a stateless map/filter, so one function is the plan
    val chain = (df: org.apache.spark.sql.DataFrame) =>
      EventStream.qualityGateStream(
        EventStream.classifyStream(
          EventStream.decontaminateStream(
            EventStream.nearDupFilterStream(df, idx, "text"),
            bench, "text", n = 3),
          w, "doc_id", "text", buckets = 64, binary = true),
        "text", minWords = 5)
    // 3-file input + maxFilesPerTrigger=1 → real micro-batches: the
    // composition must hold per batch, not only on the single-batch
    // degenerate case
    val sq = chain(spark.readStream.schema(docs.schema)
        .option("maxFilesPerTrigger", 1).parquet(inDir))
      .writeStream.outputMode("append")
      .format("memory").queryName("router_chain").start()
    val streamed = try {
      sq.processAllAvailable()
      assert(sq.recentProgress.count(_.numInputRows > 0) >= 2,
        "expected multiple micro-batches — the per-batch composition " +
          "was not exercised")
      spark.table("router_chain")
    } finally sq.stop()
    val batch = chain(spark.read.parquet(inDir))
    assert(streamed.exceptAll(batch).isEmpty && batch.exceptAll(streamed).isEmpty,
      "the streamed chain diverged from the same chain over a batch read")
    val by = streamed.collect().map(r => r.getLong(0) -> r).toMap
    assert(by.keySet == Set(3L, 4L, 5L),
      s"survivor set ${by.keySet} — expected the near-dup (1) and " +
        "contaminated (2) rows dropped, everything else admitted")
    assert(by(3L).getAs[Int]("pred") == 1 && by(3L).getAs[Boolean]("keep"),
      "the clean doc must score positive and pass quality")
    assert(by(3L).getAs[String]("clean_text").contains("<EMAIL>"),
      "the scrub stage must fire on the survivor's PII")
    assert(by(4L).getAs[Int]("pred") == -1 && !by(4L).getAs[Boolean]("keep"),
      "the spam doc passes the drop gates but fails quality")
    assert(by(5L).isNullAt(by(5L).fieldIndex("margin")) &&
      by(5L).isNullAt(by(5L).fieldIndex("keep")),
      "NULL text flows through every gate as unknown, never a verdict")
  }

  test("bench contamination flag fires under synthetic external load " +
      "(the r10 q53/q68 uniform-burst incident)") {
    // the pure predicate: either reading over the gate marks the line
    assert(!Bench.isContaminated(0.1, 0.2, gate = 1.5))
    assert(Bench.isContaminated(2.0, 0.1, gate = 1.5)) // started hot (r8)
    assert(Bench.isContaminated(0.1, 2.0, gate = 1.5)) // burst mid-loop (r10)
    assert(!Bench.isContaminated(-1.0, -1.0, gate = 1.5)) // /proc unknown
    // the sensor: externalBusyCores must SEE cpu burned by processes
    // outside this JVM (it subtracts our own process time — a spin
    // thread in this JVM would be invisible by design). Six spinners
    // should read well above the 1.5-core default gate; `timeout 20`
    // is the safety net if the finally is never reached.
    // the live-sensor half needs headroom for 6 spinners to read
    // clearly above the 1.5-core gate — on a ≤ 4-core host the burst
    // saturates at the core count and both asserts turn flaky, so the
    // sensor test (not the pure predicate above) is skipped there
    assume(Runtime.getRuntime.availableProcessors >= 8,
      "needs >= 8 cores for an unambiguous synthetic burst")
    // spin INSIDE the spawned bash (no `timeout` wrapper — killing the
    // wrapper would orphan a still-spinning child, which is exactly
    // what the first version of this test did to itself); SECONDS is
    // the in-process safety net if the finally never runs
    val spinners = (1 to 6).map { _ =>
      new ProcessBuilder("bash", "-c",
        "while [ $SECONDS -lt 30 ]; do :; done").start()
    }
    val ext = try {
      Thread.sleep(500) // let the spinners reach steady burn
      val e = Bench.externalBusyCores(700)
      assert(e > 1.5, s"externalBusyCores read $e with 6 external " +
        "spinners running — the sensor missed the synthetic burst")
      assert(Bench.isContaminated(0.0, e, gate = 1.5))
      e
    } finally {
      spinners.foreach(_.destroyForcibly())
      spinners.foreach(_.waitFor())
    }
    // after the spinners die the reading must DROP — the sensor tracks
    // the burst, not a constant. Compared RELATIVELY against the hot
    // reading (not an absolute bound) so genuine ambient load cannot
    // flake this assert on a shared host.
    Thread.sleep(500)
    val after = Bench.externalBusyCores(700)
    assert(after < ext * 0.5, s"external load read $after after killing " +
      s"the spinners vs $ext during — the sensor did not track the burst")
  }

  test("per-sample contamination flag fires on a synthetic MID-LOOP " +
      "burst (the r11 q116/q121/q122 phantom-regression incident)") {
    import Bench.Sample
    // the pure predicate: the line is contaminated iff the MIN
    // successful sample's OWN window saw external load over the gate —
    // loop-boundary readings cannot see a burst that lives between them
    def s(secs: Double, ext: Double) = Sample(secs, 0.5, ext)
    // r11's shape: every sample inflated, burst present throughout —
    // the min sample itself is dirty
    assert(Bench.minSampleContaminated(
      Seq(s(12.4, 9.0), s(21.2, 11.0), s(17.2, 10.0)), gate = 1.5))
    // a burst that hit only SLOW samples leaves the reported min
    // trustworthy: not flagged (the min self-heals, the samples array
    // still shows the spread)
    assert(!Bench.minSampleContaminated(
      Seq(s(1.4, 0.1), s(12.4, 9.0), s(1.5, 0.2)), gate = 1.5))
    // no /proc → unknown, not contaminated
    assert(!Bench.minSampleContaminated(Seq(s(1.4, -1.0)), gate = 1.5))
    assert(!Bench.minSampleContaminated(Nil, gate = 1.5))
    // the live sensor: measureSample must SEE a burst that lives
    // entirely inside the sample's window (what the r11 loop-boundary
    // readings missed) — same core-count guard as the sensor test above
    assume(Runtime.getRuntime.availableProcessors >= 8,
      "needs >= 8 cores for an unambiguous synthetic burst")
    val spinners = (1 to 6).map { _ =>
      new ProcessBuilder("bash", "-c",
        "while [ $SECONDS -lt 30 ]; do :; done").start()
    }
    val hot = try {
      Thread.sleep(500) // let the spinners reach steady burn
      Bench.measureSample(Runtime.getRuntime.availableProcessors) {
        Thread.sleep(700)
      }
    } finally {
      spinners.foreach(_.destroyForcibly())
      spinners.foreach(_.waitFor())
    }
    assert(hot.ext > 1.5, s"measureSample read ext=${hot.ext} with 6 " +
      "external spinners running through the whole sample window")
    assert(Bench.minSampleContaminated(Seq(hot), gate = 1.5),
      "the mid-loop burst did not flag the (only, hence min) sample")
    // an honest busy sample in a quiet room: our own spin must show up
    // in cpu_share, not in ext
    Thread.sleep(500)
    val honest = Bench.measureSample(Runtime.getRuntime.availableProcessors) {
      val t0 = System.nanoTime()
      var x = 0L
      while (System.nanoTime() - t0 < 700L * 1000 * 1000) x += 1
    }
    assert(honest.share > 0, s"self CPU share read ${honest.share} " +
      "during an in-JVM spin")
  }

  test("disk-pressure flag: high iowait with a near-idle OWN read rate " +
      "contaminates the min sample; an honest cold scan does not " +
      "(r12 verdict #5 — iowait attribution)") {
    import Bench.Sample
    def s(secs: Double, iow: Double, rd: Double) =
      Sample(secs, 0.1, 0.1, iow, rd)
    // a disk-stealing neighbor: cores stalled on iowait while WE read
    // almost nothing — the min sample's slowness is not ours
    assert(Bench.minSampleDiskContaminated(
      Seq(s(8.0, 4.0, 0.2), s(9.1, 5.0, 0.1)), gate = 1.5))
    // an honest cold parquet scan: the iowait is OUR reads (high own
    // MB/s) — informative, never flagged
    assert(!Bench.minSampleDiskContaminated(
      Seq(s(8.0, 4.0, 180.0)), gate = 1.5))
    // quiet disk: no iowait, nothing to attribute
    assert(!Bench.minSampleDiskContaminated(
      Seq(s(1.2, 0.0, 0.0)), gate = 1.5))
    // burst on a SLOW sample only: the reported min stays trustworthy
    assert(!Bench.minSampleDiskContaminated(
      Seq(s(1.2, 0.0, 0.0), s(9.0, 5.0, 0.1)), gate = 1.5))
    // sensors unavailable (-1) → unknown, not contaminated
    assert(!Bench.minSampleDiskContaminated(
      Seq(s(1.2, -1.0, -1.0)), gate = 1.5))
    assert(!Bench.minSampleDiskContaminated(Nil, gate = 1.5))
    // the live sensor: an in-JVM spin does no block I/O — ioMBps
    // must read ≈ 0, not -1 (the /proc/self/io plumbing works)
    val quiet = Bench.measureSample(Runtime.getRuntime.availableProcessors) {
      val t0 = System.nanoTime()
      var x = 0L
      while (System.nanoTime() - t0 < 300L * 1000 * 1000) x += 1
    }
    assert(quiet.ioMBps >= 0, s"self_io_mbps read ${quiet.ioMBps} — " +
      "/proc/self/io should be readable on this host")
  }
}
