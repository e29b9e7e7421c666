package graft.engine

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.{broadcast, col}

/** The lifecycle protocol of the three persisted artifacts — the ANN
  * index ([[graft.sim.Ann]]), the near-dup band index
  * ([[graft.dedup.Dedup]]) and the document store
  * ([[graft.sources.Sinks]]) — implemented ONCE. Each artifact keeps
  * only its layout (its table set, how a batch encodes under the
  * stored geometry, and its fold); everything below is shared:
  *
  *  1. **The certificate** ([[Manifest]]): one flat JSON line,
  *     `_MANIFEST.json`, written LAST so its presence certifies a
  *     complete build. Common fields `rows`, `version` (bumped by every
  *     maintenance re-issue — the openers' snapshot-bracket key),
  *     `stream_marks` (per stream tag, the highest epoch folded or
  *     appended — the replay watermark), `dead_files` (a purge's
  *     replaced files, see 4) and `built_ms`, plus the artifact's flat
  *     integer geometry fields (`nlist`/`quant`/`pq_*`/`geom_id`, or
  *     `shingle_size`/`num_hashes`/`bands`). A rebuild retracts it
  *     first and re-issues it after the tables land, so a crash in
  *     between leaves no certificate rather than a stale one endorsing
  *     half-written tables. Every reader not holding a writer marker
  *     reads it PATIENTLY ([[patiently]]): a maintenance swap retracts
  *     it for a narrow window, and a probe landing inside rides that
  *     out, while a permanent absence still refuses loudly.
  *  1. **The writer bracket** ([[Artifact.writer]]): append and
  *     compaction exclude each other through the atomic `_APPENDING` /
  *     `_COMPACTING` markers ([[acquireMarker]]) — interleaved, a
  *     compaction's swap could delete files an append just landed. One
  *     refusal template names the verb, the path and the marker. A
  *     marker left by a crashed run blocks the other side until deleted
  *     by hand. Staged leftovers of a crashed writer are swept on
  *     acquisition. Auto-compact policies DEFER under a live marker
  *     instead of refusing: they ride stream micro-batches, where a
  *     throw would kill the query over a fold that can run next batch.
  *  1. **The staged swap** ([[Artifact.swap]]): a writer stages its
  *     output to `<table>_<kind>` side dirs with the certificate intact
  *     (the long, O(batch) part — readers never block on it), then
  *     retracts the certificate only for the fast file moves (flat
  *     tables, or one `k=v` partition level) and re-issues it. A crash
  *     mid-move leaves no certificate: every reader refuses loudly
  *     instead of seeing half a batch.
  *  1. **Tombstones and grace.** A delete appends ids, cast to the
  *     stored id type, to a tiny `deletes/` table; every opener
  *     suppresses them from an EAGER snapshot taken inside its
  *     version bracket (a purge consuming the tombstone files mid-read
  *     must not fail a lazy scan, and a pre-purge listing must never
  *     pair with a post-purge empty tombstone set). A purge never
  *     deletes the files it replaces: they enter the certificate's
  *     `dead_files` list, later openers exclude them by name, and the
  *     NEXT maintenance entry collects them — so a reader whose
  *     listing predates the purge finishes against intact files.
  *     Tombstones are consumed only after the re-issue (a crash before
  *     leaves them standing, re-purged idempotently), except ids still
  *     living in a remaining stream epoch, which are retained.
  *     Streamed epochs live under `<root>/__stream=tag/__epoch=N`;
  *     folded epochs linger one fold cycle under their watermark as
  *     probe grace. */
object LayoutFs {

  val ManifestName = "_MANIFEST.json"
  private val Appending = "_APPENDING"
  private val Compacting = "_COMPACTING"

  /** Does `p` hold at least one VISIBLE parquet data file — Spark's
    * own partition-discovery rule: '_'/'.'-prefixed names are hidden
    * UNLESS they contain '=' (partition dirs like `__cell=3`)? A
    * kill-mid-write remnant dir holding only staging husks must read
    * as "no data", not send a union reader into schema-inference
    * crashes. */
  def hasVisibleParquetFile(fs: FileSystem, p: Path): Boolean = {
    def visible(n: String) =
      (!n.startsWith("_") && !n.startsWith(".")) || n.contains("=")
    def walk(d: Path): Boolean =
      fs.listStatus(d).exists { st =>
        val n = st.getPath.getName
        if (st.isDirectory) visible(n) && walk(st.getPath)
        else visible(n) && n.endsWith(".parquet")
      }
    fs.exists(p) && walk(p)
  }

  /** Acquire one side of the single-maintenance-writer contract
    * ATOMICALLY: check-the-opposite-then-create let two writers
    * launched in the same instant each pass the other's check before
    * either marker landed. Three steps close every interleave: (1)
    * pre-check the opposite marker (the common-case refusal, cheap);
    * (2) land OUR marker with create-if-absent semantics — a second
    * same-verb writer fails the create and refuses; (3) RE-check the
    * opposite marker now that ours is visible — if both writers raced
    * past step 1, at least one backs out by deleting its own marker.
    *
    * Returns normally holding the marker; the caller releases it in a
    * `finally` with `fs.delete(own, false)`. */
  def acquireMarker(fs: FileSystem, own: Path, opposite: Path,
      refuseOpposite: => String, refuseOwn: => String): Unit = {
    require(!fs.exists(opposite), refuseOpposite)
    val created =
      try { fs.create(own, false).close(); true }
      catch { case _: java.io.IOException => false }
    require(created, refuseOwn)
    if (fs.exists(opposite)) {
      fs.delete(own, false)
      throw new IllegalArgumentException(
        "requirement failed: " + refuseOpposite)
    }
  }

  /** Run `body` (an index opener's listing + snapshot work) inside a
    * VERSION-STABLE bracket: the artifact's snapshot key is read
    * patiently before and after, and `body`'s result is kept only when
    * the two reads agree — a maintenance re-issue between them means a
    * swap may have interleaved the listing (old AND new copies of the
    * same rows), so the whole open retries against the new state.
    *
    * A `FileNotFoundException` from `body` retries the same way: a
    * maintenance verb collected a file between the listing and an
    * eager read inside the bracket. Bounded: an index under
    * continuous maintenance churn fails loudly after `attempts`. */
  def consistentSnapshot[A](what: String, version: => Option[Long],
      attempts: Int = 20)(body: => A): A = {
    var tries = 0
    while (true) {
      tries += 1
      val v1 = patiently(version)
      val out =
        try Some(body)
        catch {
          // retry only when a certificate EXISTED going in — with no
          // manifest nothing is mid-swap, so the body's own loud
          // refusal (missing dir, incomplete build) must propagate
          // with its precise message
          case t: Throwable
              if v1.isDefined && tries < attempts && fileVanished(t) =>
            None
        }
      if (out.isDefined && patiently(version) == v1)
        return out.get
      if (tries >= attempts)
        sys.error(s"$what: the manifest version moved on every one of " +
          s"$attempts open attempts — continuous maintenance churn? " +
          "pause maintenance or retry later")
    }
    sys.error("unreachable")
  }

  /** Did a file vanish under `t`'s computation? Spark wraps the
    * executor-side `FileNotFoundException` in SparkException
    * (FAILED_READ_FILE) and a vanished directory surfaces as an
    * AnalysisException (PATH_NOT_FOUND); a directory a fold emptied
    * between the opener's file check and its read fails schema
    * inference (UNABLE_TO_INFER_SCHEMA). The snapshot bracket's retry
    * predicate walks the cause chain and the message. */
  private def fileVanished(t: Throwable): Boolean = {
    var c: Throwable = t
    var depth = 0
    while (c != null && depth < 10) {
      if (c.isInstanceOf[java.io.FileNotFoundException]) return true
      val m = Option(c.getMessage).getOrElse("")
      if (m.contains("FAILED_READ_FILE") || m.contains("PATH_NOT_FOUND") ||
          m.contains("UNABLE_TO_INFER_SCHEMA") ||
          m.contains("FileNotFoundException")) return true
      c = c.getCause
      depth += 1
    }
    false
  }

  /** Serialize a per-table dead-file grace list — `{"table": ["name",
    * ...], ...}`. Names come from our own directory listings (Spark
    * part-file names, or `k=v/name` relatives) and are REQUIRED to stay
    * in that shape: a name that could smuggle JSON through the reader's
    * regex refuses loudly instead of corrupting the certificate. */
  def deadFilesJson(dead: Map[String, Seq[String]]): String =
    dead.toSeq.sortBy(_._1).map { case (table, names) =>
      names.foreach { n =>
        require(n.matches("""[-._a-zA-Z0-9=/]+"""),
          s"dead-file name '$n' is not a plain part-file path — " +
            "refusing to certify it")
      }
      s""""$table": ${names.sorted.map(n => s""""$n"""").mkString("[", ", ", "]")}"""
    }.mkString("{", ", ", "}")

  /** Parse [[deadFilesJson]] back out of a manifest's text. Absent
    * key (pre-grace manifests) reads as empty. */
  def parseDeadFiles(manifestTxt: String): Map[String, Seq[String]] =
    """"dead_files":\s*\{(.*?)\}""".r.findFirstMatchIn(manifestTxt)
      .map(_.group(1)) match {
        case None => Map.empty
        case Some(body) =>
          """"(\w+)":\s*\[([^\]]*)\]""".r.findAllMatchIn(body).map { m =>
            m.group(1) ->
              """"([^"]+)"""".r.findAllMatchIn(m.group(2))
                .map(_.group(1)).toSeq
          }.toMap
      }

  /** Re-run `read` with a SHORT bounded retry while it returns None: a
    * maintenance swap retracts the certificate for a narrow window,
    * and a live probe or stream batch landing inside it must ride it
    * out — while a PERMANENT absence (crashed build, rebuild in
    * progress) still returns None after the ~1 s budget, preserving
    * the loud-refusal contract one level up. */
  def patiently[T](read: => Option[T]): Option[T] = {
    var attempt = 0
    var out = read
    while (out.isEmpty && attempt < 4) {
      Thread.sleep(250); attempt += 1
      out = read
    }
    out
  }

  /** The certificate: the common lifecycle fields plus the artifact's
    * flat integer `geometry` fields, in write order. Parsed with
    * regexes rather than a JSON library — the line is flat and this
    * module is its only writer. `builtMs` is stamped by
    * [[Artifact.write]]. */
  final case class Manifest(rows: Long, version: Long = 0L,
      geometry: Seq[(String, Long)] = Nil,
      streamMarks: Map[String, Long] = Map.empty,
      deadFiles: Map[String, Seq[String]] = Map.empty,
      builtMs: Long = 0L) {

    def geom(k: String): Option[Long] =
      geometry.collectFirst { case (`k`, v) => v }

    /** The openers' snapshot-bracket key: the version MIXED with the
      * build stamp — a rebuild resets the version counter, so version
      * alone could alias across one (ABA); the stamp breaks the tie. */
    def snapshotKey: Long = version * 0x9E3779B97F4A7CL + builtMs

    /** The certificate a maintenance re-issue writes: version bumped,
      * geometry carried, everything else as given. */
    def next(rows: Long = rows, streamMarks: Map[String, Long] = streamMarks,
        deadFiles: Map[String, Seq[String]] = deadFiles): Manifest =
      copy(rows = rows, version = version + 1, streamMarks = streamMarks,
        deadFiles = deadFiles)

    def json: String = {
      // mark keys sanitized on write: stream tags are MD5 prefixes, but
      // a hand-edited key must not smuggle JSON through the parser
      val marks = streamMarks.toSeq.sortBy(_._1).map { case (k, v) =>
        s""""${k.replaceAll("[^0-9a-zA-Z]", "")}": $v""" }
        .mkString("{", ", ", "}")
      geometry.map { case (k, v) => s""""$k": $v, """ }
        .mkString("{", "", "") +
        s""""rows": $rows, "version": $version, """ +
        s""""stream_marks": $marks, """ +
        s""""dead_files": ${deadFilesJson(deadFiles)}, """ +
        s""""built_ms": $builtMs}"""
    }
  }

  object Manifest {
    private val Common = Set("rows", "version", "built_ms")
    private val Nested = """"(stream_marks|dead_files)":\s*\{[^}]*\}""".r
    private val Flat = """"(\w+)":\s*(-?\d+)""".r

    /** None without a `rows` field. Older certificates read with
      * defaults: no `version` → 0, no `stream_marks` / `dead_files` →
      * empty, missing geometry fields → absent from `geometry`. */
    def parse(txt: String): Option[Manifest] = {
      val ints = Flat.findAllMatchIn(Nested.replaceAllIn(txt, ""))
        .map(m => m.group(1) -> m.group(2).toLong).toSeq
        .distinctBy(_._1)
      val f = ints.toMap
      val marks = """"stream_marks":\s*\{([^}]*)\}""".r
        .findFirstMatchIn(txt).map(_.group(1)).getOrElse("")
      f.get("rows").map { rows =>
        Manifest(rows, f.getOrElse("version", 0L),
          ints.filterNot(kv => Common(kv._1)),
          """"([0-9a-zA-Z]+)":\s*(-?\d+)""".r.findAllMatchIn(marks)
            .map(m => m.group(1) -> m.group(2).toLong).toMap,
          parseDeadFiles(txt), f.getOrElse("built_ms", 0L))
      }
    }
  }

  /** One persisted artifact at `path`: `kind` and `buildVerb` name it in
    * refusals, `idCol` is the stored id column tombstones key on,
    * `tables` the lifecycle tables (the first one fixes the stored id
    * type), `streamRoots` the streamed-epoch trees (the first one is
    * the backlog the auto-compact policy counts). */
  final class Artifact(val spark: SparkSession, val path: String,
      kind: String, buildVerb: String, val idCol: String,
      tables: Seq[String], streamRoots: Seq[String] = Nil) {

    val fs: FileSystem = new Path(path)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    def at(rel: String): Path = new Path(s"$path/$rel")
    val manifestPath: Path = at(ManifestName)
    private val deletesDir = at("deletes")

    // ---- 1. the certificate

    /** The certificate as it stands — None when absent (an incomplete
      * build, or a retraction window). */
    def manifest(): Option[Manifest] =
      if (!fs.exists(manifestPath)) None
      else {
        val in =
          try fs.open(manifestPath)
          catch { case _: java.io.FileNotFoundException => return None }
        try Manifest.parse(
          scala.io.Source.fromInputStream(in, "UTF-8").mkString)
        finally in.close()
      }

    /** [[manifest]] riding out a retraction window. */
    def manifestPatient(): Option[Manifest] = patiently(manifest())

    /** The patient certificate, or a loud refusal naming it. */
    def certified(verb: String): Manifest =
      manifestPatient().getOrElse(throw new IllegalStateException(
        s"$verb: '$path' has no build manifest ($ManifestName) — the " +
          s"$kind build did not complete, or a crashed maintenance run " +
          s"left it torn; rebuild with $buildVerb"))

    /** Write `m` stamped with the current time; returns what was
      * written. Every verb that changes the tables ends here, so this
      * also refreshes any cached frame that reads them: a swap or a
      * purge moves files by hand, which Spark's cache does not see, and
      * a cache taken before it (in a scope that spans the verb, or by a
      * caller outside any scope) would otherwise answer a later read of
      * the same tables with the old rows. */
    def write(m: Manifest): Manifest = {
      val stamped = m.copy(builtMs = System.currentTimeMillis())
      val out = fs.create(manifestPath, true)
      try out.write(
        stamped.json.getBytes(java.nio.charset.StandardCharsets.UTF_8))
      finally out.close()
      spark.catalog.refreshByPath(path)
      stamped
    }

    def retract(): Unit = { fs.delete(manifestPath, false); () }

    /** A (re)build's first step: retract the certificate (re-issued by
      * the build after its tables land) and clear the tombstones and
      * streamed epochs — the rebuild's corpus is the caller's authority
      * on membership, and epochs encoded under the old geometry must
      * not mix in. Stop live streams first: an in-flight epoch landing
      * after this clear would add rows the corpus did not authorize. */
    def rebuild(): Unit = {
      retract()
      ("deletes" +: streamRoots).foreach(d => fs.delete(at(d), true))
    }

    /** An opener's version-stable bracket over the patient
      * certificate. */
    def open[A](what: String)(body: Manifest => A): A =
      consistentSnapshot(s"$what at '$path'",
        manifest().map(_.snapshotKey))(body(certified(what)))

    // ---- 2. the writer bracket

    /** Is a maintenance writer live? The auto-compact policies defer. */
    def busy: Boolean = fs.exists(at(Appending)) || fs.exists(at(Compacting))

    /** Run `body` holding `_COMPACTING` (or `_APPENDING`), refusing
      * loudly while the other side — or another writer of the same
      * verb — holds its marker. */
    def writer[A](verb: String, compacting: Boolean)(body: => A): A = {
      val (own, opposite) = markers(compacting)
      def refusal(m: Path, another: Boolean) = {
        val noun = if (m.getName == Appending) "append" else "compaction"
        s"$verb: ${if (another) "another" else "a"} $noun is already " +
          s"running at '$path' (${m.getName} exists) — files an append " +
          "lands during a compaction's swap could be deleted by it " +
          "(single-maintenance-writer contract); wait for it to " +
          "finish, or delete the marker if it crashed mid-run"
      }
      acquireMarker(fs, own, opposite, refusal(opposite, another = false),
        refusal(own, another = true))
      holding(own)(body)
    }

    /** [[writer]] for opportunistic compaction-side hygiene: skipped,
      * never refused, while any writer holds the artifact. */
    def writerIfFree(body: => Unit): Unit = {
      val (own, opposite) = markers(compacting = true)
      val acquired =
        try { acquireMarker(fs, own, opposite, "busy", "busy"); true }
        catch { case _: IllegalArgumentException => false }
      if (acquired) holding(own)(body)
    }

    private def markers(compacting: Boolean) =
      if (compacting) (at(Compacting), at(Appending))
      else (at(Appending), at(Compacting))

    private def holding[A](own: Path)(body: => A): A =
      try {
        // a crashed writer's staged output: no live writer can own it
        // while we hold a marker
        for (t <- tables; k <- StageKinds) fs.delete(at(s"${t}_$k"), true)
        body
      } finally { fs.delete(own, false); () }

    // ---- 3. the staged swap

    /** A fresh `<table>_<kind>` side dir (`kind` ∈ append / fold /
      * compact) to stage a writer's output in. */
    def stage(table: String, kind: String): Path = {
      require(StageKinds.contains(kind), s"unknown stage kind '$kind'")
      val p = at(s"${table}_$kind")
      fs.delete(p, true)
      p
    }

    /** Retract the certificate, move each staged dir's parquet files
      * into its table, drop the staged dirs, re-issue `next`. */
    def swap(staged: Seq[(String, Path)], next: Manifest): Manifest = {
      retract()
      staged.foreach { case (table, dir) =>
        moveIn(dir, at(table))
        fs.delete(dir, true)
      }
      write(next)
    }

    private def moveIn(src: Path, dst: Path): Unit =
      if (fs.exists(src)) {
        val (dirs, files) = fs.listStatus(src).toSeq.partition(_.isDirectory)
        val parts = files.filter(_.getPath.getName.endsWith(".parquet"))
        if (parts.nonEmpty) fs.mkdirs(dst)
        parts.foreach(st =>
          fs.rename(st.getPath, new Path(dst, st.getPath.getName)))
        dirs.filter(_.getPath.getName.contains("=")).foreach(d =>
          moveIn(d.getPath, new Path(dst, d.getPath.getName)))
      }

    // ---- 4. tombstones and grace

    /** The `deleteFrom*` verb: tombstone `ids(idColIn)`, cast to the
      * stored id type (footer read), in `deletes/`. O(ids); never
      * touches the tables or the certificate, so it is safe beside
      * readers, appends, streams and a running compaction (one past
      * its tombstone snapshot leaves these ids for the next). */
    def deleteIds(ids: DataFrame, idColIn: String, verb: String): Unit = {
      certified(verb)
      val idType = spark.read.parquet(at(tables.head).toString)
        .schema(idCol).dataType
      ids.select(col(idColIn).cast(idType).as(idCol))
        .filter(col(idCol).isNotNull).distinct()
        .coalesce(1)
        .write.mode("append").parquet(deletesDir.toString)
    }

    /** The tombstone files a compaction snapshots at entry: it purges
      * and consumes exactly these, so a delete landing mid-compaction
      * survives to the next one. */
    def tombstoneFiles(): Seq[Path] =
      if (!fs.exists(deletesDir)) Nil
      else fs.listStatus(deletesDir).toSeq
        .filter(st => st.isFile && st.getPath.getName.endsWith(".parquet"))
        .map(_.getPath)

    /** The snapshot's distinct ids, as `__del_id`. */
    def tombstoneIds(files: Seq[Path]): DataFrame =
      spark.read.parquet(files.map(_.toString): _*)
        .select(col(idCol).as("__del_id")).distinct()

    /** The EAGER tombstone snapshot an opener takes inside its bracket
      * (the ids collect to the driver: the deletes table is
      * declared-small, the same contract as the broadcast it feeds). */
    def tombstoneSnapshot(): Option[DataFrame] =
      if (!hasVisibleParquetFile(fs, deletesDir)) None
      else {
        val delDf = spark.read.parquet(deletesDir.toString)
          .select(col(idCol)).distinct()
        val ids = delDf.collect().toIndexedSeq
        if (ids.isEmpty) None
        else Some(broadcast(spark.createDataFrame(
          scala.jdk.CollectionConverters.SeqHasAsJava(ids).asJava,
          delDf.schema)))
      }

    def suppress(df: DataFrame, snapshot: Option[DataFrame]): DataFrame =
      snapshot.fold(df)(d => df.join(d, Seq(idCol), "left_anti"))

    /** The FILE-scoped tombstone purge of flat tables, under the
      * compaction marker: locate the files actually holding a
      * tombstoned id (an id-and-path-only scan over
      * `_metadata.file_path`), stage only those files' survivors, swap
      * them in with the replaced files as the dead-file grace list, and
      * consume the tombstone snapshot — untouched files are never read
      * nor rewritten, so a bounded takedown costs O(touched files).
      * Returns the tombstoned rows purged from the first table (the
      * count rides that table's purge job). */
    def purgeFiles(m: Manifest, files: Seq[Path], dels: DataFrame): Long = {
      def hits(df: DataFrame, how: String) =
        df.join(broadcast(dels), col(idCol) === col("__del_id"), how)
      val doomed = tables.map { t =>
        t -> hits(spark.read.parquet(at(t).toString)
            .select(col(idCol), col("_metadata.file_path").as("__f")),
          "left_semi").select("__f").distinct().collect()
          .map(_.getString(0)).toSeq
      }
      var purged = 0L
      if (doomed.exists(_._2.nonEmpty)) {
        val staged = doomed.map { case (t, doomedT) =>
          val p = stage(t, "compact")
          if (doomedT.nonEmpty) {
            val touched = spark.read.parquet(doomedT: _*)
            if (t == tables.head) purged = hits(touched, "left_semi").count()
            hits(touched, "left_anti").write.mode("overwrite").parquet(p.toString)
          }
          t -> p
        }
        swap(staged, m.next(rows = m.rows - purged,
          deadFiles = doomed.collect { case (t, doomedT) if doomedT.nonEmpty =>
            t -> doomedT.map(f => new Path(f).getName)
          }.toMap))
      }
      consumeTombstones(files, dels)
      purged
    }

    /** After a purge's re-issue: retain the ids still living in a
      * remaining stream epoch, delete the snapshot files, drop an
      * emptied `deletes/`. */
    def consumeTombstones(files: Seq[Path], dels: DataFrame): Unit = {
      retainStreamTombstones(dels)
      files.foreach(f => fs.delete(f, false))
      sweepDeletes()
    }

    /** Re-write (as a fresh tombstone file, BEFORE the snapshot files
      * are consumed — no window of absence) the ids of `dels` still
      * matching a row in a REMAINING stream epoch: one torn between a
      * sink's table writes, or landed after the compaction's snapshot.
      * Consuming their tombstones would let them resurface once a later
      * fold banks that epoch. An epoch landing after this scan and
      * before the snapshot is consumed can still slip through the
      * ms-wide gap — the terminal-takedown contract is pre-purge-scoped
      * for that reason. Column-pruned; one listing when no epochs
      * remain. */
    def retainStreamTombstones(dels: DataFrame): Unit = {
      val still = streamRoots.flatMap { root =>
        val eps = streamEpochs(root)
          .filter(e => hasVisibleParquetFile(fs, e._3))
        if (eps.isEmpty) None else Some(readEpochs(root, eps).select(col(idCol)))
      }
      if (still.isEmpty) return
      val retained = dels.join(still.reduce(_ union _),
        col("__del_id") === col(idCol), "left_semi")
      if (!retained.isEmpty)
        retained.select(col("__del_id").as(idCol)).distinct()
          .coalesce(1).write.mode("append").parquet(deletesDir.toString)
    }

    /** Remove a `deletes/` dir holding no parquet data file — never one
      * a fresh tombstone landed in. */
    def sweepDeletes(): Unit =
      if (fs.exists(deletesDir) && !hasVisibleParquetFile(fs, deletesDir)) {
        fs.delete(deletesDir, true); ()
      }

    /** A table's parquet files as (relative name, path): flat, or under
      * one `k=v` partition level (`__cell=3/part-….parquet`). */
    private def dataFiles(table: String): Seq[(String, Path)] =
      fs.listStatus(at(table)).toSeq.flatMap { st =>
        val n = st.getPath.getName
        if (st.isDirectory && n.contains("="))
          fs.listStatus(st.getPath).toSeq
            .filter(f => f.isFile && f.getPath.getName.endsWith(".parquet"))
            .map(f => (s"$n/${f.getPath.getName}", f.getPath))
        else if (st.isFile && n.endsWith(".parquet")) Seq((n, st.getPath))
        else Nil
      }

    /** `table` minus the certificate's dead files — still on disk for
      * readers whose listing predates the purge. The explicit listing
      * keeps partition pruning: each path carries its `k=v` dir. */
    def liveTable(table: String, m: Manifest): DataFrame = {
      val dead = m.deadFiles.getOrElse(table, Nil).toSet
      val dir = at(table).toString
      if (dead.isEmpty) spark.read.parquet(dir)
      else {
        val live = dataFiles(table).collect {
          case (rel, p) if !dead(rel) => p.toString }
        // every file replaced mid-grace: the schema from the dir (dead
        // files share it), zero rows
        if (live.isEmpty) spark.read.parquet(dir).limit(0)
        else spark.read.option("basePath", dir).parquet(live: _*)
      }
    }

    /** Delete the certificate's dead files (idempotent: a missing name
      * is a no-op); returns `m` with the list cleared. Under a marker. */
    def collectDead(m: Manifest): Manifest = {
      for ((table, names) <- m.deadFiles; n <- names)
        fs.delete(at(s"$table/$n"), false)
      m.copy(deadFiles = Map.empty)
    }

    /** Dead-file collection for a maintenance entry with no other work:
      * under `_COMPACTING` if free (deferred to the next entry
      * otherwise), re-issuing the certificate with the list cleared so
      * openers stop paying the exclusion listing. */
    def collectDeadStandalone(): Unit =
      if (manifest().exists(_.deadFiles.values.exists(_.nonEmpty)))
        writerIfFree {
          manifest().foreach { m =>
            retract()
            write(collectDead(m).next())
          }
        }

    // ---- streamed epochs

    /** The epoch dirs under `root` as (tag, epoch, dir) — the snapshot
      * unit a fold consumes. Refuses loudly on a legacy un-tagged
      * `__epoch=` dir (a resumed stream writing the tagged layout
      * beside it would make every probe die on conflicting partition
      * structures) and on a non-alphanumeric tag dir (not written by
      * our sinks — the sanitized watermark keys could never match it,
      * so every fold would re-append its rows). */
    def streamEpochs(root: String): Seq[(String, Long, Path)] = {
      val rootP = at(root)
      if (!fs.exists(rootP)) return Nil
      val top = fs.listStatus(rootP).toSeq.filter(_.isDirectory)
      require(!top.exists(_.getPath.getName.startsWith("__epoch=")),
        s"the $root/ table at '$path' uses the legacy un-tagged epoch " +
          s"layout — rebuild with $buildVerb (it clears $root/) before " +
          "streaming into it again")
      for {
        sd <- top
        if sd.getPath.getName.startsWith("__stream=")
        tag = sd.getPath.getName.stripPrefix("__stream=")
        _ = require(tag.matches("[0-9a-zA-Z]+"),
          s"$root/ at '$path' holds a non-alphanumeric stream tag dir " +
            s"'__stream=$tag' — not written by this sink (manifest mark " +
            s"keys could never match it); remove it or rebuild")
        ed <- fs.listStatus(sd.getPath).toSeq
        if ed.isDirectory && ed.getPath.getName.startsWith("__epoch=")
      } yield (tag, ed.getPath.getName.stripPrefix("__epoch=").toLong,
        ed.getPath)
    }

    /** Data-bearing epochs above their tag's watermark. */
    def liveEpochs(root: String, marks: Map[String, Long])
        : Seq[(String, Long, Path)] =
      streamEpochs(root)
        .filter(e => hasVisibleParquetFile(fs, e._3))
        .filterNot { case (tag, ep, _) => marks.get(tag).exists(ep <= _) }

    def readEpochs(root: String, eps: Seq[(String, Long, Path)]): DataFrame =
      spark.read.option("basePath", at(root).toString)
        .parquet(eps.map(_._3.toString): _*)

    /** `main` ∪ the live epochs under `root` (minus `exclude`), in
      * `main`'s columns — the tags/epochs are directory-encoded. */
    def withLiveEpochs(main: DataFrame, root: String,
        marks: Map[String, Long],
        exclude: Option[(String, Long)] = None): DataFrame = {
      val live = liveEpochs(root, marks)
        .filterNot(e => exclude.contains((e._1, e._2)))
      if (live.isEmpty) main
      else main.unionByName(readEpochs(root, live)
        .select(main.columns.toIndexedSeq.map(col): _*))
    }

    /** Remove emptied `__stream=` dirs and stream roots left with no
      * subdirectory — never a dir still holding anything: a live epoch,
      * or one landing mid-sweep, survives. */
    def sweepStreamHusks(): Unit = streamRoots.foreach { root =>
      val rootP = at(root)
      if (fs.exists(rootP)) {
        fs.listStatus(rootP).toSeq.filter(st => st.isDirectory &&
            st.getPath.getName.startsWith("__stream=")).foreach { sd =>
          if (fs.listStatus(sd.getPath).isEmpty) {
            fs.delete(sd.getPath, true); ()
          }
        }
        if (!fs.listStatus(rootP).exists(_.isDirectory)) {
          fs.delete(rootP, true); ()
        }
      }
    }

    // ---- the auto-compact policy

    /** Run `compact` when a declared backlog threshold is crossed:
      * `afterEpochs` (live epochs under the first stream root ≥ N — a
      * pure listing), `afterRowsPct` (their rows ≥ X% of the certified
      * total — a footer count of the backlog), `afterDeletes`
      * (tombstone rows ≥ N) or `afterDeletesPct` (tombstone rows ≥ X%
      * of the certified total, which is free). Defers under a live
      * writer marker. Returns true when `compact` ran. */
    def autoCompact(afterEpochs: Option[Int] = None,
        afterRowsPct: Option[Double] = None,
        afterDeletes: Option[Long] = None,
        afterDeletesPct: Option[Double] = None)(compact: => Unit): Boolean = {
      if (afterEpochs.isEmpty && afterRowsPct.isEmpty &&
          afterDeletes.isEmpty && afterDeletesPct.isEmpty) return false
      afterEpochs.foreach(n => require(n >= 1,
        s"compact_after_epochs must be >= 1, got $n"))
      afterRowsPct.foreach(p => require(p > 0,
        s"compact_after_rows_pct must be > 0, got $p"))
      afterDeletes.foreach(n => require(n >= 1,
        s"purge_after_deletes must be >= 1, got $n"))
      afterDeletesPct.foreach(p => require(p > 0,
        s"purge_after_deletes_pct must be > 0, got $p"))
      if (busy) return false
      val m = manifestPatient().getOrElse(return false)
      val streamTrip = streamRoots.headOption.exists { root =>
        val live = liveEpochs(root, m.streamMarks)
        live.nonEmpty && (afterEpochs.exists(live.size >= _) ||
          afterRowsPct.exists { pct =>
            m.rows > 0 &&
              readEpochs(root, live).count() * 100.0 / m.rows >= pct
          })
      }
      // hasVisibleParquetFile, not exists: a deletes/ dir holding only
      // a crashed write's husks reads as "no backlog"
      val delTrip = !streamTrip &&
        (afterDeletes.nonEmpty || afterDeletesPct.nonEmpty) &&
        hasVisibleParquetFile(fs, deletesDir) && {
          val nDel = spark.read.parquet(deletesDir.toString).count()
          nDel > 0 && (afterDeletes.exists(nDel >= _) ||
            afterDeletesPct.exists(pct =>
              m.rows > 0 && nDel * 100.0 >= pct * m.rows))
        }
      val trip = streamTrip || delTrip
      if (trip) compact
      trip
    }
  }

  private val StageKinds = Seq("append", "fold", "compact")
}
