package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{StringType, StructField, StructType}

/** File sources — the reader surface of the reference's Dataset
  * (/root/reference/code/recipes.py:529-606, options 384-447).
  *
  * Reference semantics preserved: every ingested column is a STRING
  * (`dtype=object`, recipes.py:539) and missing cells are empty strings,
  * not nulls (`keep_default_na=False`). Operators cast explicitly
  * (to_integer / to_float / parsedate).
  *
  * Scale: these map straight onto Spark's distributed readers — a path
  * glob fans out to one task per file split; column pruning/pushdown
  * stays with Catalyst.
  */
object Sources {

  /** CSV with the reference's defaults: sep=";", header inferred, all
    * columns string, missing → "" (recipes.py:535-541). `names` overrides
    * the header; `select` prunes columns at the scan (usecols pushdown).
    * `skiprows` drops the first N physical lines of each file BEFORE the
    * header is read (recipes.py:386-388,539) — Spark has no such option,
    * so the lines are dropped from split 0 of a per-file text scan
    * (HadoopRDD split order is the file's byte order, so the first N
    * lines always live in split 0; everything stays distributed). */
  def csv(spark: SparkSession, path: String,
      sep: String = ";",
      header: Boolean = true,
      names: Seq[String] = Nil,
      encoding: String = "UTF-8",
      select: Seq[String] = Nil,
      skiprows: Int = 0): DataFrame = {
    var r = spark.read
      .option("sep", sep)
      .option("header", header && names.isEmpty)
      .option("encoding", encoding)
      .option("inferSchema", false) // all-string, like dtype=object
      .option("nullValue", "\u0000") // nothing maps to null; "" stays ""
      .option("mode", "PERMISSIVE")
    val df0 =
      if (skiprows <= 0) r.csv(path)
      else {
        import spark.implicits._
        // resolve the glob driver-side (metadata only), skip per file.
        // A DIRECTORY (or a glob matching directories) expands to its
        // data files — treating it as one concatenated stream would drop
        // the skip lines from the FIRST file only and ingest the other
        // files' preambles as data. Hidden files (_SUCCESS, .crc) are
        // excluded the way Spark's own file index excludes them.
        val hconf = spark.sparkContext.hadoopConfiguration
        val p = new org.apache.hadoop.fs.Path(path)
        val fs = p.getFileSystem(hconf)
        def visible(st: org.apache.hadoop.fs.FileStatus): Boolean = {
          val n = st.getPath.getName
          !n.startsWith("_") && !n.startsWith(".")
        }
        val files = Option(fs.globStatus(p)).map(_.toSeq).getOrElse(Nil)
          .flatMap { st =>
            if (st.isDirectory) fs.listStatus(st.getPath).toSeq.filter(s => s.isFile && visible(s))
            else Seq(st)
          }
          .map(_.getPath.toString).sorted match {
          case Nil => Seq(path) // plain file path, no glob match needed
          case fs0 => fs0
        }
        // textFile decodes UTF-8 unconditionally; for other charsets read
        // the raw line bytes (Hadoop Text) and decode with the requested
        // encoding — same input splits, correct bytes. Validate the name
        // driver-side; ship only the NAME (Charset isn't serializable).
        val charset = java.nio.charset.Charset.forName(encoding)
        // TextInputFormat splits records on the single byte \n, so this
        // path only works for charsets that encode '\n' as exactly 0x0A
        // (ASCII-compatible: latin-1, windows-125x, Shift_JIS, UTF-8…).
        // UTF-16/32 lines would be split mid-character into garbage —
        // reject them loudly instead.
        val nl = charset.encode("\n")
        require(nl.remaining == 1 && nl.get(0) == 0x0a,
          s"skiprows with encoding=$encoding is unsupported: records are " +
            "split on the single byte \\n, which this charset does not " +
            "encode as one byte (use a single-byte/ASCII-compatible " +
            "encoding, or strip the preamble upstream)")
        val encName = charset.name
        def readLines(f: String) =
          if (charset == java.nio.charset.StandardCharsets.UTF_8)
            spark.sparkContext.textFile(f)
          else
            spark.sparkContext
              .hadoopFile[org.apache.hadoop.io.LongWritable, org.apache.hadoop.io.Text,
                org.apache.hadoop.mapred.TextInputFormat](f)
              .map { case (_, t) => new String(t.copyBytes, encName) }
        val lines = files.map { f =>
          readLines(f).mapPartitionsWithIndex {
            case (0, it) => it.drop(skiprows)
            case (_, it) => it
          }
        }.reduce(_ union _)
        r.csv(spark.createDataset(lines))
      }
    val df1 =
      if (names.nonEmpty) df0.toDF(names: _*)
      else df0
    // reference fills missing with "" (keep_default_na=False)
    val df2 = df1.select(df1.columns.toIndexedSeq.map(c => coalesce(col(c), lit("")).as(c)): _*)
    if (select.nonEmpty) df2.select(select.map(col): _*) else df2
  }

  /** JSON-lines, primitives kept as strings (recipes.py:542-548). */
  def jsonl(spark: SparkSession, path: String, select: Seq[String] = Nil): DataFrame = {
    val df = spark.read.option("primitivesAsString", true).json(path)
    if (select.nonEmpty) df.select(select.map(col): _*) else df
  }

  /** Fixed-width file: text lines sliced by `widths` into `names`
    * (recipes.py:549-556). No built-in FWF reader exists; substring
    * slicing is codegen'd and runs at scan speed. */
  def fwf(spark: SparkSession, path: String,
      widths: Seq[Int], names: Seq[String]): DataFrame = {
    require(widths.length == names.length, "widths and names must align")
    val offsets = widths.scanLeft(1)(_ + _)
    val text = spark.read.text(path)
    text.select(
      names.zipWithIndex.map { case (n, i) =>
        trim(substring(col("value"), offsets(i), widths(i))).as(n)
      }: _*)
  }

  /** Parquet (recipes.py:569-576). */
  def parquet(spark: SparkSession, path: String, select: Seq[String] = Nil): DataFrame = {
    val df = spark.read.parquet(path)
    if (select.nonEmpty) df.select(select.map(col): _*) else df
  }

  /** One table of a document-index layout (`Sinks.indexed`: docs/ or
    * postings/) with tombstones ([[Sinks.deleteFromIndexed]])
    * suppressed — ONE reader shared by the recipe `index` dataset,
    * the match step's right side (it resolves through that dataset
    * read), and the API `_search` route, so a taken-down doc vanishes
    * from every consumer at once. Broadcast anti-join on `_id`
    * (takedowns are declared-small); no deletes/ → the plain read.
    *
    * Certificate-gated and PATIENT, like every artifact opener
    * ([[graft.engine.LayoutFs]]): this read is live behind the API
    * `_search` route, where "maintenance window" is someone else's
    * query. */
  def indexedTable(spark: SparkSession, path: String,
      table: String, suppressDeletes: Boolean = true): DataFrame =
    indexedTables(spark, path, Seq(table), suppressDeletes).head

  /** [[indexedTable]] for SEVERAL tables of one store inside a SINGLE
    * version bracket — the two-table consumers' opener (`_search`
    * matches postings then fetches docs; the q139 probe joins both).
    * Separate brackets would each be internally consistent yet could
    * straddle an APPEND, pairing a pre-append docs listing with a
    * post-append postings listing — a posting whose doc fetch misses.
    * One bracket pins every listed table to the same certified
    * store version; the dead-file exclusion and the eager tombstone
    * snapshot ride inside it ([[graft.engine.LayoutFs]]). */
  def indexedTables(spark: SparkSession, path: String,
      tables: Seq[String], suppressDeletes: Boolean = true)
      : Seq[DataFrame] = {
    val art = Sinks.store(spark, path)
    art.open(s"indexedTable(${tables.mkString(",")})") { m =>
      val dels = if (suppressDeletes) art.tombstoneSnapshot() else None
      tables.map(t => art.suppress(art.liveTable(t, m), dels))
    }
  }

  /** ORC — beyond the reference's formats, but table stakes for a Spark
    * library: the other columnar lake format, with the same pushdown/
    * pruning story as parquet (built into spark-sql, no extra jars). */
  def orc(spark: SparkSession, path: String, select: Seq[String] = Nil): DataFrame = {
    val df = spark.read.orc(path)
    if (select.nonEmpty) df.select(select.map(col): _*) else df
  }

  /** Avro — beyond the reference's formats: the row-major
    * schema-carrying lake format (this Spark distribution bundles the
    * avro datasource in its sql module). Columnar pruning doesn't
    * apply (row-major), but partition pruning and file-level filters
    * do; prefer parquet/ORC for analytics, avro for row-streaming
    * interchange. */
  def avro(spark: SparkSession, path: String, select: Seq[String] = Nil): DataFrame = {
    // FQCN, not "avro": this distribution bundles the avro classes in
    // the sql module but without the DataSourceRegister service entry,
    // so the short name does not resolve
    val df = spark.read.format("org.apache.spark.sql.avro.AvroFileFormat").load(path)
    if (select.nonEmpty) df.select(select.map(col): _*) else df
  }

  /** XML — the datasource built into Spark 4's sql module: `rowTag`
    * names the repeated record element; attributes arrive as
    * `_attr`-prefixed columns. For feed-style corpora (sitemaps, dumps
    * of the Wikipedia/arXiv shape) that arrive as XML. */
  def xml(spark: SparkSession, path: String, rowTag: String = "row",
      select: Seq[String] = Nil): DataFrame = {
    val df = spark.read.format("xml").option("rowTag", rowTag).load(path)
    if (select.nonEmpty) df.select(select.map(col): _*) else df
  }

  /** Multi-file read: regex over a directory, matched files read as one
    * dataset (recipes.py:356-366) — Spark unions them at the scan, one
    * task per split. Listing goes through the Hadoop FileSystem API, so
    * the same call works on local paths, HDFS, and s3a:// (the
    * reference's s3 variant, recipes.py:368-381). Metadata-only on the
    * driver — no data moves until the action. */
  def multiFile(spark: SparkSession, dir: String, regex: String,
      read: String => DataFrame): DataFrame = {
    val p = new org.apache.hadoop.fs.Path(dir)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val files = fs.listStatus(p).toSeq
      .filter(s => s.isFile && s.getPath.getName.matches(regex))
      .map(_.getPath.toString).sorted
    require(files.nonEmpty, s"no files in $dir matching $regex")
    files.map(read).reduce(_ unionByName _)
  }

  /** JDBC source with query pushdown (recipes.py:484-509): the `select`
    * SQL runs in-database; test mode's LIMIT rewrite is just `.limit(n)`
    * (Catalyst pushes it into the JDBC query). */
  def jdbc(spark: SparkSession, url: String, table: String,
      query: Option[String] = None,
      props: Map[String, String] = Map.empty): DataFrame = {
    val r = spark.read.format("jdbc").option("url", url)
    val withTarget = query match {
      case Some(q) => r.option("query", q)
      case None    => r.option("dbtable", table)
    }
    props.foldLeft(withTarget) { case (rr, (k, v)) => rr.option(k, v) }.load()
  }
}

/** File sinks (recipes.py:852-946). */
object Sinks {

  /** CSV out: header, configurable sep; `names` fixes column order
    * (sorted otherwise, recipes.py:865). Single-file output (the
    * reference appends chunks to one file) = coalesce(1); leave
    * partitioned for scale. */
  def csv(df: DataFrame, path: String, sep: String = ";",
      names: Seq[String] = Nil, singleFile: Boolean = false,
      mode: String = "overwrite"): Unit = {
    val cols = if (names.nonEmpty) names else df.columns.sorted.toSeq
    val out = df.select(cols.map(col): _*)
    (if (singleFile) out.coalesce(1) else out)
      .write.mode(mode).option("header", true).option("sep", sep).csv(path)
  }

  /** Fixed-width out: left-justified pad to widths (fwf_format/to_fwf,
    * recipes.py:77-108) → one text column. */
  def fwf(df: DataFrame, path: String, widths: Seq[Int],
      names: Seq[String], mode: String = "overwrite"): Unit = {
    val line = concat(names.zip(widths).map { case (n, w) =>
      val v = coalesce(col(n).cast(StringType), lit(""))
      // rpad silently TRUNCATES overlong values — corrupting an export
      // with no signal; fail the job naming the column instead
      when(length(v) > w, raise_error(concat(
          lit(s"fwf: value for column '$n' exceeds width $w: '"), v, lit("'"))))
        .otherwise(rpad(v, w, " "))
    }: _*)
    df.select(line.as("value")).write.mode(mode).text(path)
  }

  /** Parquet out; `partitionBy` lays the dataset out hive-style so
    * partition-key predicates prune whole directories at the scan — the
    * primary data-layout lever at 100 TB. */
  def parquet(df: DataFrame, path: String, mode: String = "overwrite",
      partitionBy: Seq[String] = Nil): Unit = {
    val w = df.write.mode(mode)
    (if (partitionBy.nonEmpty) w.partitionBy(partitionBy: _*) else w).parquet(path)
  }

  /** ORC sink — same layout levers as the parquet sink. */
  def orc(df: DataFrame, path: String, mode: String = "overwrite",
      partitionBy: Seq[String] = Nil): Unit = {
    val w = df.write.mode(mode)
    (if (partitionBy.nonEmpty) w.partitionBy(partitionBy: _*) else w).orc(path)
  }

  /** JSON-lines sink — the write side of [[Sources.jsonl]] (one JSON
    * object per line; the interchange format most text-corpus tooling
    * speaks). */
  def jsonl(df: DataFrame, path: String, mode: String = "overwrite"): Unit =
    df.write.mode(mode).json(path)

  /** Avro sink — same partitionBy layout lever as parquet/ORC. FQCN
    * for the same service-registration reason as [[Sources.avro]]. */
  def avro(df: DataFrame, path: String, mode: String = "overwrite",
      partitionBy: Seq[String] = Nil): Unit = {
    val w = df.write.mode(mode)
      .format("org.apache.spark.sql.avro.AvroFileFormat")
    (if (partitionBy.nonEmpty) w.partitionBy(partitionBy: _*) else w).save(path)
  }

  /** XML sink — records wrapped in `rowTag` elements. */
  def xml(df: DataFrame, path: String, rowTag: String = "row",
      mode: String = "overwrite"): Unit =
    df.write.mode(mode).format("xml").option("rowTag", rowTag).save(path)

  /** `update` output mode — the ES doc-upsert analogue
    * (recipes.py:783-785, 1096-1100): merge-by-key into an existing
    * parquet dataset, new rows winning on key collision. Implemented as
    * read-union-dedup-rewrite (Delta-style merge without a table
    * format); at cluster scale the same call targets a real lakehouse
    * MERGE. */
  // one lock per target path: concurrent upserts to the same dataset
  // (e.g. parallel /_update API requests) would otherwise race on the
  // shared tmp dir and the read-delete-rename commit, losing a write.
  // JVM-local — multi-driver writers need a real table format's MERGE.
  private val upsertLocks =
    new java.util.concurrent.ConcurrentHashMap[String, Object]()

  /** Partial-doc upsert (ES `_update` semantics, api.py:784-811): the
    * posted columns overlay the stored row for that id, every other
    * stored column is kept, posted-only columns are added. The read of
    * the existing row happens INSIDE the per-path lock — building the
    * merge plan outside it would capture a file listing that a
    * concurrent upsert's delete+rename commit invalidates mid-write. */
  def upsertPartial(doc: DataFrame, path: String, idCol: String): Unit = {
    val lock = upsertLocks.computeIfAbsent(path, _ => new Object)
    lock.synchronized {
      val spark = doc.sparkSession
      val target = new org.apache.hadoop.fs.Path(path)
      val fs = target.getFileSystem(spark.sparkContext.hadoopConfiguration)
      val merged =
        if (!fs.exists(target)) doc
        else {
          val table = spark.read.parquet(path)
          // align the merge-key type with the stored table (callers may
          // have typed the id from a pre-lock schema read that raced)
          val doc0 = scala.util.Try(table.schema(idCol).dataType).toOption
            .map(t => doc.withColumn(idCol, col(idCol).cast(t))).getOrElse(doc)
          val old = table.join(doc0.select(col(idCol)), Seq(idCol), "left_semi")
          if (old.isEmpty) doc0
          else {
            val doc = doc0
            val posted = doc.columns.filterNot(_ == idCol).toSet
            // posted values are cast to the stored column type so the
            // parquet schema stays stable under repeated updates
            val keepOrOverlay = table.schema.fields.toSeq.map { f =>
              if (f.name == idCol) col(s"old.`${f.name}`").as(f.name)
              else if (posted.contains(f.name))
                col(s"new.`${f.name}`").cast(f.dataType).as(f.name)
              else col(s"old.`${f.name}`").as(f.name)
            }
            val newOnly = doc.schema.fields.toSeq
              .filterNot(f => f.name == idCol || table.columns.contains(f.name))
              .map(f => col(s"new.`${f.name}`").as(f.name))
            val overlaid = old.as("old").join(doc.as("new"),
                col(s"old.`$idCol`") === col(s"new.`$idCol`"))
              .select(keepOrOverlay ++ newOnly: _*)
            // a MIXED batch (existing + new ids) must also INSERT its
            // new-id rows — the overlay inner join keeps only existing
            // ids, so without this union new docs vanish silently.
            // Shared columns are cast to the stored types so the union
            // resolves; stored-only columns surface as null, the same
            // shape an all-new insert produces.
            val inserts0 = doc.join(table.select(col(idCol)), Seq(idCol), "left_anti")
            val inserts = table.schema.fields.foldLeft(inserts0) { (d, f) =>
              if (f.name != idCol && d.columns.contains(f.name))
                d.withColumn(f.name, col(f.name).cast(f.dataType))
              else d
            }
            overlaid.unionByName(inserts, allowMissingColumns = true)
          }
        }
      writeLocked(merged, path, idCol)
    }
  }

  def upsert(df: DataFrame, path: String, idCol: String): Unit = {
    val lock = upsertLocks.computeIfAbsent(path, _ => new Object)
    lock.synchronized { writeLocked(df, path, idCol) }
  }

  /** The shared read-union-dedup-rewrite body; callers hold the path
    * lock. Existing rows whose id appears in `newRows` are replaced. */
  private def writeLocked(newRows: DataFrame, path: String, idCol: String): Unit = {
    val spark = newRows.sparkSession
    val target = new org.apache.hadoop.fs.Path(path)
    val fs = target.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val merged =
      if (fs.exists(target)) {
        val existing = spark.read.parquet(path)
        val keep = existing.join(newRows.select(col(idCol)), Seq(idCol), "left_anti")
        keep.unionByName(newRows, allowMissingColumns = true)
      } else newRows
    // write the merged result to a temp dir first (the source partition
    // can't be overwritten while it is being read), then commit with a
    // directory rename — one metadata op on HDFS-like stores, and the
    // window where the target is absent is delete→rename only. At
    // lakehouse scale the same call maps to a real MERGE on a table
    // format with snapshot isolation.
    val tmp = new org.apache.hadoop.fs.Path(path + "__upsert_tmp")
    if (fs.exists(tmp)) fs.delete(tmp, true)
    merged.write.mode("overwrite").parquet(tmp.toString)
    if (fs.exists(target)) fs.delete(target, true)
    if (!fs.rename(tmp, target))
      sys.error(s"upsert commit failed: could not rename $tmp to $target")
  }

  /** JDBC sink: create (overwrite) / append, mirroring output modes
    * (recipes.py:921-946, 1096-1100). */
  def jdbc(df: DataFrame, url: String, table: String, mode: String = "append",
      props: Map[String, String] = Map.empty): Unit = {
    val w = df.write.format("jdbc").option("url", url).option("dbtable", table)
    props.foldLeft(w) { case (ww, (k, v)) => ww.option(k, v) }
      .mode(if (mode == "create") "overwrite" else mode).save()
  }

  /** The document store as a lifecycle artifact
    * ([[graft.engine.LayoutFs]]): docs/ + postings/ keyed on `_id`, no
    * stream tree — a flat layout cannot overwrite "its own epoch", so
    * the stream sink's watermark gates the append itself. */
  private[graft] def store(spark: SparkSession, path: String) =
    new graft.engine.LayoutFs.Artifact(spark, path, "document store",
      "the index sink", "_id", Seq("docs", "postings"))

  /** (rows, version) of the store's certificate; None when absent. */
  private[graft] def readIndexedManifest(spark: SparkSession,
      path: String): Option[(Long, Long)] =
    store(spark, path).manifest().map(m => (m.rows, m.version))

  private def withDocId(df: DataFrame, idCol: Option[String]) =
    idCol match {
      case Some(c) => df.withColumn("_id", col(c))
      case None => df.withColumn("_id",
        xxhash64(df.columns.toIndexedSeq.map(col): _*))
    }

  private def postings(docs: DataFrame, analyzedCol: String) =
    docs.select(col("_id"),
      explode(array_distinct(col(analyzedCol))).as("token"))

  /** The ES-bulk analogue: a "document store" write — parquet table plus
    * a derived token-postings index table for the match join
    * (SURVEY §2.4.3). `_id` = provided column or a row hash
    * (recipes.py:771-790; blake3 → xxhash64, ids are per-run stable).
    * A REBUILD retracts the certificate first and re-issues it LAST
    * with the certified row total; an APPEND extends a COMPLETE store
    * only ([[appendIndexedBatch]]). */
  def indexed(df: DataFrame, path: String, idCol: Option[String],
      analyzedCol: String, mode: String = "overwrite"): Unit = {
    if (mode == "append") {
      appendIndexedBatch(df, path, idCol, analyzedCol)
      return
    }
    val spark = df.sparkSession
    val art = store(spark, path)
    art.rebuild()
    withDocId(df, idCol).write.mode(mode).parquet(s"$path/docs")
    // recompute from the written table, not the input: one pass over
    // the input total, and the two tables cannot disagree
    val written = spark.read.parquet(s"$path/docs")
    postings(written, analyzedCol).write.mode(mode).parquet(s"$path/postings")
    art.write(graft.engine.LayoutFs.Manifest(written.count(), version = 1L))
  }

  /** The staged doc-store append core behind the batch sink's
    * mode=append. A crash inside the swap's move window leaves a
    * loudly-unreadable store (half the files moved into a flat table),
    * the price of the flat layout. Row accounting is incremental:
    * certified + batch. */
  private[graft] def appendIndexedBatch(df: DataFrame, path: String,
      idCol: Option[String], analyzedCol: String): Unit = {
    val spark = df.sparkSession
    val art = store(spark, path)
    val verb = "index sink (append)"
    // an empty batch writes nothing: the staged-docs
    // re-read below would die on schema inference over a data-less
    // staging dir, and a no-op append should not churn the version
    if (df.isEmpty) return
    art.certified(verb)
    art.writer(verb, compacting = false) {
      val stagedDocs = art.stage("docs", "append")
      val stagedPost = art.stage("postings", "append")
      withDocId(df, idCol).write.mode("overwrite").parquet(stagedDocs.toString)
      // postings from the STAGED docs: one source of truth, and the
      // batch frame is computed once
      val stagedDf = spark.read.parquet(stagedDocs.toString)
      postings(stagedDf, analyzedCol)
        .write.mode("overwrite").parquet(stagedPost.toString)
      val n = stagedDf.count() // footer count of the staged batch
      val m = art.certified(verb)
      art.swap(Seq("docs" -> stagedDocs, "postings" -> stagedPost),
        m.next(rows = m.rows + n))
    }
  }

  /** DELETE for the document store: tombstoned `_id`s append to
    * `deletes/` and every reader of the layout suppresses them
    * ([[Sources.indexedTable]] — the recipe `index` dataset read, the
    * match step's right side through it, and the API `_search`
    * route). Physical purge at the next [[compactIndexed]] or rebuild.
    * Idempotent; unknown ids are legal. */
  def deleteFromIndexed(ids: DataFrame, idCol: String,
      path: String): Unit =
    store(ids.sparkSession, path).deleteIds(ids, idCol, "deleteFromIndexed")

  /** COMPACT for the document store — the physical tombstone purge,
    * FILE-scoped over docs/ and postings/
    * ([[graft.engine.LayoutFs.Artifact.purgeFiles]]).
    *
    * Returns the count of tombstone-matched docs physically purged —
    * 0 when nothing matched — so compliance receipts (the YAML
    * takedown/compact surface) can record the purge; the count rides
    * the purge's existing docs-side job, no extra scan. */
  def compactIndexed(spark: SparkSession, path: String): Long = {
    val art = store(spark, path)
    val verb = "compactIndexed"
    val delFiles = art.tombstoneFiles()
    if (delFiles.isEmpty) {
      // nothing to purge — still a maintenance ENTRY
      art.collectDeadStandalone()
      art.sweepDeletes()
      return 0L
    }
    art.certified(verb)
    art.writer(verb, compacting = true) {
      art.purgeFiles(art.collectDead(art.certified(verb)), delFiles,
        art.tombstoneIds(delFiles))
    }
  }

  /** Auto-purge policy for the document store, checked by the YAML
    * `index` delete mode and the streaming sink: purge when the
    * tombstone backlog reaches `afterDeletes` rows or
    * `afterDeletesPct` of the certified total
    * ([[graft.engine.LayoutFs.Artifact.autoCompact]]). Returns true
    * when a purge ran. */
  def maybeCompactIndexed(spark: SparkSession, path: String,
      afterDeletes: Option[Long],
      afterDeletesPct: Option[Double] = None): Boolean =
    store(spark, path).autoCompact(afterDeletes = afterDeletes,
      afterDeletesPct = afterDeletesPct) { compactIndexed(spark, path); () }
}
