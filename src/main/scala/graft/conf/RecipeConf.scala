package graft.conf

import scala.jdk.CollectionConverters._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.yaml.snakeyaml.Yaml
import graft.operators.{GroupByOp, Joins, MatchJoin, Ops}
import graft.graph.ConnectedComponents
import graft.sources.{Sinks, Sources}
import graft.engine.Recipe.Step

/** Conf-driven recipes — the reference's YAML surface
  * (/root/reference/code/recipes.py:976-1139: connectors, datasets,
  * recipes with ordered steps; env interpolation at
  * code/config.py:53-91).
  *
  * The YAML tree compiles ONCE into a `DataFrame => DataFrame` chain —
  * the conf tree is the logical plan (SURVEY.md §3.1), Catalyst
  * optimizes across all steps, and execution is the single output write.
  *
  * Divergence (documented): `eval`/`where` expressions are Spark SQL
  * expression strings, not Python (§7.3 — the scalar library is
  * registered by functions.Registry, so `levenshtein_norm(a,b)` etc.
  * work inside them). `exec` (arbitrary code against the dataframe) is
  * rejected at compile time by design.
  */
object RecipeConf {

  /** @param select column projection pushed to the scan (usecols,
    *   recipes.py:384-447); empty = all columns
    * @param regex  multi-file: `path` is a directory, files matching the
    *   regex are concatenated (recipes.py:356-366) */
  case class DatasetConf(connector: String, path: String, format: String,
      options: Map[String, String] = Map.empty,
      select: Seq[String] = Nil,
      regex: Option[String] = None)
  /** before/after = dependency recipes run around this one
    * (recipes.py:1309-1350; a trailing '&' marks async in the reference —
    * accepted and stripped, execution here is sequential). */
  /** Recipe input: a dataset plus optional read-time `filter` recipe and
    * `select` projection (recipes.py:512-523, 1032-1037). */
  case class InputConf(dataset: String, filter: Option[String] = None,
      select: Seq[String] = Nil)
  /** `input` is optional: the reference's scoring sub-recipes are pure
    * step lists invoked from other recipes (matching.yml:58-65) — they
    * only need an input when run top-level. */
  case class RecipeDef(input: Option[InputConf], steps: Seq[(String, Any)], output: Option[String],
      before: Seq[String] = Nil, after: Seq[String] = Nil)
  case class ProjectConf(datasets: Map[String, DatasetConf], recipes: Map[String, RecipeDef])

  // ------------------------------------------------------------- loading
  /** ${VAR} interpolation from the environment (config.py:53-91's !ENV).
    * Values are quoted — a '$' or '\' in an env value is data, not a
    * regex group reference. */
  private def interp(s: String, env: Map[String, String]): String =
    "\\$\\{([A-Za-z0-9_]+)\\}".r.replaceAllIn(s, m =>
      scala.util.matching.Regex.quoteReplacement(env.getOrElse(m.group(1),
        // an unset (or typo'd) variable must not silently become "" —
        // "s3a://${BUCKTE}/data" writing to s3a:///data is the failure
        // mode this names instead
        sys.error(s"config interpolation: environment variable " +
          s"'${m.group(1)}' is not set (referenced as $${${m.group(1)}})"))))

  def load(yaml: String, env: Map[String, String] = sys.env): ProjectConf =
    build(orderedMap(
      Option(new Yaml().load[java.util.Map[String, Any]](interp(yaml, env)))
        .getOrElse(sys.error("empty YAML document — expected datasets:/recipes: mappings"))))

  private def build(root: Map[String, Any]): ProjectConf = {

    def asMap(a: Any): Map[String, Any] = a match {
      case m: java.util.Map[_, _] => orderedMap(m)
      case null => Map.empty
      case other => sys.error(s"expected mapping, got $other")
    }

    // connectors: named base locations (recipes.py:111-246); a dataset
    // either gives a full `path` or a `connector` + `table`
    val connectors = asMap(root.getOrElse("connectors", null)).map { case (name, v) =>
      name -> asMap(v).getOrElse("path", sys.error(s"connector $name: path required")).toString
    }

    val datasets = asMap(root.getOrElse("datasets", null)).map { case (name, v) =>
      val m = asMap(v)
      val connector = m.getOrElse("connector", "filesystem").toString
      val path = (m.get("path"), m.get("table")) match {
        case (Some(p), _) => p.toString
        case (None, Some(t)) =>
          connectors.getOrElse(connector,
            sys.error(s"dataset $name: unknown connector $connector")) + "/" + t
        case _ => sys.error(s"dataset $name: path or connector+table required")
      }
      name -> DatasetConf(
        connector = connector,
        path = path,
        format = m.getOrElse("format", "parquet").toString,
        options = asMap(m.getOrElse("options", null)).map { case (k, vv) => k -> vv.toString },
        select = strSeq(m.getOrElse("select", null)),
        regex = m.get("regex").map(_.toString))
    }

    val recipes = asMap(root.getOrElse("recipes", null)).map { case (name, v) =>
      val m = asMap(v)
      val steps = m.getOrElse("steps", new java.util.ArrayList[Any]()) match {
        case l: java.util.List[_] => l.asScala.toSeq.map {
          case s: String => (s, null: Any) // bare sub-recipe reference
          case s =>
            val sm = asMap(s)
            require(sm.size == 1, s"recipe $name: each step must have exactly one op key")
            sm.head
        }
        case null => Nil
        case other => sys.error(s"recipe $name: steps must be a list, got $other")
      }
      def recipeList(key: String): Seq[String] = m.getOrElse(key, null) match {
        case l: java.util.List[_] => l.asScala.toSeq.map(_.toString.stripSuffix("&").trim)
        case null => Nil
        case s => Seq(s.toString.stripSuffix("&").trim)
      }
      // input: either a bare dataset name or
      // {dataset: d, filter: recipe, select: [cols]} (recipes.py:1032-1037)
      val input = m.get("input").map {
        case im: java.util.Map[_, _] =>
          val imm = asMap(im)
          InputConf(
            dataset = imm.getOrElse("dataset",
              sys.error(s"recipe $name: input.dataset required")).toString,
            filter = imm.get("filter").map(_.toString),
            select = strSeq(imm.getOrElse("select", null)))
        case s => InputConf(s.toString)
      }
      name -> RecipeDef(
        input = input,
        steps = steps,
        output = m.get("output").map(_.toString),
        before = recipeList("before"),
        after = recipeList("after"))
    }
    ProjectConf(datasets, recipes)
  }

  // ------------------------------------------------------------ datasets
  def read(spark: SparkSession, ds: DatasetConf): DataFrame = {
    def readOne(path: String): DataFrame = ds.format match {
      case "parquet" => Sources.parquet(spark, path)
      case "csv" => Sources.csv(spark, path,
        sep = ds.options.getOrElse("sep", ";"),
        header = {
          val v = ds.options.getOrElse("header", "true")
          v.toBooleanOption.getOrElse(sys.error(
            s"csv dataset: options.header must be true/false, got '$v'"))
        },
        names = ds.options.get("names")
          .map(_.split(",").toSeq.map(_.trim)).getOrElse(Nil),
        encoding = ds.options.getOrElse("encoding", "UTF-8"),
        skiprows = {
          val v = ds.options.getOrElse("skiprows", "0")
          v.toIntOption.getOrElse(sys.error(
            s"csv dataset: options.skiprows must be an integer, got '$v'"))
        })
      case "jsonl" | "json" => Sources.jsonl(spark, path)
      case "orc" => Sources.orc(spark, path)
      case "avro" => Sources.avro(spark, path)
      case "xml" => Sources.xml(spark, path,
        rowTag = ds.options.getOrElse("row_tag", "row"))
      case "fwf" => Sources.fwf(spark, path,
        widths = ds.options.getOrElse("widths",
          sys.error("fwf dataset needs options.widths (comma-separated)"))
          .split(",").toSeq.map(w => w.trim.toIntOption.getOrElse(sys.error(
            s"fwf dataset: options.widths entries must be integers, got '$w'"))),
        names = ds.options.getOrElse("names",
          sys.error("fwf dataset needs options.names (comma-separated)"))
          .split(",").toSeq.map(_.trim))
      // document store — tombstones (index sink mode delete) suppressed
      case "index" => Sources.indexedTable(spark, path, "docs")
      // the reference's `sql` connector (recipes.py:484-509): path = the
      // table; options.query pushes a whole SELECT into the database
      case "sql" => Sources.jdbc(spark,
        url = ds.options.getOrElse("url", sys.error("sql dataset needs options.url")),
        table = path,
        query = ds.options.get("query"),
        props = ds.options -- Seq("url", "query"))
      case other => sys.error(s"unsupported dataset format: $other")
    }
    // regex → path is a directory of files to concatenate
    val df = ds.regex match {
      case Some(re) => Sources.multiFile(spark, ds.path, re, readOne)
      case None     => readOne(ds.path)
    }
    // select = usecols pushdown; Catalyst prunes the scan to these
    if (ds.select.nonEmpty) df.select(ds.select.map(col): _*) else df
  }

  def write(df: DataFrame, ds: DatasetConf, mode: String): Unit = ds.format match {
    case "parquet" if mode == "update" => // doc-upsert mode (ES analogue)
      Sinks.upsert(df, ds.path, ds.options.getOrElse("id", "_id"))
    case other if mode == "update" =>
      sys.error(s"output mode 'update' (doc upsert) is only supported for " +
        s"parquet datasets, not '$other'")
    case "parquet" => Sinks.parquet(df, ds.path,
      mode = if (mode == "create") "overwrite" else mode)
    case "orc" => Sinks.orc(df, ds.path,
      mode = if (mode == "create") "overwrite" else mode)
    case "jsonl" | "json" => Sinks.jsonl(df, ds.path,
      mode = if (mode == "create") "overwrite" else mode)
    case "avro" => Sinks.avro(df, ds.path,
      mode = if (mode == "create") "overwrite" else mode)
    case "xml" => Sinks.xml(df, ds.path,
      rowTag = ds.options.getOrElse("row_tag", "row"),
      mode = if (mode == "create") "overwrite" else mode)
    case "csv" => Sinks.csv(df, ds.path, sep = ds.options.getOrElse("sep", ";"),
      mode = if (mode == "create") "overwrite" else mode)
    // the ES-bulk analogue: docs + token postings tables; `analyzed`
    // names the token-array column, `id` the doc id (row hash when
    // absent — recipes.py:771-790)
    // 'delete' tombstones the input frame's ids (options.id names the
    // column, default _id) — the takedown verb, consistent with the
    // ann_index / neardup_index sinks; purge at the next rebuild
    case "index" if mode == "delete" =>
      // options.receipts: the single-artifact delete leaves the same
      // evidence row the cascading takedown does
      ds.options.get("receipts").foreach(r => takedownReceipt(df,
        ds.options.getOrElse("id", "_id"), "index", ds.path, r))
      Sinks.deleteFromIndexed(df,
        idCol = ds.options.getOrElse("id", "_id"), path = ds.path)
      // auto-purge policy (declared on the dataset block): fold the
      // tombstone backlog physically once it crosses the threshold
      Sinks.maybeCompactIndexed(df.sparkSession, ds.path,
        afterDeletes = ds.options.get("purge_after_deletes").map(_.toLong),
        afterDeletesPct =
          ds.options.get("purge_after_deletes_pct").map(_.toDouble))
      ()
    // 'compact' purges tombstoned docs physically from docs/ AND
    // postings/ (file-scoped — untouched files are never rewritten);
    // the input frame is deliberately ignored, like ann_index compact
    case "index" if mode == "compact" =>
      val purged = Sinks.compactIndexed(df.sparkSession, ds.path)
      // options.receipts: the purge's evidence row — how many
      // tombstone-matched docs were physically removed this run
      ds.options.get("receipts").foreach(r => appendReceipt(
        df.sparkSession, r, "index", ds.path, state = "purged",
        rowsPurged = Some(purged)))
    case "index" => Sinks.indexed(df, ds.path,
      idCol = ds.options.get("id"),
      analyzedCol = ds.options.getOrElse("analyzed",
        sys.error(s"index sink needs options.analyzed (token-array column)")),
      mode = if (mode == "create") "overwrite" else mode)
    // persisted IVF ANN index: centroids + cell-partitioned corpus
    // (build-once / query-many similarity search). create/overwrite
    // (re)build whole; 'append' extends a COMPLETE index under its
    // existing geometry (Ann.appendIvfIndex) — any geometry option the
    // dataset block declares is cross-checked against the manifest and
    // a mismatch refuses loudly (a drifted nlist/quantize/pq knob
    // would otherwise silently mix two grids in one index).
    case "ann_index" if mode == "append" =>
      val spark = df.sparkSession
      val mf = graft.sim.Ann.IvfManifest(
        graft.sim.Ann.ivf(spark, ds.path).certified("ann_index append"))
      def drift(knob: String, declared: String, actual: String): Unit =
        if (declared != actual) sys.error(
          s"ann_index append: options.$knob declares '$declared' but " +
            s"the index at ${ds.path} was built with '$actual' — " +
            "drifted geometry; rebuild (mode overwrite) to change it")
      ds.options.get("nlist").foreach(v => drift("nlist", v, mf.nlist.toString))
      val declared = annLayout(ds, Some(mf.layout))
      if (declared != mf.layout)
        drift("quantize/pq_m/pq_ksub", describe(declared), describe(mf.layout))
      graft.sim.Ann.appendIvfIndex(df,
        cId = ds.options.getOrElse("id",
          sys.error("ann_index sink needs options.id (vector id column)")),
        cVec = ds.options.getOrElse("vec",
          sys.error("ann_index sink needs options.vec (embedding column)")),
        path = ds.path)
      // auto-compaction policy (declared on the dataset block): fold
      // the streamed backlog when it crosses the threshold — checked
      // at every append boundary, cheap directory listing otherwise
      graft.sim.Ann.maybeCompactIvfIndex(spark, ds.path,
        afterEpochs = ds.options.get("compact_after_epochs").map(_.toInt),
        afterRowsPct = ds.options.get("compact_after_rows_pct").map(_.toDouble))
      ()
    // 'compact' folds the streamed epoch partitions
    // (appendIvfIndexStream) into the main table — the index lifecycle's
    // maintenance step, runnable from the same YAML that owns the
    // build/append (Ann.compactIvfIndex: snapshot-scoped, watermarked,
    // cell-scoped, no-op without streamed rows/tombstones). The
    // recipe's input frame is deliberately ignored: compaction
    // rewrites what the index already holds.
    case "ann_index" if mode == "compact" =>
      val purged = graft.sim.Ann.compactIvfIndex(df.sparkSession, ds.path)
      ds.options.get("receipts").foreach(r => appendReceipt(
        df.sparkSession, r, "ann_index", ds.path, state = "purged",
        rowsPurged = Some(purged)))
    // 'delete' tombstones the input frame's ids (options.id names the
    // column) — the takedown verb: probes suppress them immediately,
    // the next compact purges them physically (Ann.deleteFromIvfIndex)
    case "ann_index" if mode == "delete" =>
      ds.options.get("receipts").foreach(r => takedownReceipt(df,
        ds.options.getOrElse("id",
          sys.error("ann_index sink needs options.id (vector id column)")),
        "ann_index", ds.path, r))
      graft.sim.Ann.deleteFromIvfIndex(df,
        idCol = ds.options.getOrElse("id",
          sys.error("ann_index sink needs options.id (vector id column)")),
        path = ds.path)
      // auto-purge policy: fold once the tombstone backlog crosses the
      // declared share of the certified total — the takedown twin of
      // the append boundary's compact_after_* checks
      graft.sim.Ann.maybeCompactIvfIndex(df.sparkSession, ds.path,
        afterDeletesPct =
          ds.options.get("purge_after_deletes_pct").map(_.toDouble))
      ()
    case "ann_index" if mode != "create" && mode != "overwrite" =>
      sys.error(s"ann_index sink only supports mode create/overwrite/" +
        s"append/compact/delete, got '$mode'")
    // options.quantize selects the cell layout (annLayout): false/absent
    // = float, true/sq8 = int8 scalar grids (FAISS-IVF-SQ8), pq =
    // product-quantized m-byte codes (FAISS-IVFPQ; options.pq_m/pq_ksub
    // set the code geometry), pqr = PQ over RESIDUALS (the true
    // FAISS-IVFPQ shape). The manifest records it; ann_topk probes read
    // it from there and never restate it.
    case "ann_index" =>
      graft.sim.Ann.writeIvfIndex(df,
        cId = ds.options.getOrElse("id",
          sys.error("ann_index sink needs options.id (vector id column)")),
        cVec = ds.options.getOrElse("vec",
          sys.error("ann_index sink needs options.vec (embedding column)")),
        path = ds.path, nlist = sinkIntOpt(ds, "nlist", 16),
        layout = annLayout(ds, None))
    // persisted near-dup band index (shingles + band tables, manifest
    // last) — the corpus side of incremental near-dup dedup, signed
    // once; same whole-or-nothing contract as ann_index
    // 'delete' tombstones the input frame's doc ids — probes stop
    // matching them immediately; the next rebuild purges physically
    case "neardup_index" if mode == "delete" =>
      ds.options.get("receipts").foreach(r => takedownReceipt(df,
        ds.options.getOrElse("id",
          sys.error("neardup_index sink needs options.id (doc id column)")),
        "neardup_index", ds.path, r))
      graft.dedup.Dedup.deleteFromNearDupIndex(df,
        idCol = ds.options.getOrElse("id",
          sys.error("neardup_index sink needs options.id (doc id column)")),
        path = ds.path)
      // auto-purge policy (declared on the dataset block): fold the
      // tombstone backlog physically once it crosses the threshold
      graft.dedup.Dedup.maybeCompactNearDupIndex(df.sparkSession, ds.path,
        afterDeletes = ds.options.get("purge_after_deletes").map(_.toLong),
        afterDeletesPct =
          ds.options.get("purge_after_deletes_pct").map(_.toDouble))
      ()
    // 'append' signs ONLY the batch under the manifest's STORED
    // signature parameters (Dedup.appendToNearDupIndex) — any
    // parameter the dataset block declares is cross-checked against
    // the manifest and a mismatch refuses loudly (the ann_index append
    // discipline: a drifted shingle_size/num_hashes/bands would
    // silently band-mismatch every probe against the appended rows)
    case "neardup_index" if mode == "append" =>
      val spark = df.sparkSession
      val (ss, nh, nb, _) = graft.dedup.Dedup.nearDupSignature(spark,
        ds.path, "neardup_index append")
      def drift(knob: String, declared: String, actual: String): Unit =
        if (declared != actual) sys.error(
          s"neardup_index append: options.$knob declares '$declared' " +
            s"but the index at ${ds.path} was built with '$actual' — " +
            "drifted signature; rebuild (mode overwrite) to change it")
      ds.options.get("shingle_size")
        .foreach(v => drift("shingle_size", v, ss.toString))
      ds.options.get("num_hashes")
        .foreach(v => drift("num_hashes", v, nh.toString))
      ds.options.get("bands").foreach(v => drift("bands", v, nb.toString))
      graft.dedup.Dedup.appendToNearDupIndex(df,
        idCol = ds.options.getOrElse("id",
          sys.error("neardup_index sink needs options.id (doc id column)")),
        textCol = ds.options.getOrElse("text",
          sys.error("neardup_index sink needs options.text (text column)")),
        path = ds.path)
    // 'compact' purges tombstoned docs physically from shingles/ AND
    // bands/ (file-scoped — untouched files are never rewritten); the
    // input frame is deliberately ignored, like ann_index compact
    case "neardup_index" if mode == "compact" =>
      val purged =
        graft.dedup.Dedup.compactNearDupIndex(df.sparkSession, ds.path)
      ds.options.get("receipts").foreach(r => appendReceipt(
        df.sparkSession, r, "neardup_index", ds.path, state = "purged",
        rowsPurged = Some(purged)))
    case "neardup_index" if mode != "create" && mode != "overwrite" =>
      sys.error(s"neardup_index sink only supports mode create/overwrite/" +
        s"append/compact/delete, got '$mode'")
    case "neardup_index" => graft.dedup.Dedup.writeNearDupIndex(df,
      idCol = ds.options.getOrElse("id",
        sys.error("neardup_index sink needs options.id (doc id column)")),
      textCol = ds.options.getOrElse("text",
        sys.error("neardup_index sink needs options.text (text column)")),
      path = ds.path,
      shingleSize = sinkIntOpt(ds, "shingle_size", 3),
      numHashes = sinkIntOpt(ds, "num_hashes", 64),
      bands = sinkIntOpt(ds, "bands", 16))
    // strip `query` too: it is a READ option, and the JDBC writer
    // rejects dbtable+query together — a sql dataset declared with a
    // read query must still be usable as an output table
    case "sql" => Sinks.jdbc(df,
      url = ds.options.getOrElse("url", sys.error("sql dataset needs options.url")),
      table = ds.path, mode = mode,
      props = ds.options -- Seq("url", "query"))
    // CASCADING takedown — ONE verb tombstoning an id frame across
    // every persisted artifact a pipeline derives from its corpus:
    // the document store (options.index), the near-dup band index
    // (options.neardup_index), and the ANN index (options.ann_index) —
    // any subset, each keyed by its own id column (a doc id and a
    // vector id are different key spaces; options.id is the shared
    // default). Each constituent delete is the artifact's own
    // idempotent O(ids) tombstone verb, so a partial crash re-runs
    // safely; the respective compact/rebuild steps purge physically.
    // `path` is unused (a fan-out verb has no single table) and mode
    // is forced: a takedown IS a delete.
    case "takedown" =>
      require(mode == "delete" || mode == "create",
        s"takedown sink is the delete verb itself — run it with mode " +
          s"delete (or the runner default), got '$mode'")
      val targets = Seq("index", "neardup_index", "ann_index")
        .flatMap(k => ds.options.get(k).map(k -> _))
      require(targets.nonEmpty,
        "takedown sink needs at least one target artifact path " +
          "(options.index / options.neardup_index / options.ann_index)")
      def idFor(target: String, fallback: String): String =
        ds.options.getOrElse(s"${target}_id",
          ds.options.getOrElse("id", fallback))
      // options.receipts: append one evidence row per target — what
      // was submitted, what it actually hit, and that the rows are now
      // SUPPRESSED (tombstoned, probe-invisible; the compact modes'
      // receipts record the later physical purge). The matched count
      // is computed BEFORE the tombstone write so a replayed takedown
      // documents what it found, not what it already removed.
      val receipts = ds.options.get("receipts")
      targets.foreach {
        case ("index", p) =>
          receipts.foreach(r =>
            takedownReceipt(df, idFor("index", "_id"), "index", p, r))
          Sinks.deleteFromIndexed(df, idFor("index", "_id"), p)
        case ("neardup_index", p) =>
          receipts.foreach(r => takedownReceipt(df,
            idFor("neardup_index", "_id"), "neardup_index", p, r))
          graft.dedup.Dedup.deleteFromNearDupIndex(
            df, idFor("neardup_index", "_id"), p)
        case ("ann_index", p) =>
          receipts.foreach(r => takedownReceipt(df,
            idFor("ann_index", "_id"), "ann_index", p, r))
          graft.sim.Ann.deleteFromIvfIndex(df, idFor("ann_index", "_id"), p)
        case _ => ()
      }
    case other => sys.error(s"unsupported sink format: $other")
  }

  /** Append one compliance-receipt row (r14 verdict #5 — the takedown
    * was silent; a takedown that leaves no evidence is unauditable).
    * One tiny parquet append per (run, target): timestamp, target
    * artifact kind + path, what was submitted/matched (the takedown's
    * `suppressed` rows) or how many rows a purge physically removed
    * (the compact modes' `purged` rows). The receipts table is a
    * plain parquet dataset — declare it in the same YAML and it reads
    * over the API sample route like any other dataset. */
  private def appendReceipt(spark: SparkSession, receipts: String,
      target: String, path: String, state: String,
      idsSubmitted: Option[Long] = None, idsMatched: Option[Long] = None,
      rowsPurged: Option[Long] = None): Unit = {
    import spark.implicits._
    Seq((System.currentTimeMillis(), target, path, state,
        idsSubmitted, idsMatched, rowsPurged))
      .toDF("ts_ms", "target", "path", "state",
        "ids_submitted", "ids_matched", "rows_purged")
      .coalesce(1).write.mode("append").parquet(receipts)
  }

  /** The takedown receipt's evidence pair for one target artifact:
    * (distinct non-null ids submitted, how many of them the artifact
    * actually holds right now). Membership is the artifact's RAW
    * main-∪-stream id column — deliberately pre-suppression (the
    * receipt answers "did this takedown hit anything", which existing
    * tombstones must not mask) and column-pruned (a single id column,
    * no payload bytes; takedowns are bounded compliance ops, not a
    * hot path). */
  private def takedownReceipt(df: DataFrame, idCol: String,
      target: String, path: String, receipts: String): Unit = {
    val spark = df.sparkSession
    val member: DataFrame = target match {
      case "index" =>
        // raw membership (no tombstone mask) but dead-file-excluded:
        // a purge's replaced files must not count as membership
        graft.sources.Sources.indexedTable(spark, path, "docs",
            suppressDeletes = false)
          .select(col("_id").as("__m"))
      case "neardup_index" =>
        graft.dedup.Dedup.openNearDupTable(spark, path, "bands")
          .select(col("__cid").as("__m"))
      case _ => // ann_index
        graft.sim.Ann.openAssignedRaw(spark, path)
          .select(col("neighbor_id").as("__m"))
    }
    val ids = df.select(col(idCol)
        .cast(member.schema("__m").dataType).as("__m"))
      .filter(col("__m").isNotNull).distinct()
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      val submitted = ids.count()
      val matched = ids.join(member, Seq("__m"), "left_semi").count()
      appendReceipt(spark, receipts, target, path, state = "suppressed",
        idsSubmitted = Some(submitted), idsMatched = Some(matched))
    } finally { ids.unpersist(); () }
  }

  /** The IVF cell layout an ann_index dataset block declares; a knob it
    * leaves out reads as the `built` index's, or as the build default. */
  private def annLayout(ds: DatasetConf, built: Option[graft.sim.Ann.IvfLayout])
      : graft.sim.Ann.IvfLayout =
    graft.sim.Ann.IvfLayout.parse(
      ds.options.getOrElse("quantize", built.fold("false")(_.option)),
      sinkIntOpt(ds, "pq_m", built.fold(8)(_.m)),
      sinkIntOpt(ds, "pq_ksub", built.fold(256)(_.ksub)))

  /** A layout in the ann_index options that declare it. */
  private def describe(l: graft.sim.Ann.IvfLayout): String =
    if (l.m == 0) s"quantize: ${l.option}"
    else s"quantize: ${l.option}, pq_m: ${l.m}, pq_ksub: ${l.ksub}"

  private def sinkIntOpt(ds: DatasetConf, key: String, dflt: Int): Int = {
    val s = ds.options.getOrElse(key, dflt.toString)
    s.toIntOption.getOrElse(sys.error(
      s"${ds.format} sink: options.$key must be an integer, got '$s'"))
  }

  // ------------------------------------------------------------- compile
  private def strSeq(a: Any): Seq[String] = a match {
    case l: java.util.List[_] => l.asScala.toSeq.map(_.toString)
    case null => Nil
    case s => Seq(s.toString)
  }
  /** YAML mappings arrive as LinkedHashMap; an unordered scala Map would
    * scramble entries past 4 keys, while the reference processes dict
    * entries in INSERTION order — order matters for eval chains where a
    * later expression reads a column a previous entry just wrote, and for
    * ordered replace rules. ListMap preserves it. */
  private[conf] def orderedMap(m: java.util.Map[_, _]): Map[String, Any] =
    m.asScala.foldLeft(scala.collection.immutable.ListMap.empty[String, Any]) {
      case (acc, (k, v)) => acc + (k.toString -> v)
    }

  private def anyMap(a: Any): Map[String, Any] = a match {
    case m: java.util.Map[_, _] => orderedMap(m)
    case null => Map.empty
    case other => sys.error(s"expected mapping args, got $other")
  }
  private def strMap(a: Any): Map[String, String] =
    anyMap(a).map { case (k, v) => k -> v.toString }

  /** Python strptime codes (the reference's parsedate format,
    * date.yml:24) → Spark datetime pattern letters. Formats without '%'
    * pass through as Spark patterns. */
  private[conf] def pyDateFormat(f: String): String =
    if (!f.contains('%')) f
    else f.replace("%Y", "yyyy").replace("%y", "yy").replace("%m", "MM")
      .replace("%d", "dd").replace("%H", "HH").replace("%M", "mm")
      .replace("%S", "ss")

  /** Loud-failure YAML knob reader shared by every step compiler: a
    * missing required knob, a knob written but left blank (`k:` with no
    * value arrives as an explicit null), and an unparseable value all
    * fail naming the step and the knob — never an anonymous
    * NumberFormatException / NPE from inside the compile. */
  private[conf] final class Knobs(op: String, m: Map[String, Any]) {
    def req(key: String): String = m.get(key) match {
      case Some(v) if v != null => v.toString
      case _ => sys.error(s"$op: '$key' required")
    }
    def reqList(key: String): Seq[String] = m.get(key) match {
      case Some(v) if v != null && strSeq(v).nonEmpty => strSeq(v)
      case _ => sys.error(s"$op: '$key' (non-empty list) required")
    }
    def reqInt(key: String): Int = {
      val s = req(key)
      s.toIntOption.getOrElse(sys.error(s"$op: '$key' must be an integer, got '$s'"))
    }
    def knob(key: String, default: String): String = m.get(key) match {
      case Some(v) if v != null => v.toString
      case Some(_) => sys.error(s"$op: '$key' is blank — give it a value or drop it")
      case None => default
    }
    /** Optional knob with NO default: absent → None, blank → named error. */
    def knobOpt(key: String): Option[String] = m.get(key) match {
      case Some(v) if v != null => Some(v.toString)
      case Some(_) => sys.error(s"$op: '$key' is blank — give it a value or drop it")
      case None => None
    }
    def knobInt(key: String, default: Int): Int = {
      val s = knob(key, default.toString)
      s.toIntOption.getOrElse(sys.error(s"$op: '$key' must be an integer, got '$s'"))
    }
    def knobLong(key: String, default: Long): Long = {
      val s = knob(key, default.toString)
      s.toLongOption.getOrElse(sys.error(s"$op: '$key' must be an integer, got '$s'"))
    }
    def knobDouble(key: String, default: Double): Double = {
      val s = knob(key, default.toString)
      s.toDoubleOption.getOrElse(sys.error(s"$op: '$key' must be a number, got '$s'"))
    }
    def knobBool(key: String, default: Boolean): Boolean = {
      val s = knob(key, default.toString)
      s.toBooleanOption.getOrElse(sys.error(s"$op: '$key' must be true/false, got '$s'"))
    }
    /** Numeric VALUE inside a user mapping (split weights, sample
      * rates): blank / unparseable names the entry. */
    def numVal(step: String, what: String, key: String, v: Any): Double = {
      if (v == null) sys.error(s"$step: $what for '$key' is blank")
      v.toString.toDoubleOption.getOrElse(
        sys.error(s"$step: $what for '$key' must be a number, got '$v'"))
    }
  }

  /** One YAML step → Step function. Step names mirror the reference's
    * internal_* operator set (recipes.py:1622-2486). */
  def compileStep(spark: SparkSession, conf: ProjectConf, op: String, args: Any,
      visiting: Set[String] = Set.empty): Step = {
    // args may be a mapping ({select: [...], where: ...}) or a bare list
    // ([col1, col2]) — the reference accepts both shapes
    lazy val m: Map[String, Any] = args match {
      case _: java.util.Map[_, _] => anyMap(args)
      case _ => Map.empty
    }
    def sel(default: Any = args): Seq[String] =
      if (m.nonEmpty) strSeq(m.getOrElse("select", null)) else strSeq(default)
    // loud-failure YAML lookups (the shared Knobs reader): a missing or
    // unknown knob names the step and the knob; written-but-blank
    // (`k:` with no value → Some(null)) and unparseable values fail the
    // same way — never an anonymous NumberFormatException / NPE
    val kn = new Knobs(op, m)
    import kn.{req, reqList, reqInt, knob, knobOpt, knobInt, knobLong,
      knobDouble, knobBool, numVal}
    def namedDataset(key: String = "dataset"): DataFrame = {
      val name = req(key)
      read(spark, conf.datasets.getOrElse(name, sys.error(
        s"$op: unknown dataset '$name' (known: ${conf.datasets.keys.toSeq.sorted.mkString(", ")})")))
    }
    op match {
      // map value may be a column name (copy), a list of column names
      // (→ array column, recipes.py:1709-1712), or a literal fallback
      case "map" => df => anyMap(args).foldLeft(df) { case (d, (dst, v)) =>
        v match {
          case l: java.util.List[_] =>
            Ops.mapArray(d, dst, l.asScala.toSeq.map(_.toString))
          case s =>
            if (d.columns.contains(s.toString)) d.withColumn(dst, col(s.toString))
            else d.withColumn(dst, lit(s.toString))
        }
      }
      case "rename" => df => Ops.rename(df, strMap(args))
      case "keep" => df => Ops.keep(df, sel(),
        m.get("where").map(_.toString))
      case "delete" => df => Ops.delete(df, sel())
      case "fillna" => df => Ops.fillna(df, anyMap(args))
      // replacements in reference YAML are Python syntax (\1 group refs);
      // an unexpected regex shape is an ERROR, not a silent no-op
      case "replace" => df => Ops.replace(df, sel(),
        (m.getOrElse("regex", null) match {
          case l: java.util.List[_] => l.asScala.toSeq.map { r =>
            val (pat, rep) = strMap(r).head
            pat -> graft.functions.PyExpr.pyReplacement(rep)
          }
          case null => sys.error("replace: regex (list of {pattern: replacement}) required")
          case other => sys.error(s"replace: regex must be a LIST of single-entry maps, got $other")
        }))
      case "normalize" => df => Ops.normalize(df, sel())
      case "to_integer" => df => Ops.toInteger(df, sel())
      case "to_float" => df => Ops.toFloat(df, sel(),
        m.get("na_value").map(_.toString.toDouble))
      case "parsedate" => df => Ops.parsedate(df, sel(),
        pyDateFormat(m.getOrElse("format", "yyyy-MM-dd").toString))
      case "ngram" => df => Ops.ngram(df, sel(),
        strSeq(m.getOrElse("n", null)).map(_.toInt) match { case Nil => Seq(2, 3); case ns => ns })
      case "nest" => df => Ops.nest(df, sel(),
        m.getOrElse("target", "nested").toString)
      case "unnest" => df => {
        val c = strSeq(m.getOrElse("select", sys.error("unnest: select required"))) match {
          case Seq(one) => one
          case many => sys.error(s"unnest: exactly one column, got $many")
        }
        Ops.unnest(df, c, Ops.inferJsonSchema(df, c), m.getOrElse("prefix", "").toString)
      }
      // several columns unfold sequentially (the reference loops its
      // select list, recipes.py:2411-2446)
      case "unfold" => df =>
        reqList("select").foldLeft(df)((d, c) =>
          Ops.unfold(d, c, m.getOrElse("fill_na", "").toString))
      case "shuffle" => df => Ops.shuffleCols(df, sel())
      // scan-level file provenance: provenance: {col: src_file}
      case "provenance" => df =>
        Ops.withProvenance(df, knob("col", "src_file"))
      // corpus snapshot diff vs a named OLD-version dataset — one row
      // per id: added/removed/changed/unchanged on the compare columns:
      //   diff: {dataset: old_version, id: col, compare: [col, ...]}
      case "diff" => df => Ops.snapshotDiff(
        namedDataset(), df, req("id"), reqList("compare"))
      // heavy-hitter profile of a key column (the salting/skew dial):
      //   skew: {key: col[, n: 20]}
      case "skew" => df =>
        Ops.skewStats(df, req("key"), knobInt("n", 20))
      // cross-source duplicate-overlap matrices (which corpus contains
      // which), three duplication lenses under one step:
      //   overlap: {source: col, text: col[, key: fingerprint]}
      //     → exact/fingerprint content keys (Dedup.sourceOverlap)
      //   overlap: {mode: neardup, id, source, text[, threshold: 0.6]}
      //     → verified word-shingle Jaccard near-dups
      //       (Dedup.crossSourceNearDupOverlap — exact-copy collapse)
      //   overlap: {mode: containment, id, source, text
      //             [, threshold_bp: 9000][, n: 3][, max_doc_freq: k]}
      //     → min-side n-gram containment, the quoted-subset audit
      //       Jaccard misses (Dedup.crossSourceContainmentOverlap)
      case "overlap" => df =>
        knob("mode", "keys") match {
          case "keys" =>
            graft.dedup.Dedup.sourceOverlap(df, req("source"), req("text"),
              method = knob("key", "exact"))
          case "neardup" =>
            graft.dedup.Dedup.crossSourceNearDupOverlap(df, req("id"),
              req("text"), req("source"),
              threshold = knobDouble("threshold", 0.6))
          case "containment" =>
            graft.dedup.Dedup.crossSourceContainmentOverlap(df, req("id"),
              req("text"), req("source"), n = knobInt("n", 3),
              thresholdBp = knobInt("threshold_bp", 9000).toLong,
              // knobOpt keeps the Knobs contract: blank / unparseable
              // names the step+knob, never an anonymous NPE/NFE
              maxDocFreq = knobOpt("max_doc_freq").map(s =>
                s.toIntOption.getOrElse(sys.error(
                  s"$op: 'max_doc_freq' must be an integer, got '$s'"))))
          case other => sys.error(
            s"overlap: unknown mode '$other' (keys | neardup | containment)")
        }
      // tokenizer-vocabulary coverage audit — per-doc OOV accounting
      // against a vocab dataset (the vocab/bpe artifact):
      //   oov: {id, text, dataset: vocab[, token: symbol]}
      case "oov" => df =>
        graft.text.Curation.vocabCoverage(df, req("id"), req("text"),
          namedDataset(), symCol = knob("token", "token"))
      // fastText-style linear classifier (batch perceptron, integer
      // weights). Two shapes, disambiguated by which key is present:
      //   classify: {id, text, label: ycol[, buckets, epochs, binary,
      //              multi]}
      //     → the weight-table artifact (persist it): (feat, w) for
      //       binary ±1 labels, or with multi: true one one-vs-one
      //       perceptron per class pair — (label_a, label_b, feat, w)
      //       over an arbitrary string label column;
      //   classify: {id, text, dataset: weights, buckets, binary
      //              [, multi]}
      //     → df + (margin, pred) / (pred_label, n_votes).
      //       buckets/binary are PART OF the model, and the weight
      //       artifact carries no metadata to detect a mismatch — so
      //       SCORE mode requires both EXPLICITLY (defaulting them
      //       would silently hash into a different feature space and
      //       mis-score every row).
      case "classify" => df => {
        val hasLabel = m.contains("label")
        val hasWeights = m.contains("dataset")
        require(hasLabel != hasWeights,
          "classify: exactly one of label (fit) or dataset (score) required")
        val multi = knobBool("multi", false)
        if (hasLabel) {
          if (multi)
            graft.ml.LinearClassifier.trainTextClassifierMulti(df, req("id"),
              req("text"), req("label"), knobInt("buckets", 4096),
              epochs = knobInt("epochs", 3),
              binary = knobBool("binary", false))
          else graft.ml.LinearClassifier.trainTextClassifier(df, req("id"),
            req("text"), req("label"), knobInt("buckets", 4096),
            epochs = knobInt("epochs", 3),
            binary = knobBool("binary", false))
        } else {
          if (!m.contains("buckets") || !m.contains("binary"))
            sys.error("classify (score): buckets and binary must be given " +
              "explicitly and match the training call — they define the " +
              "model's feature space, and the weight table cannot " +
              "detect a mismatch")
          if (multi)
            graft.ml.LinearClassifier.scoreTextClassifierMulti(df, req("id"),
              req("text"), namedDataset(), knobInt("buckets", 4096),
              binary = knobBool("binary", false))
          else graft.ml.LinearClassifier.scoreTextClassifier(df, req("id"),
            req("text"), namedDataset(), knobInt("buckets", 4096),
            binary = knobBool("binary", false))
        }
      }
      // rebalance an under-parallelized input (single-small-file scan)
      // before heavy row-local work; NO-OP on any already-parallel
      // scan: rebalance: {partitions: n} (default = session cores)
      case "rebalance" => df =>
        Ops.rebalance(df, knobInt("partitions", 0))
      case "pause" => identity
      case "list_to_tuple" | "tuple_to_list" => identity // pandas artifacts — no-ops here
      // Two arg shapes, two expression languages:
      //   - LIST of single-entry maps (the reference's own YAML shape,
      //     name.yml:4-27) → expressions are PYTHON, compiled by the
      //     PyExpr translator (SURVEY §7.3) against the LIVE schema so
      //     each entry sees columns written by the previous one;
      //   - MAP (this engine's native shape) → Spark SQL expression
      //     strings, with optional `onError: string` switching to the
      //     reference's per-row policy: a failing expression writes
      //     "Ooops: <msg>" into the cell and the job continues
      //     (recipes.py:1644-1695).
      case "eval" => df => args match {
        case l: java.util.List[_] =>
          l.asScala.toSeq.foldLeft(df) { (d, entry) =>
            val em = strMap(entry)
            // a one-level YAML indentation slip merges two entries into
            // one multi-key map — taking head would silently DROP the
            // rest, so require exactly one key (step-parser convention)
            require(em.size == 1,
              s"eval: each list entry must be exactly one {column: expression} " +
                s"map; got ${em.size} keys: ${em.keys.mkString(", ")}")
            val (dst, e) = em.head
            d.withColumn(dst, graft.functions.PyExpr.compile(e, d.schema))
          }
        case _ =>
          val m0 = anyMap(args)
          // a typo'd onError must not silently fall back to raise mode —
          // the user believes failing rows get "Ooops:" cells
          val errToCell = m0.get("onError") match {
            case None => false
            case Some(v) => String.valueOf(v) match {
              case "string" => true
              case "raise"  => false
              case other => sys.error(
                s"eval: unknown onError '$other' (valid: string | raise)")
            }
          }
          (m0 - "onError").foldLeft(df) { case (d, (dst, e)) =>
            val c = expr(e.toString)
            d.withColumn(dst,
              if (errToCell) graft.functions.NativeExpressions.evalOrErrorString(c)
              else c)
          }
      }
      case "groupby" => df => {
        val keys = strSeq(m.getOrElse("select", null))
        val aggs = strMap(m.getOrElse("agg", null)).toSeq
        val transforms = strMap(m.getOrElse("transform", null)).toSeq
        val ranks = strSeq(m.getOrElse("rank", null))
        var out = df
        if (transforms.nonEmpty) out = GroupByOp.transformAgg(out, keys, transforms)
        if (ranks.nonEmpty) out = GroupByOp.rank(out, keys, ranks)
        if (aggs.nonEmpty) out = GroupByOp.agg(out, keys, aggs)
        out
      }
      case "join" => df => {
        val right = namedDataset()
        if (m.contains("query") || m.get("type").exists(_.toString == "elasticsearch"))
          esTemplateJoin(df, right, m)
        else {
          // reference select maps OUTPUT name → right column
          // (location.yml:44-45); Joins takes right column → output
          val select0 = strMap(m.getOrElse("select", null))
          val select = select0.map(_.swap)
          require(select.size == select0.size,
            "join select: two output names read the same right column — " +
              s"alias it twice on the right first (${select0.keys.mkString(", ")})")
          val strict = strMap(m.getOrElse("strict", null))
          val fuzzy = strMap(m.getOrElse("fuzzy", null))
          if (fuzzy.nonEmpty)
            Joins.fuzzyJoin(df, right, fuzzy, strict, select,
              maxDist = knobInt("fuzzy_distance", 1))
          else Joins.strictJoin(df, right, strict, select)
        }
      }
      case "asof_join" => df => {
        val right = namedDataset()
        Joins.asofJoin(df, right,
          key = req("key"), ts = req("ts"),
          rightCols = reqList("select"),
          how = m.getOrElse("how", "left").toString,
          tieBreak = m.get("tie_break").map(_.toString))
      }
      case "range_join" => df => {
        val right = namedDataset()
        Joins.pointInIntervalJoin(df, right,
          key = req("key"), ts = req("ts"),
          start = req("start"), end = req("end"),
          binWidth = req("bin_width").toLong)
      }
      case "match" => df => {
        val right = namedDataset()
        MatchJoin.topK(df, right,
          req("left_tokens"), req("right_tokens"),
          req("left_id"), req("right_id"),
          k = knobInt("size", 10),
          keepUnmatched = knobBool("keep_unmatched", false),
          fuzzy = knobInt("fuzziness", 0) > 0,
          // the hot-token skew guard — measured essential at scale
          // (SCALE.md "maxDocFreq at scale"); same knob name as the
          // match_query step so recipes can move between them
          maxDocFreq = knobLong("max_doc_freq", 0L),
          // idf (reference contract) or bm25 (ES-shaped tf saturation +
          // length norm, ES-default k1/b)
          scoring = knob("scoring", "idf"),
          k1 = knobDouble("k1", 1.2),
          b = knobDouble("b", 0.75))
      }
      case "clique" => df => {
        val srcDst = reqList("select")
        require(srcDst.size == 2,
          s"clique: select needs exactly [src, dst], got ${srcDst.mkString("[", ", ", "]")}")
        val Seq(src, dst) = srcDst
        ConnectedComponents.clique(df, src, dst,
          compute = strSeq(m.getOrElse("compute", null)))
      }
      // ---- training-data dedup family as recipe steps (beyond the
      // reference — the LLM-pipeline operators, COVERAGE.md)
      //   dedup:    {id: col, text: col, method: exact|fingerprint|minhash}
      //             → drop duplicates, keep min id per group/cluster
      //   near_dups: {id: col, text|vec: col, method: minhash|simhash|
      //             ngram|embedding, ...} → candidate pair table
      case "dedup" => df => {
        val id = req("id")
        // one prefilter contract for the whole incremental family —
        // parsed once so the two methods cannot silently diverge
        def prefilterFpp(): Option[Double] = knob("prefilter", "none") match {
          case "none" => None
          case "bloom" => Some(knobDouble("fpp", 0.01))
          case other => sys.error(
            s"dedup: unknown prefilter '$other' (none | bloom)")
        }
        // keep: weight = SOFT dedup — nothing dropped, every row gets
        // (dup_count, weight_bp = 10⁴ div dup_count):
        //   dedup: {method: exact|fingerprint, keep: weight}
        if (knob("keep", "first") == "weight") {
          val m = knob("method", "exact")
          if (!Set("exact", "fingerprint").contains(m))
            sys.error(s"dedup: keep: weight requires method " +
              s"exact | fingerprint, got '$m'")
          graft.dedup.Dedup.duplicationWeights(df, id, req("text"), m)
        } else {
        // keep: best flips the survivor rule from min-id to
        // max-`score` (ties → min id) for the exact-key methods:
        //   dedup: {method: exact|fingerprint, keep: best, score: col}
        val keepBest = knob("keep", "first") match {
          case "first" => false
          case "best"  => true
          case other => sys.error(s"dedup: unknown keep '$other' (first | best | weight)")
        }
        // keep: best exists for the keyed and clustered families; a
        // silent ignore on the rewrite methods (lines/substring) would
        // drop the user's survivor policy on the floor
        if (keepBest && !Set("exact", "fingerprint", "minhash", "embedding")
            .contains(knob("method", "exact")))
          sys.error(s"dedup: keep: best is not supported for method " +
            s"'${knob("method", "exact")}' (exact | fingerprint | minhash | embedding)")
        def bestOr(method: String, fallback: => DataFrame): DataFrame =
          if (keepBest) graft.dedup.Dedup.dedupKeepBest(df, id, req("text"),
            scoreCol = req("score"), method = method)
          else fallback
        knob("method", "exact") match {
          case "exact" => bestOr("exact",
            graft.dedup.Dedup.exactDedup(df, id, req("text")))
          case "fingerprint" => bestOr("fingerprint",
            graft.dedup.Dedup.fingerprintDedup(df, id, req("text")))
          case "minhash" => graft.dedup.Dedup.minhashDedup(df, id, req("text"),
            threshold = knobDouble("threshold", 0.6),
            keepScore = if (keepBest) Some(req("score")) else None)
          // C4-style boilerplate line removal (docs rewritten in place)
          case "lines" => graft.text.TextAnalysis.dedupLines(df, id, req("text"),
            maxDocFreq = knobLong("max_doc_freq", 1L))
          // ExactSubstr span removal (Lee et al. 2021): every duplicated
          // token span of length >= n is cut from every doc
          case "substring" => graft.text.TextAnalysis.exactSubstrDedup(df, id,
            req("text"), n = knobInt("n", 10))
          // SemDeDup-shaped semantic dedup — keys on `vec`, not `text`
          case "embedding" => graft.dedup.Dedup.embeddingDedup(df, id,
            req("vec"),
            threshold = knobDouble("threshold", 0.95),
            bits = knobInt("bits", 8),
            tables = knobInt("tables", 3),
            keepScore = if (keepBest) Some(req("score")) else None)
          // canonical-URL dedup — keys on `url`, not `text`
          case "url" => graft.text.UrlTools.urlDedup(df, id, req("url"))
          // incremental: dedup THIS batch against a named corpus dataset
          // (plus within itself); key: exact | fingerprint; optional
          // bloom prefilter over the batch keys (output identical):
          //   dedup: {method: incremental, id, text, dataset: corpus
          //           [, key: fingerprint, prefilter: bloom, fpp: 0.01]}
          case "incremental" => graft.dedup.Dedup.incrementalDedup(
            df, namedDataset(), id, req("text"),
            method = knob("key", "exact"),
            bloomFpp = prefilterFpp())
          // incremental_near: NEAR-dup (shingle-Jaccard) batch-vs-corpus
          // dedup — drop batch rows with a verified corpus near-dup,
          // then minhash-dedup within the survivors; same prefilter
          // contract as incremental (bloom over the batch's LSH band
          // buckets, output identical):
          //   dedup: {method: incremental_near, id, text, dataset: corpus
          //           [, threshold: 0.6, prefilter: bloom, fpp: 0.01]}
          //   dedup: {method: incremental_near, id, text, index: idx_ds}
          //     → probe a persisted neardup_index dataset instead of
          //       re-signing the corpus (the 100-TB regime, SCALE.md)
          case "incremental_near" =>
            val nearBloom = prefilterFpp()
            m.get("index") match {
              case Some(ix) if ix != null =>
                val name = ix.toString
                val ds = conf.datasets.getOrElse(name, sys.error(
                  s"dedup: unknown index dataset '$name' " +
                    s"(known: ${conf.datasets.keys.toSeq.sorted.mkString(", ")})"))
                require(ds.format == "neardup_index",
                  s"dedup: dataset '$name' has format '${ds.format}' — " +
                    "'index' must name a neardup_index dataset")
                graft.dedup.Dedup.incrementalNearDedupIndexed(
                  df, ds.path, id, req("text"),
                  threshold = knobDouble("threshold", 0.6),
                  bloomFpp = nearBloom)
              case Some(_) => sys.error("dedup: 'index' is blank — name a " +
                "neardup_index dataset or use dataset: for direct scoring")
              case None => graft.dedup.Dedup.incrementalNearDedup(
                df, namedDataset(), id, req("text"),
                threshold = knobDouble("threshold", 0.6),
                bloomFpp = nearBloom)
            }
          case other => sys.error(s"dedup: unknown method '$other' " +
            "(exact | fingerprint | minhash | lines | substring | embedding " +
            "| url | incremental | incremental_near)")
        }
        }
      }
      //   pack: {id: col, text: col, budget: N, shard: col} →
      //   concat-and-chunk sequence packing (doc → shard-local seq_id)
      case "pack" => df =>
        graft.text.Curation.packSequences(df, req("id"), req("text"),
          budget = knobInt("budget", 2048), shardCol = req("shard"))
      // exact top-fraction quality selection (keep the best X% by a
      // score column), globally or per group:
      //   select_top: {id: col, score: col, frac: 0.25[, by: lang]}
      case "select_top" => df => knobOpt("by") match {
        case Some(key) => graft.text.Curation.selectTopFractionByKey(
          df, key, req("id"), req("score"), frac = knobDouble("frac", 0.1))
        case None => graft.text.Curation.selectTopFraction(
          df, req("id"), req("score"), frac = knobDouble("frac", 0.1))
      }
      // CCNet-style rank-quantile bucketing (head/middle/tail): every
      // scored row gets `bucket` (+ optional `bucket_label`); exactly
      // n·frac_j rows at or below each cut, NULL scores → NULL bucket:
      //   score_buckets: {id, score, fracs: [0.3333, 0.6667]
      //                   [, labels: [head, middle, tail]]}
      case "score_buckets" => df =>
        graft.text.Curation.rankBuckets(df, req("id"), req("score"),
          reqList("fracs").map(_.toDouble),
          strSeq(m.getOrElse("labels", null)))
      // unicode-script character mix + main_script routing signal:
      //   script_mix: {text: col}
      case "script_mix" => df =>
        graft.text.TextAnalysis.withScriptMix(df, req("text"))
      // chat-format curation: parse a JSON turn-list column and add
      // shape/volume stats + the flattened training text:
      //   conversation: {json: col}
      case "conversation" => df =>
        graft.text.Conversations.withConversationStats(df, req("json"))
      // per-column dataset profile (row/null/distinct counts, numeric
      // min-max); distincts are approx (HLL) unless exact: true:
      //   profile: {exact: true|false}
      case "profile" => df =>
        graft.sources.Profile.profile(df, exact = knob("exact", "false").toBoolean)
      // token-budget shard layout for export (+ partitionBy(shard_id)
      // on the sink): shard: {id, text, budget: N[, buckets, salt]}
      case "shard" => df =>
        graft.text.Curation.assignShards(df, req("id"), req("text"),
          budget = knobLong("budget", 1000000L),
          buckets = knobInt("buckets", 64),
          salt = knob("salt", ""))
      case "near_dups" => df => {
        val id = req("id")
        knob("method", "minhash") match {
          case "minhash" => graft.dedup.Dedup.minhashNearDups(df, id,
            req("text"),
            threshold = knobDouble("threshold", 0.6))
          case "simhash" => graft.dedup.Dedup.simhashNearDups(df, id,
            req("text"),
            maxHamming = knobInt("max_hamming", 3),
            bands = knobInt("bands", 4),
            algo = knob("algo", "murmur3"))
          case "ngram" => graft.dedup.Dedup.ngramJaccardPairs(df, id,
            req("text"), req("block"),
            threshold = knobDouble("threshold", 0.5))
          case "embedding" if m.contains("block") =>
            graft.sim.Ann.cosineNearDups(df, id, req("vec"),
              req("block"),
              threshold = knobDouble("threshold", 0.9))
          case "embedding" =>
            graft.sim.Ann.cosineNearDupsLSH(df, id, req("vec"),
              threshold = knobDouble("threshold", 0.9),
              bits = knobInt("bits", 8),
              tables = knobInt("tables", 3))
          // winnowing-fingerprint overlap pairs (Schleimer et al. 2003)
          // — same pair-table contract as the other near_dups methods
          case "winnow" => graft.text.TextAnalysis.winnowNearDups(df, id,
            req("text"),
            k = knobInt("k", 5),
            w = knobInt("window", 4),
            threshold = knobDouble("threshold", 0.5),
            maxDocFreq = knobLong("max_doc_freq", 0L))
          case other => sys.error(s"near_dups: unknown method '$other' " +
            "(minhash | simhash | ngram | embedding | winnow)")
        }
      }
      // benchmark decontamination against a named dataset:
      //   decontaminate: {dataset: heldout, id: col, text: col, n: 13,
      //                   mode: drop|flag, test_text: col}
      // `test_text` names the benchmark set's text column when it differs
      // from the train side's; the test set needs no id column at all.
      case "decontaminate" => df => {
        val test = namedDataset()
        val id = req("id"); val text = req("text")
        val n = knobInt("n", 13)
        val testText = knobOpt("test_text")
        // prefilter: bloom broadcasts a Bloom filter of the test grams
        // so clean corpus grams never shuffle — same output, 100-TB plan
        val fpp = knob("prefilter", "none") match {
          case "none" => None
          case "bloom" => Some(knobDouble("fpp", 0.01))
          case other =>
            sys.error(s"decontaminate: unknown prefilter '$other' (none | bloom)")
        }
        knob("mode", "drop") match {
          case "drop" => graft.text.TextAnalysis.decontaminate(df, test, id, text, n, testText, fpp)
          case "flag" => graft.text.TextAnalysis.contaminationFlags(df, test, id, text, n, testText, fpp)
          // report: the audit table keyed by TEST doc (one row per
          // benchmark item: contaminating-doc / leaked-gram counts);
          // `test_id` names the benchmark set's id column when it
          // differs from the train side's
          case "report" => graft.text.TextAnalysis.contaminationReport(
            df, test, id, text, n, knobOpt("test_id"), testText, fpp)
          case other => sys.error(s"decontaminate: unknown mode '$other' (drop | flag | report)")
        }
      }
      // embedding-space decontamination: flag/drop rows whose vector has
      // cosine >= threshold with any benchmark vector (catches
      // paraphrased leakage the n-gram check misses):
      //   semantic_decontaminate: {id, vec, dataset: bench,
      //                            threshold: 0.9[, test_vec, mode: flag]}
      case "semantic_decontaminate" => df => {
        val test = namedDataset()
        val id = req("id"); val vec = req("vec")
        val tVec = knob("test_vec", vec)
        val thr = knobDouble("threshold", 0.9)
        // method: exact (default — one-row broadcast of the whole test
        // set, exhaustive max) | lsh (bucket-routed candidates for test
        // sets past the broadcast bound; exact verify → no false flags,
        // recall is the bits/tables dial)
        val flags = knob("method", "exact") match {
          case "exact" => graft.sim.Ann.semanticContaminationFlags(
            df, id, vec, test, tVec, thr)
          case "lsh" => graft.sim.Ann.semanticContaminationFlagsLsh(
            df, id, vec, test, tVec, thr,
            bits = knobInt("bits", 12), tables = knobInt("tables", 3))
          case other => sys.error(
            s"semantic_decontaminate: unknown method '$other' (exact | lsh)")
        }
        knob("mode", "drop") match {
          case "drop" => flags.filter(!col("contaminated"))
            .drop("max_cos_q", "contaminated")
          case "flag" => flags
          case other => sys.error(
            s"semantic_decontaminate: unknown mode '$other' (drop | flag)")
        }
      }
      // deterministic hash-based train/val/test assignment (training-data
      // curation): split: {id: col, salt: v1, splits: {train: 0.9, ...}}
      // — add stratify_by: col for EXACT per-stratum quotas (a rare
      // stratum can't be starved by hash luck)
      case "split" => df => {
        val splits = anyMap(m.get("splits") match {
          // Some(null) = `splits:` written but left blank — same silent
          // no-op hole as a missing knob (anyMap(null) is Map.empty)
          case None | Some(null) =>
            sys.error("split step needs splits: {name: weight, ...}")
          case Some(v) => v
        }).toSeq.map { case (k, v) => k -> numVal("split", "weight", k, v) }
        knobOpt("stratify_by") match {
          case Some(stratum) => Ops.stratifiedSplit(df, stratum, req("id"),
            knob("salt", ""), splits, splitCol = knob("column", "split"))
          case None => Ops.hashSplit(df, req("id"), knob("salt", ""), splits,
            splitCol = knob("column", "split"))
        }
      }
      // cap each key's rows (bound a source's contribution to the mix)
      case "cap" => df => Ops.capPerKey(df, req("key"),
        req("id"), reqInt("n"),
        salt = knob("salt", ""))
      // deterministic per-key sampling rates (source mixing); with
      // `temperature: T` (power of two) the rates are DERIVED from the
      // key counts instead — (n_min/n_s)^(1/T) rebalancing
      case "sample" => df => knobOpt("temperature") match {
        case Some(t) => Ops.sampleToTemperature(df, req("key"), req("id"),
          temperature = t.toDoubleOption.getOrElse(
            sys.error(s"sample: 'temperature' must be numeric, got '$t'")),
          salt = knob("salt", ""))
        // epochs: {src: factor, ...} — repeat-factor UPsampling (adds
        // `epoch`); factors may be fractional or < 1, unlisted keys
        // take `default` (1 = pass-through)
        // weight: col — per-row keep probability in basis points (the
        // soft-dedup weight_bp consumer): sample: {id, weight: col}
        case None if m.get("weight").exists(_ != null) =>
          Ops.sampleByWeight(df, req("id"), req("weight"),
            salt = knob("salt", ""))
        case None if m.get("epochs").exists(_ != null) =>
          Ops.epochsMix(df, req("key"), req("id"),
            anyMap(m("epochs")).toSeq
              .map { case (k, v) => k -> numVal("sample", "epochs", k, v) },
            defaultEpochs = knobDouble("default", 1.0),
            salt = knob("salt", ""))
        case None => Ops.sampleByKey(df, req("key"),
          req("id"),
          // a missing/misspelled/BLANK `rates` must not silently sample
          // nothing (every key would fall to defaultRate) — same contract
          // as split; `rates:` with no value arrives as Some(null)
          anyMap(m.get("rates") match {
            case None | Some(null) =>
              sys.error("sample: 'rates' ({key: rate, ...}) required")
            case Some(v) => v
          }).toSeq.map { case (k, v) => k -> numVal("sample", "rate", k, v) },
          defaultRate = knobDouble("default", 1.0),
          salt = knob("salt", ""))
      }
      // fill-in-the-middle rewrite (code pretraining; adds fim +
      // text_fim): fim: {id, text, rate: 0.5[, salt]}
      case "fim" => df =>
        graft.text.Curation.fimTransform(df, req("id"), req("text"),
          rate = knobDouble("rate", 0.5), salt = knob("salt", ""))
      // token-window chunking (RAG / pretraining shards):
      //   chunk: {id: col, text: col, size: 64, stride: 32}
      case "chunk" => df => graft.text.Curation.chunk(df, req("id"), req("text"),
        size = knobInt("size", 64),
        stride = knobInt("stride", 32))
      // Gopher-style quality rules; mode filter (default) keeps exactly
      // the rows passing every rule — row-local, one kernel call per
      // row, input columns and order untouched, no join — and mode
      // metrics returns the metric table keyed on `id` (required in
      // both modes):
      //   quality: {id: col, text: col, min_words: 50, mode: filter}
      case "quality" => df => {
        val (id, text) = (req("id"), req("text"))
        val (minWords, maxWords) =
          (knobInt("min_words", 50), knobInt("max_words", 100000))
        knob("mode", "filter") match {
          case "filter" =>
            graft.text.Curation.gopherFilter(df, text, minWords, maxWords)
          case "metrics" =>
            graft.text.Curation.gopherQuality(df, id, text, minWords, maxWords)
          case other => sys.error(s"quality: unknown mode '$other' (filter | metrics)")
        }
      }
      // MassiveText repetition statistics per document:
      //   repetition: {id: col, text: col}
      case "repetition" => df =>
        graft.text.Curation.repetitionStats(df, req("id"), req("text"))
      // URL canonicalization (web-corpus curation): adds url_norm +
      // url_domain; non-URLs get NULLs:
      //   url_normalize: {url: col}
      case "url_normalize" => df => {
        val u = req("url")
        df.withColumn("url_norm", graft.text.UrlTools.normalizeUrl(col(u)))
          .withColumn("url_domain", graft.text.UrlTools.registeredDomain(col(u)))
      }
      // per-registered-domain corpus profile (domain-level curation):
      // one row per domain with n_docs / n_urls / w_sum:
      //   domain_stats: {url: col, weight: col}
      case "domain_stats" => df =>
        graft.text.UrlTools.domainStats(df, req("url"), req("weight"))
      // drop rows whose registered domain is on a blocklist dataset
      // (UT1-style domain lists; the list broadcasts, corpus stays
      // map-side):
      //   blocklist: {url: col, dataset: blocked, domain: col}
      case "blocklist" => df =>
        graft.text.UrlTools.blocklistFilter(df, req("url"),
          namedDataset(), knob("domain", "domain"))
      // nearest-centroid assignment / cluster-balanced sampling
      // (embedding diversity caps). Codebook from a dataset, or fitted
      // with seeded k-means; `cap` keeps at most n rows per cluster:
      //   cluster: {id: col, vec: col, dataset: codebook,
      //             centroid_id: cid, centroid_vec: cv[, cap: n, salt: s]}
      //   cluster: {id: col, vec: col, k: 16[, seed: 42, cap: n]}
      case "cluster" => df => {
        val id = req("id"); val vec = req("vec")
        val cents = m.get("dataset") match {
          case Some(v) if v != null => namedDataset().select(
            col(knob("centroid_id", "cid")).as("cid"),
            col(knob("centroid_vec", "cv")).as("cv"))
          // NULL vectors would crash the k-means fit; the assign side
          // tolerates them (NULL cluster), so the fit must too —
          // dimension MISMATCHES still fail the fit loudly (a codebook
          // fitted over mixed dimensions is a config error, not data)
          case _ => graft.sim.Cluster.fitCentroids(
            df.filter(col(vec).isNotNull), id, vec,
            k = knobInt("k", 16), seed = knobLong("seed", 42L))
        }
        knobOpt("cap") match {
          case Some(cap) =>
            val n = cap.toIntOption.getOrElse(
              sys.error(s"cluster: 'cap' must be an integer, got '$cap'"))
            graft.sim.Cluster.balancedSample(df, id, vec, cents, "cid", "cv",
              n, salt = knob("salt", ""))
          case None =>
            graft.sim.Cluster.clusterAssign(df, id, vec, cents, "cid", "cv")
        }
      }
      // PII scrub in place over the selected text columns:
      //   scrub: {select: [text, bio]}
      case "scrub" => df => {
        val cols = sel()
        require(cols.nonEmpty, "scrub: 'select' must name at least one column")
        cols.foldLeft(df)((d, c0) =>
          d.withColumn(c0, graft.text.Curation.scrubPii(col(c0))))
      }
      // corpus vocabulary top-k: vocab: {text: col, k: 1000}
      case "vocab" => df => graft.text.Curation.vocabTopK(df, req("text"),
        k = knobInt("k", 1000),
        lowercase = knobBool("lowercase", true))
      // BPE tokenizer training — the ordered merge table, the finished
      // vocabulary with `vocab: true`, or corpus ENCODING with
      // `encode: true` (+ `id`: per-doc token counts, fertility and
      // the subword stream under the freshly trained merges).
      // `local_threshold` tunes the regime split (word tables up to
      // this many rows run the driver-side merge loop; 0 forces
      // per-round Spark jobs):
      //   bpe: {text: col, merges: 8[, vocab: true | encode: true,
      //         id: col, local_threshold: n]}
      case "bpe" => df =>
        if (knobBool("vocab", false))
          graft.text.Curation.bpeVocab(df, req("text"),
            merges = knobInt("merges", 8))
        else if (knobBool("encode", false))
          graft.text.Curation.bpeEncode(df, req("id"), req("text"),
            merges = knobInt("merges", 8),
            localThreshold = knobLong("local_threshold", 1000000L))
        else graft.text.Curation.bpeTrain(df, req("text"),
          merges = knobInt("merges", 8),
          localThreshold = knobLong("local_threshold", 1000000L))
      // per-doc novelty / memorization risk:
      //   novelty: {id: col, text: col, n: 13}
      case "novelty" => df => graft.text.TextAnalysis.noveltyScores(df,
        req("id"), req("text"), n = knobInt("n", 13))
      // CCNet-style unigram LM score; the LM trains on a named reference
      // dataset when given (lm_text names its text column if it
      // differs), else on the input corpus itself:
      //   lm_score: {id: col, text: col, dataset: wiki_ref, lm_text: body}
      case "lm_score" => df => {
        val lmSource = if (m.contains("dataset")) namedDataset() else df
        val lmText = knob("lm_text", req("text"))
        val lc = knobBool("lowercase", true)
        knobInt("order", 1) match {
          case 1 => graft.text.Curation.unigramLogProb(df, req("id"), req("text"),
            graft.text.Curation.unigramLm(lmSource, lmText, lowercase = lc),
            lowercase = lc)
          // order 2: λ-interpolated bigram with unigram fallback;
          //   lm_score: {id, text[, dataset, lm_text], order: 2[, lambda_bp: 9000]}
          case 2 => graft.text.Curation.bigramLogProb(df, req("id"), req("text"),
            graft.text.Curation.unigramLm(lmSource, lmText, lowercase = lc),
            graft.text.Curation.bigramLm(lmSource, lmText, lowercase = lc),
            lambdaBp = knobInt("lambda_bp", 9000), lowercase = lc)
          case n => sys.error(s"lm_score: 'order' must be 1 or 2, got $n")
        }
      }
      // HTML → text extraction (web-corpus step 0): adds extracted-text
      // and title columns from a markup column:
      //   html_extract: {html: col[, text: out_col, title: out_col]}
      case "html_extract" => df => {
        val h = req("html")
        df.withColumn(knob("text", "html_text"),
            graft.text.Curation.extractHtmlText(col(h)))
          .withColumn(knob("title", "html_title"),
            graft.text.Curation.htmlTitle(col(h)))
      }
      // DSIR importance weighting/selection (Curation.dsirWeights /
      // dsirSelect): target-domain LM from a named dataset (its text
      // column via target_text when it differs), reference LM from a
      // second named dataset or the input corpus itself; `k` switches
      // from weights-per-doc to the top-k selection:
      //   dsir: {id: col, text: col, target: wiki_ref[, target_text: body]
      //          [, reference: other][, k: 10000][, lowercase: true]}
      case "dsir" => df => {
        val tgt = namedDataset("target")
        val ref = m.get("reference") match {
          case Some(v) if v != null => namedDataset("reference")
          case _ => df
        }
        val tgtText = knob("target_text", req("text"))
        val lc = knobBool("lowercase", true)
        val tLm = graft.text.Curation.unigramLm(tgt, tgtText, lowercase = lc)
        val rLm = graft.text.Curation.unigramLm(ref, req("text"), lowercase = lc)
        knobOpt("k") match {
          case Some(k) =>
            val kk = k.toIntOption.getOrElse(
              sys.error(s"dsir: 'k' must be an integer, got '$k'"))
            graft.text.Curation.dsirSelect(df, req("id"), req("text"),
              tLm, rLm, kk, lowercase = lc)
          case None =>
            graft.text.Curation.dsirWeights(df, req("id"), req("text"),
              tLm, rLm, lowercase = lc)
        }
      }
      // ---- multimodal steps over the canonical media schema
      // (media_id, kind, payload, meta) — Multimodal.mediaSchema
      //   media_stats:  {}              byte-level stats, any kind
      //   image_stats:  {}              REAL decode for kind=image
      //   audio_stats:  {}              REAL decode for kind=audio
      //   video_stats:  {every: n}      REAL decode for kind=video, one
      //                                 row per every-th frame
      //   media_dedup:  {}              exact dedup groups by content
      //   sample_frames: {every_ms: n}  one row per sampled offset
      case "media_stats" | "image_stats" | "audio_stats" | "video_stats" |
           "media_dedup" | "sample_frames" =>
        df => {
          val need = op match {
            case "media_dedup" => Seq("media_id", "payload")
            case "sample_frames" => Seq("payload", "meta")
            case "image_stats" | "audio_stats" | "video_stats" =>
              Seq("kind", "payload")
            case _ => Seq("payload")
          }
          val missing = need.filterNot(df.columns.contains)
          require(missing.isEmpty,
            s"$op: input is missing media column(s) ${missing.mkString(", ")} " +
              "(expected the canonical media schema: media_id, kind, payload, meta)")
          op match {
            case "media_stats" => graft.multimodal.Multimodal.extractFeatures(df)
            case "image_stats" => graft.multimodal.Multimodal.decodeImages(df)
            case "audio_stats" => graft.multimodal.Multimodal.decodeAudio(df)
            case "video_stats" => graft.multimodal.Multimodal.decodeVideos(df,
              every = knobInt("every", 1))
            case "media_dedup" => graft.multimodal.Multimodal.dedupGroups(df)
            case _ => graft.multimodal.Multimodal.sampleFrames(df,
              everyMs = knobLong("every_ms", 1000L))
          }
        }
      // ANN top-k as a recipe step — the QUERY side of the ann_index
      // sink (input rows are the queries):
      //   ann_topk: {id: col, vec: col, k: 10, index: ann_ds, nprobe: 4}
      //     → probe a persisted IVF index (partition-pruned read)
      //   ann_topk: {id: col, vec: col, k: 10, dataset: corpus,
      //              corpus_id: c, corpus_vec: v, method: brute|lsh}
      //     → score directly against a corpus dataset
      case "ann_topk" => df => {
        val id = req("id"); val vec = req("vec"); val k = knobInt("k", 10)
        m.get("index") match {
          case Some(ix) if ix != null =>
            val name = ix.toString
            val ds = conf.datasets.getOrElse(name, sys.error(
              s"$op: unknown index dataset '$name' " +
                s"(known: ${conf.datasets.keys.toSeq.sorted.mkString(", ")})"))
            require(ds.format == "ann_index",
              s"$op: dataset '$name' has format '${ds.format}' — " +
                "'index' must name an ann_index dataset")
            // the index ranks under its own manifest-recorded layout
            graft.sim.Ann.ivfIndexTopKAuto(spark, ds.path, df, id, vec,
              k = k, nprobe = knobInt("nprobe", 4))
          case Some(_) => sys.error(s"$op: 'index' is blank — name an " +
            "ann_index dataset or use dataset:/method: for direct scoring")
          case None =>
            val corpus = namedDataset()
            val cid = knob("corpus_id", id)
            val cvec = knob("corpus_vec", vec)
            knob("method", "brute") match {
              case "brute" => graft.sim.Ann.bruteForceTopK(
                df, corpus, id, vec, cid, cvec, k)
              case "lsh" => graft.sim.Ann.lshTopK(
                df, corpus, id, vec, cid, cvec, k,
                bits = knobInt("bits", 12), tables = knobInt("tables", 3))
              case other =>
                sys.error(s"$op: unknown method '$other' (brute | lsh)")
            }
        }
      }
      case "sql" => df => { spark.sql(req("statement")); df }
      case "exec" =>
        sys.error("exec (arbitrary code) is not supported by design — " +
          "use eval with SQL expressions (SURVEY.md §2.3)")
      case other =>
        // a step naming another recipe = sub-recipe composition
        // (recipes.py:1129-1139). The visiting set breaks step-level
        // cycles at COMPILE time (a -> b -> a would otherwise recurse to
        // an anonymous StackOverflowError that NonFatal handlers miss;
        // runGuarded's set only covers before/after dependencies).
        conf.recipes.get(other) match {
          case Some(sub) =>
            require(!visiting.contains(other),
              s"sub-recipe cycle: ${(visiting + other).mkString(" -> ")} — " +
                "recipe steps must form a DAG")
            compileRecipe(spark, conf, sub, visiting + other)
          case None => sys.error(s"unknown step: $other")
        }
    }
  }

  /** The reference's `type: elasticsearch` join with a full ES DSL query
    * template (matching.yml:8-48): compile the template to a bool tree
    * (MatchQuery.compileTemplate), map each leaf's left column / right
    * index field to token-array columns (string columns are whitespace-
    * tokenized — the fields are pre-analyzed by the normalize recipes,
    * so this mirrors ES's analyzer on these inputs), and run the
    * distributed top-k match. Left rows are identified by a content
    * hash, so identical rows share one candidate computation. */
  private def esTemplateJoin(df: DataFrame, right: DataFrame,
      m: Map[String, Any]): DataFrame = {
    import graft.operators.MatchQuery
    import graft.operators.MatchQuery.{BoolNode, Leaf, Node}
    import org.apache.spark.sql.types.ArrayType
    val (spec0, _) = MatchQuery.compileTemplate(m.getOrElse("query",
      sys.error("join (elasticsearch): 'query' template required")))
    val rightId = m.getOrElse("right_id", "_id").toString
    require(right.columns.contains(rightId),
      s"es join: right dataset needs an id column '$rightId'")
    var l = df.withColumn("__lid",
      xxhash64(to_json(struct(df.columns.toIndexedSeq.map(col): _*))))
    var r = right
    def tok(side: String, get: () => DataFrame, set: DataFrame => Unit)(name: String): String = {
      val d = get()
      require(d.columns.contains(name),
        s"es join: $side column '$name' not found in [${d.columns.mkString(", ")}]")
      d.schema(name).dataType match {
        case ArrayType(_, _) => name
        case _ =>
          val tn = s"__tok_$name"
          if (!d.columns.contains(tn))
            set(d.withColumn(tn, graft.functions.Tools.tokenize(col(name))))
          tn
      }
    }
    val tokL = tok("left", () => l, l = _) _
    val tokR = tok("right", () => r, r = _) _
    def rewrite(n: Node): Node = n match {
      case Leaf(i, c) =>
        Leaf(i, c.copy(leftTokens = tokL(c.leftTokens), rightTokens = tokR(c.rightTokens)))
      case b: BoolNode => b.copy(must = b.must.map(rewrite), should = b.should.map(rewrite))
    }
    val spec = spec0.copy(root = rewrite(spec0.root))
    val kn = new Knobs("match", m)
    val keepUnmatched = kn.knobBool("keep_unmatched", default = false)
    // the bucket shape below classifies columns by the hit_ prefix — a
    // left input column named hit_* would be swept out of the grouping
    // keys and silently relocated/lost (the right side has the same
    // guard inside MatchQuery)
    val badLeft = l.columns.filter(c =>
      c.startsWith("hit_") || c == "matchid_hit_matches_unfiltered")
    require(badLeft.isEmpty,
      s"match step: left column(s) ${badLeft.mkString(", ")} collide with " +
        "the hit_* output contract — rename them before the match")
    val flat = MatchQuery.runTree(l, r, spec, "__lid", rightId, keepUnmatched,
      maxDocFreq = kn.knobLong("max_doc_freq", 0L))
    val out = flat.drop(flat.columns.toIndexedSeq.filter(c =>
      c.startsWith("__tok_") || c.startsWith("hit___tok_")): _*)
    // unfold: False keeps the pre-unfold bucket shape — one row per left
    // row with a rank-ordered `hits` array of hit structs
    // (recipes.py:2322-2336, docs/recipes.md:198-204)
    val unfold = kn.knobBool("unfold", default = true)
    if (unfold) out
    else {
      val hitCols = out.columns.filter(c =>
        c.startsWith("hit_") || c == "matchid_hit_matches_unfiltered")
      val leftCols = out.columns.filterNot(hitCols.contains)
      // unmatched rows (keep_unmatched) have NULL hit columns — guard the
      // struct so collect_list skips it and they get hits = [] rather
      // than a single all-null struct. NOTE: identical left rows share a
      // content-hash id and collapse to ONE bucket row here (they are
      // indistinguishable); the flat shape keeps each copy.
      val hitStruct = when(col(s"hit_$rightId").isNotNull,
        struct(col("hit_rank") +:
          hitCols.filterNot(Set("hit_rank", "matchid_hit_matches_unfiltered"))
            .map(col).toSeq: _*))
      out.groupBy(leftCols.toIndexedSeq.map(col): _*)
        .agg(
          first(col("matchid_hit_matches_unfiltered")).as("matchid_hit_matches_unfiltered"),
          sort_array(collect_list(hitStruct)).as("hits"))
    }
  }

  def compileRecipe(spark: SparkSession, conf: ProjectConf, r: RecipeDef,
      visiting: Set[String] = Set.empty): Step = {
    val steps = r.steps.map { case (op, args) =>
      compileStep(spark, conf, op, args, visiting) }
    df => steps.foldLeft(df)((d, s) => s(d))
  }

  /** Run a named recipe: before deps → read input dataset → steps →
    * write output → after deps (or return the DataFrame when no output
    * is declared / test mode). Dependency recipes (recipes.py:1309-1350)
    * run sequentially; test mode skips them like it skips writes. */
  def run(spark: SparkSession, conf: ProjectConf, name: String,
      mode: String = "create", testLimit: Option[Int] = None): DataFrame =
    runGuarded(spark, conf, name, mode, testLimit, Set.empty)

  /** `running` = the before/after dependency chain above this call — a
    * recipe reappearing in it is a dependency cycle, which would
    * otherwise recurse to StackOverflowError. */
  private def runGuarded(spark: SparkSession, conf: ProjectConf, name: String,
      mode: String, testLimit: Option[Int], running: Set[String]): DataFrame = {
    graft.functions.Registry.register(spark)
    require(!running.contains(name),
      s"dependency cycle: ${(running + name).mkString(" -> ")} — " +
        "before/after recipes must form a DAG")
    def runDep(dep: String): Unit = {
      runGuarded(spark, conf, dep, mode, None, running + name); ()
    }
    val r = conf.recipes.getOrElse(name, sys.error(s"unknown recipe: $name"))
    if (testLimit.isEmpty) r.before.foreach(runDep)
    val in = r.input.getOrElse(
      sys.error(s"recipe $name: input required to run top-level"))
    val input0 = read(spark, conf.datasets.getOrElse(in.dataset,
      sys.error(s"recipe $name: unknown input dataset '${in.dataset}' " +
        s"(known: ${conf.datasets.keys.toSeq.sorted.mkString(", ")})")))
    val projected =
      if (in.select.nonEmpty) input0.select(in.select.map(col): _*) else input0
    val limited = testLimit.map(projected.limit).getOrElse(projected)
    // read-time filter recipe — applied before this recipe's own steps
    val input = in.filter match {
      case Some(f) => compileRecipe(spark, conf,
        conf.recipes.getOrElse(f, sys.error(s"recipe $name: unknown filter recipe $f")))(limited)
      case None => limited
    }
    val out = compileRecipe(spark, conf, r)(input)
    if (testLimit.isEmpty) {
      r.output.foreach { o =>
        write(out, conf.datasets.getOrElse(o,
          sys.error(s"recipe $name: unknown output dataset '$o' " +
            s"(known: ${conf.datasets.keys.toSeq.sorted.mkString(", ")})")), mode) }
      r.after.foreach(runDep)
    }
    out
  }
}
