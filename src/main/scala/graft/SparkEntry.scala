package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.functions.{Similarity, Tools}
import graft.operators.{GroupByOp, Joins, MatchJoin, Ops}
import graft.graph.ConnectedComponents
import graft.dedup.Dedup
import graft.sim.Ann
import graft.text.TextAnalysis

/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt.
  *
  * Every query exercises a library operator and (where the semantics are
  * SQL-expressible) carries a DuckDB oracle in `oracleSql` with IDENTICAL
  * column names and arithmetic. Determinism rules used throughout:
  *   - money/quantity sums go through DECIMAL(18,2) (exact, order-free)
  *     and are cast to DOUBLE at the end;
  *   - float expressions keep identical operand order on both sides;
  *   - rankings always carry an explicit id tie-break.
  */
object SparkEntry {

  private def t(s: SparkSession, dir: String, name: String): DataFrame =
    Tables.t(s, dir, name)

  /** The queries' persisted-index scratch dirs, query tag → dir name,
    * each resolved through [[scratchDir]]: ONE path per (JVM, sf dir),
    * overwritten in place across repeated invocations (Bench times the
    * lambdas several times; a fresh temp dir per call would leak a
    * corpus copy each time). The pid suffix keeps concurrent processes
    * (a Bench beside a Verify) from clobbering each other's index
    * mid-read; the sf tag keeps the warmup SF's index from being
    * probed at the target SF. Each JVM leaks at most one dir per entry
    * per SF. No two queries share a dir: the build history (layout,
    * verb sequence) is what each query gates. */
  private val idxDirNames: Map[String, String] = Map(
    // float IVF index (q60_build writes it, q60 probes it)
    "q60" -> "graft-ivf-q60",
    // int8-quantized IVF: its own layout (grids + codebook)
    "q116" -> "graft-ivfq-q116",
    // product-quantized IVF: m-byte codes + per-subspace codebooks
    "q122" -> "graft-ivfpq-q122",
    // RESIDUAL IVF-PQ: q122's layout class, incomparable code geometry
    "q125" -> "graft-ivfpqr-q125",
    // float index built on half the corpus, extended by appendIvfIndex
    // (q60's layout, a different build history is the point)
    "q126" -> "graft-ivfapp-q126",
    // SQ8 append: the batch must encode under the STORED half-corpus
    // grid, exactly where geometry drift would corrupt results
    "q129" -> "graft-ivfappq-q129",
    // built on half, the other half STREAMED into the epoch-partitioned
    // stream/ table (appendIvfIndexStream)
    "q131" -> "graft-ivfstr-q131",
    // q131's history, then the YAML compact step: the post-fold layout
    // (single main table, no stream/ reads) is the state under test
    "q132" -> "graft-ivfcmp-q132",
    // PQ append: encodes under the STORED per-subspace codebooks
    // (the PQ layout's encode)
    "q133" -> "graft-ivfapppq-q133",
    // RESIDUAL-PQ append: assigns under the STORED coarse centroids AND
    // encodes residuals under the STORED residual codebooks
    "q134" -> "graft-ivfapppqr-q134",
    // SQ8 stream append: streamed rows land on the stored int8 grid
    "q135" -> "graft-ivfstrq-q135",
    // PQ stream append: the pq branch through the epoch sink
    "q142" -> "graft-ivfstrpq-q142",
    // RESIDUAL-PQ stream append: the residual encode through the epoch sink
    "q143" -> "graft-ivfstrpqr-q143",
    // build + append, then a YAML takedown: probes must suppress the
    // tombstoned ids while they physically remain (pre-compaction)
    "q136" -> "graft-ivfdel-q136",
    // band index built WITHOUT the template holders under a non-default
    // signature (num_hashes=60, bands=10), the holders added by the YAML
    // neardup_index APPEND: every probe hit crosses the build/append
    // boundary, so an append that no-ops or signs under defaults
    // zeroes every verdict
    "q137" -> "graft-neardupapp-q137",
    // the takedown cascade's band index (full fixture corpus) ...
    "q138" -> "graft-neardupdel-q138",
    // ... and its document index (even ids built, odd ids appended):
    // one cascading YAML takedown run, then both compacted
    "q139" -> "graft-docidx-q139",
    // q137's split, the holders arriving through a REAL file-source
    // stream (appendNearDupIndexStream); probes read main ∪ epochs
    "q140" -> "graft-neardupstr-q140",
    // SELF-GROWING index: nearDupAdmitStream drops near-dups, dedups
    // within the batch and appends the admitted docs per micro-batch
    "q141" -> "graft-neardupadm-q141",
    // the q107/q108 band index over the fixture corpus
    "q107" -> "graft-neardup-q107")

  private def idxDir(query: String, dir: String): String =
    scratchDir(idxDirNames(query), tag = dir)

















  /** Build q138/q139's shared artifact pair on this JVM's first touch
    * (the idxBuilt guard contract) and return (bandIdx, docIdx). The
    * history each probe must answer through: build → append → ONE
    * cascading takedown (both artifacts, one id frame, one YAML run)
    * → compact each. The compact runs REQUIRE the tombstone tables
    * gone afterwards (checked by the queries) — a no-op fold cannot
    * hide behind the readers' anti-join. */
  private def ensureTakedownArtifacts(s: SparkSession, dir: String)
      : (String, String) = {
    val bandIdx = idxDir("q138", dir)
    val docIdx = idxDir("q139", dir)
    buildOnce(bandIdx) {
      val d = t(s, dir, "documents")
      val (_, corpus) = nearDupFixture(s, dir)
      Dedup.writeNearDupIndex(corpus, "doc_id", "text", bandIdx)
      val analyzed = d.withColumn("toks",
        Tools.tokenize(Tools.normalize(col("text"))))
      graft.sources.Sinks.indexed(
        analyzed.filter(col("doc_id") % 2 === 0), docIdx,
        Some("doc_id"), "toks")
      // odd half arrives through the YAML index sink's APPEND mode
      val oddPath = scratchDir("graft-docidx-odd", tag = dir)
      analyzed.filter(col("doc_id") % 2 =!= 0)
        .write.mode("overwrite").parquet(oddPath)
      val idsPath = scratchDir("graft-takedown-ids", tag = dir)
      d.filter(col("doc_id") % 20 === 2).select("doc_id")
        .write.mode("overwrite").parquet(idsPath)
      val conf = graft.conf.RecipeConf.load(
        s"""datasets:
           |  odd: {path: $oddPath, format: parquet}
           |  ids: {path: $idsPath, format: parquet}
           |  docw:
           |    path: $docIdx
           |    format: index
           |    options: {id: doc_id, analyzed: toks}
           |  bandw:
           |    path: $bandIdx
           |    format: neardup_index
           |    options: {id: doc_id, text: text}
           |  td:
           |    path: unused-takedown
           |    format: takedown
           |    options: {id: doc_id, index: $docIdx, neardup_index: $bandIdx}
           |recipes:
           |  app: {input: odd, steps: [], output: docw}
           |  takedown: {input: ids, steps: [], output: td}
           |  fold_band: {input: ids, steps: [], output: bandw}
           |  fold_doc: {input: ids, steps: [], output: docw}
           |""".stripMargin)
      graft.conf.RecipeConf.run(s, conf, "app", mode = "append")
      graft.conf.RecipeConf.run(s, conf, "takedown", mode = "delete")
      graft.conf.RecipeConf.run(s, conf, "fold_band", mode = "compact")
      graft.conf.RecipeConf.run(s, conf, "fold_doc", mode = "compact")
    }
    (bandIdx, docIdx)
  }

  /** The q138/q139 post-compaction invariant: the fold must have
    * CONSUMED the tombstone table — with it gone the readers run
    * WITHOUT an anti-join, so a purge that silently kept (or dropped
    * the wrong) rows lands straight in the hash compare. */
  private def requireTombstonesConsumed(s: SparkSession, path: String,
      what: String): Unit = {
    val p = new org.apache.hadoop.fs.Path(s"$path/deletes")
    require(!p.getFileSystem(s.sparkContext.hadoopConfiguration).exists(p),
      s"$what: deletes/ still present at $path — the compact fold did " +
        "not consume the tombstones")
  }



  /** Shared append-gate scaffold (q126/q129/q133/q134): stage the ODD
    * half of `embeddings` as a scratch parquet (the YAML dataset needs
    * a path) and append it to `idx` through the RecipeConf ann_index
    * APPEND mode — so every append gate exercises the recipe sink
    * routing + the declared-geometry drift cross-check, not just the
    * library call. `optionsYaml` = the dataset block's flow-mapped
    * options, declaring the geometry the drift check must accept. */
  private def yamlAppendOddHalf(s: SparkSession, e: DataFrame,
      idx: String, batchTag: String, dir: String,
      optionsYaml: String): Unit = {
    val batchPath = scratchDir(batchTag, tag = dir)
    e.filter(col("vec_id") % 2 =!= 0).select("vec_id", "embedding")
      .write.mode("overwrite").parquet(batchPath)
    val conf = graft.conf.RecipeConf.load(
      s"""datasets:
         |  batch: {path: $batchPath, format: parquet}
         |  idxw:
         |    path: $idx
         |    format: ann_index
         |    options: {$optionsYaml}
         |recipes:
         |  app: {input: batch, steps: [], output: idxw}
         |""".stripMargin)
    graft.conf.RecipeConf.run(s, conf, "app", mode = "append")
  }

  /** Shared accumulation history for the stream-append gates (q131,
    * and q132's pre-fold state): wipe idx + checkpoint (a pid-recycled
    * leftover stream/ table would double rows), build the index in
    * `layout` on the EVEN half, then stream the ODD half into the index's
    * epoch-partitioned stream/ table (appendIvfIndexStream — each
    * micro-batch encodes under the STORED geometry). */
  private def buildHalfStreamRest(s: SparkSession, dir: String,
      idx: String, ckptTag: String,
      layout: Ann.IvfLayout = Ann.IvfLayout.Float, nlist: Int = 16): Unit = {
    val e = t(s, dir, "embeddings")
    val ckpt = scratchDir(ckptTag, tag = dir)
    Seq(idx, ckpt).foreach { p =>
      val hp = new org.apache.hadoop.fs.Path(p)
      hp.getFileSystem(s.sparkContext.hadoopConfiguration).delete(hp, true)
    }
    Ann.writeIvfIndex(e.filter(col("vec_id") % 2 === 0),
      "vec_id", "embedding", idx, nlist = nlist, layout = layout)
    val schema = s.read.parquet(s"$dir/embeddings.parquet").schema
    val stream = s.readStream.schema(schema)
      .option("pathGlobFilter", "embeddings.parquet").parquet(dir)
    val q = graft.streaming.EventStream.appendIvfIndexStream(
      stream.filter(col("vec_id") % 2 =!= 0).select("vec_id", "embedding"),
      idx, "vec_id", "embedding", checkpoint = ckpt)
    q.processAllAvailable(); q.stop()
  }

  /** The IVF lines' probe: every 100th embedding queries the index at
    * `idx` for its top 10 over `nprobe` cells (nprobe = nlist is
    * exhaustive, hence equal to the layout's brute-force oracle). */
  private def probeIvf(s: SparkSession, idx: String, e: DataFrame,
      nprobe: Int = 16): DataFrame =
    Ann.ivfIndexTopKAuto(s, idx, e.filter(col("vec_id") % 100 === 0),
      "vec_id", "embedding", k = 10, nprobe = nprobe)

  /** A `_build` line: rebuild line `q`'s index unconditionally (Bench
    * times the build here), mark it built so every later probe sample
    * is pure probe, and return its cell layout summary. */
  private def ivfBuildLine(s: SparkSession, dir: String, q: String,
      nlist: Int, layout: Ann.IvfLayout): DataFrame = {
    val idx = idxDir(q, dir)
    Ann.writeIvfIndex(t(s, dir, "embeddings"), "vec_id", "embedding", idx,
      nlist = nlist, layout = layout)
    idxBuilt.add(idx)
    ivfCellSummary(s, idx)
  }

  /** Shared pid-scoped scratch-dir contract (q60/q62/q64): bounded (one
    * dir per JVM per tag, rewritten in place across repeated
    * invocations), pid-suffixed against concurrent processes, and
    * tag-suffixed so one SF's artifact is never read at another SF. */
  private def scratchDir(name: String, tag: String): String = {
    val t = tag.replaceAll("[^0-9a-zA-Z.]+", "_")
    new java.io.File(System.getProperty("java.io.tmpdir"),
      s"$name-${ProcessHandle.current().pid()}-$t").getAbsolutePath
  }

  /** The build queries' shared result: the persisted cell layout as
    * (cell, row count, integer centroid norm) — identical across the
    * float/SQ8/PQ/PQR layouts because the coarse quantizer is the same
    * seeded integer k-means, so one oracle replay per nlist covers all
    * of them. Cheap by construction: counts read only the assigned/
    * footer-level __cell column, norms the nlist-row centroid table. */
  private def ivfCellSummary(s: SparkSession, idx: String): DataFrame = {
    val counts = s.read.parquet(s"$idx/assigned")
      .groupBy(col("__cell").cast("int").as("__cell"))
      .agg(count(lit(1)).as("n_vectors"))
    val norms = s.read.parquet(s"$idx/centroids")
      .select(col("__cell").cast("int").as("__cell"),
        aggregate(transform(col("__qcentroid"), x => x * x),
          lit(0L), (a, x) => a + x).as("centroid_norm2_q"))
    counts.join(norms, Seq("__cell")).orderBy("__cell")
  }

  /** Index dirs THIS JVM has built: the one build-once guard for every
    * [[idxDirNames]] entry (their paths never collide). In-memory on
    * purpose: a filesystem existence check would trust whatever a
    * previous process left at the pid-recycled path — a stale index over
    * regenerated data, or a build that died mid-write — while a fresh
    * JVM re-running the build (mode overwrite) costs one build and can
    * never probe stale state. */
  private val idxBuilt =
    java.util.concurrent.ConcurrentHashMap.newKeySet[String]()

  /** Run `build` unless THIS JVM already built `idx`, marking it built
    * only AFTER the build returns: add-before-build would let a thrown
    * build poison the guard and make every later probe read the
    * missing index (the hazard the guard exists to prevent). */
  private def buildOnce(idx: String)(build: => Unit): Unit =
    if (!idxBuilt.contains(idx)) { build; idxBuilt.add(idx); () }

  /** q130's batch-trained router weights, once per (SESSION, sfdir) —
    * the q60/ensureNearIdx build-once discipline: production trains
    * the gate's classifier once batch-side, and the training cost has
    * its OWN bench line (q110_classifier_fit), so re-deriving it
    * inside every chain sample would double-count a measured cost and
    * hide the chain's steady-state number. Deterministic fixture +
    * seeded training → the cached weights are the re-derived weights.
    * The cached DataFrame's plan is bound to the session that built
    * it (unlike idxBuilt, which caches only PATHS), so the entry
    * carries its session and a different/stopped session re-derives
    * instead of collecting against a dead plan. */
  private val routerWeightsCache = new java.util.concurrent
    .ConcurrentHashMap[String, (SparkSession, DataFrame)]()

  /** The ONE near-dup template, interpolated into every Scala fixture
    * AND both oracle spellings (r13 review: the literal existed in 5
    * places — a one-word edit missing one copy would surface as a
    * confusing multi-query hash failure). */
  private val nearDupTpl = "shared press release template gamma " +
    "version three for near duplicate checks"

  /** The q108/q130 ingest-side carve: nearDupFixture's BATCH transform
    * applied to an arriving frame (stream or static) — one spelling
    * shared by the fixture and both streaming gates. */
  private[graft] def nearDupStreamCarve(df: DataFrame): DataFrame = {
    val id = col("doc_id")
    df.filter(id % 4 === 1)
      .withColumn("text",
        when(id % 40 === 1, lit(nearDupTpl)).otherwise(col("text")))
  }

  /** The ONE near-dup fixture shared by q105/q107/q108 and their common
    * oracle (nearDupOracleCtes spells the identical plant + carve): a
    * batch/corpus carve of `documents` with a template planted across
    * the boundary. Defined once — a drift between any query's fixture
    * and the oracle would surface as a confusing multi-query hash
    * failure. Returns (batch, corpus). */
  private def nearDupFixture(s: SparkSession, dir: String)
      : (DataFrame, DataFrame) = {
    val d = t(s, dir, "documents")
    val id = col("doc_id")
    val batch = nearDupStreamCarve(d).select("doc_id", "text")
    val corpus = d.filter(id % 4 =!= 1)
      .withColumn("text",
        when(id % 10 === 2, lit(nearDupTpl)).otherwise(col("text")))
      .select("doc_id", "text")
    (batch, corpus)
  }

  /** The q128 cross-source QUOTATION fixture (shared with its spec):
    * id % 41 = 7 docs become a 9-word quotation (7 word-3-shingles),
    * id % 41 = 9 docs a 28-word page quoting it whole as a contiguous
    * span — so the quote's shingle set is a SUBSET of the page's
    * (containment 10⁴ bp) while the pair's Jaccard is 7/26 ≈ 0.27,
    * below the near-dup family's 0.6 threshold. Word material is NATO
    * alphabet (absent from the synthetic corpus vocabulary), so the
    * plant can't accidentally near-dup natural docs. */
  private[graft] def q41Fixture(d: DataFrame): DataFrame = {
    val id = col("doc_id")
    val quote =
      "sierra tango uniform victor whiskey xray yankee zulu quebec"
    val page = "framing commentary narrative opens preamble context " +
      quote + " trailing analysis continues onward covering manifold " +
      "subsequent windows entirely separate tokens conclude"
    d.withColumn("text",
      when(id % 41 === 7, lit(quote))
        .when(id % 41 === 9, lit(page))
        .otherwise(col("text")))
  }

  /** The q110/q111 classifier fixture: the raw synthetic docs carry NO
    * linearly-learnable label (one 31-token bag in every language), so
    * the class is PLANTED — disjoint marker tokens by id pattern, with
    * a deterministic ~6% label flip (id % 17) so the classes are
    * noisy-separable and every perceptron epoch has a live
    * misclassified batch. The oracle's `d` CTE replays this transform
    * verbatim. */
  private def classifierFixture(d: DataFrame): DataFrame = {
    val id = col("doc_id")
    val base = when(id % 2 === 0, 1L).otherwise(-1L)
    d.withColumn("text", concat(col("text"),
        when(id % 2 === 0, lit(" crisp curated prose"))
          .otherwise(lit(" noisy boiler plate"))))
      .withColumn("y", when(id % 17 === 0, -base).otherwise(base))
  }

  /** The q117/q118 MULTICLASS fixture: three disjoint marker phrases
    * planted by id % 3, labels rotated one class forward for the
    * id % 17 flips (~6% label noise). Each pairwise split is balanced
    * and noisy-separable — the one-vs-one trainer's stable regime
    * (simulated before wiring: 3 epochs recover the planted class on
    * all 500 rows; the flips stay as each pair's live mis batch). The
    * oracle's `d` CTE replays this transform verbatim. */
  private def multiClassifierFixture(d: DataFrame): DataFrame = {
    val id = col("doc_id")
    val idx = id % 3
    d.withColumn("text", concat(col("text"),
        when(idx === 0, lit(" crisp curated prose"))
          .when(idx === 1, lit(" noisy boiler plate"))
          .otherwise(lit(" mediocre average filler"))))
      .withColumn("lb", when(id % 17 === 0,
          when(idx === 0, "spam").when(idx === 1, "filler").otherwise("prose"))
        .otherwise(
          when(idx === 0, "prose").when(idx === 1, "spam").otherwise("filler")))
  }

  /** Build the shared q107/q108 band index over the fixture corpus on
    * this JVM's first touch (the idxBuilt guard contract) and return
    * its path. */
  private[graft] def ensureNearIdx(s: SparkSession, dir: String): String = {
    val idx = idxDir("q107", dir)
    buildOnce(idx) {
      graft.dedup.Dedup.writeNearDupIndex(
        nearDupFixture(s, dir)._2, "doc_id", "text", idx)
    }
    idx
  }

  /** Exact decimal sum reported as double — see determinism note above. */
  private def dsum(c: Column): Column =
    sum(c.cast("decimal(18,2)")).cast("double")

  /** q34's model build+apply, shared with MlGoldenSpec so the golden
    * score pin tracks the query's EXACT pipeline (a drift between the
    * two would silently un-cover q34). Target: binarized 'F' order
    * status (the reference binarizes targets, recipes.py:1785). */
  private[graft] def mlScored(s: SparkSession, dir: String)
      : (graft.ml.Scoring.BuiltModel, DataFrame) = {
    val o = t(s, dir, "orders")
      .withColumn("bucket", (col("o_custkey") % 10).cast("string"))
      .withColumn("o_orderstatus_bin",
        when(col("o_orderstatus") === "F", 1).otherwise(0))
    val m = graft.ml.Scoring.buildModel(o,
      numerical = Seq("o_totalprice"), categorical = Seq("bucket", "o_orderpriority"),
      target = "o_orderstatus_bin", tries = 2, numTrees = 10)
    (m, graft.ml.Scoring.applyModel(o, m, Seq("o_totalprice")))
  }

  // ------------------------------------------------------------- flagship
  /** Flagship: the end-to-end person-matching pipeline on sf0.001 —
    * dataprep (matchid_* convention) → fuzzy top-k match join → re-score →
    * decision → dedup-cluster labels (the reference's core use case,
    * conf/recipes/matching.yml). */
  def entry(spark: SparkSession): DataFrame = {
    import graft.pipeline.Matching
    val dir = "/root/testdata/sf0.001"
    val customer = t(spark, dir, "customer")
    val nation = t(spark, dir, "nation")
    val left = Matching.dataprep(Matching.personsFrom(customer, nation),
      "pid", "first_name", "last_name", "birth_str", "city")
    val right = Matching.dataprep(Matching.registryFrom(customer, nation),
      "pid", "first_name", "last_name", "birth_str", "city")
    val matches = Matching.matchBest(left, right, k = 5, fuzzy = true)
    val comps = Matching.clusters(matches)
      .withColumnRenamed("node", "matchid_id").withColumnRenamed("comp", "cluster_id")
    matches.join(comps, Seq("matchid_id"), "left")
      .select("matchid_id", "hit_matchid_id", "matchid_hit_score",
        "matchid_hit_score_name", "matchid_hit_score_date", "confiance", "cluster_id")
  }

  // -------------------------------------------------------------- queries
  lazy val queries: Map[String, (SparkSession, String) => DataFrame] = Map(

    // groupby.agg (GroupByOp.agg semantics, decimal-exact sums)
    "q01_agg" -> ((s, dir) => {
      t(s, dir, "lineitem")
        .groupBy(col("l_returnflag"), col("l_linestatus"))
        .agg(
          dsum(col("l_quantity")).as("sum_qty"),
          dsum(col("l_extendedprice")).as("sum_price"),
          count(lit(1)).as("n_rows"),
          countDistinct(col("l_partkey")).as("n_parts"))
    }),

    // strict broadcast joins (Joins.strictJoin) + agg
    "q02_join_enrich" -> ((s, dir) => {
      val c = t(s, dir, "customer")
      val n = t(s, dir, "nation")
      val r = t(s, dir, "region")
      val withNation = Joins.strictJoin(c, n,
        keys = Map("c_nationkey" -> "n_nationkey"),
        select = Map("n_name" -> "nation_name", "n_regionkey" -> "nregionkey"))
      val withRegion = Joins.strictJoin(withNation, r,
        keys = Map("nregionkey" -> "r_regionkey"),
        select = Map("r_name" -> "region_name"))
      withRegion.groupBy(col("region_name"), col("nation_name"))
        .agg(count(lit(1)).as("n_cust"), dsum(col("c_acctbal")).as("sum_bal"))
    }),

    // groupby.rank — dense rank desc within group (GroupByOp.rank)
    "q03_rank_topk" -> ((s, dir) => {
      GroupByOp.rank(t(s, dir, "orders"), Seq("o_custkey"), Seq("o_totalprice"))
        .filter(col("o_totalprice_rank") <= 3)
        .select("o_custkey", "o_orderkey", "o_totalprice", "o_totalprice_rank")
    }),

    // keep with where-filter (Ops.keep) — predicate pushdown to scan
    "q04_filter" -> ((s, dir) => {
      Ops.keep(t(s, dir, "lineitem"),
          Seq("l_quantity", "l_extendedprice", "l_discount"),
          Some("l_shipdate >= timestamp'1995-01-01' AND l_shipdate < timestamp'1996-01-01' AND l_quantity < 24"))
        .agg(
          sum(col("l_extendedprice").cast("decimal(18,2)") * col("l_discount").cast("decimal(18,2)"))
            .cast("double").as("revenue"),
          count(lit(1)).as("n_rows"))
    }),

    // parsedate round-trip (Ops.parsedate) + date parts
    "q05_dates" -> ((s, dir) => {
      val o = t(s, dir, "orders")
        .withColumn("ds", date_format(col("o_orderdate"), "yyyy-MM-dd"))
      Ops.parsedate(o, Seq("ds"), "yyyy-MM-dd")
        .groupBy(year(col("ds")).as("yr"))
        .agg(count(lit(1)).as("n"),
          min(date_format(col("ds"), "yyyy-MM-dd")).as("min_d"),
          max(date_format(col("ds"), "yyyy-MM-dd")).as("max_d"))
    }),

    // unfold / explode (Ops.unfold)
    "q06_unfold" -> ((s, dir) => {
      val p = t(s, dir, "part").withColumn("tok", split(col("p_type"), " "))
      Ops.unfold(p, "tok")
        .groupBy(col("tok")).agg(count(lit(1)).as("n"))
    }),

    // nest → unnest round trip (Ops.nest / Ops.unnest)
    "q07_nest" -> ((s, dir) => {
      val base = t(s, dir, "part").select("p_partkey", "p_brand", "p_size")
      val nested = Ops.nest(base, Seq("p_partkey", "p_brand", "p_size"), "nested")
      val schema = StructType(Seq(
        StructField("p_partkey", LongType),
        StructField("p_brand", StringType),
        StructField("p_size", IntegerType)))
      Ops.unnest(nested.withColumn("j", col("nested")), "j", schema)
        .select("p_partkey", "p_brand", "p_size", "nested")
    }),

    // to_integer / to_float / fillna (Ops.toInteger/toFloat/fillna)
    "q08_casts" -> ((s, dir) => {
      val p = t(s, dir, "part")
        .withColumn("si",
          when(col("p_partkey") % 7 === 0, concat(lit("x"), col("p_size").cast("string")))
            .otherwise(col("p_size").cast("string")))
        .withColumn("sf",
          when(col("p_partkey") % 5 === 0, lit(""))
            .otherwise(col("p_retailprice").cast("string")))
      val cast1 = Ops.toInteger(p, Seq("si"))
      val cast2 = Ops.toFloat(cast1, Seq("sf"), naValue = Some(0.5))
      Ops.fillna(cast2, Map("si" -> -1L))
        .select(col("p_partkey"), col("si").as("i"), col("sf").as("f"))
    }),

    // normalize + replace chains (Ops.normalize / Ops.replace)
    "q09_normalize" -> ((s, dir) => {
      val c = t(s, dir, "customer")
        .withColumn("decorated", concat(lit("Héllo, "), col("c_name"), lit("!")))
      val norm = Ops.normalize(c, Seq("decorated"))
      Ops.replace(norm, Seq("decorated"), Seq("0+" -> "0", "customer" -> "cust"))
        .select("c_custkey", "decorated")
    }),

    // left join + fillna-on-missing (Joins.strictJoin + Ops.fillna)
    "q10_fillna_join" -> ((s, dir) => {
      val agg = t(s, dir, "orders").groupBy(col("o_custkey"))
        .agg(count(lit(1)).as("n_orders"), dsum(col("o_totalprice")).as("sum_total"))
      val joined = Joins.strictJoin(t(s, dir, "customer"), agg,
        keys = Map("c_custkey" -> "o_custkey"),
        select = Map("n_orders" -> "n_orders", "sum_total" -> "sum_total"),
        broadcastRight = false)
      Ops.fillna(joined, Map("n_orders" -> 0L, "sum_total" -> 0.0))
        .select("c_custkey", "c_name", "n_orders", "sum_total")
    }),

    // groupby.transform — windowed agg broadcast back (GroupByOp.transformAgg)
    "q11_transform" -> ((s, dir) => {
      val li = t(s, dir, "lineitem")
        .withColumn("qd", col("l_quantity").cast("decimal(18,2)"))
      GroupByOp.transformAgg(li, Seq("l_orderkey"), Seq(("qd", "sum")))
        .select(col("l_orderkey"), col("l_linenumber"),
          col("qd_sum").cast("double").as("qty_sum"))
    }),

    // rank within group on doubles (GroupByOp.rank)
    "q12_rank_group" -> ((s, dir) => {
      GroupByOp.rank(t(s, dir, "supplier"), Seq("s_nationkey"), Seq("s_acctbal"))
        .select("s_suppkey", "s_nationkey", "s_acctbal", "s_acctbal_rank")
    }),

    // fuzzy join via deletion-neighborhood matcher (Joins.fuzzyJoin)
    "q13_fuzzy_join" -> ((s, dir) => {
      val n = t(s, dir, "nation")
      val typos = n.filter(length(col("n_name")) > 4)
        .select(col("n_nationkey").as("qkey"),
          concat(substring(col("n_name"), 1, 2), expr("substring(n_name, 4)")).as("qname"))
      Joins.fuzzyJoin(typos, n,
          fuzzy = Map("qname" -> "n_name"),
          select = Map("n_nationkey" -> "matched_key"))
        .select("qkey", "qname", "qname_match", "matched_key")
    }),

    // connected components (ConnectedComponents.run — the clique op core)
    "q14_components" -> ((s, dir) => {
      val n = t(s, dir, "nation")
      val edges = n.select(col("n_nationkey").cast("long").as("src"),
        (col("n_regionkey") + 1000).cast("long").as("dst"))
      ConnectedComponents.run(edges)
    }),

    // geopoint parse + haversine distance (Tools.geopoint/haversineKm)
    "q15_geo" -> ((s, dir) => {
      val sup = t(s, dir, "supplier").withColumn("wkt",
        concat(lit("POINT("), ((col("s_suppkey") % 360) - 180).cast("string"), lit(".5 "),
          ((col("s_suppkey") % 170) - 85).cast("string"), lit(".25)")))
      sup.withColumn("pt", Tools.geopoint(col("wkt")))
        .select(col("s_suppkey"), col("pt.lat").as("lat"), col("pt.lon").as("lon"),
          Tools.haversineKm(col("pt.lat"), col("pt.lon"),
            lit(48.8566), lit(2.3522)).as("dist_km"))
    }),

    // eval-style scoring expression: levenshtein_norm + conditional bands
    "q16_score" -> ((s, dir) => {
      val c = t(s, dir, "customer").withColumn("k", col("c_custkey") % 100)
      val sup = t(s, dir, "supplier").withColumn("k", col("s_suppkey") % 100)
      c.join(broadcast(sup), "k")
        .withColumn("score_lev", Similarity.levNorm(col("c_name"), col("s_name")))
        .withColumn("band",
          when(col("score_lev") >= 0.6, lit("high"))
            .when(col("score_lev") >= 0.4, lit("mid"))
            .otherwise(lit("low")))
        .select("c_custkey", "s_suppkey", "score_lev", "band")
    }),

    // char n-grams (Tools.charNgrams / Ops.ngram)
    "q17_ngram" -> ((s, dir) => {
      t(s, dir, "part")
        .select(explode(Tools.charNgrams(col("p_brand"), 2)).as("gram"))
        .groupBy(col("gram")).agg(count(lit(1)).as("n"))
    }),

    // event-time tumbling window agg (batch analog of a streaming window)
    "q18_events_window" -> ((s, dir) => {
      val ev = t(s, dir, "events")
      ev.withColumn("tsv", Tables.eventTsStamp(ev))
        .groupBy(date_trunc("hour", col("tsv")).cast("timestamp_ntz").as("hr"),
          col("event_type"))
        .agg(count(lit(1)).as("n"), dsum(col("value")).as("sum_value"))
    }),

    // lag window / per-user ordering (sessionize primitive); ts compared
    // at microsecond precision (DuckDB truncates TIMESTAMP_NS on read)
    "q19_events_lag" -> ((s, dir) => {
      val ev = t(s, dir, "events")
      val e = ev.withColumn("ts_us", Tables.eventTsUs(ev))
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("user_id")).orderBy(col("ts_us"), col("event_id"))
      e.withColumn("delta", col("value") - lag(col("value"), 1).over(w))
        .select("event_id", "user_id", "ts_us", "delta")
    }),

    // exact dedup groups (Dedup.exactGroups)
    "q20_dedup_exact" -> ((s, dir) =>
      Dedup.exactGroups(t(s, dir, "documents"), "doc_id", "text")),

    // fingerprint dedup key (Dedup.fingerprint)
    "q21_fingerprint" -> ((s, dir) => {
      t(s, dir, "documents")
        .select(col("doc_id"), Dedup.fingerprint(col("text")).as("fp"))
    }),

    // text quality stats (TextAnalysis) incl. stopword ratio + composite
    // quality score
    "q22_text_stats" -> ((s, dir) => {
      val d = t(s, dir, "documents")
      val en = TextAnalysis.stopwords("en")
      d.select(col("doc_id"),
        TextAnalysis.tokenCount(col("text")).as("n_tok"),
        round(TextAnalysis.punctRatio(col("text")), 4).as("punct_ratio"),
        round(TextAnalysis.upperRatio(col("text")), 4).as("upper_ratio"),
        round(TextAnalysis.meanWordLen(col("text")), 4).as("mean_word_len"),
        round(TextAnalysis.stopwordRatio(col("text"), en), 4).as("sw_ratio"),
        TextAnalysis.qualityScore(col("text"), en).as("quality"))
    }),

    // language-ID heuristic vs labeled lang (TextAnalysis.langId)
    "q23_langid" -> ((s, dir) => {
      t(s, dir, "documents")
        .select(col("doc_id"), TextAnalysis.langId(col("text")).as("pred_lang"),
          col("lang"))
    }),

    // n-gram Jaccard near-dup pairs within blocks (Dedup.ngramJaccardPairs)
    // (rebalanced like q96/q98: the gram kernel — normalize + charNgrams
    // + xxhash64 + sort per doc — is scan-level row-local work, and the
    // gate table is ONE unsplittable file = one core without it; no-op
    // on real multi-file corpora. r15 A/B at sf0.1: 3.57 → measured
    // below in OPTIMIZATION_r15.md)
    "q24_jaccard_pairs" -> ((s, dir) =>
      Dedup.ngramJaccardPairs(
        graft.operators.Ops.rebalance(t(s, dir, "documents")),
        "doc_id", "text", blockCol = "source", n = 3, threshold = 0.8)),

    // word-shingle CONTAINMENT pairs (Dedup.containmentPairs): the
    // subset-duplication detector — |A∩B| / min set size in exact
    // basis points over 3-word shingles (the minhash unit — the
    // document-scale gram universe; ContainBench records why char
    // grams degenerate past ~10³-doc blocks). The plant: a long
    // template (id % 50 = 0) and its literal PREFIX (id % 50 = 7), so
    // every same-source (prefix, template) pair sits at containment
    // 10⁴ while its Jaccard is far below any near-dup threshold —
    // exactly the asymmetric class q24/q26 structurally miss. At 9000
    // bp the output is the planted pairs + the corpus's real exact-dup
    // groups (measured: everything else sits below 2000 bp).
    "q112_containment_pairs" -> ((s, dir) => {
      val id = col("doc_id")
      val doc = t(s, dir, "documents")
        .withColumn("text",
        when(id % 50 === 0, lit("alpha beta gamma delta epsilon zeta eta " +
          "theta iota kappa lambda mu nu xi omicron pi"))
          .when(id % 50 === 7, lit("alpha beta gamma delta epsilon zeta"))
          .otherwise(col("text")))
      Dedup.containmentPairs(doc, "doc_id", "text", blockCol = "source",
        n = 3, thresholdBp = 9000L)
    }),

    // brute-force cosine top-k ANN (Ann.bruteForceTopK)
    "q25_ann_topk" -> ((s, dir) => {
      val e = t(s, dir, "embeddings")
      Ann.bruteForceTopK(e.filter(col("vec_id") % 100 === 0), e,
        "vec_id", "embedding", "vec_id", "embedding", k = 10)
    }),

    // int8 scalar-quantized ANN (Ann.int8Params → quantizeInt8 →
    // quantizedTopK): the 4× memory cut for 100-TB embedding scans.
    // Same probe carve as q25; ranking is the exact integer grid
    // distance, so every quantized coordinate AND every d2q replays in
    // DuckDB (params, quantization, exhaustive rank re-derived from
    // the float embeddings from scratch).
    "q113_ann_quantized" -> ((s, dir) => {
      val e = t(s, dir, "embeddings")
      val qe = Ann.quantizeInt8(e, "embedding", Ann.int8Params(e, "embedding"))
      Ann.quantizedTopK(qe.filter(col("vec_id") % 100 === 0), qe,
        "vec_id", "qvec", "vec_id", "qvec", k = 10)
    }),

    // IVF index BUILD alone (Ann.writeIvfIndex): k-means fit + the
    // hive-partitioned cell-layout write. Split from the probe so the
    // bench tracks each side of the build-once/query-many trade
    // separately — at 100 TB the build amortizes over every later
    // query batch, so folding it into the probe number (as rounds ≤ 7
    // did) overstated the steady-state query cost ~2×. Since the fit
    // moved to quantized-integer Lloyd's (Cluster.fitCentroids — seeded
    // md5 init, integer argmin, floor-division updates), the PERSISTED
    // layout is fully oracle-replayable: the DuckDB side unrolls the
    // same 4 iterations as CTE blocks (kmeansOracleCtes) and re-derives
    // each cell's row count and the integer centroid norm Σqc². Scalar
    // columns only — the driver harness canonicalizes frames through
    // pandas sort_values, which cannot hash an array cell (r8's one
    // red row); the full per-coordinate centroid table is q74's job.
    "q60_ann_ivf_build" -> ((s, dir) =>
      ivfBuildLine(s, dir, "q60", nlist = 16, Ann.IvfLayout.Float)),

    // the three persisted quantized builds as their own gate + bench
    // lines (round-12 verdict #2: r11 mixed these one-time builds into
    // the probe sample streams). Each rebuilds its layout
    // unconditionally — Bench times the build here, and marking
    // idxBuilt makes every later probe sample pure probe. The returned
    // summary is the cell LAYOUT (per-cell row counts + integer
    // centroid norms): the coarse geometry is the quantized-integer
    // k-means shared across all three layouts, so the oracle is
    // q60_ann_ivf_build's replay at the matching nlist.
    "q116_ann_ivf_quantized_build" -> ((s, dir) =>
      ivfBuildLine(s, dir, "q116", nlist = 16, Ann.IvfLayout.Sq8)),

    "q122_ann_ivf_pq_build" -> ((s, dir) =>
      ivfBuildLine(s, dir, "q122", nlist = 16, Ann.IvfLayout.Pq(4, 8))),

    "q125_ann_ivf_pqr_build" -> ((s, dir) =>
      ivfBuildLine(s, dir, "q125", nlist = 8, Ann.IvfLayout.PqResidual(4, 8))),

    // IVF ANN over a PERSISTED index (Ann.writeIvfIndex + ivfIndexTopKAuto)
    // — the 100-TB scale path: k-means cell layout, hive-partitioned
    // write, partition-pruned probe read. nprobe = nlist makes probing
    // exhaustive, hence EXACT: the result hash-matches the same oracle
    // as q25 while the full index round trip (build → write → pruned
    // query) runs in the driver gate, not just in specs. The build runs
    // on this JVM's first q60 touch — normally q60_ann_ivf_build, which
    // Bench sequences first, so EVERY probe run here times the probe
    // alone (the steady-state number).
    "q60_ann_ivf" -> ((s, dir) => {
      val idx = idxDir("q60", dir)
      val e = t(s, dir, "embeddings")
      // skip the rebuild only when THIS JVM built the index (idxBuilt
      // scaladoc: trusting a leftover on-disk dir would probe stale or
      // half-written state after a pid recycle or a crashed build)
      buildOnce(idx) {
        Ann.writeIvfIndex(e, "vec_id", "embedding", idx, nlist = 16)
      }
      probeIvf(s, idx, e)
    }),

    // int8-quantized persisted IVF (the FAISS-IVF-SQ8 configuration):
    // cells store GRIDS (the QuantBench 3.8× scan cut applied to the
    // pruned cell reads), the codebook persists as the index's third
    // table, probes quantize the queries under it and rank by the
    // exact integer grid distance. nprobe = nlist → exhaustive → must
    // reproduce q113's brute-force quantized answer — the q25 ≡ q60
    // discipline on the quantized pair, under q113's oracle verbatim.
    // Build-once guard per JVM (the q60 contract).
    "q116_ann_ivf_quantized" -> ((s, dir) => {
      val idx = idxDir("q116", dir)
      val e = t(s, dir, "embeddings")
      buildOnce(idx) {
        Ann.writeIvfIndex(e, "vec_id", "embedding", idx, nlist = 16,
          layout = Ann.IvfLayout.Sq8)
      }
      probeIvf(s, idx, e)
    }),

    // product-quantized ANN (Ann.pqTopK — the FAISS-PQ train/encode/ADC
    // pipeline, Jégou et al. 2011): the 64 dims split into m=4
    // subspaces, each with a ksub=8 integer-k-means codebook; corpus
    // rows store 4 one-byte codes (32× smaller than the floats at the
    // library default m=8), queries rank by the exact integer ADC
    // distance. Same probe carve as q25/q113; every codebook
    // coordinate, code, and ADC sum replays in DuckDB from the float
    // embeddings (per-subspace k-means CTE towers — the q74 pattern —
    // then assignment + lookup joins).
    "q121_ann_pq" -> ((s, dir) => {
      val e = t(s, dir, "embeddings")
      Ann.pqTopK(e.filter(col("vec_id") % 100 === 0), e,
        "vec_id", "embedding", "vec_id", "embedding",
        k = 10, m = 4, ksub = 8)
    }),

    // persisted IVF-PQ (the FAISS-IVFPQ configuration): coarse cells
    // partition-prune the scan AND the cells store m-byte codes — the
    // two compressions multiply. nprobe = nlist → exhaustive → must
    // reproduce q121's brute-force PQ answer under q121's oracle
    // VERBATIM (the q25 ≡ q60 / q113 ≡ q116 discipline). Build-once
    // guard per JVM (the q60 contract).
    "q122_ann_ivf_pq" -> ((s, dir) => {
      val idx = idxDir("q122", dir)
      val e = t(s, dir, "embeddings")
      buildOnce(idx) {
        Ann.writeIvfIndex(e, "vec_id", "embedding", idx, nlist = 16,
          layout = Ann.IvfLayout.Pq(4, 8))
      }
      probeIvf(s, idx, e)
    }),

    // RESIDUAL IVF-PQ (the true FAISS-IVFPQ train step, Jégou et al.
    // §IV): PQ codebooks fit on — and codes encode — the integer
    // residuals qv − qc[cell], so the codeword budget spends itself on
    // within-cell structure. Exhaustive probe (nprobe = nlist); the
    // oracle replays the ENTIRE pipeline from the floats: coarse
    // k-means tower → fresh final assignment → residuals →
    // per-subspace residual towers → codes → per-(query, cell) ADC
    // grids, every step exact long arithmetic. Build-once per JVM.
    "q125_ann_ivf_pqr" -> ((s, dir) => {
      val idx = idxDir("q125", dir)
      val e = t(s, dir, "embeddings")
      buildOnce(idx) {
        Ann.writeIvfIndex(e, "vec_id", "embedding", idx, nlist = 8,
          layout = Ann.IvfLayout.PqResidual(4, 8))
      }
      probeIvf(s, idx, e, nprobe = 8)
    }),

    // STREAMING ANN probe (EventStream.annProbeStream, round-12
    // verdict #5 — the ingest router's embedding modality): the query
    // carve arrives as a bounded parquet STREAM and every micro-batch
    // runs the manifest-dispatched batch probe verbatim against q60's
    // persisted float index, hits appended to a scratch sink and read
    // back. Exhaustive probe (nprobe = nlist) over the full corpus →
    // the result must be q25/q60's brute-force answer — batch ≡ stream
    // by construction (the q108 gate's shape, lifted to embeddings).
    // Sink + checkpoint clear per invocation: a leftover checkpoint
    // would mark the input already-processed (a second Bench run would
    // read an empty delta and probe nothing); the per-epoch sink dirs
    // go with it so the read-back never mixes two invocations.
    "q127_stream_ann_probe" -> ((s, dir) => {
      import graft.streaming.EventStream
      val idx = idxDir("q60", dir)
      val e = t(s, dir, "embeddings")
      buildOnce(idx) {
        Ann.writeIvfIndex(e, "vec_id", "embedding", idx, nlist = 16)
      }
      val out = scratchDir("graft-annstream-out", tag = dir)
      val ckpt = scratchDir("graft-annstream-ckpt", tag = dir)
      Seq(out, ckpt).foreach { p =>
        val hp = new org.apache.hadoop.fs.Path(p)
        hp.getFileSystem(s.sparkContext.hadoopConfiguration).delete(hp, true)
      }
      val schema = s.read.parquet(s"$dir/embeddings.parquet").schema
      val stream = s.readStream.schema(schema)
        .option("pathGlobFilter", "embeddings.parquet").parquet(dir)
      val q = EventStream.annProbeStream(
        stream.filter(col("vec_id") % 100 === 0), idx,
        "vec_id", "embedding", k = 10, nprobe = 16,
        outPath = out, checkpoint = ckpt)
      q.processAllAvailable(); q.stop()
      // the sink is one overwritten subdirectory per epoch (replay
      // idempotency — the annProbeStream contract), not a flat dir
      s.read.option("recursiveFileLookup", "true").parquet(out)
    }),

    // INCREMENTAL IVF (Ann.appendIvfIndex, round-12 verdict #3 — the
    // one r11 operator that was spec-only): build the float index on
    // the EVEN half of the corpus, append the odd half through the
    // RecipeConf YAML ann_index append mode (so the gate exercises the
    // recipe sink routing + the declared-geometry drift cross-check,
    // not just the library call), then probe exhaustively. For the
    // FLOAT layout the cells only partition — scoring reads true
    // vectors — so append ≡ rebuild EXACTLY and the exhaustive probe
    // must reproduce the brute-force cosine answer over the union:
    // q25/q60's oracle verbatim, by construction. Build-once guard per
    // JVM (the q60 contract); the append batch stages through a
    // pid-scoped scratch parquet (the YAML dataset needs a path).
    "q126_ann_ivf_append" -> ((s, dir) => {
      val idx = idxDir("q126", dir)
      val e = t(s, dir, "embeddings")
      buildOnce(idx) {
        Ann.writeIvfIndex(e.filter(col("vec_id") % 2 === 0),
          "vec_id", "embedding", idx, nlist = 16)
        yamlAppendOddHalf(s, e, idx, "graft-ivfapp-batch", dir,
          """id: vec_id, vec: embedding, nlist: "16", quantize: "false"""")
      }
      probeIvf(s, idx, e)
    }),

    // INCREMENTAL QUANTIZED IVF (round-13 verdict #2 — q126 gated only
    // the float append, where cells merely partition; the SQ8 path is
    // where geometry drift would corrupt results): build the SQ8 index
    // on the EVEN half — so the int8 grid (params) is fit on the even
    // half ALONE — then YAML-append the odd half, which must encode
    // under that STORED grid (Ann.appendIvfIndex on the SQ8 layout; the drift
    // cross-check sees quantize='sq8' match the manifest). The
    // exhaustive probe then equals brute-force integer-grid ranking
    // over the union WITH every vector quantized under the even-half
    // params — q113's oracle with its params CTE restricted to even
    // ids (the one place append ≢ rebuild: a rebuild would refit the
    // grid on the union; the append contract is comparability under
    // the original geometry, FAISS's add-to-trained-index semantics,
    // and the oracle pins exactly that).
    "q129_ann_ivf_append_sq8" -> ((s, dir) => {
      val idx = idxDir("q129", dir)
      val e = t(s, dir, "embeddings")
      buildOnce(idx) {
        Ann.writeIvfIndex(e.filter(col("vec_id") % 2 === 0),
          "vec_id", "embedding", idx, nlist = 16, layout = Ann.IvfLayout.Sq8)
        yamlAppendOddHalf(s, e, idx, "graft-ivfappq-batch", dir,
          """id: vec_id, vec: embedding, nlist: "16", quantize: "sq8"""")
      }
      probeIvf(s, idx, e)
    }),

    // STREAMING IVF append (EventStream.appendIvfIndexStream — round
    // 13's ingest-loop closer): the index is built on the EVEN half,
    // the odd half ARRIVES AS A STREAM and each micro-batch encodes
    // under the STORED geometry (the shared encodeUnderStoredGeometry,
    // so stream and batch append cannot drift) into the index's
    // epoch-partitioned stream/ table — replay-idempotent by dynamic
    // epoch-partition overwrite. The exhaustive probe reads built ∪
    // streamed (the probe unions them, both sides cell-pruned), and for
    // the FLOAT layout cells only partition — so the answer is
    // q25/q60/q126's brute-force oracle over the union, by
    // construction. Dir + checkpoint wiped before the build (a
    // pid-recycled leftover stream/ table would double rows).
    "q131_ann_ivf_stream_append" -> ((s, dir) => {
      val idx = idxDir("q131", dir)
      buildOnce(idx) {
        buildHalfStreamRest(s, dir, idx, "graft-ivfstr-ckpt")
      }
      probeIvf(s, idx, t(s, dir, "embeddings"))
    }),

    // INDEX COMPACTION driver-gated (q131 gates the still-streaming
    // union read; this gates the maintenance step that FOLDS it):
    // q131's accumulation history replayed — build on the even half,
    // stream the odd half into the epoch-partitioned stream/ table —
    // then the YAML `ann_index` compact mode folds the epochs into the
    // main cell-partitioned table. The query body then REQUIRES the
    // stream/ table is actually gone (a compaction that silently
    // no-ops would still pass the probe — the union read hides it),
    // and probes exhaustively: float cells only partition, so the
    // post-fold answer is q25/q60/q126/q131's brute-force oracle.
    // Fold-preserves-the-answer and fold-actually-folds, both at the
    // driver gate. No bench line: the steady-state cost of probing a
    // compacted index IS q60's single-table probe (SCALE.md records
    // the ~3% union overhead this step removes).
    "q132_ann_ivf_compact" -> ((s, dir) => {
      val idx = idxDir("q132", dir)
      val e = t(s, dir, "embeddings")
      buildOnce(idx) {
        buildHalfStreamRest(s, dir, idx, "graft-ivfcmp-ckpt")
        val conf = graft.conf.RecipeConf.load(
          s"""datasets:
             |  emb: {path: $dir/embeddings.parquet, format: parquet}
             |  idxw: {path: $idx, format: ann_index}
             |recipes:
             |  cmp: {input: emb, steps: [], output: idxw}
             |""".stripMargin)
        graft.conf.RecipeConf.run(s, conf, "cmp", mode = "compact")
        // fold-actually-folds: the watermark certifies the epochs are
        // banked; their dirs linger ONE fold cycle (probe grace) and
        // the second compact's entry collection must remove them
        require(Ann.readManifest(s, idx).exists(_.streamMarks.nonEmpty),
          "q132: the fold recorded no stream watermark — it no-opped")
        graft.conf.RecipeConf.run(s, conf, "cmp", mode = "compact")
        val sp = new org.apache.hadoop.fs.Path(s"$idx/stream")
        require(!sp.getFileSystem(s.sparkContext.hadoopConfiguration)
          .exists(sp),
          s"q132: compaction left the stream/ table behind at $sp — " +
            "the grace collection silently no-opped")
      }
      probeIvf(s, idx, e)
    }),

    // INCREMENTAL PQ IVF (q126 gated the float append, q129 the SQ8
    // grid — this gates the PQ layout's append encode, which
    // neither reaches): the per-subspace codebooks fit on the EVEN
    // half ALONE, the YAML-appended odd half must encode under those
    // STORED codebooks (an append never refits). The exhaustive probe
    // equals brute-force ADC ranking over the union with the towers
    // trained on even ids only — q121's oracle with trainPred
    // restricting exactly the training CTEs (plain-PQ cells only
    // partition, so the coarse layout needs no oracle model).
    "q133_ann_ivf_append_pq" -> ((s, dir) => {
      val idx = idxDir("q133", dir)
      val e = t(s, dir, "embeddings")
      buildOnce(idx) {
        Ann.writeIvfIndex(e.filter(col("vec_id") % 2 === 0),
          "vec_id", "embedding", idx, nlist = 16,
          layout = Ann.IvfLayout.Pq(4, 8))
        yamlAppendOddHalf(s, e, idx, "graft-ivfapppq-batch", dir,
          """id: vec_id, vec: embedding, nlist: "16",
            |      quantize: "pq", pq_m: "4", pq_ksub: "8"""".stripMargin)
      }
      probeIvf(s, idx, e)
    }),

    // INCREMENTAL RESIDUAL-PQ IVF — the deepest append path: the
    // appended batch assigns under the STORED coarse centroids AND
    // encodes its residuals (qv − qc[cell]) under the STORED residual
    // codebooks (the residual layout's encode — the one
    // with TWO stored geometries to drift). Oracle = q125's full
    // residual replay with the coarse tower and every residual
    // subspace tower trained on even ids alone, while the final
    // assignment, residuals, codes and ADC ranking cover the union.
    "q134_ann_ivf_append_pqr" -> ((s, dir) => {
      val idx = idxDir("q134", dir)
      val e = t(s, dir, "embeddings")
      buildOnce(idx) {
        Ann.writeIvfIndex(e.filter(col("vec_id") % 2 === 0),
          "vec_id", "embedding", idx, nlist = 8,
          layout = Ann.IvfLayout.PqResidual(4, 8))
        yamlAppendOddHalf(s, e, idx, "graft-ivfapppqr-batch", dir,
          """id: vec_id, vec: embedding, nlist: "8",
            |      quantize: "pqr", pq_m: "4", pq_ksub: "8"""".stripMargin)
      }
      probeIvf(s, idx, e, nprobe = 8)
    }),

    // SQ8 STREAM append (round-14 verdict #4 — the (SQ8, stream) cell
    // was spec-only): the int8 grid fits on the EVEN half ALONE, the
    // odd half ARRIVES AS A STREAM and every micro-batch must
    // quantize under that STORED grid (the SQ8 layout's encode
    // through the epoch sink). The exhaustive probe equals
    // brute-force integer-grid ranking over the union with everything
    // on the even-half params — q129's oracle VERBATIM: stream append
    // ≡ batch append on the quantized layout, by shared-core
    // construction, now pinned at the driver gate.
    "q135_ann_ivf_stream_sq8" -> ((s, dir) => {
      val idx = idxDir("q135", dir)
      buildOnce(idx) {
        buildHalfStreamRest(s, dir, idx, "graft-ivfstrq-ckpt",
          layout = Ann.IvfLayout.Sq8)
      }
      probeIvf(s, idx, t(s, dir, "embeddings"))
    }),

    // DELETE — the takedown verb at the driver gate (round-14 verdict
    // #2): q126's build-on-half + YAML-append history, then every
    // vec_id % 7 = 3 is tombstoned through the YAML ann_index DELETE
    // mode. The exhaustive probe must answer brute-force cosine over
    // the corpus MINUS the deleted ids while the tombstoned rows
    // PHYSICALLY remain in the cell partitions (the pre-compaction
    // state — the probe-side broadcast anti-join is what's under
    // test; the fold's purge is spec-pinned in GraphDedupSpec).
    // Queries keep the FULL %100 set: a takedown removes index rows,
    // never the caller's queries.
    "q136_ann_ivf_delete" -> ((s, dir) => {
      val idx = idxDir("q136", dir)
      val e = t(s, dir, "embeddings")
      buildOnce(idx) {
        Ann.writeIvfIndex(e.filter(col("vec_id") % 2 === 0),
          "vec_id", "embedding", idx, nlist = 16)
        yamlAppendOddHalf(s, e, idx, "graft-ivfdel-batch", dir,
          """id: vec_id, vec: embedding, nlist: "16", quantize: "false"""")
        // stage the takedown list and route it through the YAML
        // delete mode (the recipe sink routing, not just the library
        // call — the append-gate discipline)
        val delPath = scratchDir("graft-ivfdel-ids", tag = dir)
        e.filter(col("vec_id") % 7 === 3).select("vec_id")
          .write.mode("overwrite").parquet(delPath)
        val conf = graft.conf.RecipeConf.load(
          s"""datasets:
             |  ids: {path: $delPath, format: parquet}
             |  idxw:
             |    path: $idx
             |    format: ann_index
             |    options: {id: vec_id}
             |recipes:
             |  del: {input: ids, steps: [], output: idxw}
             |""".stripMargin)
        graft.conf.RecipeConf.run(s, conf, "del", mode = "delete")
      }
      probeIvf(s, idx, e)
    }),

    // band-index APPEND (extend-don't-re-sign — appendToNearDupIndex):
    // the index is built WITHOUT the corpus's template holders under a
    // non-default signature (60 hashes × 10 bands), and the holders
    // arrive via the YAML neardup_index APPEND mode, signed under the
    // manifest's STORED parameters. Probe ≡ q107's oracle VERBATIM:
    // every expected hit crosses the build/append boundary, so an
    // append that no-ops, or re-signs under 64/16 defaults (six-row
    // vs four-row band slices — zero bucket alignment), zeroes every
    // verdict and fails the hash.
    "q137_neardup_index_append" -> ((s, dir) => {
      val idx = idxDir("q137", dir)
      buildOnce(idx) {
        val (_, corpus) = nearDupFixture(s, dir)
        Dedup.writeNearDupIndex(
          corpus.filter(col("doc_id") % 10 =!= 2), "doc_id", "text",
          idx, shingleSize = 3, numHashes = 60, bands = 10)
        val batchPath = scratchDir("graft-neardupapp-batch", tag = dir)
        corpus.filter(col("doc_id") % 10 === 2)
          .write.mode("overwrite").parquet(batchPath)
        // through the YAML append mode, with the signature DECLARED on
        // the dataset block — the drift cross-check must accept it
        val conf = graft.conf.RecipeConf.load(
          s"""datasets:
             |  batch: {path: $batchPath, format: parquet}
             |  idxw:
             |    path: $idx
             |    format: neardup_index
             |    options: {id: doc_id, text: text, num_hashes: "60", bands: "10"}
             |recipes:
             |  app: {input: batch, steps: [], output: idxw}
             |""".stripMargin)
        graft.conf.RecipeConf.run(s, conf, "app", mode = "append")
      }
      val (batch, _) = nearDupFixture(s, dir)
      Dedup.incrementalNearDupsIndexed(batch, idx, "doc_id", "text",
        threshold = 0.6)
    }),

    // band-index TAKEDOWN + COMPACT, driven through the CASCADING
    // takedown verb (one id frame tombstones the band index AND q139's
    // document store in one YAML run) and the YAML compact fold. The
    // body REQUIRES deletes/ gone — with no tombstone table the probe
    // runs WITHOUT its anti-join, so a fold that failed to purge (the
    // removed template holders would resurface and RAISE the dup
    // counts) or purged wrong files (surviving holders vanish) fails
    // the hash directly.
    "q138_neardup_takedown_compact" -> ((s, dir) => {
      val (bandIdx, _) = ensureTakedownArtifacts(s, dir)
      requireTombstonesConsumed(s, bandIdx, "q138_neardup_takedown_compact")
      val (batch, _) = nearDupFixture(s, dir)
      Dedup.incrementalNearDupsIndexed(batch, bandIdx, "doc_id", "text",
        threshold = 0.6)
    }),

    // document-store LIFECYCLE (build even → YAML-append odd → the
    // same cascading takedown → YAML compact): read back docs ∪
    // postings through the tombstone-aware reader and report each
    // surviving doc's distinct-token count. Deletes/ is REQUIRED gone
    // (same contract as q138), so the raw post-purge tables answer —
    // a resurrected doc, a lost appended doc, or postings purged out
    // of step with docs all fail the hash.
    "q139_docindex_lifecycle" -> ((s, dir) => {
      val (_, docIdx) = ensureTakedownArtifacts(s, dir)
      requireTombstonesConsumed(s, docIdx, "q139_docindex_lifecycle")
      val Seq(docs, posts) = graft.sources.Sources.indexedTables(
        s, docIdx, Seq("docs", "postings"))
      val cnt = posts.groupBy("_id").agg(count(lit(1)).as("n_tokens"))
      docs.join(cnt, Seq("_id"), "left")
        .select(col("_id").as("doc_id"), col("lang"),
          coalesce(col("n_tokens"), lit(0L)).as("n_tokens"))
    }),

    // band-index STREAM append (q131's sibling for the dedup corpus):
    // q137's build/append split, but the template holders arrive
    // through a REAL file-source streaming query — signed in-stream
    // under the manifest's STORED signature, landed in epoch-
    // partitioned stream tables, and probed through the main ∪
    // streamed union reader with NO fold in between. Probe ≡ q107's
    // oracle VERBATIM: a stream that no-ops, signs under defaults, or
    // whose epochs the union misses zeroes every verdict.
    "q140_neardup_stream_append" -> ((s, dir) => {
      val idx = idxDir("q140", dir)
      buildOnce(idx) {
        val ckpt = scratchDir("graft-neardupstr-ckpt", tag = dir)
        Seq(idx, ckpt).foreach { p =>
          val hp = new org.apache.hadoop.fs.Path(p)
          hp.getFileSystem(s.sparkContext.hadoopConfiguration)
            .delete(hp, true)
        }
        val (_, corpus) = nearDupFixture(s, dir)
        Dedup.writeNearDupIndex(
          corpus.filter(col("doc_id") % 10 =!= 2), "doc_id", "text",
          idx, shingleSize = 3, numHashes = 60, bands = 10)
        val schema = s.read.parquet(s"$dir/documents.parquet").schema
        val stream = s.readStream.schema(schema)
          .option("pathGlobFilter", "documents.parquet").parquet(dir)
        val id = col("doc_id")
        val holders = stream.filter(id % 4 =!= 1 && id % 10 === 2)
          .withColumn("text", lit(nearDupTpl)).select("doc_id", "text")
        val q = graft.streaming.EventStream.appendNearDupIndexStream(
          holders, idx, "doc_id", "text", checkpoint = ckpt)
        q.processAllAvailable(); q.stop()
      }
      val (batch, _) = nearDupFixture(s, dir)
      Dedup.incrementalNearDupsIndexed(batch, idx, "doc_id", "text",
        threshold = 0.6)
    }),

    // SELF-GROWING streaming dedup gate — admit AND remember: the
    // index starts WITHOUT any template holder, the BATCH side streams
    // through nearDupAdmitStream (vs-index drop → within-batch
    // near-dedup under the stored signature → admitted docs appended
    // to the index in the same micro-batch), and the result re-probes
    // the batch against the GROWN index. The oracle replays all three
    // stages: exhaustive vs-index pairs, connected-components keep-min
    // within the survivors (a recursive CTE — minhashDedup's cluster
    // rule), then the verdict tower against index ∪ admitted. An
    // admit gate that admits a second template holder, forgets the
    // one it admitted, or drops a survivor fails the hash.
    "q141_neardup_admit_stream" -> ((s, dir) => {
      val idx = idxDir("q141", dir)
      buildOnce(idx) {
        val ckpt = scratchDir("graft-neardupadm-ckpt", tag = dir)
        Seq(idx, ckpt).foreach { p =>
          val hp = new org.apache.hadoop.fs.Path(p)
          hp.getFileSystem(s.sparkContext.hadoopConfiguration)
            .delete(hp, true)
        }
        val (_, corpus) = nearDupFixture(s, dir)
        Dedup.writeNearDupIndex(
          corpus.filter(col("doc_id") % 10 =!= 2), "doc_id", "text", idx)
        val schema = s.read.parquet(s"$dir/documents.parquet").schema
        val stream = s.readStream.schema(schema)
          .option("pathGlobFilter", "documents.parquet").parquet(dir)
        val arriving = nearDupStreamCarve(stream).select("doc_id", "text")
        val q = graft.streaming.EventStream.nearDupAdmitStream(
          arriving, idx, "doc_id", "text", checkpoint = ckpt)
        q.processAllAvailable(); q.stop()
      }
      val (batch, _) = nearDupFixture(s, dir)
      Dedup.incrementalNearDupsIndexed(batch, idx, "doc_id", "text",
        threshold = 0.6)
    }),

    // PQ STREAM append (r14 verdict #3 — the last driver-ungated
    // stream cell): the per-subspace codebooks fit on the EVEN half
    // ALONE, the odd half ARRIVES AS A STREAM and every micro-batch
    // must encode under those STORED codebooks (q135's scaffold with
    // the PQ build — the PQ layout's encode through
    // the epoch sink). The exhaustive probe equals brute-force ADC
    // ranking over the union with the towers trained on even ids
    // only — q133's oracle VERBATIM: stream append ≡ batch append on
    // the PQ layout, by shared-encode construction, now pinned at the
    // driver gate. (PQR stream stays spec-declared: identical sink
    // path, and its oracle tower is the gate sweep's most expensive.)
    "q142_ann_ivf_stream_pq" -> ((s, dir) => {
      val idx = idxDir("q142", dir)
      buildOnce(idx) {
        buildHalfStreamRest(s, dir, idx, "graft-ivfstrpq-ckpt",
          layout = Ann.IvfLayout.Pq(4, 8))
      }
      probeIvf(s, idx, t(s, dir, "embeddings"))
    }),

    // RESIDUAL-PQ STREAM append — the deepest stream cell, completing
    // the lifecycle matrix (every layout × verb cell driver-gated):
    // coarse centroids AND residual codebooks both fit on the EVEN
    // half alone; each streamed micro-batch assigns under the stored
    // coarse grid and encodes its residuals under the stored residual
    // codebooks. Exhaustive probe ≡ q134's oracle VERBATIM (the full
    // residual replay with both towers trained on even ids).
    "q143_ann_ivf_stream_pqr" -> ((s, dir) => {
      val idx = idxDir("q143", dir)
      buildOnce(idx) {
        buildHalfStreamRest(s, dir, idx, "graft-ivfstrpqr-ckpt",
          layout = Ann.IvfLayout.PqResidual(4, 8), nlist = 8)
      }
      probeIvf(s, idx, t(s, dir, "embeddings"), nprobe = 8)
    }),

    // MinHash-LSH near-dup candidate pairs, Jaccard-verified (rows-only;
    // minhashNearDups spreads the one-file table before its signing
    // kernel itself)
    "q26_minhash_pairs" -> ((s, dir) =>
      Dedup.minhashNearDups(t(s, dir, "documents"), "doc_id", "text",
        threshold = 0.6)),

    // SimHash near-dup pairs — md5-hash variant so DuckDB can recompute
    // the 60-bit signatures bit-for-bit (murmur3 is Spark-only).
    // maxHamming=3 is the 4-band pigeonhole recall bound — banding is
    // total-recall here (enforced by a require in simhashNearDups; an
    // exhaustive-recall spec pins it against brute force)
    "q27_simhash_pairs" -> ((s, dir) =>
      Dedup.simhashNearDups(t(s, dir, "documents"), "doc_id", "text",
        maxHamming = 3, algo = "md5")),

    // embedding cosine near-dups within label blocks (Ann.cosineNearDups)
    "q28_embed_neardup" -> ((s, dir) =>
      Ann.cosineNearDups(t(s, dir, "embeddings"), "vec_id", "embedding",
        blockCol = "label", threshold = 0.3)),

    // top-k IDF match join — the ES-join replacement (MatchJoin.topK)
    "q29_match_topk" -> ((s, dir) => {
      val part = t(s, dir, "part")
        .withColumn("toks", Tools.tokenize(Tools.normalize(col("p_name"))))
      val queries = part.filter(col("p_partkey") % 17 === 0)
      MatchJoin.topK(queries.select("p_partkey", "toks"),
          part.select("p_partkey", "toks"),
          "toks", "toks", "p_partkey", "p_partkey", k = 5)
        .select(col("p_partkey"), col("hit_p_partkey"), col("hit_score"),
          col("hit_rank"), col("matchid_hit_matches_unfiltered"), col("hit_max_score"))
    }),

    // BM25-scored match join (MatchJoin.topK scoring=bm25): same
    // candidate pipeline as q29 but Okapi tf-saturation + doc-length
    // normalization, quantized per candidate row so the integer sum
    // stays bit-deterministic — the oracle replays the exact formula
    "q66_match_bm25" -> ((s, dir) => {
      val part = t(s, dir, "part")
        .withColumn("toks", Tools.tokenize(Tools.normalize(col("p_name"))))
      val queries = part.filter(col("p_partkey") % 17 === 0)
      MatchJoin.topK(queries.select("p_partkey", "toks"),
          part.select("p_partkey", "toks"),
          "toks", "toks", "p_partkey", "p_partkey", k = 5, scoring = "bm25")
        .select(col("p_partkey"), col("hit_p_partkey"), col("hit_score"),
          col("hit_rank"), col("matchid_hit_matches_unfiltered"), col("hit_max_score"))
    }),

    // raw SQL over registered views (the recipe `sql` op)
    "q30_sql" -> ((s, dir) => {
      Tables.registerAll(s, dir)
      s.sql(
        """SELECT o_orderkey, o_orderdate,
          |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2)) * (1 - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE) AS revenue
          |FROM orders JOIN lineitem ON l_orderkey = o_orderkey
          |WHERE o_orderdate < TIMESTAMP '1995-03-15'
          |GROUP BY o_orderkey, o_orderdate""".stripMargin)
    }),

    // shuffle anonymization — multiset preservation checked via counts
    "q31_shuffle" -> ((s, dir) => {
      val c = t(s, dir, "customer").select("c_mktsegment", "c_nationkey")
      Ops.shuffleCols(c, Seq("c_mktsegment", "c_nationkey"))
        .groupBy(col("c_mktsegment")).agg(count(lit(1)).as("n"))
    }),

    // graph degree via GraphX (GraphMetrics — clique `compute` surface)
    "q32_graph_degree" -> ((s, dir) => {
      val edges = t(s, dir, "customer")
        .select(col("c_custkey").as("src"), (col("c_nationkey") + 1000000).cast("long").as("dst"))
      graft.graph.GraphMetrics.metrics(edges, compute = Nil)
    }),

    // per-node triangle counts + clustering on a deterministic supplier
    // chain graph (rank i — i+1, i — i+2 within nation): every
    // consecutive triple is a triangle, and DuckDB can count them with a
    // 3-way self-join — full oracle. (Pagerank — float, iterative — is
    // covered by ModulesSpec.)
    "q33_graph_triangles" -> ((s, dir) => {
      // group by nation MOD 3 so even the smallest sf has several
      // suppliers per chain (sf0.001 has only one supplier per nation)
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("grp")).orderBy(col("id"))
      val sup = t(s, dir, "supplier")
        .select(col("s_suppkey").cast("long").as("id"),
          (col("s_nationkey") % 3).as("grp"))
        .withColumn("n1", lead(col("id"), 1).over(w))
        .withColumn("n2", lead(col("id"), 2).over(w))
      val edges = sup.select(col("id").as("src"), col("n1").as("dst")).filter(col("dst").isNotNull)
        .unionByName(sup.select(col("id").as("src"), col("n2").as("dst")).filter(col("dst").isNotNull))
      graft.graph.GraphMetrics.metrics(edges, compute = Seq("triangles", "clustering"))
    }),

    // ML re-scoring: RF build + apply, best-of-N AUC. The model's
    // internals aren't SQL-expressible, but everything AROUND them is:
    // the output carries the assembled numerical feature, the binarized
    // label, and a score-validity flag (score ∈ [0,100] — guaranteed
    // because RF-regression over 0/1 labels predicts in [0,1] and the
    // reference writes round(100·p), recipes.py:1806-1808). DuckDB can
    // replay all three, so the full RF build+apply path is exercised AND
    // hash-checked; the exact score values are regression-pinned in
    // MlGoldenSpec at fixed seed.
    "q34_ml_score" -> ((s, dir) =>
      mlScored(s, dir)._2
        .select(col("o_orderkey"),
          coalesce(col("o_totalprice").try_cast("double"), lit(0.0)).as("feat_totalprice"),
          col("o_orderstatus_bin").cast("int").as("label"),
          (col("matchid_hit_score_ml").isNotNull &&
            col("matchid_hit_score_ml").between(0, 100)).cast("int").as("score_ok"))),

    // stateful sessionization (flatMapGroupsWithState, 30-min gap)
    "q35_sessions" -> ((s, dir) => {
      val ev = t(s, dir, "events")
      val e = ev.withColumn("ts", Tables.eventTsStamp(ev))
      graft.streaming.EventStream.sessionize(s, e)
    }),

    // multimodal decode/feature-extract over binary payloads (rows-only:
    // payloads are seeded-random synthetic bytes)
    "q36_media_stats" -> ((s, dir) => {
      val media = graft.multimodal.Multimodal.synthesize(
        t(s, dir, "part"), "p_partkey", bytesPerRow = 1024)
      graft.multimodal.Multimodal.extractFeatures(media)
        .select(col("media_id"), col("kind"), col("meta.width").as("width"),
          col("byte_count"), round(col("mean_intensity"), 4).as("mean_intensity"))
    }),

    // REAL image decode: payloads are actual PNGs (pixel (x,y) =
    // (media_id + x + y) mod 256), decoded by javax.imageio via raster
    // samples; the oracle replays the pixel FORMULA — so the full
    // encode → PNG bytes → decode → stats loop is hash-checked without
    // DuckDB ever touching an image
    "q61_image_decode" -> ((s, dir) => {
      val media = graft.multimodal.Multimodal.synthesizeImages(
        t(s, dir, "part"), "p_partkey")
      graft.multimodal.Multimodal.decodeImages(media)
        .select(col("media_id"), col("img_width"), col("img_height"),
          round(col("mean_intensity"), 4).as("mean_intensity"),
          round(col("stddev_intensity"), 4).as("stddev_intensity"))
    }),

    // REAL audio decode, q61's pattern on javax.sound.sampled: payloads
    // are actual WAV files (16-bit PCM, sample i = (key*7 + i²) mod
    // 65536 − 32768), decoded by AudioSystem; the oracle replays the
    // sample FORMULA — the full encode → WAV bytes → decode → stats
    // loop is hash-checked without DuckDB ever touching audio
    "q63_audio_decode" -> ((s, dir) => {
      val media = graft.multimodal.Multimodal.synthesizeAudio(
        t(s, dir, "part"), "p_partkey")
      graft.multimodal.Multimodal.decodeAudio(media)
        .select(col("media_id"), col("n_samples"), col("audio_duration_ms"),
          round(col("mean_sample"), 4).as("mean_sample"),
          round(col("rms"), 4).as("rms"))
    }),

    // REAL video decode, closing the codec triad: payloads are actual
    // ANIMATED GIFs (frame f pixel (x,y) = (key + 17f + x + y) mod 256,
    // real GraphicControlExtension frame delays), decoded by the JDK's
    // multi-frame GIF reader with every-2nd-frame sampling; duration
    // and frame offsets come from container metadata, and the oracle
    // replays the pixel formula — the full encode → GIF bytes → decode
    // → per-frame stats loop is hash-checked without DuckDB ever
    // touching a video
    "q67_video_decode" -> ((s, dir) => {
      val media = graft.multimodal.Multimodal.synthesizeVideos(
        t(s, dir, "part"), "p_partkey")
      graft.multimodal.Multimodal.decodeVideos(media, every = 2)
        .select(col("media_id"), col("n_frames"), col("video_duration_ms"),
          col("frame_idx"), col("frame_ms"),
          round(col("frame_mean"), 4).as("frame_mean"),
          round(col("frame_stddev"), 4).as("frame_stddev"))
    }),

    // LSH ANN through the YAML `ann_topk: {method: lsh}` step — the
    // multi-table path (4 tables × 12 bits of one 64-bit signature)
    // under the driver gate, not just specs. Queries are PLANTED exact
    // duplicates of every 100th corpus vector (ids shifted by 10M), so
    // the approximate search is exactly predictable: an identical
    // vector collides in EVERY table (θ=0 ⇒ same hyperplane signs) and
    // scores 1.0, while the closest DISTINCT pair in the test corpus is
    // ≈0.45 cosine — so LSH's top-1 IS the exact top-1 and hash-matches
    // a DuckDB exact-cosine oracle over the full corpus (the oracle
    // independently proves the planted twin is the true argmax).
    "q62_ann_lsh" -> ((s, dir) => {
      import graft.conf.RecipeConf
      val tmp = scratchDir("graft-lsh-q62", tag = dir)
      t(s, dir, "embeddings")
        .filter(col("vec_id") % 100 === 0)
        .select((col("vec_id") + 10000000L).as("query_id"), col("embedding"))
        .write.mode("overwrite").parquet(tmp)
      val conf = RecipeConf.load(
        s"""datasets:
           |  planted: {path: $tmp, format: parquet}
           |  corpus: {path: $dir/embeddings.parquet, format: parquet}
           |recipes:
           |  probe:
           |    input: planted
           |    steps:
           |      - ann_topk: {id: query_id, vec: embedding, k: 1,
           |                   dataset: corpus, corpus_id: vec_id,
           |                   corpus_vec: embedding, method: lsh,
           |                   bits: 12, tables: 4}
           |""".stripMargin)
      RecipeConf.run(s, conf, "probe")
    }),

    // SemDeDup-shaped semantic dedup (Dedup.embeddingDedup through the
    // YAML `dedup: {method: embedding}` step): corpus = embeddings plus
    // planted exact clones of every 20th vector — half the clone ids
    // BELOW their original (−10M), half above (+10M), so the min-id
    // survivor set mixes clones and originals and a dropped-nothing or
    // kept-wrong-side bug cannot hash-match. Identical vectors collide
    // in every LSH table (certain recall on the planted pairs), and the
    // 0.9999 threshold on the 4dp cosine excludes every natural pair
    // (max non-identical cosine across the driver SFs ≈ 0.60) — so the
    // approximate pipeline's output is exactly the group-by-vector
    // min-id set DuckDB computes.
    "q64_embed_dedup" -> ((s, dir) => {
      import graft.conf.RecipeConf
      val tmp = scratchDir("graft-semdedup-q64", tag = dir)
      val e = t(s, dir, "embeddings")
      e.select(col("vec_id"), col("embedding"))
        .union(e.filter(col("vec_id") % 20 === 0).select(
          when(col("vec_id") % 40 === 0, col("vec_id") - 10000000L)
            .otherwise(col("vec_id") + 10000000L).as("vec_id"),
          col("embedding")))
        .write.mode("overwrite").parquet(tmp)
      val conf = RecipeConf.load(
        s"""datasets:
           |  corpus: {path: $tmp, format: parquet}
           |recipes:
           |  sem:
           |    input: corpus
           |    steps:
           |      - dedup: {id: vec_id, vec: embedding, method: embedding,
           |                threshold: 0.9999, bits: 12, tables: 4}
           |      - keep: [vec_id]
           |""".stripMargin)
      RecipeConf.run(s, conf, "sem")
    }),

    // ExactSubstr span dedup (Lee et al. 2021) through the YAML
    // `dedup: {method: substring}` step: every token 10-gram occurring
    // more than once ANYWHERE in the corpus marks its positions as
    // duplicated; each doc is rebuilt from the surviving normalized
    // tokens in order (docs stay, possibly hollow). The oracle replays
    // the whole contract from scratch over DuckDB lists with the same
    // engine-portable md5-60-bit gram hash — grams, global counts,
    // coverage union, ordered reassembly.
    "q72_substring_dedup" -> ((s, dir) => {
      import graft.conf.RecipeConf
      val conf = RecipeConf.load(
        s"""datasets:
           |  docs: {path: $dir/documents.parquet, format: parquet}
           |recipes:
           |  spans:
           |    input: docs
           |    steps:
           |      - dedup: {id: doc_id, text: text, method: substring, n: 10}
           |""".stripMargin)
      RecipeConf.run(s, conf, "spans")
    }),

    // GPT-style concat-and-chunk sequence packing via the YAML `pack`
    // step (Curation.packSequences): per-lang shards, docs in doc_id
    // order, budget-512 sequences; the oracle replays the identical
    // exclusive running sum — deterministic because the contract IS a
    // window, not a bin-packing heuristic
    "q65_pack" -> ((s, dir) => {
      import graft.conf.RecipeConf
      val conf = RecipeConf.load(
        s"""datasets:
           |  docs: {path: $dir/documents.parquet, format: parquet}
           |recipes:
           |  packed:
           |    input: docs
           |    steps:
           |      - pack: {id: doc_id, text: text, budget: 512, shard: lang}
           |""".stripMargin)
      RecipeConf.run(s, conf, "packed")
    }),

    // exact media dedup by content hash (binary analogue of q20):
    // synthetic payloads repeat at p_partkey mod 256, so real dup
    // groups exist and the oracle replays the byte stream in SQL
    "q51_media_dedup" -> ((s, dir) => {
      val media = graft.multimodal.Multimodal.synthesize(
        t(s, dir, "part"), "p_partkey", bytesPerRow = 1024)
      graft.multimodal.Multimodal.dedupGroups(media)
    }),

    // C4-style boilerplate line removal: lines in > 2 distinct docs
    // drop everywhere; docs reassemble from surviving lines in order
    "q52_line_dedup" -> ((s, dir) =>
      graft.text.TextAnalysis.dedupLines(
        t(s, dir, "documents").select("doc_id", "text"),
        "doc_id", "text", maxDocFreq = 2)),

    // subword/token counting with an RE2-shared pattern
    "q37_subwords" -> ((s, dir) => {
      t(s, dir, "documents").select(col("doc_id"),
        TextAnalysis.subwordCount(col("text")).as("n_subwords"),
        TextAnalysis.tokenCount(col("text")).as("n_tokens"))
    }),

    // bool-query match join: must clause on name tokens + should clause
    // on the brand token (MatchQuery — the ES query-template interpreter)
    "q43_bool_match" -> ((s, dir) => {
      import graft.operators.MatchQuery
      import graft.operators.MatchQuery.{Clause, Spec}
      val part = t(s, dir, "part")
        .withColumn("name_toks", Tools.tokenize(Tools.normalize(col("p_name"))))
        .withColumn("brand_toks", array(lower(col("p_brand"))))
      val right = part.select("p_partkey", "name_toks", "brand_toks")
      val queries = right.filter(col("p_partkey") % 29 === 0)
      MatchQuery.run(queries, right,
          Spec(Seq(
            Clause("name_toks", "name_toks", required = true),
            Clause("brand_toks", "brand_toks")),
            minimumShouldMatch = 0, k = 5),
          "p_partkey", "p_partkey")
        .select(col("p_partkey"), col("hit_p_partkey"), col("hit_score"),
          col("hit_rank"), col("matchid_hit_matches_unfiltered"), col("hit_max_score"))
    }),

    // as-of join: each click picks up the latest prior (or same-instant)
    // purchase value of its user — Joins.asofJoin, the linear
    // single-shuffle union+window formulation (no per-key range blowup)
    "q44_asof" -> ((s, dir) => {
      val ev = t(s, dir, "events")
      val e = ev.withColumn("ts_us", Tables.eventTsUs(ev))
      val clicks = e.filter(col("event_type") === "click")
        .select("event_id", "user_id", "ts_us")
      val purchases = e.filter(col("event_type") === "purchase")
        .groupBy("user_id", "ts_us")
        .agg(max(col("value").cast("decimal(18,2)")).as("p_value"))
      Joins.asofJoin(clicks, purchases, key = "user_id", ts = "ts_us",
          rightCols = Seq("p_value"))
        .withColumn("asof_p_value", col("asof_p_value").cast("double"))
    }),

    // range join: clicks landing in the hour after each purchase —
    // Joins.pointInIntervalJoin (bin-bucketed equi-join; a raw BETWEEN
    // join plans as a per-key nested loop)
    "q45_range_join" -> ((s, dir) => {
      val ev = t(s, dir, "events")
      val e = ev.withColumn("ts_us", Tables.eventTsUs(ev))
      val clicks = e.filter(col("event_type") === "click")
        .select("user_id", "ts_us")
      val hourUs = 3600L * 1000000L
      val purchases = e.filter(col("event_type") === "purchase")
        .select(col("event_id").as("p_id"), col("user_id"),
          col("ts_us").as("p_start"), (col("ts_us") + hourUs).as("p_end"))
      Joins.pointInIntervalJoin(clicks, purchases, key = "user_id",
          ts = "ts_us", start = "p_start", end = "p_end", binWidth = hourUs)
        .groupBy(col("ivl_p_id").as("p_id"))
        .agg(count(lit(1)).as("n_clicks"))
    }),

    // exact quantiles (percentile with linear interpolation — same
    // semantics as DuckDB quantile_cont)
    "q42_quantiles" -> ((s, dir) => {
      t(s, dir, "lineitem")
        .groupBy(col("l_returnflag"))
        .agg(
          expr("percentile(l_quantity, 0.5)").as("median_qty"),
          expr("percentile(l_quantity, 0.9)").as("p90_qty"),
          // scalar quartile columns (not one array column): the driver's
          // oracle compare hashes cell values and cannot hash array cells
          expr("percentile(l_extendedprice, 0.25)").as("p25_price"),
          expr("percentile(l_extendedprice, 0.75)").as("p75_price"))
    }),

    // winnowing document fingerprints (Schleimer et al. 2003): char
    // 5-gram md5 hashes, window-4 minima, deduped — the rolling-hash
    // fingerprint family, exploded to join-ready (id, fp) rows
    "q46_winnow" -> ((s, dir) =>
      graft.text.TextAnalysis.winnow(t(s, dir, "documents"), "doc_id", "text")
        .select(col("id").as("doc_id"), col("fp"))),

    // near-dup pairs by winnowing-fingerprint overlap (MOSS-style
    // containment score); one fp-keyed equi-join, never all-pairs
    "q47_winnow_pairs" -> ((s, dir) =>
      graft.text.TextAnalysis.winnowNearDups(t(s, dir, "documents"),
        "doc_id", "text", threshold = 0.5)),

    // deterministic hash-based train/val/test split — stable across
    // runs/engines/cluster sizes; salt re-rolls all assignments at once
    "q48_split" -> ((s, dir) =>
      graft.operators.Ops.hashSplit(
        t(s, dir, "documents").select("doc_id", "lang"),
        "doc_id", salt = "v1",
        splits = Seq("train" -> 0.9, "val" -> 0.05, "test" -> 0.05))),

    // cap each source's contribution at 30 docs, deterministically
    "q49_cap_source" -> ((s, dir) =>
      graft.operators.Ops.capPerKey(
        t(s, dir, "documents").select("doc_id", "source"),
        "source", "doc_id", n = 30, salt = "v1")),

    // per-language sampling rates (downsample the dominant language)
    "q50_sample_lang" -> ((s, dir) =>
      graft.operators.Ops.sampleByKey(
        t(s, dir, "documents").select("doc_id", "lang"),
        "lang", "doc_id", rates = Seq("en" -> 0.25), defaultRate = 1.0,
        salt = "v1")),

    // benchmark decontamination: flag train docs sharing any word 4-gram
    // with the held-out set (doc_id % 20) — the GPT-3/PaLM-style overlap
    // check; n=4 here because the synthetic vocab makes 13-grams unique
    "q53_decontaminate" -> ((s, dir) => {
      val docs = t(s, dir, "documents").select("doc_id", "text")
      graft.text.TextAnalysis.contaminationFlags(
          docs.filter(col("doc_id") % 20 =!= 0),
          docs.filter(col("doc_id") % 20 === 0),
          "doc_id", "text", n = 4)
        .select("doc_id", "contaminated")
    }),

    // q53's exact computation through the BLOOM-PREFILTERED plan: a
    // Bloom filter over the test grams broadcasts and drops clean
    // corpus grams map-side BEFORE the shuffle; the exact semi-join
    // then sees only hits + an fpp-sized trickle of false positives,
    // so the output is identical — both queries share q53's oracle
    // arithmetic, proving prefilter exactness under the driver gate
    "q68_decontaminate_bloom" -> ((s, dir) => {
      val docs = t(s, dir, "documents").select("doc_id", "text")
      graft.text.TextAnalysis.contaminationFlags(
          docs.filter(col("doc_id") % 20 =!= 0),
          docs.filter(col("doc_id") % 20 === 0),
          "doc_id", "text", n = 4, bloomFpp = Some(0.01))
        .select("doc_id", "contaminated")
    }),

    // URL canonicalization (web-corpus curation): raw URLs synthesized
    // closed-form to exercise every rule at once — uppercase scheme and
    // host, www prefix, default vs explicit ports, a tracking param,
    // params out of order, a fragment — and the oracle spells the
    // EXPECTED canonical string directly from the key formula, an
    // independent derivation rather than a re-run of the normalizer
    "q69_url_normalize" -> ((s, dir) => {
      val k = col("p_partkey").cast("long")
      t(s, dir, "part")
        .select(k.as("url_id"), synthUrl(k, malformedEvery = None).as("url"))
        .select(col("url_id"),
          graft.text.UrlTools.normalizeUrl(col("url")).as("url_norm"),
          graft.text.UrlTools.registeredDomain(col("url")).as("url_domain"))
    }),

    // nearest-centroid assignment (cluster curation / diversity caps):
    // centroids are every 50th embedding, and components are quantized
    // to integers (floor(x·10⁴)) on BOTH sides so distances — and
    // therefore the argmin — are integer-exact in any engine (the same
    // determinism trick as the LM's quantized log-probs); ties break by
    // centroid id. The assignment itself is the shuffle-free broadcast
    // fold in Cluster.clusterAssign.
    "q70_cluster_assign" -> ((s, dir) => {
      val qz = (c: Column) =>
        transform(c, x => floor(x.cast("double") * 10000).cast("long"))
      val emb = t(s, dir, "embeddings")
      val docs = emb.select(col("vec_id"), qz(col("embedding")).as("qv"))
      val cents = emb.filter(col("vec_id") % 50 === 0)
        .select(col("vec_id").as("cid"), qz(col("embedding")).as("cv"))
      graft.sim.Cluster.clusterAssign(docs, "vec_id", "qv", cents, "cid", "cv")
        .select(col("vec_id"), col("cluster_id"),
          col("cluster_d2").cast("long").as("cluster_d2"))
    }),

    // cluster-BALANCED sampling through the YAML `cluster: {cap:}` step
    // (r8 VERDICT #3 — balancedSample had no driver row): q70's
    // integer-quantized assignment composed with q49's capPerKey
    // ordering, capped at 20 rows per cluster. Every 97th vector gets a
    // NULL vector so the NULL-cluster retention rule (malformed
    // embeddings are KEPT, not dropped) is itself under the oracle.
    // The oracle re-derives assignment + cap + retention independently.
    "q73_balanced_sample" -> ((s, dir) => {
      import graft.conf.RecipeConf
      val qz = (c: Column) =>
        transform(c, x => floor(x.cast("double") * 10000).cast("long"))
      val emb = t(s, dir, "embeddings")
      val tmpD = scratchDir("graft-bal-q73-docs", tag = dir)
      val tmpC = scratchDir("graft-bal-q73-cents", tag = dir)
      emb.select(col("vec_id"),
          when(col("vec_id") % 97 =!= 0, qz(col("embedding"))).as("qv"))
        .write.mode("overwrite").parquet(tmpD)
      emb.filter(col("vec_id") % 50 === 0)
        .select(col("vec_id").as("cid"), qz(col("embedding")).as("cv"))
        .write.mode("overwrite").parquet(tmpC)
      val conf = RecipeConf.load(
        s"""datasets:
           |  docs: {path: $tmpD, format: parquet}
           |  codebook: {path: $tmpC, format: parquet}
           |recipes:
           |  bal:
           |    input: docs
           |    steps:
           |      - cluster: {id: vec_id, vec: qv, dataset: codebook,
           |                  centroid_id: cid, centroid_vec: cv,
           |                  cap: 20, salt: v1}
           |""".stripMargin)
      RecipeConf.run(s, conf, "bal")
        .select(col("vec_id"), col("cluster_id"),
          col("cluster_d2").cast("long").as("cluster_d2"))
    }),

    // DSIR importance selection (Curation.dsirSelect through the YAML
    // `dsir` step): target LM = every 3rd doc (the "domain sample"),
    // reference LM = the whole corpus; keep the 100 highest-importance
    // docs. All arithmetic is quantized-integer log10 (the q59
    // contract) with per-LM Laplace OOV floors, and the ranking is a
    // total order (weight desc, id) — the oracle re-derives both LMs,
    // every weight, and the cut from scratch.
    "q75_dsir_select" -> ((s, dir) => {
      import graft.conf.RecipeConf
      val tmp = scratchDir("graft-dsir-q75", tag = dir)
      t(s, dir, "documents").filter(col("doc_id") % 3 === 0)
        .select("doc_id", "text")
        .write.mode("overwrite").parquet(tmp)
      val conf = RecipeConf.load(
        s"""datasets:
           |  docs: {path: $dir/documents.parquet, format: parquet}
           |  docs_target: {path: $tmp, format: parquet}
           |recipes:
           |  pick:
           |    input: docs
           |    steps:
           |      - dsir: {id: doc_id, text: text, target: docs_target, k: 100}
           |""".stripMargin)
      RecipeConf.run(s, conf, "pick")
    }),

    // HTML → text extraction (Curation.extractHtmlText/htmlTitle):
    // markup synthesized closed-form to exercise every rule at once —
    // head/style/script blocks (the script hides a bare '<' to prove
    // block-before-tag ordering), a comment, block tags, inline tags,
    // &amp;/&nbsp; entities — and the oracle spells the EXPECTED
    // extraction directly from the key formula (q69's pattern): an
    // independent derivation, not a re-run of the extractor
    "q76_html_extract" -> ((s, dir) => {
      val k = col("p_partkey").cast("long")
      val html = concat(
        lit("<html><head><title>Part "), (k % 7).cast("string"),
        lit("</title><style>p{color:red}</style></head><body>" +
          "<script>var x=1; if (x<2) x=3;</script><h1>Item "),
        (k % 13).cast("string"),
        lit("</h1><p>alpha &amp; beta "), (k % 5).cast("string"),
        lit("</p><!-- hidden --><div>gamma&nbsp;delta</div></body></html>"))
      t(s, dir, "part").select(k.as("pid"), html.as("html"))
        .select(col("pid"),
          graft.text.Curation.htmlTitle(col("html")).as("html_title"),
          graft.text.Curation.extractHtmlText(col("html")).as("html_text"))
    }),

    // seeded k-means codebook fit (Cluster.fitCentroids) under the FULL
    // driver oracle (r9 VERDICT #3): the fit is quantized-integer
    // Lloyd's — md5-seeded init, integer argmin, floor-division
    // updates — so DuckDB replays all 4 iterations as unrolled CTE
    // blocks (the q97 BPE-round pattern) and every centroid COORDINATE
    // is hash-checked, not just a norm. Output is the exploded integer
    // codebook (cid, pos, qc): scalar cells only, since the driver
    // harness cannot hash array cells (r8's one red row).
    "q74_fit_centroids" -> ((s, dir) => {
      val cents = graft.sim.Cluster.fitCentroids(
        t(s, dir, "embeddings"), "vec_id", "embedding", k = 8)
      // cv = qc/10⁴ exactly, so round(cv·10⁴) recovers the integer
      // coordinate bit-exactly (floor would tip on the division ulp)
      cents.select(col("cid"),
          posexplode(transform(col("cv"),
            x => round(x * 10000).cast("long"))))
        .toDF("cid", "pos", "qc")
    }),

    // embedding-space decontamination (Ann.semanticContaminationFlags):
    // test set = every 20th vector, so its members sit in the corpus at
    // cosine 1.0 while the hardest natural non-identical pair is ≈0.60
    // across the driver SFs (q64's measurement) — θ=0.9 separates them
    // with no 4dp-rounding hazard. The corpus never shuffles (the test
    // vectors ride one one-row broadcast; PlanQualitySpec pins it); the
    // oracle recomputes every max-cosine from scratch.
    "q77_semantic_decontam" -> ((s, dir) => {
      val e = t(s, dir, "embeddings")
      graft.sim.Ann.semanticContaminationFlags(
        e.select("vec_id", "embedding"), "vec_id", "embedding",
        e.filter(col("vec_id") % 20 === 0), "embedding", threshold = 0.9)
        .select("vec_id", "max_cos_q", "contaminated")
    }),

    // the LSH-routed semantic decontamination scale path
    // (Ann.semanticContaminationFlagsLsh) under the same exhaustive
    // oracle as q77 — valid here because (a) an IDENTICAL vector shares
    // every LSH bucket deterministically (θ=0 → certain recall), (b)
    // every candidate is verified by exact cosine (no false flags), and
    // (c) the hardest natural pair sits at ≈0.60 cosine, far under the
    // 0.9 threshold even if it collides — so LSH flags ≡ exact flags on
    // this data, q62's planted-duplicate-oracle pattern. max_cos_q is a
    // candidate-max (lower bound) and stays out of the compared output.
    "q83_semantic_lsh" -> ((s, dir) => {
      val e = t(s, dir, "embeddings")
      graft.sim.Ann.semanticContaminationFlagsLsh(
        e.select("vec_id", "embedding"), "vec_id", "embedding",
        e.filter(col("vec_id") % 20 === 0), "embedding", threshold = 0.9)
        .select("vec_id", "contaminated")
    }),

    // stratified split (Ops.stratifiedSplit): EXACT 90/5/5 inside every
    // lang stratum — rank by the q48 salted-hash order within lang, cut
    // at integer floor(n_s·bp div 10000) quotas. The oracle re-derives
    // rank, counts, and both cuts with window functions; pure long
    // arithmetic so the boundaries cannot drift between engines.
    "q78_stratified_split" -> ((s, dir) =>
      graft.operators.Ops.stratifiedSplit(
        t(s, dir, "documents").select("doc_id", "lang"),
        "lang", "doc_id", salt = "v1",
        splits = Seq("train" -> 0.9, "val" -> 0.05, "test" -> 0.05))),

    // temperature-rebalanced language mixing (Ops.sampleToTemperature,
    // T=2): keep rate per lang = sqrt(n_min/n_s) — en (218 docs at
    // sf0.01) thins to ~54% while the rarest lang keeps 100%. The whole
    // rate tower is ÷/√/×/floor on doubles — every step IEEE-correctly-
    // rounded, so the oracle's independently computed rates are
    // bit-identical and no bucket can straddle the cut.
    "q79_temperature_mix" -> ((s, dir) =>
      graft.operators.Ops.sampleToTemperature(
        t(s, dir, "documents").select("doc_id", "lang"),
        "lang", "doc_id", temperature = 2.0, salt = "v1")),

    // keep-best dedup (Dedup.dedupKeepBest): fingerprint key, survivor
    // = max n_chars then min id — "keep the canonical best" once a
    // quality score exists (54 fingerprint-dup rows at sf0.01 exercise
    // real groups). The oracle spells the window rule directly and
    // appends the NULL-key retention the family guarantees.
    "q84_dedup_best" -> ((s, dir) =>
      graft.dedup.Dedup.dedupKeepBest(
        t(s, dir, "documents").select("doc_id", "text", "n_chars"),
        "doc_id", "text", scoreCol = "n_chars", method = "fingerprint")),

    // exact top-fraction selection (Curation.selectTopFraction): the
    // best 30% of docs by n_chars (stand-in for any quantized quality
    // score — the FineWeb-style classifier-threshold step), ranked
    // (score desc, id). 137 n_chars values repeat at sf0.01, so the
    // boundary-tie fill path is under the oracle, not just specs. The
    // oracle is the contract's direct spelling: row_number ≤ n·bp div
    // 10000 over (score desc, id) — the ENGINE must reproduce that
    // total order from its histogram + threshold + tie-rank plan
    // without the oracle's global sort.
    "q81_select_top" -> ((s, dir) =>
      graft.text.Curation.selectTopFraction(
        t(s, dir, "documents").select("doc_id", "n_chars"),
        "doc_id", "n_chars", frac = 0.3)),

    // token-budget shard layout + manifest (Curation.assignShards /
    // shardManifest): 8 md5 buckets, a new shard every 500 tokens
    // within a bucket, docs whole. The manifest (per-shard doc count,
    // token total, id range) is the deliverable a training loader
    // reads; the oracle replays bucket → exclusive running sum →
    // integer division → group from scratch.
    "q82_shard_manifest" -> ((s, dir) => {
      val sharded = graft.text.Curation.assignShards(
        t(s, dir, "documents").select("doc_id", "text"),
        "doc_id", "text", budget = 500L, buckets = 8, salt = "v1")
      graft.text.Curation.shardManifest(sharded, "doc_id")
    }),

    // per-group top-fraction (Curation.selectTopFractionByKey): the
    // best 25% per LANGUAGE by n_chars — a global cut would starve a
    // short-doc language entirely; the per-group contract holds the
    // fraction in every group. Exact-k per group, same tie rule.
    "q85_select_top_by_lang" -> ((s, dir) =>
      graft.text.Curation.selectTopFractionByKey(
        t(s, dir, "documents").select("doc_id", "lang", "n_chars"),
        "lang", "doc_id", "n_chars", frac = 0.25)),

    // per-registered-domain corpus profile (UrlTools.domainStats):
    // q69's synthesized messy URLs, every 17th row malformed so the
    // NULL-domain volume bucket is under the gate; weight = p_size.
    // The oracle spells domain + canonical url straight from the key
    // formula and aggregates independently.
    "q86_domain_stats" -> ((s, dir) =>
      graft.text.UrlTools.domainStats(
        t(s, dir, "part").select(col("p_partkey").cast("long").as("url_id"),
          synthUrl(col("p_partkey").cast("long")).as("url"), col("p_size")),
        "url", "p_size")),

    // blocklist cut (UrlTools.blocklistFilter): four blocked domains —
    // one deliberately messy (padded + mixed case, exercising the
    // trim/lower on the list side), one matching nothing — over the
    // same synthesized URLs; malformed URLs (NULL domain) must ALL
    // survive. The oracle spells the kept-set predicate directly from
    // the key formula.
    "q87_blocklist" -> ((s, dir) => {
      import s.implicits._
      val blocked = Seq("example1.com", "example2.org",
        "  Example5.co.uk  ", "nonexistent.net").toDF("domain")
      graft.text.UrlTools.blocklistFilter(
        t(s, dir, "part").select(col("p_partkey").cast("long").as("url_id"),
          synthUrl(col("p_partkey").cast("long")).as("url")),
        "url", blocked, "domain")
        .select("url_id")
    }),

    // z-order layout key (Layout.zorderValue): the multi-column
    // clustering sort key behind writeZOrdered — pure long arithmetic
    // (IntegralDivide quantize + bit interleave), so the oracle replays
    // min/max → quantize → 16 shift/mask terms exactly. The SPATIAL
    // claim (every file narrow in every dimension) is measured in
    // LayoutSpec; this row pins the arithmetic contract cross-engine.
    "q89_zorder" -> ((s, dir) =>
      graft.sources.Layout.zorderValue(
        t(s, dir, "lineitem").select("l_orderkey", "l_linenumber", "l_partkey"),
        Seq("l_orderkey", "l_partkey"), bits = 8)
        .select(col("l_orderkey"), col("l_linenumber"), col("__zval").as("zval"))),

    // fill-in-the-middle rewrite (Curation.fimTransform): half the
    // docs PSM-rewritten with salted-hash cuts; the oracle replays the
    // selection bucket, both cut hashes, and the three substrings.
    "q95_fim" -> ((s, dir) =>
      graft.text.Curation.fimTransform(
        t(s, dir, "documents").select("doc_id", "text"),
        "doc_id", "text", rate = 0.5, salt = "v1")
        .drop("text")),

    // chat-format conversation curation (Conversations
    // .withConversationStats): turn lists synthesized closed-form —
    // 1-3 user/assistant pairs, every 5th with a leading system turn,
    // every 7th with a DANGLING user turn (ill-formed), every 17th
    // malformed JSON (NULL stats, NULL well_formed). The engine builds
    // the JSON with to_json and REPARSES it with from_json; the oracle
    // spells every count, the well-formed verdict, and the flattened
    // text straight from the key formula.
    "q94_conversation" -> ((s, dir) => {
      val k = col("doc_id")
      def turn(role: String, content: Column) =
        struct(lit(role).as("role"), content.as("content"))
      val pair = (i: Column) => array(
        turn("user", concat(lit("u"), k, lit("_"), i)),
        turn("assistant", concat(lit("a"), k, lit("_"), i)))
      val base = flatten(transform(sequence(lit(1), (k % 3 + 1).cast("int")), pair))
      val withSys = when(k % 5 === 0,
        concat(array(turn("system", concat(lit("s"), k))), base)).otherwise(base)
      val withExtra = when(k % 7 === 0,
        concat(withSys, array(turn("user", lit("extra"))))).otherwise(withSys)
      val json = when(k % 17 === 0, lit("not json"))
        .otherwise(to_json(withExtra))
      graft.text.Conversations.withConversationStats(
        t(s, dir, "documents").select(k.as("doc_id"), json.as("convo")),
        "convo")
        .drop("convo") // the raw JSON is an input artifact, not a result
    }),

    // END-TO-END curation pipeline — the dataprep counterpart of q39's
    // matching e2e. Six stages COMPOSED as one plan: (1) normalized-
    // fingerprint exact dedup (min-id survivor, q21's key), (2)
    // synthetic PII injection (q57's closed-form arithmetic — the
    // held-out split stays pristine), (3) PII scrub, (4) Gopher quality
    // gate as a row-local filter predicate (Curation.gopherKeep — no
    // metric-frame self-join), (5) benchmark decontamination of the
    // scrubbed survivors against the raw held-out docs (q53's 4-gram
    // semi-join), (6) GPT-style sequence packing per lang shard
    // (q65's exclusive running sum). Each stage's arithmetic is
    // individually oracle-proven; this row proves the COMPOSITION —
    // the oracle replays the whole chain as one CTE tower. The plan is
    // the stages' plans glued together: one fingerprint window
    // exchange, scan-local scrub+quality, the keys-only gram joins,
    // one pack window — nothing new materializes, so the 100-TB story
    // is each stage's own (SCALE.md rows).
    "q96_curation_e2e" -> ((s, dir) => {
      import graft.text.{Curation, TextAnalysis}
      // rebalance: the gate's documents table is ONE small file = one
      // scan partition, serializing the pre-shuffle normalize/
      // fingerprint stage on a single core; no-op on real multi-file
      // corpora (SCALE.md ninth sweep measured the layout penalty)
      val docs = graft.operators.Ops.rebalance(t(s, dir, "documents"))
      val corpus = docs.filter(col("doc_id") % 20 =!= 0)
        .select("doc_id", "lang", "text")
      val test = docs.filter(col("doc_id") % 20 === 0)
        .select("doc_id", "text")
      val deduped = graft.dedup.Dedup.fingerprintDedup(corpus, "doc_id", "text")
      val id = col("doc_id")
      val aug = concat(col("text"),
        when(id % 3 === 0, concat(lit(" contact user"), id.cast("string"),
          lit("@mail.example.com"))).otherwise(lit("")),
        when(id % 4 === 0, concat(lit(" from 10."), (id % 200).cast("string"),
          lit(".0."), (id % 250).cast("string"))).otherwise(lit("")),
        when(id % 5 === 0, concat(lit(" call +1"),
          lpad((id % 10000000).cast("string"), 9, "0"))).otherwise(lit("")))
      // cached: the contamination join consumes the gated frame twice
      // (its gram side and its verdict join-back), and without the
      // cache each consumer re-runs the dedup survivors' PII injection,
      // the 3-regex scrub and the Gopher kernel. Re-checked after the
      // one-pass kernel removed the ~45 scrub copies per row this cache
      // was first added for (sf0.1, 5 alternating runs per side: median
      // 2.34 s with it, 3.34 s without it, every pair won by the cache).
      val scrubbed = graft.engine.CacheScope.cache(deduped
        .select(id, col("lang"), Curation.scrubPii(aug).as("clean_text")))
      // the stop-hit rule needs a stopword list matched to the corpus
      // domain (exactly how a real pipeline configures it): of the
      // default Gopher list only "the" exists in the synthetic
      // vocabulary, so the published 8-word list would zero the corpus.
      // "the" + the article "a" keeps the >= 2-distinct-hits semantics
      // while landing docs on BOTH sides of the gate (229/424 at sf0.01)
      val quality = scrubbed.filter(
        Curation.gopherKeep(col("clean_text"), minWords = 30,
          stopwords = Seq("the", "a")))
      val flagged = TextAnalysis.contaminationFlags(quality, test,
        "doc_id", "clean_text", n = 4, testTextCol = Some("text"))
      Curation.packSequences(flagged.filter(!col("contaminated")),
        "doc_id", "clean_text", budget = 512, shardCol = "lang")
    }),

    // scan-level file provenance (Ops.withProvenance): every row
    // stamped with its source file's basename from the scan's task
    // context — zero-shuffle, zero-I/O. The gate table is single-file,
    // so the oracle spells the expected constant; the multi-file
    // regex-concat case is ModulesSpec-pinned per file.
    "q101_provenance" -> ((s, dir) =>
      graft.operators.Ops.withProvenance(
        t(s, dir, "documents").select("doc_id"))),

    // per-doc novelty / memorization risk (TextAnalysis.noveltyScores):
    // fraction of each doc's distinct 4-grams occurring in NO other doc
    // (n=4 for the synthetic vocabulary, the q53 choice); exact-4dp
    // integer-space ratio
    "q99_novelty" -> ((s, dir) =>
      graft.text.TextAnalysis.noveltyScores(
        t(s, dir, "documents").select("doc_id", "text"),
        "doc_id", "text", n = 4)),

    // interpolated bigram LM scoring (Curation.bigramLogProb): the LM
    // trains on even doc_ids, odd docs are scored — so unseen pairs
    // (μ-scaled unigram fallback) and OOV words (μ-scaled Laplace
    // floor) are both genuinely exercised, unlike a self-scored corpus
    // where every pair is in the LM. λ = 0.9 in basis points; all logs
    // quantized per LM entry (the q59 integer-space discipline).
    "q98_bigram_lm" -> ((s, dir) => {
      import graft.text.Curation
      // rebalance: q98's scoring chain is NARROW (explode → broadcast
      // joins → partial agg) — a single-file scan runs it one-core;
      // the SCALE.md ninth sweep measured 4.2× from layout alone
      val docs = graft.operators.Ops.rebalance(
        t(s, dir, "documents").select("doc_id", "text"))
      val ref = docs.filter(col("doc_id") % 2 === 0)
      Curation.bigramLogProb(docs.filter(col("doc_id") % 2 =!= 0),
        "doc_id", "text",
        Curation.unigramLm(ref, "text"), Curation.bigramLm(ref, "text"),
        lambdaBp = 9000)
    }),

    // BPE tokenizer training (Curation.bpeTrain): 8 merge rounds over
    // the corpus word-frequency table — pair counts are the adjacent-
    // symbol zip weighted by word freq, winner = (count desc, pair asc),
    // merges apply left-to-right with rescan (the Sennrich scan as a
    // sequential fold). The oracle UNROLLS all 8 rounds as CTE blocks
    // and replays the identical fold via list_reduce, so every round's
    // winning pair, merged symbol, and count must match exactly.
    // localThreshold = 0 pins the DISTRIBUTED per-round regime under
    // the oracle; q100 takes the default and pins the driver-side
    // merge-loop regime against the same replay — both paths gated.
    "q97_bpe_train" -> ((s, dir) =>
      graft.text.Curation.bpeTrain(
        t(s, dir, "documents").select("text"), "text", merges = 8,
        localThreshold = 0L)),

    // the finished tokenizer vocabulary (Curation.bpeVocab): base
    // characters in symbol order, then q97's merges in training order
    // (via the default bpeTrain regime split — the local merge loop)
    "q100_bpe_vocab" -> ((s, dir) =>
      graft.text.Curation.bpeVocab(
        t(s, dir, "documents").select("text"), "text", merges = 8)),

    // corpus ENCODING with the trained vocabulary (Curation.bpeEncode):
    // the 8 trained merges applied strictly sequentially per word via
    // the native BpeCodec expression (memoized per distinct word). The
    // oracle replays the training rounds (shared CTEs) AND the per-word
    // encode fold, then rebuilds the ordered subword stream per doc —
    // token counts, fertility (chars-per-token in bp, long div), and
    // the full token sequence all hash-checked.
    // (rebalanced like q96/q98: the encode pass is pure row-local scan
    // work — exactly the shape a one-partition scan serializes)
    "q102_bpe_encode" -> ((s, dir) =>
      graft.text.Curation.bpeEncode(
        graft.operators.Ops.rebalance(
          t(s, dir, "documents").select("doc_id", "text")),
        "doc_id", "text", merges = 8)),

    // corpus snapshot diff (Ops.snapshotDiff): two deterministic
    // "versions" of documents — old drops every 7th id, new drops
    // every 5th and rewrites every 11th's text — classified
    // added/removed/changed/unchanged via NULL-SAFE column compare
    // (no content hash: nothing to collide, replayed as
    // IS DISTINCT FROM). One full-outer id join.
    "q103_snapshot_diff" -> ((s, dir) => {
      val docs = t(s, dir, "documents").select("doc_id", "text", "lang")
      val oldV = docs.filter(col("doc_id") % 7 =!= 0)
      val newV = docs.filter(col("doc_id") % 5 =!= 0)
        .withColumn("text", when(col("doc_id") % 11 === 0,
          concat(col("text"), lit(" v2"))).otherwise(col("text")))
      graft.operators.Ops.snapshotDiff(oldV, newV, "doc_id",
        Seq("text", "lang"))
    }),

    // heavy-hitter key profile (Ops.skewStats): top-25 customers by
    // order count with exact-bp global share and ratio-to-mean-key —
    // the measurement behind salting/AQE-skew decisions. ONE count
    // agg + one-row broadcast rollup + TakeOrdered; the oracle spells
    // the same long arithmetic over a full window rank.
    "q104_skew_stats" -> ((s, dir) =>
      graft.operators.Ops.skewStats(
        t(s, dir, "orders").select("o_custkey"), "o_custkey", n = 25)),

    // repeat-factor source mixing (Ops.epochsMix): zh upsampled 2.3×
    // (2 whole copies + a 30% deterministic third), fr exactly 3×, en
    // DOWN to 0.5× through the same arithmetic, de/es pass through at
    // the default 1. The oracle replays floor/frac-bp + the shared md5
    // bucket and generates copies with generate_series.
    "q93_epochs_mix" -> ((s, dir) =>
      graft.operators.Ops.epochsMix(
        t(s, dir, "documents").select("doc_id", "lang"),
        "lang", "doc_id",
        epochs = Seq("en" -> 0.5, "zh" -> 2.3, "fr" -> 3.0),
        salt = "v1")),

    // per-column dataset profile (sources.Profile): one agg pass over
    // orders → row count / nulls / EXACT distincts / numeric min-max
    // per column; the oracle recomputes every statistic per column and
    // spells the dtype labels. exact=true is the validation mode the
    // gate wants (DuckDB-replayable); approx HLL is the corpus default.
    "q92_profile" -> ((s, dir) =>
      graft.sources.Profile.profile(t(s, dir, "orders"), exact = true)),

    // CCNet-style rank-quantile bucketing (Curation.rankBuckets):
    // n_chars terciles → head/middle/tail labels on EVERY row. The
    // oracle is the contract's direct spelling — row_number over
    // (score desc, id) against the two DIV-arithmetic cut ranks — which
    // the engine must reproduce from its histogram + broadcast +
    // straddle-tie plan without a global sort. 137 repeated n_chars
    // values at sf0.01 put the straddle path under the gate.
    "q90_score_buckets" -> ((s, dir) =>
      graft.text.Curation.rankBuckets(
        t(s, dir, "documents").select("doc_id", "n_chars"),
        "doc_id", "n_chars", fracs = Seq(1.0 / 3, 2.0 / 3),
        labels = Seq("head", "middle", "tail"))),

    // unicode-script mix (TextAnalysis.withScriptMix): text synthesized
    // closed-form from five script alphabets + digits so the oracle
    // spells every count and the priority-argmax main_script straight
    // from the key formula — including the all-zero → unknown row
    "q91_script_mix" -> ((s, dir) => {
      val k = col("doc_id")
      val text = concat(
        repeat(lit("a"), (k % 7).cast("int")),
        repeat(lit("б"), (k % 5).cast("int")),
        repeat(lit("ω"), (k % 6).cast("int")),
        repeat(lit("ش"), (k % 2).cast("int")),
        repeat(lit("的"), (k % 3).cast("int")),
        lit(" "),
        repeat(lit("7"), (k % 4).cast("int")))
      graft.text.TextAnalysis.withScriptMix(
        t(s, dir, "documents").select(k.as("doc_id"), text.as("text")),
        "text")
    }),

    // contamination audit report keyed by TEST doc (TextAnalysis
    // .contaminationReport): q53's exact split and gram arithmetic, but
    // the deliverable is the per-benchmark-item leak table (distinct
    // contaminating docs + distinct leaked grams, zeros for clean
    // items). The oracle replays grams → inner join → two-key distinct
    // counts from scratch on top of the shared decontamination CTEs.
    "q88_contamination_report" -> ((s, dir) => {
      val docs = t(s, dir, "documents").select("doc_id", "text")
      graft.text.TextAnalysis.contaminationReport(
        docs.filter(col("doc_id") % 20 =!= 0),
        docs.filter(col("doc_id") % 20 === 0),
        "doc_id", "text", n = 4)
    }),

    // incremental dedup (Dedup.incrementalDedup) — the daily-crawl
    // shape: batch = every 5th doc, corpus = the rest; boilerplate is
    // PLANTED with plain arithmetic on both sides (template A spans the
    // batch/corpus boundary → those batch rows must vanish; template B
    // repeats only within the batch → min id 5 survives). Runs the
    // BLOOM-prefiltered path, so the gate proves prefilter exactness
    // against an oracle that replays the plain anti-join + keep-min
    // from scratch (the q53/q68 shared-oracle pattern); ModulesSpec
    // asserts bloom ≡ none on the same fixture.
    "q80_incremental_dedup" -> ((s, dir) => {
      val d = t(s, dir, "documents")
      val id = col("doc_id")
      val tplA = lit("BOILERPLATE LICENSE HEADER ALPHA v1")
      val tplB = lit("BATCH ONLY PRESS RELEASE BETA v2")
      val batch = d.filter(id % 5 === 0)
        .withColumn("text", when(id % 15 === 0, tplA)
          .when(id % 20 === 5, tplB).otherwise(col("text")))
        .select("doc_id", "text", "lang")
      val corpus = d.filter(id % 5 =!= 0)
        .withColumn("text", when(id % 7 === 1, tplA).otherwise(col("text")))
        .select("doc_id", "text")
      graft.dedup.Dedup.incrementalDedup(batch, corpus, "doc_id", "text",
        method = "exact", bloomFpp = Some(0.01))
    }),

    // incremental NEAR-dup verdicts (Dedup.incrementalNearDups): the
    // daily-crawl shape for dups exact keys can't catch — batch docs
    // checked for a shingle-Jaccard ≥ 0.6 near-dup anywhere in an
    // already-deduped corpus. Carve: batch = doc_id % 4 = 1, corpus =
    // the rest; a planted template spans the boundary (one batch doc in
    // 40 vs one corpus doc in 10) so template batch docs see MANY
    // corpus dups (n_corpus_dups > 1 is live), and the corpus's natural
    // exact-clone pairs that straddle the carve exercise the natural
    // path. Runs the BLOOM band-bucket prefilter; the oracle replays
    // the EXHAUSTIVE cross-side Jaccard (the q26 recall argument: all
    // ≥-threshold pairs here are exact clones, which collide in every
    // band, so candidate recall must be total for the hash to pass —
    // and bloom exactness rides the same check, q53/q68 pattern).
    "q105_incremental_neardup" -> ((s, dir) => {
      val (batch, corpus) = nearDupFixture(s, dir)
      graft.dedup.Dedup.incrementalNearDups(batch, corpus, "doc_id", "text",
        threshold = 0.6, bloomFpp = Some(0.01))
    }),

    // the SAME verdicts through the persisted band index
    // (Dedup.writeNearDupIndex + incrementalNearDupsIndexed) — the
    // 100-TB regime, where the corpus is signed once and probes read
    // pre-computed bands (IncNearBench measured corpus signing, not the
    // exchange, as the direct path's scaling term). Identical carve and
    // plant as q105 and the identical oracle: the full build → manifest
    // → probe round trip must reproduce the exhaustive answer. Build
    // runs on this JVM's first touch (the q60 guard pattern).
    "q107_neardup_index" -> ((s, dir) => {
      val (batch, _) = nearDupFixture(s, dir)
      graft.dedup.Dedup.incrementalNearDupsIndexed(batch,
        ensureNearIdx(s, dir), "doc_id", "text", threshold = 0.6)
    }),

    // the STREAMING ingest gate over the same index
    // (EventStream.nearDupFlagsStream): the batch side arrives as a
    // stream and each row is flagged maybe_near_dup by exact broadcast
    // bucket membership — q105's candidate test as a row-local map.
    // Shares q107's index (identical corpus carve + plant) and the q105
    // oracle CTE tower: on this fixture every ≥-threshold pair is an
    // exact clone (identical signature → certain bucket hit) and
    // spurious 64-bit bucket collisions between dissimilar docs are
    // absent (verified at all three SFs), so candidate flag ≡ verified
    // flag and the hash check pins BOTH the gate's arithmetic and its
    // no-false-flag behavior on real data.
    "q108_stream_neardup" -> ((s, dir) => {
      import graft.streaming.EventStream
      val idx = ensureNearIdx(s, dir)
      val schema = s.read.parquet(s"$dir/documents.parquet").schema
      // the stream applies the fixture's BATCH-side plant to the rows
      // it admits — nearDupStreamCarve, the one shared spelling
      EventStream.runOnce(s, dir,
        st => EventStream.nearDupFlagsStream(nearDupStreamCarve(st),
          idx, "text"),
        queryName = "q108_mem", schema = schema,
        globFilter = Some("documents.parquet"))
        .select("doc_id", "maybe_near_dup")
    }),

    // cross-source duplicate-overlap matrix (Dedup.sourceOverlap): the
    // which-corpus-contains-which audit. The raw table's sources share
    // no exact text, so two templates are planted across id patterns
    // (%7 and %11 — coprime to the source assignment, so nearly every
    // source pair shares one or both) and one id slice gets a NULL
    // source to keep the NULL group's pair rows live.
    "q106_source_overlap" -> ((s, dir) => {
      val d = t(s, dir, "documents")
      val id = col("doc_id")
      val doc = d
        .withColumn("source", when(id % 31 === 3, lit(null).cast("string"))
          .otherwise(col("source")))
        .withColumn("text",
          when(id % 7 === 0, lit("common template one across sources"))
            .when(id % 11 === 1, lit("common template two across sources"))
            .otherwise(col("text")))
      graft.dedup.Dedup.sourceOverlap(doc, "source", "text")
    }),

    // overlapping token-window chunks (Curation.chunk) — the RAG /
    // pretraining shard shape; row-local, no shuffle
    "q54_chunks" -> ((s, dir) =>
      graft.text.Curation.chunk(t(s, dir, "documents"), "doc_id", "text",
        size = 32, stride = 16)),

    // MassiveText within-doc repetition stats (Curation.repetitionStats)
    "q55_repetition" -> ((s, dir) =>
      graft.text.Curation.repetitionStats(t(s, dir, "documents"), "doc_id", "text")),

    // Gopher-style quality rules (Curation.gopherQuality); minWords
    // lowered to 30 so the synthetic docs land on both sides of `keep`
    "q56_gopher" -> ((s, dir) =>
      graft.text.Curation.gopherQuality(t(s, dir, "documents"), "doc_id", "text",
        minWords = 30)),

    // PII scrub (Curation.scrubPii) over deterministically augmented text
    // (the synthetic docs carry no PII, so each category is injected for
    // ~1/3, 1/4, 1/5 of docs with the SAME arithmetic on both sides)
    "q57_pii_scrub" -> ((s, dir) => {
      import graft.text.Curation
      val id = col("doc_id")
      val aug = concat(col("text"),
        when(id % 3 === 0, concat(lit(" contact user"), id.cast("string"),
          lit("@mail.example.com"))).otherwise(lit("")),
        when(id % 4 === 0, concat(lit(" from 10."), (id % 200).cast("string"),
          lit(".0."), (id % 250).cast("string"))).otherwise(lit("")),
        when(id % 5 === 0, concat(lit(" call +1"),
          lpad((id % 10000000).cast("string"), 9, "0"))).otherwise(lit("")))
      val (ne, ni, np) = Curation.piiStats(aug)
      t(s, dir, "documents").select(id,
        Curation.scrubPii(aug).as("clean_text"),
        ne.as("n_emails"), ni.as("n_ips"), np.as("n_phones"))
    }),

    // SOFT dedup (Dedup.duplicationWeights): duplicates down-weighted,
    // not dropped — each fingerprint group's rows carry dup_count and
    // weight_bp = 10⁴ div dup_count, so a group's total sampling mass
    // is one doc's worth. The corpus has real fingerprint-dup groups
    // (the q21/q84 carve), so both columns are live beyond 1/10⁴.
    "q114_dedup_weights" -> ((s, dir) =>
      graft.dedup.Dedup.duplicationWeights(t(s, dir, "documents"),
          "doc_id", "text", method = "fingerprint")
        .select("doc_id", "dup_count", "weight_bp")),

    // cross-source NEAR-dup overlap (Dedup.crossSourceNearDupOverlap):
    // q106's audit for the duplication exact keys cannot see. The
    // plant: doc_id % 37 = 5 rows share one boilerplate text across
    // sources (the C4-vs-CommonCrawl replicated-page shape), so those
    // sources overlap at Jaccard 1.0; the exhaustive oracle replays
    // the whole word-shingle Jaccard matrix (the q26 recall argument:
    // at ≥0.6 the 16×4 banding misses ~nothing, so candidate recall
    // must be total for the hash compare to pass).
    "q123_source_neardup_overlap" -> ((s, dir) => {
      val doc = t(s, dir, "documents").withColumn("text",
        when(col("doc_id") % 37 === 5,
          lit("replicated boilerplate page copied across crawl sources " +
            "verbatim with every mirror"))
          .otherwise(col("text")))
      Dedup.crossSourceNearDupOverlap(doc, "doc_id", "text", "source",
        threshold = 0.6)
    }),

    // cross-source CONTAINMENT overlap
    // (Dedup.crossSourceContainmentOverlap): the subset duplication
    // q123's Jaccard matrix structurally misses. The discriminating
    // plant: id % 41 = 7 docs become a 9-word quotation, id % 41 = 9
    // docs a 28-word page QUOTING it whole — the pair's Jaccard is
    // 7/26 ≈ 0.27 (invisible to q123 at its 0.6 threshold, the
    // q41Fixture spec pins that) while min-side containment is 10⁴ bp.
    // The exhaustive oracle replays the whole containment matrix; the
    // pigeonhole prefix join's recall is exact (not an LSH dial), so
    // candidate recall is total by construction.
    // (NOT rebalanced — r15 added Ops.rebalance here and the driver's
    // cold run regressed it 3.10 → 4.58 s (8 cores beat 32: the added
    // round-robin exchange fragments a small input past what the scan
    // parallelism returns); r16 re-adjudicated cold with target=8
    // (worse still, 4.62) and reverted per the r15 verdict)
    "q128_source_containment_overlap" -> ((s, dir) =>
      Dedup.crossSourceContainmentOverlap(
        q41Fixture(t(s, dir, "documents")),
        "doc_id", "text", "source", thresholdBp = 8000L)),

    // soft dedup EXECUTED (Ops.sampleByWeight over q114's weights):
    // each fingerprint-dup group keeps ≈ one row in expectation, every
    // keep decision a salted md5 bucket — the full
    // down-weight-then-subsample loop under one hash check
    "q119_weighted_sample" -> ((s, dir) =>
      graft.operators.Ops.sampleByWeight(
        graft.dedup.Dedup.duplicationWeights(t(s, dir, "documents"),
          "doc_id", "text", method = "fingerprint"),
        "doc_id", "weight_bp", salt = "v1")
        .select("doc_id", "dup_count", "weight_bp")),

    // corpus vocabulary top-k (Curation.vocabTopK) — the tokenizer-
    // training primitive; map-side-combined count + TakeOrdered
    "q58_vocab" -> ((s, dir) =>
      graft.text.Curation.vocabTopK(t(s, dir, "documents"), "text", k = 50)),

    // tokenizer-vocabulary coverage audit (Curation.vocabCoverage):
    // per-doc OOV accounting against the corpus's own q58-contract
    // top-50 vocabulary — broadcast vocab, map-side token flags, one
    // doc-id exchange. A k this small leaves real OOV mass in every
    // doc, so both counters and the bp ratio are live.
    "q109_vocab_coverage" -> ((s, dir) => {
      val d = t(s, dir, "documents")
      val vocab = graft.text.Curation.vocabTopK(d, "text", k = 50)
      graft.text.Curation.vocabCoverage(d, "doc_id", "text", vocab)
    }),

    // fastText-style linear classifier TRAINING
    // (LinearClassifier.trainTextClassifier): batch perceptron over
    // 256 hashed set-of-words buckets, 3 fixed epochs, all-integer
    // arithmetic — the weight table is the model artifact. The raw
    // synthetic docs are a uniform bag of the SAME 31 tokens in every
    // language (no honest label is linearly learnable), so the fixture
    // plants one: disjoint class-marker tokens appended by id pattern
    // (the q57 injection discipline) plus a ~6% deterministic label
    // flip (id % 17) — noisy-separable by construction. The fit finds
    // the planted separator (measured: epoch-1 all-docs update, then
    // the mis batch = exactly the 30 flipped rows, every later epoch —
    // live but stable), so the margin→mis→delta tower is exercised end
    // to end AND the model is demonstrably non-degenerate.
    // (rebalanced — the hashed-bag featurization is scan-level
    // row-local work; one unsplittable gate file = one core without it)
    "q110_classifier_fit" -> ((s, dir) => {
      // the fit consumes the fixture twice (triple count + doc-label
      // collect) — persist it across those actions and release eagerly:
      // the returned weight table is a LocalRelation, nothing downstream
      // reads the fixture (r16, the q111 reuse's fit-only sibling)
      val d = graft.operators.Ops.rebalance(
        classifierFixture(t(s, dir, "documents")))
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      try graft.ml.LinearClassifier.trainTextClassifier(d, "doc_id",
        "text", "y", buckets = 256, epochs = 3, binary = true)
        .orderBy("feat")
      finally { d.unpersist(false); () }
    }),

    // ... and SCORING: the same fit applied back over the corpus — one
    // broadcast weight join + one doc-id exchange, margin and ±1
    // verdict per doc (the shape that scores 100 TB: no iteration,
    // no driver). On this fixture the fit recovers the planted class
    // on every row (flipped labels score as their PLANTED class — the
    // model shrugs off the 6% noise) — pinned by the hash on every
    // margin.
    // (rebalanced like q110 — both the fit's featurize-and-collect and
    // the scoring pass are scan-level row-local work)
    "q111_classifier_score" -> ((s, dir) => {
      // ONE evaluation of the rebalanced fixture for the fit's two
      // internal actions AND the scoring pass (r16). The score plan
      // reads the fixture twice (featurize + the output join) — both
      // hits.
      val d = graft.engine.CacheScope.cache(graft.operators.Ops.rebalance(
        classifierFixture(t(s, dir, "documents"))))
      val w = graft.ml.LinearClassifier.trainTextClassifier(d, "doc_id",
        "text", "y", buckets = 256, epochs = 3, binary = true)
      graft.ml.LinearClassifier.scoreTextClassifier(d,
        "doc_id", "text", w,
        buckets = 256, binary = true).select("doc_id", "margin", "pred")
    }),

    // MULTICLASS (one-vs-one) classifier training
    // (LinearClassifier.trainTextClassifierMulti): one balanced
    // pairwise perceptron per class pair — the fastText-style
    // language/quality router. Three planted classes with rotated
    // label flips (the q110 discipline, multiclass); the model is the
    // (label_a, label_b, feat, w) table, every coordinate
    // oracle-replayed through three pairwise CTE towers.
    "q117_classifier_multi_fit" -> ((s, dir) => {
      graft.ml.LinearClassifier.trainTextClassifierMulti(
        multiClassifierFixture(t(s, dir, "documents")), "doc_id", "text",
        "lb", buckets = 256, epochs = 3, binary = true)
        .orderBy("label_a", "label_b", "feat")
    }),

    // ... and multiclass PREDICTION: every doc scored by all pairs,
    // majority vote, lexicographic tie-break — recovers the planted
    // class on every row (the ~6% flipped labels lose their vote, the
    // noise-robustness the decomposition buys). One broadcast of the
    // pairs x features table + id-keyed exchanges, no iteration.
    "q118_classifier_multi_pred" -> ((s, dir) => {
      val d = multiClassifierFixture(t(s, dir, "documents"))
      val w = graft.ml.LinearClassifier.trainTextClassifierMulti(d,
        "doc_id", "text", "lb", buckets = 256, epochs = 3, binary = true)
      graft.ml.LinearClassifier.scoreTextClassifierMulti(d, "doc_id",
        "text", w, buckets = 256, binary = true)
        .select("doc_id", "pred_label", "n_votes")
    }),

    // q118's multiclass prediction at INGEST time
    // (EventStream.classifyStreamMulti): every arriving row scored by
    // all pairwise perceptrons and majority-voted as ONE row-local
    // expression — zero streaming state, the ingest-time language/
    // quality router. Same rows, same weights, q118's oracle verbatim.
    "q120_stream_classify_multi" -> ((s, dir) => {
      import graft.streaming.EventStream
      val d = multiClassifierFixture(t(s, dir, "documents"))
      val w = graft.ml.LinearClassifier.trainTextClassifierMulti(d,
        "doc_id", "text", "lb", buckets = 256, epochs = 3, binary = true)
      val schema = s.read.parquet(s"$dir/documents.parquet").schema
      EventStream.runOnce(s, dir,
        st => EventStream.classifyStreamMulti(multiClassifierFixture(st), w,
          "doc_id", "text", buckets = 256, binary = true)
          .select("doc_id", "pred_label", "n_votes"),
        queryName = "q120_mem", schema = schema,
        globFilter = Some("documents.parquet"))
    }),

    // q111's scoring at INGEST time (EventStream.classifyStream): the
    // docs arrive as a stream, the batch-fitted weight table rides the
    // plan as a literal map, and each row's margin is a row-local fold
    // — zero streaming state (the q71 discipline). Same rows, same
    // weights, q111's oracle verbatim: batch join vs streaming fold
    // must agree bit for bit.
    "q115_stream_classify" -> ((s, dir) => {
      import graft.streaming.EventStream
      val d = classifierFixture(t(s, dir, "documents"))
      val w = graft.ml.LinearClassifier.trainTextClassifier(d, "doc_id",
        "text", "y", buckets = 256, epochs = 3, binary = true)
      val schema = s.read.parquet(s"$dir/documents.parquet").schema
      EventStream.runOnce(s, dir,
        st => EventStream.classifyStream(classifierFixture(st), w,
          "doc_id", "text", buckets = 256, binary = true)
          .select("doc_id", "margin", "pred"),
        queryName = "q115_mem", schema = schema,
        globFilter = Some("documents.parquet"))
    }),

    // the quality + PII stages at INGEST time
    // (EventStream.qualityGateStream): docs flow through as a stream
    // and each row gets its Gopher verdict + scrubbed text as a pure
    // map — zero state, the q71/q115 router discipline, completing the
    // ingest-time chain (near-dup → decontaminate → classify →
    // quality → scrub). Text carries q57's deterministic PII
    // injections so the scrub is live; keep uses q56's minWords=30 so
    // both verdicts occur. The oracle is the batch q56 metric tower +
    // q57 scrub over the SAME augmented text — batch ≡ stream by
    // construction (the gate IS the batch Columns), and the driver
    // hash-checks it end to end through a real streaming query.
    "q124_stream_quality" -> ((s, dir) => {
      import graft.streaming.EventStream
      val path = s"$dir/documents.parquet"
      val schema = s.read.parquet(path).schema
      EventStream.runOnce(s, dir,
        st => {
          val id = col("doc_id")
          val aug = concat(col("text"),
            when(id % 3 === 0, concat(lit(" contact user"), id.cast("string"),
              lit("@mail.example.com"))).otherwise(lit("")),
            when(id % 4 === 0, concat(lit(" from 10."), (id % 200).cast("string"),
              lit(".0."), (id % 250).cast("string"))).otherwise(lit("")),
            when(id % 5 === 0, concat(lit(" call +1"),
              lpad((id % 10000000).cast("string"), 9, "0"))).otherwise(lit("")))
          EventStream.qualityGateStream(
              st.withColumn("text", aug), "text", minWords = 30)
            .select(id, col("keep"), col("clean_text"))
        },
        queryName = "q124_mem", schema = schema,
        globFilter = Some("documents.parquet"))
    }),

    // the INGEST ROUTER end-to-end as ONE streaming query (round-13
    // verdict #3: all five modality gates pass separately — q108
    // near-dup, q71 decontaminate, q115 classify, q124 quality+PII —
    // but no gate ran one stream through the CHAIN, so the
    // composition semantics, each stage's survivors feeding the next,
    // were unpinned). The chain, in router order: the q108 carve +
    // plant arrives as a stream → near-dup DROP gate against the
    // persisted q107/q108 band index → exact decontamination DROP
    // gate against the q71 benchmark carve (raw % 20 = 0 docs) → a
    // feature map (marker by id % 3 + q57-style email/phone
    // injections; an id % 4 = 1 carve has no % 4 = 0 ids, so the IP
    // branch is structurally dead and omitted) → classifier gate
    // under weights trained batch-side on the q110 fixture → quality
    // verdict + PII scrub. Every stage is a stateless map/filter, so
    // the chain composes in one streaming plan; the oracle replays
    // the whole cascade batch-side (near-dup tower → contamination
    // grams → the perceptron tower → margins + quality metrics over
    // the survivors' augmented text) — batch ≡ stream for the
    // COMPOSITION, not just each stage (the ModulesSpec chain case
    // pins it across micro-batches too).
    "q130_stream_router" -> ((s, dir) => {
      import graft.streaming.EventStream
      val idx = ensureNearIdx(s, dir)
      val raw = s.read.parquet(s"$dir/documents.parquet")
      val test = raw.filter(col("doc_id") % 20 === 0)
      // the seconds-long fit runs OUTSIDE the map's bin lock and only
      // PUBLISHES under it; a replaced entry's cached plan unpersists
      // when its session is still alive (r13 ADVICE: the old compute()
      // trained under the lock and leaked the stale session's cache)
      val w = {
        val prev = routerWeightsCache.get(dir)
        if (prev != null && (prev._1 eq s)) prev._2
        else {
          val fresh = (s, graft.ml.LinearClassifier.trainTextClassifier(
            classifierFixture(t(s, dir, "documents")), "doc_id", "text",
            "y", buckets = 256, epochs = 3, binary = true).cache())
          val cur = routerWeightsCache.compute(dir, (_, p) =>
            if (p != null && (p._1 eq s)) p else fresh)
          if (!(cur eq fresh)) fresh._2.unpersist() // lost a same-session race
          else if (prev != null && (prev._1 ne s) &&
              !prev._1.sparkContext.isStopped) {
            try prev._2.unpersist()
            catch { case _: Throwable => () } // racing a session stop is fine
          }
          cur._2
        }
      }
      EventStream.runOnce(s, dir,
        st => {
          val id = col("doc_id")
          // stage 0: the q108 ingest carve with its boundary plant
          // (nearDupStreamCarve — the one shared spelling), rebalanced
          // (r15): the chain's kernels — 64-hash minhash signatures,
          // hashed-bag features, the scrub tower — are row-local and a
          // one-file micro-batch would run them on one core
          // stage 1 — near-dup DROP gate (admits only non-candidates)
          val s1 = EventStream.nearDupFilterStream(
            graft.operators.Ops.rebalanceStream(nearDupStreamCarve(st)),
            idx, "text")
          // stage 2 — decontamination DROP gate (exact membership)
          val s2 = EventStream.decontaminateStream(s1, test, "text", n = 4)
          // stage 3 — feature map, then the classifier gate
          val aug = concat(col("text"),
            when(id % 3 === 0, lit(" crisp curated prose"))
              .otherwise(lit(" noisy boiler plate")),
            when(id % 3 === 0, concat(lit(" contact user"), id.cast("string"),
              lit("@mail.example.com"))).otherwise(lit("")),
            when(id % 5 === 0, concat(lit(" call +1"),
              lpad((id % 10000000).cast("string"), 9, "0"))).otherwise(lit("")))
          val s3 = EventStream.classifyStream(s2.withColumn("text", aug),
            w, "doc_id", "text", buckets = 256, binary = true)
          // stage 4 — quality verdict + PII scrub
          EventStream.qualityGateStream(s3, "text", minWords = 30)
            .select(id, col("margin"), col("pred"), col("keep"),
              col("clean_text"))
        },
        queryName = "q130_mem", schema = raw.schema,
        globFilter = Some("documents.parquet"))
    }),

    // CCNet-style LM quality proxy (Curation.unigramLogProb): every doc
    // scored under the unigram LM of the corpus itself
    "q59_lm_logprob" -> ((s, dir) => {
      val d = t(s, dir, "documents")
      graft.text.Curation.unigramLogProb(d, "doc_id", "text",
        graft.text.Curation.unigramLm(d, "text"))
    }),

    // running total per customer (rowsBetween window frame)
    "q41_running_total" -> ((s, dir) => {
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("o_custkey"))
        .orderBy(col("o_orderdate"), col("o_orderkey"))
        .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, 0)
      t(s, dir, "orders")
        .withColumn("running_total",
          sum(col("o_totalprice").cast("decimal(18,2)")).over(w).cast("double"))
        .select("o_custkey", "o_orderkey", "running_total")
    }),

    // Structured Streaming: the SAME hourly-window aggregation as q18 but
    // executed as a streaming query over the events parquet (memory sink,
    // complete mode) — batch/stream unification, oracle-checked
    "q40_stream_hourly" -> ((s, dir) => {
      import graft.streaming.EventStream
      val out = EventStream.runOnce(s, dir,
        stream => EventStream.windowedCounts(
          stream.withColumn("tsv", col("ts").cast("timestamp")), "tsv"),
        queryName = "q40_mem",
        schema = EventStream.rawSchemaOf(s, s"$dir/events.parquet"),
        outputMode = "complete", globFilter = Some("events.parquet"))
      out.select(col("window.start").cast("timestamp_ntz").as("hr"),
        col("event_type"), col("n"), col("sum_value"))
    }),

    // q53's computation at INGEST time: the train docs flow through as
    // a stream and the static benchmark set rides a broadcast Bloom
    // filter — a pure map per micro-batch, zero streaming state. At
    // fpp=1e-9 the filter makes no false positive on this dataset
    // (validated against the exact oracle at sf0.01 AND sf0.1; the bits
    // are a deterministic OR of per-item hashes, so that holds for
    // every future run of the same data — and the expected FP count
    // stays ≪1 even at ~100× these corpus sizes, so the check is not
    // scale-fragile), which lets the approximate-by-design streaming
    // path hash-match the same EXACT oracle family as q53/q68 —
    // drop-mode spelling
    "q71_stream_decontaminate" -> ((s, dir) => {
      import graft.streaming.EventStream
      val path = s"$dir/documents.parquet"
      val schema = s.read.parquet(path).schema
      val test = s.read.parquet(path).filter(col("doc_id") % 20 === 0)
      EventStream.runOnce(s, dir,
        // EXACT membership (fpp = None): rounds ≤ 8 requested fpp=1e-9
        // and still took a real Bloom FP at sf0.001 (Spark's 32-bit
        // double hashing floors far above nominal fpp) — a latent
        // one-row gate flake at ANY scale. The exact sorted-array
        // broadcast removes the failure mode outright.
        st => EventStream.decontaminateStream(
          st.filter(col("doc_id") % 20 =!= 0), test, "text", n = 4),
        queryName = "q71_mem", schema = schema,
        globFilter = Some("documents.parquet"))
        .select("doc_id")
    }),

    // end-to-end matching pipeline (exact-token candidates so the whole
    // flow — dataprep, match join, re-scoring, decision — is
    // oracle-expressible; `entry` runs the fuzzy variant)
    "q39_matching_e2e" -> ((s, dir) => {
      import graft.pipeline.Matching
      val customer = t(s, dir, "customer")
      val nation = t(s, dir, "nation")
      val left = Matching.dataprep(Matching.personsFrom(customer, nation),
        "pid", "first_name", "last_name", "birth_str", "city")
      val right = Matching.dataprep(Matching.registryFrom(customer, nation),
        "pid", "first_name", "last_name", "birth_str", "city")
      Matching.matchBest(left, right, k = 5, fuzzy = false)
        .select(col("matchid_id"), col("hit_matchid_id"),
          col("matchid_hit_score_name"), col("matchid_hit_score_date"),
          col("matchid_hit_score_city"), col("matchid_hit_score"), col("confiance"))
    }),

    // eval surface: registered scalar UDFs callable from SQL expressions
    "q38_eval" -> ((s, dir) => {
      graft.functions.Registry.register(s)
      val c = t(s, dir, "customer").withColumn("k", col("c_custkey") % 100)
      val sup = t(s, dir, "supplier").withColumn("k", col("s_suppkey") % 100)
      // NOTE: graft_jw (Jaro-Winkler) is deliberately NOT in this oracle
      // query: DuckDB's jaro implementation diverges from the standard
      // (jellyfish-parity) algorithm on some pairs — our jw follows the
      // reference and is pinned by unit tests against known values.
      c.join(broadcast(sup), "k")
        .selectExpr("c_custkey", "s_suppkey",
          "levenshtein_norm(c_name, s_name) AS lev_norm",
          "graft_damerau(c_name, s_name) AS dl")
    })
  )

  /** Headline queries Bench runs at sf0.1 (the heavy/representative set).
    * q53 joined in round 6: the 13-gram decontamination pipeline is the
    * most shuffle-heavy LLM-curation op; q59 joined with it so the LM
    * scoring path (explode + vocab join + per-doc aggregate) has a
    * tracked number too. q60 joined in round 7 (split into build/probe
    * rows in round 8) and q62 in round 8 — the two production ANN
    * paths. */
  val benchQueries: Seq[String] = Seq(
    "q01_agg", "q02_join_enrich", "q03_rank_topk", "q11_transform",
    "q18_events_window", "q21_fingerprint", "q24_jaccard_pairs",
    "q25_ann_topk", "q26_minhash_pairs", "q29_match_topk",
    "q39_matching_e2e", "q53_decontaminate", "q68_decontaminate_bloom",
    "q59_lm_logprob",
    // the IVF build and probe are tracked SEPARATELY (round 8): build
    // amortizes over query batches, so the steady-state ANN number is
    // the partition-pruned probe. _build MUST run first — it writes the
    // per-JVM index q60_ann_ivf then probes without rebuilding.
    "q60_ann_ivf_build", "q60_ann_ivf",
    // the streaming probe (round 12): the same q60 index (built two
    // lines up — the idxBuilt guard makes every sample probe-only)
    // driven through a real file-source streaming query + the
    // per-epoch sink; the number is the batch probe + the
    // micro-batch/sink overhead, the ingest router's embedding cost
    "q127_stream_ann_probe",
    // the other 100-TB ANN path (multi-table hyperplane LSH via the
    // YAML ann_topk step), benched since it joined the gate in round 8
    "q62_ann_lsh",
    // the newest heavy dedup operator (round 9): ExactSubstr span
    // dedup — its synthetic-corpus slopes live in SCALE.md/SubstrBench;
    // this row keeps a driver-tracked number at the gate SF
    "q72_substring_dedup",
    // the dataprep end-to-end headline (round 9): dedup → scrub →
    // quality → decontaminate → pack as one composed plan — the number
    // to hold against BASELINE.md's 2-5k rows/s dataprep pipelines
    "q96_curation_e2e",
    // tokenizer inference (round 10): train-then-encode the whole
    // corpus — a pure scan-pass plan whose per-word work runs in the
    // memoized native BpeCodec expression
    "q102_bpe_encode",
    // incremental near-dup against the persisted band index (round 10)
    // — the production text-dedup probe path. The index builds on this
    // JVM's first q107 touch (run 1), so the min of 5 samples is the
    // steady-state probe, the q60 build/probe discipline.
    "q107_neardup_index",
    // round-10 additions: the classifier fit (3 integer perceptron
    // epochs — at bench SFs the driver-side regime, so the number is
    // dominated by the one triples collect), its corpus-scoring pass
    // (broadcast weights + one doc-id exchange), the containment-pair
    // detector (prefix × postings candidates), and the int8-quantized
    // ANN probe (the 4x-memory scan path; q25 is its float twin)
    "q110_classifier_fit", "q111_classifier_score",
    "q112_containment_pairs",
    // cross-source containment (round 12): the corpus-wide pigeonhole
    // prefix × postings audit — CrossNearBench carries its synthetic
    // slopes; this row keeps a driver-tracked number at the gate SF
    "q128_source_containment_overlap",
    "q113_ann_quantized",
    // the persisted int8 IVF probe. Its one-time build is its own
    // SEQUENCED line (round-12 verdict #2: r11 mixed the 3.9–38 s
    // builds into the probe sample streams — bimodal lines that
    // tripped the spread guard and read as phantom regressions), the
    // q60_ann_ivf_build discipline applied to all three persisted
    // quantized layouts: _build runs first, every probe sample then
    // times the probe alone.
    "q116_ann_ivf_quantized_build", "q116_ann_ivf_quantized",
    // round-11: product quantization — brute-force ADC ranking (fit +
    // encode + rank in one plan), the persisted IVF-PQ probe, and the
    // RESIDUAL IVF-PQ probe (each after its own sequenced build)
    "q121_ann_pq",
    "q122_ann_ivf_pq_build", "q122_ann_ivf_pq",
    "q125_ann_ivf_pqr_build", "q125_ann_ivf_pqr",
    // round-13: the SQ8 append (build-on-half + YAML-append + probe —
    // first touch pays build+append, later samples are pure probe via
    // the idxBuilt guard), the ingest-router CHAIN (near-dup gate →
    // decontaminate → classify → quality+PII as ONE streaming query —
    // the composed per-ingest cost; the band index builds on the first
    // q107 touch earlier in this list, so samples are chain-only), and
    // the STREAM-appended index probe (built ∪ streamed union read,
    // both sides cell-pruned — the steady-state cost of probing an
    // index that is still ingesting)
    "q129_ann_ivf_append_sq8", "q130_stream_router",
    "q131_ann_ivf_stream_append",
    // round-14: the SQ8 stream-append probe (quantized union read —
    // first touch pays build+stream via the idxBuilt guard, later
    // samples are pure probe) and the tombstoned-index probe (the
    // steady-state cost of the takedown anti-join every probe now
    // carries when deletes/ exists — q126's probe plus one broadcast
    // left-anti against a tiny id set)
    "q135_ann_ivf_stream_sq8", "q136_ann_ivf_delete",
    // the band-index union probe (main ∪ streamed epochs, no fold) —
    // the steady-state cost of near-dup-probing a dedup corpus that is
    // still ingesting, q131's rationale on the flat layout. First
    // touch pays build+stream via the idxBuilt guard. q141 (the admit
    // gate) deliberately adds NO line: its steady state is this same
    // union probe, and its per-batch ingest cost decomposes into
    // shapes already tracked (the q107 probe + q26-style in-batch
    // dedup + the epoch write).
    "q140_neardup_stream_append")

  /** benchQueries whose body holds a BUILD-ONCE guard (idxBuilt /
    * routerWeightsCache): in a fresh JVM their FIRST
    * sample pays a one-time build/train that every later sample skips,
    * so single-sample comparisons — bench previews, cross-round diffs
    * over short sample streams — read the build as a phantom 1.3–1.7×
    * swing (three r13 adjudications burned on exactly this). The bench
    * emits this list as `first_touch` in both JSON lines;
    * tools/bench_diff.py down-ranks those lines out of the attention
    * list (r13 verdict #6). The `_build` lines are NOT here: they
    * rebuild unconditionally, so their samples are uniform. */
  val firstTouchQueries: Seq[String] = Seq(
    "q60_ann_ivf", "q107_neardup_index", "q116_ann_ivf_quantized",
    "q122_ann_ivf_pq", "q125_ann_ivf_pqr", "q127_stream_ann_probe",
    "q129_ann_ivf_append_sq8", "q130_stream_router",
    "q131_ann_ivf_stream_append", "q135_ann_ivf_stream_sq8",
    "q136_ann_ivf_delete", "q140_neardup_stream_append")

  // ------------------------------------------------------------- oracles

  /** CTEs shared by the three decontamination oracles (q53/q68/q71):
    * normalize → distinct word 4-grams → the contaminated-id set. */
  /** The messy synthetic URL shared by q69/q86/q87, closed-form in the
    * part key so oracles can spell the EXPECTED canonical form /
    * registered domain independently: uppercase scheme+host, www
    * prefix, default vs explicit ports, a tracking param, params out
    * of order, a fragment. `malformedEvery = Some(m)` replaces every
    * m-th row with a non-URL, exercising the NULL-domain contract
    * (malformed volume aggregates under NULL, never silently drops). */
  private def synthUrl(k: Column, malformedEvery: Option[Int] = Some(17)): Column = {
    val tld = element_at(
      array(lit(".com"), lit(".org"), lit(".co.uk"), lit(".net")),
      (k % 4).cast("int") + 1)
    val scheme = when(k % 2 === 0, lit("HTTPS")).otherwise(lit("http"))
    val defPort = when(k % 2 === 0, lit(":443")).otherwise(lit(":80"))
    val port = when(k % 3 === 0, defPort)
      .when(k % 3 === 1, lit(":8080")).otherwise(lit(""))
    val raw = concat(
      scheme, lit("://WWW.Sub"), (k % 7).cast("string"),
      lit(".Example"), (k % 13).cast("string"), tld, port,
      lit("/Path"), (k % 11).cast("string"), lit("/item"),
      lit("?utm_source=news&zz="), (k % 5).cast("string"),
      lit("&aa="), (k % 3).cast("string"),
      lit("#Sec"), (k % 2).cast("string"))
    malformedEvery match {
      case Some(m) => when(k % m === 0, lit("not a url")).otherwise(raw)
      case None    => raw
    }
  }

  /** The exhaustive cross-side near-dup CTE tower shared by q105 / q107
    * (verdict rollup) and q108 (streaming candidate flag): same plant +
    * carve, q26's shingle spelling, hits rolled up per batch id. */
  /** The q105/q107/q108 oracle CTE tower, parameterized on the CORPUS
    * membership predicate: q138 probes the same fixture after a
    * takedown removed `doc_id % 20 = 2` from the index, which the
    * oracle spells as one extra predicate on the c CTE — everything
    * else (plant, carve, signature arithmetic) is the ONE shared
    * spelling. */
  /** The shared plant + normalize + shingle prefix (d/n/t/g CTEs) of
    * every near-dup-fixture oracle — ONE spelling; `recursive` opts
    * the WITH into recursive mode for towers that append a
    * connected-components CTE (q141). */
  private def nearDupShingleCtes(recursive: Boolean = false): String =
    (s"WITH ${if (recursive) "RECURSIVE " else ""}d AS (SELECT doc_id, " +
      s"""CASE WHEN doc_id % 4 = 1 AND doc_id % 40 = 1
        |       THEN '$nearDupTpl'
        |     WHEN doc_id % 4 <> 1 AND doc_id % 10 = 2
        |       THEN '$nearDupTpl'
        |     ELSE text END AS text
        | FROM documents),
        |""".stripMargin +
      "n AS (SELECT doc_id, " + normSql.format("text") + " AS s FROM d), " +
      s"""t AS (SELECT doc_id, string_split(s, ' ') AS toks FROM n WHERE s <> ''),
        |g AS (SELECT doc_id,
        |  CASE WHEN len(toks) < 3 THEN [array_to_string(toks, ' ')]
        |       ELSE list_distinct(list_transform(generate_series(1, len(toks) - 2),
        |              i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2])) END AS sh
        | FROM t),
        |b AS (SELECT * FROM g WHERE doc_id % 4 = 1),
        |""".stripMargin)

  private def nearDupOracleCtesWith(corpusPred: String): String =
    (nearDupShingleCtes() +
      s"""c AS (SELECT * FROM g WHERE doc_id % 4 <> 1 AND ($corpusPred)),
        |p AS (SELECT b.doc_id AS bid,
        |  ROUND(CAST(len(list_intersect(b.sh, c.sh)) AS DOUBLE)
        |    / (len(b.sh) + len(c.sh) - len(list_intersect(b.sh, c.sh))), 4) AS j
        | FROM b JOIN c ON true),
        |h AS (SELECT bid, COUNT(*) AS n_corpus_dups, MAX(j) AS max_jaccard
        | FROM p WHERE j >= 0.6 GROUP BY bid)
        |""".stripMargin)

  private lazy val nearDupOracleCtes: String = nearDupOracleCtesWith("TRUE")

  private lazy val nearDupOracleFinal: String =
    """SELECT i.doc_id, COALESCE(h.n_corpus_dups, 0) AS n_corpus_dups,
      |  h.max_jaccard AS max_jaccard, h.bid IS NULL AS kept
      |FROM (SELECT doc_id FROM documents WHERE doc_id % 4 = 1) i
      |LEFT JOIN h ON i.doc_id = h.bid""".stripMargin

  private lazy val nearDupOracleSql: String =
    nearDupOracleCtes + nearDupOracleFinal

  /** q141's oracle: the self-growing admit gate replayed in three SQL
    * stages over the shared shingle prefix — (1) exhaustive vs-index
    * verdicts drop batch docs near-dupping an index doc, (2) the
    * survivors near-dedup by connected-components keep-min (a
    * recursive CTE — minhashDedup's cluster rule: per component of
    * the j ≥ 0.6 graph only the min id survives; self-edges keep
    * isolated survivors in the closure), (3) the standard verdict
    * tower re-probes the batch against index ∪ admitted — admitted
    * docs self-match at j = 1, exactly like the Spark probe against
    * the grown index. */
  private lazy val nearDupAdmitOracleSql: String =
    (nearDupShingleCtes(recursive = true) +
      """c AS (SELECT * FROM g WHERE doc_id % 4 <> 1 AND doc_id % 10 <> 2),
        |drop1 AS (SELECT DISTINCT b.doc_id FROM b JOIN c ON
        |  ROUND(CAST(len(list_intersect(b.sh, c.sh)) AS DOUBLE)
        |    / (len(b.sh) + len(c.sh) - len(list_intersect(b.sh, c.sh))), 4)
        |  >= 0.6),
        |surv AS (SELECT * FROM b
        |  WHERE doc_id NOT IN (SELECT doc_id FROM drop1)),
        |e AS (
        |  SELECT a.doc_id AS src, z.doc_id AS dst FROM surv a JOIN surv z
        |   ON a.doc_id <> z.doc_id AND
        |    ROUND(CAST(len(list_intersect(a.sh, z.sh)) AS DOUBLE)
        |      / (len(a.sh) + len(z.sh) - len(list_intersect(a.sh, z.sh))), 4)
        |    >= 0.6
        |  UNION
        |  SELECT doc_id, doc_id FROM surv),
        |cc(node, comp) AS (
        |  SELECT src, src FROM e
        |  UNION
        |  SELECT e.dst, cc.comp FROM cc JOIN e ON cc.node = e.src),
        |admitted AS (
        |  SELECT node AS doc_id FROM cc GROUP BY node
        |  HAVING MIN(comp) = node),
        |c2 AS (SELECT * FROM c
        |  UNION ALL SELECT g.* FROM g JOIN admitted USING (doc_id)),
        |p AS (SELECT b.doc_id AS bid,
        |  ROUND(CAST(len(list_intersect(b.sh, c2.sh)) AS DOUBLE)
        |    / (len(b.sh) + len(c2.sh) - len(list_intersect(b.sh, c2.sh))), 4)
        |    AS j
        | FROM b JOIN c2 ON true),
        |h AS (SELECT bid, COUNT(*) AS n_corpus_dups, MAX(j) AS max_jaccard
        | FROM p WHERE j >= 0.6 GROUP BY bid)
        |""".stripMargin + nearDupOracleFinal)

  private lazy val decontaminateCtes: String =
    ("WITH nn AS (SELECT doc_id, string_split_regex(" + normSql.format("text") +
      ", '\\s+') AS toks FROM documents), " +
      """g AS (SELECT doc_id,
        |  list_distinct(list_transform(generate_series(1, len(toks) - 3),
        |    i -> array_to_string(toks[i:i+3], ' '))) AS gs
        | FROM nn WHERE len(toks) >= 4),
        |e AS (SELECT doc_id, unnest(gs) AS gram FROM g),
        |test AS (SELECT DISTINCT gram FROM e WHERE doc_id % 20 = 0),
        |bad AS (SELECT DISTINCT e.doc_id FROM e JOIN test USING (gram)
        |        WHERE e.doc_id % 20 <> 0)""".stripMargin)

  /** Shared by q53 (plain semi-join) and q68 (Bloom-prefiltered): the
    * prefilter is exact-by-construction, so both queries must
    * hash-match ONE oracle. */
  private lazy val decontaminateOracle: String = decontaminateCtes +
    """
      |SELECT d.doc_id, (b.doc_id IS NOT NULL) AS contaminated
      |FROM documents d LEFT JOIN bad b USING (doc_id)
      |WHERE d.doc_id % 20 <> 0""".stripMargin

  private val normSql =
    "trim(regexp_replace(regexp_replace(strip_accents(lower(%s)), '[^0-9a-z]+', ' ', 'g'), '\\s+', ' ', 'g'))"

  /** Shared by q97/q100: the BPE word-frequency table + [[bpeK]]
    * unrolled merge-round CTE blocks (p_r pair counts → b_r winner →
    * w_{r+1} fold-merged words). */
  private val bpeK = 8
  private lazy val bpeOracleCtes: String = {
    val head =
      """WITH tok AS (SELECT unnest(string_split_regex(<NORM_TEXT>, '\s+')) AS w FROM documents),
        |wf AS (SELECT w, COUNT(*) AS freq FROM tok WHERE w <> '' GROUP BY 1),
        |w0 AS (SELECT rtrim(regexp_replace(w, '(.)', '\1~', 'g'), '~') AS s, freq FROM wf)""".stripMargin
    val rounds = (0 until bpeK).map { r =>
      s"""p$r AS (SELECT p.a AS a, p.b AS b, SUM(freq) AS cnt FROM (
         |  SELECT freq, unnest(list_transform(generate_series(1, len(toks) - 1),
         |    i -> {'a': toks[i], 'b': toks[i+1]})) AS p
         |  FROM (SELECT string_split(s, '~') AS toks, freq FROM w$r)
         |  WHERE len(toks) >= 2) GROUP BY 1, 2),
         |b$r AS (SELECT a, b, cnt FROM p$r ORDER BY cnt DESC, a, b LIMIT 1),
         |w${r + 1} AS (SELECT list_reduce(string_split(w$r.s, '~'),
         |  (acc, x) -> acc || CASE WHEN (acc = b$r.a OR suffix(acc, '~' || b$r.a))
         |    AND x = b$r.b THEN '' ELSE '~' END || x) AS s, freq
         |  FROM w$r, b$r)""".stripMargin
    }.mkString(",\n")
    (head + ",\n" + rounds).replace("<NORM_TEXT>", normSql.format("text"))
  }

  /** The SQL mirrors of Tools.tokenize, defined ONCE: oracle bodies
    * write `<STRIP:expr>` (edge-whitespace strip) and `<WS>` (the
    * whitespace character class) and the placeholders are expanded here,
    * so the tokenizer and its oracle mirrors can only change in
    * lock-step (a stale spelling in one of the ~8 sites would otherwise
    * be a silent semantic divergence on edge-whitespace docs).
    *
    * `<WS>` is an EXPLICIT class, not `\s`: Java regex \s includes
    * vertical tab (U+000B) but RE2's \s does not, so the two engines
    * would silently tokenize "ab" differently. The explicit class
    * is exactly Java's (and Python str.split's) whitespace set, pinning
    * DuckDB to the same six characters. */
  private val wsSql = "[ \\t\\n\\x0B\\f\\r]"
  private val stripSqlFmt = s"regexp_replace(%s, '^$wsSql+|$wsSql+$$', '', 'g')"
  private val stripRe = "<STRIP:([A-Za-z_()]+)>".r
  /** SQL list literal from a Scala stopword list — interpolated so the
    * Scala constants and their oracle mirrors cannot drift. */
  private def sqlList(ws: Seq[String]): String =
    ws.map(w => s"'$w'").mkString("[", ",", "]")
  private def expandStrip(sql: String): String =
    stripRe.replaceAllIn(sql
        .replace("<WS>", wsSql)
        .replace("<SUBWORD>", TextAnalysis.subwordPattern)
        .replace("<STOPWORDS:en>", sqlList(TextAnalysis.stopwords("en")))
        .replace("<STOPWORDS:fr>", sqlList(TextAnalysis.stopwords("fr")))
        .replace("<STOPWORDS:es>", sqlList(TextAnalysis.stopwords("es")))
        .replace("<STOPWORDS:de>", sqlList(TextAnalysis.stopwords("de")))
        .replace("<GOPHER_STOPWORDS>", sqlList(graft.text.Curation.gopherStopwords)),
      m => scala.util.matching.Regex.quoteReplacement(stripSqlFmt.format(m.group(1))))

  def oracleSql: Map[String, String] = oracleSqlRaw.view.mapValues(expandStrip).toMap

  // shared by q25 (brute force) and q60 (persisted IVF index probed
  // exhaustively): both contracts are the exact cosine top-10
  /** `corpusPred` restricts the CORPUS side only (q136's takedown
    * oracle: deleted ids leave the index, never the query set) — empty
    * for the exhaustive full-corpus probes. */
  private def annTopKOracleSqlWith(corpusPred: String): String =
    s"""WITH q AS (SELECT vec_id AS query_id, CAST(embedding AS DOUBLE[]) AS qv
      |           FROM embeddings WHERE vec_id % 100 = 0),
      |c AS (SELECT vec_id AS neighbor_id, CAST(embedding AS DOUBLE[]) AS cv FROM embeddings$corpusPred),
      |scored AS (
      | SELECT query_id, neighbor_id,
      |  ROUND(list_cosine_similarity(qv, cv), 4) AS score
      | FROM q CROSS JOIN c WHERE query_id <> neighbor_id),
      |ranked AS (
      | SELECT query_id, neighbor_id, score,
      |  ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY score DESC, neighbor_id) AS rank
      | FROM scored)
      |SELECT query_id, neighbor_id, score, CAST(rank AS INTEGER) AS rank
      |FROM ranked WHERE rank <= 10""".stripMargin

  private val annTopKOracleSql: String = annTopKOracleSqlWith("")

  /** Shared by q113 (brute-force quantized top-k), q116 (the int8 IVF
    * index probed exhaustively), and q129 (the SQ8 append, where the
    * grid fits on the even half alone — `paramsFilter`): the
    * scalar-quantization pipeline replayed from the float embeddings —
    * per-dim min/max codebook over the FIT corpus, the one fixed IEEE
    * quantize expression (clamped, so out-of-grid appended values pin
    * to 0/255 on both sides), the mismatched-grid / NULL-element
    * exclusion, then exhaustive integer grid ranking. */
  private def quantTopKOracleSqlWith(paramsFilter: String): String =
    """WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v
      |           FROM embeddings WHERE embedding IS NOT NULL),
      |u AS (SELECT vec_id, w.pos AS pos, w.x AS x
      |      FROM (SELECT vec_id, unnest(list_transform(
      |              generate_series(1, len(v)), j -> {'pos': j, 'x': v[j]})) AS w
      |            FROM e)),
      |p AS (SELECT pos, MIN(x) AS mn, MAX(x) AS mx FROM u
      |      WHERE x IS NOT NULL<PFILTER> GROUP BY pos),"""
      .stripMargin.replace("<PFILTER>", paramsFilter) +
    """
      |pl AS (SELECT list(mn ORDER BY pos) AS mns, list(mx ORDER BY pos) AS mxs
      |       FROM p),
      |qv AS (SELECT vec_id, list_transform(generate_series(1, len(v)),
      |         j -> CASE WHEN v[j] IS NULL THEN NULL
      |              WHEN mxs[j] = mns[j] THEN 0
      |              ELSE least(255, greatest(0, CAST(floor(
      |                ((v[j] - mns[j]) * 255.0) / (mxs[j] - mns[j]))
      |                AS BIGINT))) END) AS q
      |       FROM e, pl),
      |s AS (SELECT a.vec_id AS query_id, c.vec_id AS neighbor_id,
      |        CASE WHEN len(a.q) <> len(c.q)
      |               OR len(list_filter(a.q, x -> x IS NULL)) > 0
      |               OR len(list_filter(c.q, x -> x IS NULL)) > 0
      |             THEN NULL
      |             ELSE list_sum(list_transform(generate_series(1, len(a.q)),
      |               j -> (a.q[j] - c.q[j]) * (a.q[j] - c.q[j]))) END AS d2q
      |      FROM (SELECT * FROM qv WHERE vec_id % 100 = 0) a
      |      CROSS JOIN qv c WHERE a.vec_id <> c.vec_id)
      |SELECT query_id, neighbor_id, CAST(d2q AS BIGINT) AS d2q,
      |       CAST(rank AS INTEGER) AS rank
      |FROM (SELECT query_id, neighbor_id, d2q,
      |        ROW_NUMBER() OVER (PARTITION BY query_id
      |          ORDER BY d2q, neighbor_id) AS rank
      |      FROM s WHERE d2q IS NOT NULL)
      |WHERE rank <= 10""".stripMargin

  private val quantTopKOracleSql: String = quantTopKOracleSqlWith("")

  /** Shared by q121 (brute-force PQ ADC top-k) and q122 (the IVF-PQ
    * index probed exhaustively): the whole product-quantization
    * pipeline replayed from the float embeddings — per-subspace
    * quantized-integer k-means towers (the q74 CTE pattern, one tower
    * per subspace over the sliced vectors, all sharing one md5 init
    * ranking), final-codebook code assignment (ties to the smaller
    * cid), the query-side ADC grids, then the exhaustive integer ADC
    * ranking. Every join is INNER on the per-subspace code/ADC rows,
    * which reproduces the engine's whole-vector validity rule (a row
    * invalid in any subspace ranks nowhere). */
  private def pqTopKOracleSql(m: Int, dsub: Int, ksub: Int,
      iters: Int, trainPred: String = ""): String = {
    // `trainPred` (a predicate on `id`) restricts the codebook-TRAINING
    // rows — the append gates (q133) fit towers on the build half alone
    // while code assignment and ranking still cover the union, which is
    // exactly the append contract (encode under STORED codebooks, never
    // refit). Empty keeps the original single-source shape, so the
    // brute/probe oracles (q121/q122) are untouched.
    def trainSrc(s: Int) = if (trainPred.isEmpty) s"es$s" else s"tr$s"
    def trainCte(s: Int) = if (trainPred.isEmpty) ""
      else s"tr$s AS (SELECT * FROM es$s WHERE $trainPred),\n"
    val head =
      """WITH e AS (SELECT vec_id AS id,
        |   list_transform(CAST(embedding AS DOUBLE[]),
        |     x -> CAST(floor(x*10000) AS BIGINT)) AS qv
        |  FROM embeddings WHERE embedding IS NOT NULL AND vec_id IS NOT NULL),
        |h AS (SELECT id,
        |   ('0x' || substr(md5('42' || CAST(id AS VARCHAR)), 1, 15))::BIGINT AS hh
        |  FROM e)""".stripMargin
    val subs = (0 until m).map { s =>
      val lo = s * dsub + 1; val hi = (s + 1) * dsub
      val tower = (1 to iters).map { r =>
        s"""d$s$r AS (SELECT es.id, c.cid,
           |   list_sum(list_transform(generate_series(1, len(es.sv)),
           |     j -> (es.sv[j]-c.cv[j])*(es.sv[j]-c.cv[j]))) AS d2
           |  FROM ${trainSrc(s)} es CROSS JOIN cq$s${r - 1} c),
           |a$s$r AS (SELECT id, cid FROM (SELECT id, cid,
           |   ROW_NUMBER() OVER (PARTITION BY id ORDER BY d2, cid) AS rn
           |   FROM d$s$r) WHERE rn = 1),
           |s$s$r AS (SELECT a.cid, u.pos, SUM(u.q) AS sm, COUNT(*) AS n
           |  FROM a$s$r a JOIN (SELECT id, unnest(range(len(sv))) AS pos,
           |     unnest(sv) AS q FROM ${trainSrc(s)}) u USING (id) GROUP BY 1, 2),
           |cq$s$r AS (
           |  SELECT cid, list(CAST((sm - ((sm % n + n) % n)) // n AS BIGINT)
           |    ORDER BY pos) AS cv FROM s$s$r GROUP BY cid
           |  UNION ALL
           |  SELECT cid, cv FROM cq$s${r - 1}
           |  WHERE cid NOT IN (SELECT cid FROM s$s$r))""".stripMargin
      }.mkString(",\n")
      s"""es$s AS (SELECT id, list_slice(qv, $lo, $hi) AS sv FROM e
         |  WHERE len(list_filter(list_slice(qv, $lo, $hi),
         |    x -> x IS NULL)) = 0),
         |${trainCte(s)}cq${s}0 AS (SELECT rn - 1 AS cid, sv AS cv FROM (
         |   SELECT es.sv, ROW_NUMBER() OVER (ORDER BY h.hh, es.id) AS rn
         |   FROM ${trainSrc(s)} es JOIN h ON h.id = es.id) WHERE rn <= $ksub),
         |$tower,
         |code$s AS (SELECT id, cid FROM (
         |   SELECT es.id, c.cid, ROW_NUMBER() OVER (PARTITION BY es.id
         |     ORDER BY list_sum(list_transform(generate_series(1, len(es.sv)),
         |       j -> (es.sv[j]-c.cv[j])*(es.sv[j]-c.cv[j]))), c.cid) AS rn
         |   FROM es$s es CROSS JOIN cq$s$iters c) WHERE rn = 1),
         |qa$s AS (SELECT es.id AS query_id, c.cid,
         |   CAST(list_sum(list_transform(generate_series(1, len(es.sv)),
         |     j -> (es.sv[j]-c.cv[j])*(es.sv[j]-c.cv[j]))) AS BIGINT) AS d2
         |  FROM es$s es CROSS JOIN cq$s$iters c WHERE es.id % 100 = 0)"""
        .stripMargin
    }.mkString(",\n")
    val codeJoins = (1 until m).map(s =>
      s"  JOIN code$s c$s ON c$s.id = c0.id").mkString("\n")
    val adcJoins = (0 until m).map(s =>
      s"  JOIN qa$s ON qa$s.query_id = q.query_id AND qa$s.cid = c$s.cid")
      .mkString("\n")
    val dsum = (0 until m).map(s => s"qa$s.d2").mkString(" + ")
    s"""$head,
       |$subs,
       |scored AS (SELECT q.query_id, c0.id AS neighbor_id,
       |   $dsum AS d2pq
       |  FROM (SELECT DISTINCT query_id FROM qa0) q
       |  JOIN code0 c0 ON c0.id <> q.query_id
       |$codeJoins
       |$adcJoins)
       |SELECT query_id, neighbor_id, CAST(d2pq AS BIGINT) AS d2pq,
       |       CAST(rank AS INTEGER) AS rank
       |FROM (SELECT query_id, neighbor_id, d2pq,
       |        ROW_NUMBER() OVER (PARTITION BY query_id
       |          ORDER BY d2pq, neighbor_id) AS rank
       |      FROM scored)
       |WHERE rank <= 10""".stripMargin
  }

  /** q125's RESIDUAL IVF-PQ replay — the q121 pipeline with the true
    * FAISS-IVFPQ train step in front: the coarse k-means tower (the
    * exact kmeansOracleCtes arithmetic, re-emitted here with `c`-
    * prefixed CTE names so both generators stay independent), a fresh
    * final assignment under the finished coarse codebook, the integer
    * residuals qv − qc[cell], then per-subspace k-means towers OVER
    * THE RESIDUALS, residual code assignment, and per-(query, cell)
    * ADC grids — a candidate's distance uses the grid of ITS OWN cell
    * (the probe joins on the cell key). All long-exact. */
  private def pqrTopKOracleSql(nlist: Int, m: Int, dsub: Int, ksub: Int,
      iters: Int, trainPred: String = ""): String = {
    // `trainPred` (a predicate on `id`): the append gate (q134) trains
    // the coarse tower AND the residual-subspace towers on the build
    // half alone; the final assignment `afin`, the residuals `res`,
    // the code assignment and the ranking still cover the union —
    // appended rows assign to STORED cells and encode against STORED
    // residual codebooks, never refit. Empty keeps the original shape
    // (q125's oracle untouched).
    val eTrain = if (trainPred.isEmpty) "e" else "et"
    val eTrainCte = if (trainPred.isEmpty) ""
      else s",\net AS (SELECT * FROM e WHERE $trainPred)"
    def rTrainSrc(s: Int) = if (trainPred.isEmpty) s"esr$s" else s"trr$s"
    def rTrainCte(s: Int) = if (trainPred.isEmpty) ""
      else s"trr$s AS (SELECT * FROM esr$s WHERE $trainPred),\n"
    val head =
      s"""WITH e AS MATERIALIZED (SELECT vec_id AS id,
         |   list_transform(CAST(embedding AS DOUBLE[]),
         |     x -> CAST(floor(x*10000) AS BIGINT)) AS qv
         |  FROM embeddings WHERE embedding IS NOT NULL AND vec_id IS NOT NULL
         |    AND len(list_filter(embedding, x -> x IS NULL)) = 0),
         |h AS MATERIALIZED (SELECT id,
         |   ('0x' || substr(md5('42' || CAST(id AS VARCHAR)), 1, 15))::BIGINT AS hh
         |  FROM e)$eTrainCte,
         |ccq0 AS (SELECT rn - 1 AS cid, qv AS cv FROM (
         |   SELECT qv, ROW_NUMBER() OVER (ORDER BY h.hh, e.id) AS rn
         |   FROM $eTrain e JOIN h ON h.id = e.id) WHERE rn <= $nlist)""".stripMargin
    val coarse = (1 to iters).map { r =>
      s"""cd$r AS (SELECT e.id, c.cid,
         |   list_sum(list_transform(generate_series(1, len(e.qv)),
         |     j -> (e.qv[j]-c.cv[j])*(e.qv[j]-c.cv[j]))) AS d2
         |  FROM $eTrain e CROSS JOIN ccq${r - 1} c),
         |ca$r AS (SELECT id, cid FROM (SELECT id, cid,
         |   ROW_NUMBER() OVER (PARTITION BY id ORDER BY d2, cid) AS rn
         |   FROM cd$r) WHERE rn = 1),
         |cs$r AS (SELECT a.cid, u.pos, SUM(u.q) AS sm, COUNT(*) AS n
         |  FROM ca$r a JOIN (SELECT id, unnest(range(len(qv))) AS pos,
         |     unnest(qv) AS q FROM $eTrain) u USING (id) GROUP BY 1, 2),
         |ccq$r AS (
         |  SELECT cid, list(CAST((sm - ((sm % n + n) % n)) // n AS BIGINT)
         |    ORDER BY pos) AS cv FROM cs$r GROUP BY cid
         |  UNION ALL
         |  SELECT cid, cv FROM ccq${r - 1}
         |  WHERE cid NOT IN (SELECT cid FROM cs$r))""".stripMargin
    }.mkString(",\n")
    val residual =
      s"""afin AS (SELECT id, cid FROM (SELECT e.id, c.cid,
         |   ROW_NUMBER() OVER (PARTITION BY e.id ORDER BY
         |     list_sum(list_transform(generate_series(1, len(e.qv)),
         |       j -> (e.qv[j]-c.cv[j])*(e.qv[j]-c.cv[j]))), c.cid) AS rn
         |   FROM e CROSS JOIN ccq$iters c) WHERE rn = 1),
         |res AS MATERIALIZED (SELECT e.id, a.cid AS cell,
         |   list_transform(generate_series(1, len(e.qv)),
         |     j -> e.qv[j] - c.cv[j]) AS rv
         |  FROM e JOIN afin a USING (id) JOIN ccq$iters c ON c.cid = a.cid)"""
        .stripMargin
    val subs = (0 until m).map { s =>
      val lo = s * dsub + 1; val hi = (s + 1) * dsub
      val tower = (1 to iters).map { r =>
        s"""dr$s$r AS (SELECT es.id, c.cid,
           |   list_sum(list_transform(generate_series(1, len(es.sv)),
           |     j -> (es.sv[j]-c.cv[j])*(es.sv[j]-c.cv[j]))) AS d2
           |  FROM ${rTrainSrc(s)} es CROSS JOIN cqr$s${r - 1} c),
           |ar$s$r AS (SELECT id, cid FROM (SELECT id, cid,
           |   ROW_NUMBER() OVER (PARTITION BY id ORDER BY d2, cid) AS rn
           |   FROM dr$s$r) WHERE rn = 1),
           |sr$s$r AS (SELECT a.cid, u.pos, SUM(u.q) AS sm, COUNT(*) AS n
           |  FROM ar$s$r a JOIN (SELECT id, unnest(range(len(sv))) AS pos,
           |     unnest(sv) AS q FROM ${rTrainSrc(s)}) u USING (id) GROUP BY 1, 2),
           |cqr$s$r AS (
           |  SELECT cid, list(CAST((sm - ((sm % n + n) % n)) // n AS BIGINT)
           |    ORDER BY pos) AS cv FROM sr$s$r GROUP BY cid
           |  UNION ALL
           |  SELECT cid, cv FROM cqr$s${r - 1}
           |  WHERE cid NOT IN (SELECT cid FROM sr$s$r))""".stripMargin
      }.mkString(",\n")
      s"""esr$s AS MATERIALIZED (SELECT id, list_slice(rv, $lo, $hi) AS sv FROM res),
         |${rTrainCte(s)}cqr${s}0 AS (SELECT rn - 1 AS cid, sv AS cv FROM (
         |   SELECT es.sv, ROW_NUMBER() OVER (ORDER BY h.hh, es.id) AS rn
         |   FROM ${rTrainSrc(s)} es JOIN h ON h.id = es.id) WHERE rn <= $ksub),
         |$tower,
         |code$s AS (SELECT id, cid FROM (
         |   SELECT es.id, c.cid, ROW_NUMBER() OVER (PARTITION BY es.id
         |     ORDER BY list_sum(list_transform(generate_series(1, len(es.sv)),
         |       j -> (es.sv[j]-c.cv[j])*(es.sv[j]-c.cv[j]))), c.cid) AS rn
         |   FROM esr$s es CROSS JOIN cqr$s$iters c) WHERE rn = 1),
         |qa$s AS (SELECT qr.query_id, qr.cell, c.cid,
         |   CAST(list_sum(list_transform(generate_series(1, $dsub),
         |     j -> (qr.sv[j]-c.cv[j])*(qr.sv[j]-c.cv[j]))) AS BIGINT) AS d2
         |  FROM (SELECT query_id, cell, list_slice(rv, $lo, $hi) AS sv
         |        FROM qres) qr CROSS JOIN cqr$s$iters c)""".stripMargin
    }.mkString(",\n")
    val qres =
      s"""qres AS MATERIALIZED (SELECT e.id AS query_id, cc.cid AS cell,
         |   list_transform(generate_series(1, len(e.qv)),
         |     j -> e.qv[j] - cc.cv[j]) AS rv
         |  FROM e CROSS JOIN ccq$iters cc WHERE e.id % 100 = 0)""".stripMargin
    val codeJoins = (1 until m).map(s =>
      s"  JOIN code$s c$s ON c$s.id = c0.id").mkString("\n")
    val adcJoins = (0 until m).map(s =>
      s"  JOIN qa$s ON qa$s.query_id = q.query_id AND qa$s.cell = cf.cid " +
        s"AND qa$s.cid = c$s.cid").mkString("\n")
    val dsum = (0 until m).map(s => s"qa$s.d2").mkString(" + ")
    s"""$head,
       |$coarse,
       |$residual,
       |$qres,
       |$subs,
       |scored AS (SELECT q.query_id, c0.id AS neighbor_id,
       |   $dsum AS d2pq
       |  FROM (SELECT DISTINCT query_id FROM qres) q
       |  JOIN code0 c0 ON c0.id <> q.query_id
       |$codeJoins
       |  JOIN afin cf ON cf.id = c0.id
       |$adcJoins)
       |SELECT query_id, neighbor_id, CAST(d2pq AS BIGINT) AS d2pq,
       |       CAST(rank AS INTEGER) AS rank
       |FROM (SELECT query_id, neighbor_id, d2pq,
       |        ROW_NUMBER() OVER (PARTITION BY query_id
       |          ORDER BY d2pq, neighbor_id) AS rank
       |      FROM scored)
       |WHERE rank <= 10""".stripMargin
  }

  /** Shared by q74 (codebook fit) and q60_ann_ivf_build (IVF layout):
    * the quantized-integer Lloyd's replay — Cluster.fitCentroids's
    * exact contract unrolled as CTE blocks, the q97 BPE-round pattern.
    * `e` quantizes every embedding to floor(x·10⁴) longs; `cq0` is the
    * seeded init (the k rows ranked first by 60-bit md5(seed‖id), id);
    * each round r: integer argmin assignment a_r (ties to the smaller
    * cid), per-dimension member sums s_r, and the floor-division
    * update cq_r (clusters with no members keep their centroid). All
    * arithmetic is 64-bit-integer exact, so the final cq_iters matches
    * the engine's centroids bit for bit. */
  private def kmeansOracleCtes(k: Int, iters: Int): String = {
    val init =
      s"""WITH e AS (SELECT vec_id AS id,
         |   list_transform(CAST(embedding AS DOUBLE[]),
         |     x -> CAST(floor(x*10000) AS BIGINT)) AS qv
         |  FROM embeddings WHERE embedding IS NOT NULL
         |    AND len(list_filter(embedding, x -> x IS NULL)) = 0),
         |cq0 AS (SELECT rn - 1 AS cid, qv AS cv FROM (
         |   SELECT qv, ROW_NUMBER() OVER (ORDER BY
         |     ('0x' || substr(md5('42' || CAST(id AS VARCHAR)), 1, 15))::BIGINT,
         |     id) AS rn
         |   FROM e) WHERE rn <= $k)""".stripMargin
    val rounds = (1 to iters).map { r =>
      s"""d$r AS (SELECT e.id, c.cid,
         |   list_sum(list_transform(generate_series(1, len(e.qv)),
         |     j -> (e.qv[j]-c.cv[j])*(e.qv[j]-c.cv[j]))) AS d2
         |  FROM e CROSS JOIN cq${r - 1} c),
         |a$r AS (SELECT id, cid FROM (SELECT id, cid,
         |   ROW_NUMBER() OVER (PARTITION BY id ORDER BY d2, cid) AS rn
         |   FROM d$r) WHERE rn = 1),
         |s$r AS (SELECT a.cid, u.pos, SUM(u.q) AS sm, COUNT(*) AS n
         |  FROM a$r a JOIN (SELECT id, unnest(range(len(qv))) AS pos,
         |     unnest(qv) AS q FROM e) u USING (id) GROUP BY 1, 2),
         |cq$r AS (
         |  SELECT cid, list(CAST((sm - ((sm % n + n) % n)) // n AS BIGINT)
         |    ORDER BY pos) AS cv FROM s$r GROUP BY cid
         |  UNION ALL
         |  SELECT cid, cv FROM cq${r - 1}
         |  WHERE cid NOT IN (SELECT cid FROM s$r))""".stripMargin
    }.mkString(",\n")
    init + ",\n" + rounds
  }

  /** The IVF build-summary oracle (q60/q116/q122/q125 _build lines):
    * the replayed quantized-integer k-means fit (kmeansOracleCtes) at
    * the layout's nlist, plus one more assignment pass (d5/a5) against
    * the FINAL centroids — exactly what writeIvfIndex
    * persist as the cell layout: per-cell row counts and the integer
    * centroid norm Σqc² (empty cells appear on neither side). */
  private def ivfBuildOracleSql(nlist: Int): String =
    kmeansOracleCtes(k = nlist, iters = 4) +
      """,
        |d5 AS (SELECT e.id, c.cid,
        |   list_sum(list_transform(generate_series(1, len(e.qv)),
        |     j -> (e.qv[j]-c.cv[j])*(e.qv[j]-c.cv[j]))) AS d2
        |  FROM e CROSS JOIN cq4 c),
        |a5 AS (SELECT id, cid FROM (SELECT id, cid,
        |   ROW_NUMBER() OVER (PARTITION BY id ORDER BY d2, cid) AS rn
        |   FROM d5) WHERE rn = 1),
        |cnt AS (SELECT cid, COUNT(*) AS n_vectors FROM a5 GROUP BY 1),
        |nrm AS (SELECT cid,
        |   list_sum(list_transform(cv, x -> x*x)) AS n2 FROM cq4)
        |SELECT CAST(c.cid AS INT) AS __cell,
        |  CAST(c.n_vectors AS BIGINT) AS n_vectors,
        |  CAST(n.n2 AS BIGINT) AS centroid_norm2_q
        |FROM cnt c JOIN nrm n USING (cid)""".stripMargin

  /** Shared by q110 (classifier fit) and q111 (classifier scoring): the
    * batch-perceptron epochs unrolled as CTE blocks (the q97/q74
    * pattern). `d` is the fit corpus with its planted noisy label; `f`
    * the hashed PRESENCE triples (binary = true — x is 1 per distinct
    * bucket) plus one bias triple (feat −1) per doc — exactly
    * LinearClassifier.textFeatures' contract; `w1` the epoch-1
    * update (all-zero weights leave every doc misclassified, so epoch 1
    * is the full class-difference sum); each later round r: margins
    * m$r, misclassified set mis$r (zero margin counts as wrong), update
    * batch dl$r, and the full-outer weight merge w$r. All arithmetic is
    * 64-bit-integer exact, so w$epochs matches the engine's weight
    * table bit for bit. */
  private def perceptronOracleCtes(buckets: Int, epochs: Int): String = {
    val head =
      s"""WITH d AS (SELECT doc_id AS id,
         |   CASE WHEN doc_id % 17 = 0 THEN -yb ELSE yb END AS y, text
         |  FROM (SELECT doc_id,
         |     CASE WHEN doc_id % 2 = 0 THEN 1 ELSE -1 END AS yb,
         |     text || CASE WHEN doc_id % 2 = 0 THEN ' crisp curated prose'
         |                  ELSE ' noisy boiler plate' END AS text
         |    FROM documents)
         |  WHERE text IS NOT NULL AND doc_id IS NOT NULL),
         |tok AS (SELECT id,
         |   unnest(string_split_regex(<STRIP:lower(text)>, '<WS>+')) AS t
         |  FROM d WHERE <STRIP:text> <> ''),
         |f AS (SELECT id,
         |   ('0x' || substr(md5(t), 1, 15))::BIGINT % $buckets AS feat,
         |   1::BIGINT AS x FROM tok GROUP BY 1, 2
         |  UNION ALL SELECT id, -1::BIGINT, 1::BIGINT FROM d),
         |w1 AS (SELECT f.feat, SUM(d.y * f.x) AS w
         |  FROM f JOIN d USING (id) GROUP BY 1)""".stripMargin
    val rounds = (2 to epochs).map { r =>
      s"""m$r AS (SELECT d.id, d.y, COALESCE(SUM(f.x * w.w), 0) AS margin
         |  FROM d LEFT JOIN f ON f.id = d.id
         |  LEFT JOIN w${r - 1} w ON w.feat = f.feat
         |  GROUP BY d.id, d.y),
         |mis$r AS (SELECT id, y FROM m$r WHERE y * margin <= 0),
         |dl$r AS (SELECT f.feat, SUM(m.y * f.x) AS dw
         |  FROM f JOIN mis$r m USING (id) GROUP BY 1),
         |w$r AS (SELECT COALESCE(w.feat, u.feat) AS feat,
         |   COALESCE(w.w, 0) + COALESCE(u.dw, 0) AS w
         |  FROM w${r - 1} w FULL OUTER JOIN dl$r u ON w.feat = u.feat)""".stripMargin
    }.mkString(",\n")
    if (epochs >= 2) head + ",\n" + rounds else head
  }

  /** Shared by q117 (multiclass fit) and q118 (multiclass prediction):
    * the one-vs-one decomposition replayed — the shared fixture `d`
    * (three planted marker classes, rotated id % 17 flips), the
    * presence-triples `f`, then one full perceptron CTE tower PER
    * CLASS PAIR (suffix-named; each pair's docs filtered to its two
    * labels, y = +1 for the lexicographically smaller). Epochs unroll
    * exactly like the binary tower. */
  private def perceptronOvOOracleCtes(buckets: Int, epochs: Int): String = {
    val head =
      s"""WITH d AS (SELECT doc_id AS id,
         |   CASE WHEN doc_id % 17 = 0 THEN
         |     CASE WHEN doc_id % 3 = 0 THEN 'spam'
         |          WHEN doc_id % 3 = 1 THEN 'filler' ELSE 'prose' END
         |   ELSE
         |     CASE WHEN doc_id % 3 = 0 THEN 'prose'
         |          WHEN doc_id % 3 = 1 THEN 'spam' ELSE 'filler' END
         |   END AS lb,
         |   text || CASE WHEN doc_id % 3 = 0 THEN ' crisp curated prose'
         |                WHEN doc_id % 3 = 1 THEN ' noisy boiler plate'
         |                ELSE ' mediocre average filler' END AS text
         |  FROM documents WHERE text IS NOT NULL AND doc_id IS NOT NULL),
         |tok AS (SELECT id,
         |   unnest(string_split_regex(<STRIP:lower(text)>, '<WS>+')) AS t
         |  FROM d WHERE <STRIP:text> <> ''),
         |f AS (SELECT id,
         |   ('0x' || substr(md5(t), 1, 15))::BIGINT % $buckets AS feat,
         |   1::BIGINT AS x FROM tok GROUP BY 1, 2
         |  UNION ALL SELECT id, -1::BIGINT, 1::BIGINT FROM d)""".stripMargin
    val towers = ovoPairs.map { case (s, a, b) =>
      val base =
        s"""d$s AS (SELECT id, CASE WHEN lb = '$a' THEN 1 ELSE -1 END AS y
           |  FROM d WHERE lb IN ('$a', '$b')),
           |w${s}1 AS (SELECT f.feat, SUM(dd.y * f.x) AS w
           |  FROM f JOIN d$s dd USING (id) GROUP BY 1)""".stripMargin
      val rounds = (2 to epochs).map { r =>
        s"""m$s$r AS (SELECT dd.id, dd.y, COALESCE(SUM(f.x * w.w), 0) AS margin
           |  FROM d$s dd LEFT JOIN f ON f.id = dd.id
           |  LEFT JOIN w$s${r - 1} w ON w.feat = f.feat
           |  GROUP BY dd.id, dd.y),
           |mis$s$r AS (SELECT id, y FROM m$s$r WHERE y * margin <= 0),
           |dl$s$r AS (SELECT f.feat, SUM(m.y * f.x) AS dw
           |  FROM f JOIN mis$s$r m USING (id) GROUP BY 1),
           |w$s$r AS (SELECT COALESCE(w.feat, u.feat) AS feat,
           |   COALESCE(w.w, 0) + COALESCE(u.dw, 0) AS w
           |  FROM w$s${r - 1} w FULL OUTER JOIN dl$s$r u ON w.feat = u.feat)"""
          .stripMargin
      }.mkString(",\n")
      if (epochs >= 2) base + ",\n" + rounds else base
    }.mkString(",\n")
    head + ",\n" + towers
  }

  /** The q117/q118 class pairs: (cte suffix, label_a, label_b) with
    * label_a < label_b — the trainer's own pair enumeration order. */
  private val ovoPairs = Seq(
    ("fp", "filler", "prose"), ("fs", "filler", "spam"),
    ("ps", "prose", "spam"))

  /** Shared by q118 (batch multiclass prediction) and q120 (the
    * streaming multiclass gate): every doc's majority vote over the
    * three pairwise towers — two physical strategies, one contract. */
  private lazy val multiPredOracleSql: String =
    perceptronOvOOracleCtes(256, 3) +
      s""",
        |mg AS (${ovoPairs.map { case (s, a, b) =>
          s"""SELECT f.id, '$a' AS la, '$b' AS lbl, SUM(f.x * w.w) AS m
             |  FROM f JOIN w${s}3 w ON w.feat = f.feat GROUP BY 1""".stripMargin
        }.mkString("\nUNION ALL\n")}),
        |vt AS (SELECT id, CASE WHEN m > 0 THEN la ELSE lbl END AS winner
        |       FROM mg),
        |vc AS (SELECT id, winner, COUNT(*) AS n_votes FROM vt GROUP BY 1, 2),
        |best AS (SELECT id, winner, n_votes FROM (
        |   SELECT id, winner, n_votes, ROW_NUMBER() OVER (
        |     PARTITION BY id ORDER BY n_votes DESC, winner) AS rn FROM vc)
        |  WHERE rn = 1)
        |SELECT doc.doc_id, best.winner AS pred_label, best.n_votes
        |FROM documents doc LEFT JOIN best ON best.id = doc.doc_id"""
        .stripMargin

  /** Shared by q111 (batch scoring) and q115 (the streaming gate):
    * per-doc margins under the fitted weights — two physical
    * strategies, one contract. */
  private val classifierScoreOracleSql: String =
    perceptronOracleCtes(256, 3) +
      """,
        |mf AS (SELECT f.id, SUM(f.x * w.w) AS margin
        |  FROM f JOIN w3 w ON w.feat = f.feat GROUP BY 1)
        |SELECT doc.doc_id, CAST(mf.margin AS BIGINT) AS margin,
        |  CASE WHEN mf.margin > 0 THEN 1
        |       WHEN mf.margin IS NOT NULL THEN -1 END AS pred
        |FROM documents doc LEFT JOIN mf ON mf.id = doc.doc_id""".stripMargin

  /** q130's oracle: the whole ingest-router CASCADE replayed batch-side
    * in one WITH chain — the perceptron tower (w3, trained on the q110
    * fixture over the FULL corpus, exactly what the query trains
    * batch-side), then the q105/q107/q108 near-dup tower over the
    * planted carve (renamed nd/n1/t1/g1/h1 — the perceptron tower owns
    * d/tok/f), the q53-family contamination grams (stream side over the
    * planted text ≡ raw on survivors; test side over the RAW % 20 = 0
    * docs, matching the query's `raw` read), the survivors' augmented
    * text, margins under w3, and the q124 quality tower + scrub. Each
    * stage's spelling is the corresponding green single-stage oracle's,
    * verbatim; what this oracle adds is the COMPOSITION — survivors of
    * stage k feed stage k+1, so a drift in any stage's drop set fails
    * the row count, and a drift in flag-vs-drop interaction fails the
    * hash. */
  private lazy val streamRouterOracleSql: String = {
    val tpl = nearDupTpl
    perceptronOracleCtes(256, 3) + ",\n" +
      s"""nd AS (SELECT doc_id,
         |  CASE WHEN doc_id % 4 = 1 AND doc_id % 40 = 1 THEN '$tpl'
         |       WHEN doc_id % 4 <> 1 AND doc_id % 10 = 2 THEN '$tpl'
         |       ELSE text END AS text
         | FROM documents),
         |""".stripMargin +
      "n1 AS (SELECT doc_id, " + normSql.format("text") + " AS s FROM nd),\n" +
      """t1 AS (SELECT doc_id, string_split(s, ' ') AS toks FROM n1 WHERE s <> ''),
        |g1 AS (SELECT doc_id,
        |  CASE WHEN len(toks) < 3 THEN [array_to_string(toks, ' ')]
        |       ELSE list_distinct(list_transform(generate_series(1, len(toks) - 2),
        |              i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2])) END AS sh
        | FROM t1),
        |h1 AS (SELECT DISTINCT b.doc_id AS bid
        | FROM (SELECT * FROM g1 WHERE doc_id % 4 = 1) b
        | JOIN (SELECT * FROM g1 WHERE doc_id % 4 <> 1) c
        |   ON ROUND(CAST(len(list_intersect(b.sh, c.sh)) AS DOUBLE)
        |        / (len(b.sh) + len(c.sh) - len(list_intersect(b.sh, c.sh))), 4) >= 0.6),
        |surv1 AS (SELECT d0.doc_id
        | FROM (SELECT doc_id FROM documents WHERE doc_id % 4 = 1) d0
        | LEFT JOIN h1 ON h1.bid = d0.doc_id WHERE h1.bid IS NULL),
        |sg AS (SELECT doc_id,
        |  list_distinct(list_transform(generate_series(1, len(toks) - 3),
        |    i -> array_to_string(toks[i:i+3], ' '))) AS gs
        | FROM (SELECT doc_id, string_split(s, ' ') AS toks FROM n1
        |       WHERE doc_id % 4 = 1 AND s <> '')
        | WHERE len(toks) >= 4),
        |rtest AS (SELECT DISTINCT unnest(gs) AS gram FROM (
        |  SELECT list_distinct(list_transform(generate_series(1, len(toks) - 3),
        |    i -> array_to_string(toks[i:i+3], ' '))) AS gs
        |  FROM (SELECT string_split_regex(<RAWNORM>, '\s+') AS toks
        |        FROM documents WHERE doc_id % 20 = 0)
        |  WHERE len(toks) >= 4)),
        |dbad AS (SELECT DISTINCT e1.doc_id
        | FROM (SELECT doc_id, unnest(gs) AS gram FROM sg) e1
        | JOIN rtest USING (gram)),
        |surv2 AS (SELECT s1.doc_id FROM surv1 s1
        | LEFT JOIN dbad b ON b.doc_id = s1.doc_id WHERE b.doc_id IS NULL),
        |aug AS (SELECT d2.doc_id, doc.text ||
        |  CASE WHEN d2.doc_id % 3 = 0 THEN ' crisp curated prose'
        |       ELSE ' noisy boiler plate' END ||
        |  CASE WHEN d2.doc_id % 3 = 0 THEN ' contact user' ||
        |       CAST(d2.doc_id AS VARCHAR) || '@mail.example.com' ELSE '' END ||
        |  CASE WHEN d2.doc_id % 5 = 0 THEN ' call +1' ||
        |       lpad(CAST(d2.doc_id % 10000000 AS VARCHAR), 9, '0') ELSE '' END AS a
        | FROM surv2 d2 JOIN documents doc ON doc.doc_id = d2.doc_id),
        |stok AS (SELECT doc_id,
        |   unnest(string_split_regex(<STRIP:lower(a)>, '<WS>+')) AS t
        |  FROM aug WHERE <STRIP:a> <> ''),
        |sfeat AS (SELECT doc_id,
        |   ('0x' || substr(md5(t), 1, 15))::BIGINT % 256 AS feat,
        |   1::BIGINT AS x FROM stok GROUP BY 1, 2
        |  UNION ALL SELECT doc_id, -1::BIGINT, 1::BIGINT FROM aug
        |  WHERE a IS NOT NULL),
        |smf AS (SELECT sfeat.doc_id, SUM(sfeat.x * w.w) AS margin
        |  FROM sfeat JOIN w3 w ON w.feat = sfeat.feat GROUP BY 1),
        |qbase AS (SELECT doc_id, a,
        |  CASE WHEN <STRIP:a> = '' THEN [] ELSE string_split_regex(<STRIP:a>, '<WS>+') END AS toks,
        |  string_split(a, chr(10)) AS ls
        | FROM aug),
        |qm AS (SELECT doc_id, a,
        |  CAST(len(toks) AS INT) AS n_words,
        |  ROUND(CASE WHEN len(toks) = 0 THEN 0.0
        |    ELSE CAST(length(regexp_replace(a, '<WS>', '', 'g')) AS DOUBLE) / len(toks) END, 4) AS mean_word_len,
        |  ROUND(CASE WHEN len(toks) = 0 THEN 0.0
        |    ELSE ((length(a) - length(replace(a, '#', '')))
        |        + (length(a) - length(replace(a, '...', ''))) / 3) / len(toks) END, 4) AS symbol_ratio,
        |  ROUND(CAST(len(list_filter(ls, l -> regexp_matches(ltrim(l), '^[-*•]'))) AS DOUBLE)
        |    / len(ls), 4) AS bullet_frac,
        |  ROUND(CAST(len(list_filter(ls, l -> regexp_matches(rtrim(l), '\.\.\.$'))) AS DOUBLE)
        |    / len(ls), 4) AS ellipsis_frac,
        |  ROUND(CASE WHEN len(toks) = 0 THEN 0.0
        |    ELSE CAST(len(list_filter(toks, t -> regexp_matches(t, '[A-Za-z]'))) AS DOUBLE) / len(toks) END, 4) AS alpha_frac,
        |  CAST(len(list_intersect(list_distinct(list_filter(
        |    string_split_regex(<STRIP:lower(a)>, '<WS>+'), t -> t <> '')),
        |    <GOPHER_STOPWORDS>)) AS INT) AS stop_hits
        | FROM qbase)
        |""".stripMargin +
      s"""SELECT q.doc_id, CAST(smf.margin AS BIGINT) AS margin,
         |  CASE WHEN smf.margin > 0 THEN 1
         |       WHEN smf.margin IS NOT NULL THEN -1 END AS pred,
         |  (n_words BETWEEN 30 AND 100000 AND mean_word_len BETWEEN 3.0 AND 10.0
         |   AND symbol_ratio <= 0.1 AND bullet_frac <= 0.9 AND ellipsis_frac <= 0.3
         |   AND alpha_frac >= 0.8 AND stop_hits >= 2) AS keep,
         |  regexp_replace(regexp_replace(regexp_replace(a,
         |    '${graft.text.Curation.emailPattern}', '<EMAIL>', 'g'),
         |    '${graft.text.Curation.ipv4Pattern}', '<IP>', 'g'),
         |    '${graft.text.Curation.phonePattern}', '<PHONE>', 'g') AS clean_text
         |FROM qm q LEFT JOIN smf ON smf.doc_id = q.doc_id""".stripMargin
  }.replace("<RAWNORM>", normSql.format("text"))

  private val oracleSqlRaw: Map[String, String] = Map(
    "q01_agg" ->
      """SELECT l_returnflag, l_linestatus,
        | CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
        | CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_price,
        | COUNT(*) AS n_rows,
        | COUNT(DISTINCT l_partkey) AS n_parts
        |FROM lineitem GROUP BY 1, 2""".stripMargin,

    "q02_join_enrich" ->
      """SELECT r_name AS region_name, n_name AS nation_name,
        | COUNT(*) AS n_cust,
        | CAST(SUM(CAST(c_acctbal AS DECIMAL(18,2))) AS DOUBLE) AS sum_bal
        |FROM customer
        |LEFT JOIN nation ON c_nationkey = n_nationkey
        |LEFT JOIN region ON n_regionkey = r_regionkey
        |GROUP BY 1, 2""".stripMargin,

    "q03_rank_topk" ->
      """SELECT o_custkey, o_orderkey, o_totalprice, o_totalprice_rank FROM (
        | SELECT o_custkey, o_orderkey, o_totalprice,
        |  CAST(DENSE_RANK() OVER (PARTITION BY o_custkey ORDER BY o_totalprice DESC) AS INTEGER) AS o_totalprice_rank
        | FROM orders) WHERE o_totalprice_rank <= 3""".stripMargin,

    "q04_filter" ->
      """SELECT
        | CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2)) * CAST(l_discount AS DECIMAL(18,2))) AS DOUBLE) AS revenue,
        | COUNT(*) AS n_rows
        |FROM lineitem
        |WHERE l_shipdate >= TIMESTAMP '1995-01-01' AND l_shipdate < TIMESTAMP '1996-01-01'
        |  AND l_quantity < 24""".stripMargin,

    "q05_dates" ->
      """SELECT CAST(year(o_orderdate) AS INTEGER) AS yr, COUNT(*) AS n,
        | MIN(strftime(o_orderdate, '%Y-%m-%d')) AS min_d,
        | MAX(strftime(o_orderdate, '%Y-%m-%d')) AS max_d
        |FROM orders GROUP BY 1""".stripMargin,

    "q06_unfold" ->
      """SELECT tok, COUNT(*) AS n
        |FROM (SELECT unnest(string_split(p_type, ' ')) AS tok FROM part)
        |GROUP BY 1""".stripMargin,

    "q07_nest" ->
      """SELECT p_partkey, p_brand, p_size,
        | to_json(struct_pack(p_partkey := p_partkey, p_brand := p_brand, p_size := p_size)) AS nested
        |FROM part""".stripMargin,

    "q08_casts" ->
      """SELECT p_partkey,
        | COALESCE(TRY_CAST(CASE WHEN p_partkey % 7 = 0 THEN 'x' || CAST(p_size AS VARCHAR)
        |                        ELSE CAST(p_size AS VARCHAR) END AS BIGINT), -1) AS i,
        | CASE WHEN sf = '' THEN 0.5 ELSE TRY_CAST(sf AS DOUBLE) END AS f
        |FROM (SELECT p_partkey, p_size,
        |       CASE WHEN p_partkey % 5 = 0 THEN '' ELSE CAST(p_retailprice AS VARCHAR) END AS sf
        |      FROM part)""".stripMargin,

    "q09_normalize" ->
      ("SELECT c_custkey, regexp_replace(regexp_replace(" +
        normSql.format("'Héllo, ' || c_name || '!'") +
        ", '0+', '0', 'g'), 'customer', 'cust', 'g') AS decorated FROM customer"),

    "q10_fillna_join" ->
      """SELECT c_custkey, c_name,
        | COALESCE(n_orders, 0) AS n_orders, COALESCE(sum_total, 0.0) AS sum_total
        |FROM customer LEFT JOIN (
        | SELECT o_custkey, COUNT(*) AS n_orders,
        |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_total
        | FROM orders GROUP BY 1) ON c_custkey = o_custkey""".stripMargin,

    "q11_transform" ->
      """SELECT l_orderkey, l_linenumber,
        | CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) OVER (PARTITION BY l_orderkey) AS DOUBLE) AS qty_sum
        |FROM lineitem""".stripMargin,

    "q12_rank_group" ->
      """SELECT s_suppkey, s_nationkey, s_acctbal,
        | CAST(DENSE_RANK() OVER (PARTITION BY s_nationkey ORDER BY s_acctbal DESC) AS INTEGER) AS s_acctbal_rank
        |FROM supplier""".stripMargin,

    "q13_fuzzy_join" ->
      """WITH q AS (
        | SELECT n_nationkey AS qkey, substr(n_name, 1, 2) || substr(n_name, 4) AS qname
        | FROM nation WHERE length(n_name) > 4),
        |cand AS (
        | SELECT q.qkey, q.qname, n.n_name, n.n_nationkey,
        |  levenshtein(q.qname, n.n_name) AS d,
        |  ROW_NUMBER() OVER (PARTITION BY q.qkey
        |    ORDER BY levenshtein(q.qname, n.n_name), n.n_name) AS rn
        | FROM q CROSS JOIN nation n)
        |SELECT qkey, qname, n_name AS qname_match, n_nationkey AS matched_key
        |FROM cand WHERE rn = 1 AND d <= 1""".stripMargin,

    "q14_components" ->
      """WITH RECURSIVE e AS (
        | SELECT CAST(n_nationkey AS BIGINT) AS src, CAST(n_regionkey + 1000 AS BIGINT) AS dst FROM nation
        | UNION
        | SELECT CAST(n_regionkey + 1000 AS BIGINT), CAST(n_nationkey AS BIGINT) FROM nation),
        |cc(node, comp) AS (
        | SELECT src, src FROM e
        | UNION
        | SELECT e.dst, cc.comp FROM cc JOIN e ON cc.node = e.src)
        |SELECT node, MIN(comp) AS comp FROM cc GROUP BY node""".stripMargin,

    "q15_geo" ->
      """WITH w AS (
        | SELECT s_suppkey,
        |  'POINT(' || CAST((s_suppkey % 360) - 180 AS VARCHAR) || '.5 '
        |   || CAST((s_suppkey % 170) - 85 AS VARCHAR) || '.25)' AS wkt
        | FROM supplier),
        |p AS (
        | SELECT s_suppkey,
        |  CAST(regexp_extract(wkt, 'POINT\s*\(\s*(-?[0-9.]+)\s+(-?[0-9.]+)\s*\)', 2) AS DOUBLE) AS lat,
        |  CAST(regexp_extract(wkt, 'POINT\s*\(\s*(-?[0-9.]+)\s+(-?[0-9.]+)\s*\)', 1) AS DOUBLE) AS lon
        | FROM w)
        |SELECT s_suppkey, lat, lon,
        | ROUND(6371.0088 * 2 * ASIN(SQRT(
        |   POW(SIN(RADIANS(48.8566 - lat) / 2), 2) +
        |   COS(RADIANS(lat)) * COS(RADIANS(48.8566)) * POW(SIN(RADIANS(2.3522 - lon) / 2), 2))), 1) AS dist_km
        |FROM p""".stripMargin,

    "q16_score" ->
      """SELECT c_custkey, s_suppkey,
        | ROUND(GREATEST((100.0 - 100.0 * levenshtein(c_name, s_name) / (1.0 + LEAST(length(c_name), length(s_name)))) / 100.0, 0.0), 2) AS score_lev,
        | CASE WHEN ROUND(GREATEST((100.0 - 100.0 * levenshtein(c_name, s_name) / (1.0 + LEAST(length(c_name), length(s_name)))) / 100.0, 0.0), 2) >= 0.6 THEN 'high'
        |      WHEN ROUND(GREATEST((100.0 - 100.0 * levenshtein(c_name, s_name) / (1.0 + LEAST(length(c_name), length(s_name)))) / 100.0, 0.0), 2) >= 0.4 THEN 'mid'
        |      ELSE 'low' END AS band
        |FROM customer JOIN supplier ON c_custkey % 100 = s_suppkey % 100""".stripMargin,

    "q17_ngram" ->
      """SELECT gram, COUNT(*) AS n FROM (
        | SELECT unnest(list_transform(generate_series(1, length(p_brand) - 1),
        |   i -> substring(p_brand, i, 2))) AS gram
        | FROM part)
        |GROUP BY 1""".stripMargin,

    "q18_events_window" ->
      """SELECT CAST(date_trunc('hour', ts) AS TIMESTAMP) AS hr, event_type,
        | COUNT(*) AS n, CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
        |FROM events GROUP BY 1, 2""".stripMargin,

    "q19_events_lag" ->
      """SELECT event_id, user_id, epoch_us(ts) AS ts_us,
        | value - LAG(value, 1) OVER (PARTITION BY user_id ORDER BY epoch_us(ts), event_id) AS delta
        |FROM events""".stripMargin,

    "q20_dedup_exact" ->
      """SELECT md5(text) AS content_hash, MIN(doc_id) AS keep_id, COUNT(*) AS dup_count
        |FROM documents GROUP BY 1""".stripMargin,

    "q21_fingerprint" ->
      ("SELECT doc_id, md5(array_to_string(list_sort(list_distinct(" +
        s"string_split_regex(${normSql.format("text")}, '\\s+'))), ' ')) AS fp FROM documents"),

    // q114's weights + the salted keep bucket — the sampler replayed
    "q119_weighted_sample" ->
      ("WITH k AS (SELECT doc_id, md5(array_to_string(list_sort(list_distinct(" +
        s"string_split_regex(${normSql.format("text")}, '\\s+'))), ' ')) AS fp FROM documents),\n" +
        """wts AS (SELECT doc_id,
          |  CASE WHEN fp IS NULL THEN NULL
          |       ELSE COUNT(*) OVER (PARTITION BY fp) END AS dup_count,
          |  CASE WHEN fp IS NULL THEN NULL
          |       ELSE 10000 // (COUNT(*) OVER (PARTITION BY fp)) END AS weight_bp
          | FROM k)
          |SELECT doc_id, dup_count, weight_bp FROM wts
          |WHERE weight_bp IS NULL
          |   OR ('0x' || substr(md5('v1' ||
          |        COALESCE(CAST(doc_id AS VARCHAR), '')), 1, 15))::BIGINT
          |        % 10000 < weight_bp""".stripMargin),

    // the q21 fingerprint key, then a count window + exact long
    // division — no join back, no HUGEINT (window COUNT is BIGINT)
    "q114_dedup_weights" ->
      ("WITH k AS (SELECT doc_id, md5(array_to_string(list_sort(list_distinct(" +
        s"string_split_regex(${normSql.format("text")}, '\\s+'))), ' ')) AS fp FROM documents)\n" +
        """SELECT doc_id,
          | CASE WHEN fp IS NULL THEN NULL
          |      ELSE COUNT(*) OVER (PARTITION BY fp) END AS dup_count,
          | CASE WHEN fp IS NULL THEN NULL
          |      ELSE 10000 // (COUNT(*) OVER (PARTITION BY fp)) END AS weight_bp
          |FROM k""".stripMargin),

    "q22_text_stats" ->
      """WITH base AS (
        | SELECT doc_id, text,
        |  CASE WHEN <STRIP:text> = '' THEN 0 ELSE len(string_split_regex(<STRIP:text>, '<WS>+')) END AS ntok,
        |  CASE WHEN length(text) = 0 THEN 0.0 ELSE
        |    CAST(length(text) - length(regexp_replace(text, '[[:punct:]]', '', 'g')) AS DOUBLE) / CAST(length(text) AS DOUBLE) END AS punct_raw,
        |  CASE WHEN <STRIP:lower(text)> = '' THEN 0.0 ELSE
        |    CAST(len(list_filter(string_split_regex(<STRIP:lower(text)>, '<WS>+'),
        |      t -> list_contains(<STOPWORDS:en>, t))) AS DOUBLE)
        |    / CAST(len(string_split_regex(<STRIP:lower(text)>, '<WS>+')) AS DOUBLE) END AS sw_raw
        | FROM documents)
        |SELECT doc_id,
        | CAST(ntok AS INTEGER) AS n_tok,
        | ROUND(punct_raw, 4) AS punct_ratio,
        | ROUND(CASE WHEN length(text) = 0 THEN 0.0 ELSE
        |   CAST(length(text) - length(regexp_replace(text, '[A-Z]', '', 'g')) AS DOUBLE) / CAST(length(text) AS DOUBLE) END, 4) AS upper_ratio,
        | ROUND(CASE WHEN <STRIP:text> = '' THEN 0.0 ELSE
        |   CAST(length(regexp_replace(text, '<WS>', '', 'g')) AS DOUBLE) / CAST(ntok AS DOUBLE) END, 4) AS mean_word_len,
        | ROUND(sw_raw, 4) AS sw_ratio,
        | ROUND(GREATEST(0.0,
        |   0.4 * LEAST(CAST(length(text) AS DOUBLE) / 500.0, 1.0)
        |   + 0.3 * (1.0 - LEAST(punct_raw * 5, 1.0))
        |   + 0.3 * LEAST(sw_raw * 4, 1.0)), 4) AS quality
        |FROM base""".stripMargin,

    "q23_langid" ->
      """WITH s AS (
        | SELECT doc_id, lang, text,
        |  list_distinct(string_split_regex(<STRIP:lower(text)>, '<WS>+')) AS toks
        | FROM documents),
        |c AS (
        | SELECT doc_id, lang, text,
        |  len(list_intersect(toks, <STOPWORDS:en>)) AS c_en,
        |  len(list_intersect(toks, <STOPWORDS:fr>)) AS c_fr,
        |  len(list_intersect(toks, <STOPWORDS:es>)) AS c_es,
        |  len(list_intersect(toks, <STOPWORDS:de>)) AS c_de
        | FROM s)
        |SELECT doc_id,
        | CASE WHEN text IS NULL THEN NULL
        |      WHEN regexp_matches(text, '[\x{4e00}-\x{9fff}]') THEN 'zh'
        |      WHEN c_en >= c_fr AND c_en >= c_es AND c_en >= c_de THEN 'en'
        |      WHEN c_fr >= c_es AND c_fr >= c_de THEN 'fr'
        |      WHEN c_es >= c_de THEN 'es'
        |      ELSE 'de' END AS pred_lang,
        | lang
        |FROM c""".stripMargin,

    "q24_jaccard_pairs" ->
      ("WITH n AS (SELECT doc_id, source, " + normSql.format("text") + " AS s FROM documents), " +
        """g AS (
          | SELECT doc_id, source, list_distinct(list_transform(
          |   generate_series(1, length(s) - 2), i -> substring(s, i, 3))) AS grams
          | FROM n WHERE length(s) >= 3)
          |SELECT id_a, id_b, jaccard FROM (
          | SELECT a.doc_id AS id_a, b.doc_id AS id_b,
          |  ROUND(CAST(len(list_intersect(a.grams, b.grams)) AS DOUBLE)
          |    / CAST(len(list_distinct(list_concat(a.grams, b.grams))) AS DOUBLE), 4) AS jaccard
          | FROM g a JOIN g b ON a.source = b.source AND a.doc_id < b.doc_id)
          |WHERE jaccard >= 0.8""".stripMargin),

    // the exhaustive containment replay over the SAME planted carve:
    // q26's word-3-shingle spelling (string shingles — distinct counts
    // equal the engine's fnv64 set counts), then every same-source
    // pair's |A∩B|·10⁴ div min(|A|,|B|) in the same long arithmetic
    // (len products never reach HUGEINT — no SUM)
    "q112_containment_pairs" ->
      ("WITH raw AS (SELECT doc_id, source, " +
        """CASE WHEN doc_id % 50 = 0
          |  THEN 'alpha beta gamma delta epsilon zeta eta theta iota kappa lambda mu nu xi omicron pi'
          |  WHEN doc_id % 50 = 7 THEN 'alpha beta gamma delta epsilon zeta'
          |  ELSE text END AS text FROM documents),
          |""".stripMargin +
        "n AS (SELECT doc_id, source, " + normSql.format("text") + " AS s FROM raw), " +
        """t AS (SELECT doc_id, source, string_split(s, ' ') AS toks FROM n WHERE s <> ''),
          |g AS (SELECT doc_id, source,
          |  CASE WHEN len(toks) < 3 THEN [array_to_string(toks, ' ')]
          |       ELSE list_distinct(list_transform(generate_series(1, len(toks) - 2),
          |              i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2])) END AS sh
          | FROM t)
          |SELECT id_a, id_b, containment_bp FROM (
          | SELECT a.doc_id AS id_a, b.doc_id AS id_b,
          |  (len(list_intersect(a.sh, b.sh)) * 10000)
          |    // least(len(a.sh), len(b.sh)) AS containment_bp
          | FROM g a JOIN g b ON a.source = b.source AND a.doc_id < b.doc_id)
          |WHERE containment_bp >= 9000""".stripMargin),

    "q25_ann_topk" -> annTopKOracleSql,

    // the scalar-quantization pipeline replayed from the float
    // embeddings: per-dim min/max codebook, the one fixed IEEE
    // quantize expression (identical spelling on both engines — the
    // q70 floor discipline), then the exhaustive integer grid distance
    "q113_ann_quantized" -> quantTopKOracleSql,

    // the persisted quantized index probed exhaustively must reproduce
    // the brute-force quantized answer — the SAME oracle as q113, by
    // construction not coincidence (the q25/q60 pair's discipline)
    "q116_ann_ivf_quantized" -> quantTopKOracleSql,

    // the product-quantization pipeline replayed from scratch: four
    // per-subspace k-means CTE towers, code assignment, ADC ranking
    "q121_ann_pq" -> pqTopKOracleSql(m = 4, dsub = 16, ksub = 8, iters = 4),

    // the persisted IVF-PQ index probed exhaustively must reproduce the
    // brute-force PQ answer — q121's oracle VERBATIM (q113 ≡ q116 shape)
    "q122_ann_ivf_pq" -> pqTopKOracleSql(m = 4, dsub = 16, ksub = 8, iters = 4),

    // the RESIDUAL pipeline replayed whole: coarse tower + fresh final
    // assignment + residual subspace towers + per-(query, cell) ADC
    "q125_ann_ivf_pqr" ->
      pqrTopKOracleSql(nlist = 8, m = 4, dsub = 16, ksub = 8, iters = 4),

    // q60 probes EVERY cell (nprobe = nlist), so the persisted-index IVF
    // path is exhaustive and must reproduce the brute-force answer —
    // the SAME oracle as q25, by construction not coincidence.
    "q60_ann_ivf" -> annTopKOracleSql,

    // build-on-half + YAML-append-the-rest probed exhaustively: float
    // cells only partition (scoring reads true vectors), so the answer
    // over the union is q25/q60's brute-force oracle VERBATIM — the
    // append ≡ rebuild spec promoted to the driver gate
    "q126_ann_ivf_append" -> annTopKOracleSql,

    // the streamed probe is the batch probe verbatim per micro-batch
    // (queries partition across batches independently), exhaustive over
    // the full corpus — so its union through the file sink answers
    // q25/q60's brute-force oracle, batch ≡ stream by construction
    "q127_stream_ann_probe" -> annTopKOracleSql,

    // the SQ8 append probed exhaustively: every vector (built half AND
    // appended half) quantizes under the EVEN-half grid — q113's oracle
    // with its params CTE restricted to vec_id % 2 = 0. Deliberately
    // NOT the full-corpus oracle: append means comparability under the
    // original geometry (a rebuild would refit the grid), and this
    // restriction is precisely what fails if the append path ever
    // refits or drifts the stored params.
    "q129_ann_ivf_append_sq8" ->
      quantTopKOracleSqlWith(" AND vec_id % 2 = 0"),

    // the ingest-router CHAIN: near-dup drop → decontaminate drop →
    // classify → quality+PII, replayed batch-side as one CTE cascade —
    // the composition (each stage's survivors feed the next) is the
    // contract, not any single stage
    "q130_stream_router" -> streamRouterOracleSql,

    // build-on-half + STREAM the rest into the epoch-partitioned
    // stream/ table, probed exhaustively: float cells only partition,
    // so built ∪ streamed answers the same brute-force oracle as
    // q25/q60/q126 — stream append ≡ batch append ≡ rebuild, by
    // construction
    "q131_ann_ivf_stream_append" -> annTopKOracleSql,

    // the PQ append probed exhaustively: codebooks fit on the even half
    // alone (trainPred restricts exactly the tower CTEs), codes and
    // ranking over the union — what fails here is the append path ever
    // REFITTING the codebooks instead of encoding under the stored ones
    "q133_ann_ivf_append_pq" ->
      pqTopKOracleSql(m = 4, dsub = 16, ksub = 8, iters = 4,
        trainPred = "id % 2 = 0"),

    // the residual append probed exhaustively: coarse tower AND
    // residual towers trained on the even half alone; assignment,
    // residuals, codes, per-(query, cell) ADC over the union — both
    // stored geometries (cells and residual codebooks) pinned at once
    "q134_ann_ivf_append_pqr" ->
      pqrTopKOracleSql(nlist = 8, m = 4, dsub = 16, ksub = 8, iters = 4,
        trainPred = "id % 2 = 0"),

    // q131's history + the YAML compact fold, probed exhaustively: the
    // fold rewrites WHERE vectors live (epoch partitions → main cell
    // partitions), never WHAT they are, so the post-compaction answer
    // is the same brute-force oracle — fold-preserves-the-answer at
    // the driver gate (the query body separately requires the stream/
    // table is actually gone, so a silent no-op fold cannot pass)
    "q132_ann_ivf_compact" -> annTopKOracleSql,

    // the SQ8 STREAM append probed exhaustively: every vector (built
    // even half AND streamed odd half) quantizes under the EVEN-half
    // grid — q129's oracle verbatim (stream append ≡ batch append on
    // the quantized layout, the shared-encode contract at the gate)
    "q135_ann_ivf_stream_sq8" ->
      quantTopKOracleSqlWith(" AND vec_id % 2 = 0"),

    // the takedown: brute-force cosine over the corpus MINUS the
    // tombstoned ids (one WHERE on the corpus CTE — queries keep the
    // full set). What fails here is a probe layout missing the
    // tombstone anti-join, or a delete that touched the wrong rows.
    "q136_ann_ivf_delete" ->
      annTopKOracleSqlWith(" WHERE vec_id % 7 <> 3"),

    // band-index append ≡ rebuild: the probe through the
    // built-then-appended index must answer q107's oracle VERBATIM —
    // the exhaustive verdicts over the whole fixture corpus
    "q137_neardup_index_append" -> nearDupOracleSql,

    // band-index STREAM append: same split as q137 delivered through a
    // real streaming query, probed through the main ∪ streamed-epoch
    // union (no fold) — the same exhaustive oracle answers
    "q140_neardup_stream_append" -> nearDupOracleSql,

    // self-growing admit gate: vs-index drop → CC keep-min within the
    // batch (recursive CTE) → re-probe against index ∪ admitted
    "q141_neardup_admit_stream" -> nearDupAdmitOracleSql,

    // the PQ STREAM append probed exhaustively: q133's oracle verbatim
    // (stream append ≡ batch append on the PQ layout — codebooks fit
    // on the even half alone, codes and ADC ranking over the union)
    "q142_ann_ivf_stream_pq" ->
      pqTopKOracleSql(m = 4, dsub = 16, ksub = 8, iters = 4,
        trainPred = "id % 2 = 0"),

    // the RESIDUAL-PQ STREAM append probed exhaustively: q134's oracle
    // verbatim — coarse tower AND residual towers on the even half;
    // assignment, residuals, codes, per-(query, cell) ADC over the
    // union. The matrix's last cell.
    "q143_ann_ivf_stream_pqr" ->
      pqrTopKOracleSql(nlist = 8, m = 4, dsub = 16, ksub = 8, iters = 4,
        trainPred = "id % 2 = 0"),

    // takedown + compact: the same tower with the tombstoned ids
    // removed from the corpus CTE — one predicate is the entire
    // semantic difference, everything else stays the shared spelling
    "q138_neardup_takedown_compact" ->
      (nearDupOracleCtesWith("doc_id % 20 <> 2") + nearDupOracleFinal),

    // document-store lifecycle: survivors (build-even ∪ append-odd
    // minus the takedown) with each doc's DISTINCT-token count under
    // the shared normalize mirror — postings are exploded
    // array_distinct(tokens), so len(list_distinct(...)) is the exact
    // twin; NULL/empty text folds to 0 on both sides (no postings
    // rows vs the guarded CASE)
    "q139_docindex_lifecycle" ->
      ("WITH n AS (SELECT doc_id, lang, " + normSql.format("text") +
        """ AS s FROM documents)
          |SELECT doc_id, lang,
          |  CASE WHEN s IS NULL OR s = '' THEN 0
          |       ELSE len(list_distinct(string_split(s, ' '))) END AS n_tokens
          |FROM n WHERE doc_id % 20 <> 2""".stripMargin),

    // Oracle = the EXHAUSTIVE word-3-shingle Jaccard pairs at the same
    // threshold: at ≥0.6 the LSH bands (16×4 over 64 hashes) have
    // ~1-2e-12 miss probability per true pair, so candidate recall —
    // the operator's actual contract — must be total for the hash
    // compare to pass.
    "q26_minhash_pairs" ->
      ("WITH n AS (SELECT doc_id, " + normSql.format("text") + " AS s FROM documents), " +
        """t AS (SELECT doc_id, string_split(s, ' ') AS toks FROM n WHERE s <> ''),
          |g AS (SELECT doc_id,
          |  CASE WHEN len(toks) < 3 THEN [array_to_string(toks, ' ')]
          |       ELSE list_distinct(list_transform(generate_series(1, len(toks) - 2),
          |              i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2])) END AS sh
          | FROM t),
          |pairs AS (
          | SELECT a.doc_id AS id_a, b.doc_id AS id_b,
          |  ROUND(CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE)
          |    / (len(a.sh) + len(b.sh) - len(list_intersect(a.sh, b.sh))), 4) AS jaccard
          | FROM g a JOIN g b ON a.doc_id < b.doc_id)
          |SELECT id_a, id_b, jaccard FROM pairs WHERE jaccard >= 0.6""".stripMargin),

    // md5-based 60-bit simhash recomputed from scratch: per-token hash =
    // first 15 hex chars of md5 (matches Spark's conv-free byte math),
    // per-bit vote sum, then EXHAUSTIVE pairs — banding on the Spark side
    // is total-recall for maxHamming=3 < 4 bands, so the sets coincide
    "q27_simhash_pairs" ->
      ("WITH n AS (SELECT doc_id, " + normSql.format("text") + " AS s FROM documents), " +
        """tok AS (SELECT doc_id, unnest(string_split(s, ' ')) AS t FROM n WHERE s <> ''),
          |h AS (SELECT doc_id, ('0x' || substr(md5(t), 1, 15))::BIGINT AS hv FROM tok),
          |votes AS (
          | SELECT doc_id, bb.b AS bit,
          |  sum(CASE WHEN (hv >> bb.b) & 1 = 1 THEN 1 ELSE -1 END) AS v
          | FROM h, (SELECT unnest(generate_series(0, 59)) AS b) bb
          | GROUP BY doc_id, bb.b),
          |sig0 AS (SELECT doc_id,
          |  sum(CASE WHEN v > 0 THEN 1::BIGINT << bit ELSE 0 END)::BIGINT AS sig
          | FROM votes GROUP BY doc_id),
          |sig AS (SELECT n.doc_id, coalesce(s0.sig, 0) AS sig
          | FROM n LEFT JOIN sig0 s0 ON n.doc_id = s0.doc_id)
          |SELECT a.doc_id AS id_a, b.doc_id AS id_b,
          | CAST(bit_count(xor(a.sig, b.sig)) AS INTEGER) AS hamming
          |FROM sig a JOIN sig b ON a.doc_id < b.doc_id
          |WHERE bit_count(xor(a.sig, b.sig)) <= 3""".stripMargin),

    // winnowing recomputed from scratch: same 60-bit md5 gram hash as
    // Spark's conv(substr(md5,1,15),16,10), same window-min selection;
    // DuckDB list slices are 1-based inclusive, so window i = hs[i:i+3]
    "q46_winnow" ->
      ("WITH n AS (SELECT doc_id, " + normSql.format("text") + " AS s FROM documents), " +
        """g AS (SELECT doc_id,
          |  list_transform(generate_series(1, length(s) - 4),
          |    i -> ('0x' || substr(md5(substr(s, i, 5)), 1, 15))::BIGINT) AS hs
          | FROM n WHERE length(s) >= 5),
          |f AS (SELECT doc_id,
          |  list_distinct(list_transform(generate_series(1, greatest(len(hs) - 3, 1)),
          |    i -> list_min(hs[i:i+3]))) AS fps
          | FROM g)
          |SELECT doc_id, unnest(fps) AS fp FROM f""".stripMargin),

    // same winnowing CTEs, then overlap ratio over the exploded rows —
    // round BEFORE the threshold filter, mirroring the Spark side
    "q47_winnow_pairs" ->
      ("WITH n AS (SELECT doc_id, " + normSql.format("text") + " AS s FROM documents), " +
        """g AS (SELECT doc_id,
          |  list_transform(generate_series(1, length(s) - 4),
          |    i -> ('0x' || substr(md5(substr(s, i, 5)), 1, 15))::BIGINT) AS hs
          | FROM n WHERE length(s) >= 5),
          |f AS (SELECT doc_id,
          |  list_distinct(list_transform(generate_series(1, greatest(len(hs) - 3, 1)),
          |    i -> list_min(hs[i:i+3]))) AS fps
          | FROM g),
          |e AS (SELECT doc_id, unnest(fps) AS fp FROM f),
          |cnt AS (SELECT doc_id, count(*) AS nfp FROM e GROUP BY doc_id),
          |ov AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS shared
          | FROM e a JOIN e b ON a.fp = b.fp AND a.doc_id < b.doc_id
          | GROUP BY a.doc_id, b.doc_id)
          |SELECT id_a, id_b,
          | round(shared::DOUBLE / least(ca.nfp, cb.nfp), 4) AS overlap
          |FROM ov JOIN cnt ca ON ov.id_a = ca.doc_id
          |        JOIN cnt cb ON ov.id_b = cb.doc_id
          |WHERE round(shared::DOUBLE / least(ca.nfp, cb.nfp), 4) >= 0.5""".stripMargin),

    // same normalize → distinct word 4-grams → test-gram semi-join,
    // spelled over DuckDB lists (1-based inclusive slices: gram i =
    // toks[i:i+3])
    "q53_decontaminate" -> decontaminateOracle,

    // the Bloom-prefiltered plan computes the SAME answer — one oracle,
    // two physical strategies, both hash-checked
    "q68_decontaminate_bloom" -> decontaminateOracle,

    // the streaming drop-mode spelling of the same CTEs: clean train
    // ids (no false positive at the chosen fpp — see the query comment)
    "q71_stream_decontaminate" -> (decontaminateCtes +
      """
        |SELECT d.doc_id
        |FROM documents d LEFT JOIN bad b USING (doc_id)
        |WHERE d.doc_id % 20 <> 0 AND b.doc_id IS NULL""".stripMargin),

    // the EXPECTED canonical URL and registered domain, spelled
    // directly from the key formula (scheme/host lowercased, www and
    // default port and fragment and utm_source gone, aa before zz) —
    // the engine side runs the real normalizer on the messy raw string
    "q69_url_normalize" ->
      """SELECT CAST(p_partkey AS BIGINT) AS url_id,
        | (CASE WHEN p_partkey % 2 = 0 THEN 'https' ELSE 'http' END) ||
        | '://sub' || (p_partkey % 7) || '.example' || (p_partkey % 13) ||
        | (CASE p_partkey % 4 WHEN 0 THEN '.com' WHEN 1 THEN '.org'
        |       WHEN 2 THEN '.co.uk' ELSE '.net' END) ||
        | (CASE WHEN p_partkey % 3 = 1 THEN ':8080' ELSE '' END) ||
        | '/Path' || (p_partkey % 11) || '/item' ||
        | '?aa=' || (p_partkey % 3) || '&zz=' || (p_partkey % 5) AS url_norm,
        | 'example' || (p_partkey % 13) ||
        | (CASE p_partkey % 4 WHEN 0 THEN '.com' WHEN 1 THEN '.org'
        |       WHEN 2 THEN '.co.uk' ELSE '.net' END) AS url_domain
        |FROM part""".stripMargin,

    // exhaustive nearest-centroid over the SAME quantized components:
    // integer distances, row_number ties broken by cid — an independent
    // spelling of the broadcast-fold argmin
    "q70_cluster_assign" ->
      """WITH e AS (SELECT vec_id,
        |   list_transform(CAST(embedding AS DOUBLE[]),
        |     x -> CAST(floor(x*10000) AS BIGINT)) AS qv
        |  FROM embeddings),
        |c AS (SELECT vec_id AS cid, qv AS cv FROM e WHERE vec_id % 50 = 0),
        |d AS (SELECT e.vec_id, c.cid,
        |   list_sum(list_transform(generate_series(1, len(e.qv)),
        |     i -> (e.qv[i]-c.cv[i])*(e.qv[i]-c.cv[i]))) AS d2
        |  FROM e CROSS JOIN c),
        |r AS (SELECT vec_id, cid, d2,
        |   ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY d2, cid) AS rn FROM d)
        |SELECT vec_id, cid AS cluster_id, CAST(d2 AS BIGINT) AS cluster_d2
        |FROM r WHERE rn = 1""".stripMargin,

    // q70's exhaustive argmin (NULL vector for every 97th id), then
    // q49's capPerKey spelling per cluster (salted md5 bucket, id
    // tie-break, keep 20), then the NULL-cluster rows appended — the
    // retention rule spelled out independently of the engine
    "q73_balanced_sample" ->
      """WITH e AS (SELECT vec_id,
        |   CASE WHEN vec_id % 97 = 0 THEN NULL
        |        ELSE list_transform(CAST(embedding AS DOUBLE[]),
        |               x -> CAST(floor(x*10000) AS BIGINT)) END AS qv
        |  FROM embeddings),
        |c AS (SELECT vec_id AS cid,
        |   list_transform(CAST(embedding AS DOUBLE[]),
        |     x -> CAST(floor(x*10000) AS BIGINT)) AS cv
        |  FROM embeddings WHERE vec_id % 50 = 0),
        |d AS (SELECT e.vec_id, c.cid,
        |   list_sum(list_transform(generate_series(1, len(e.qv)),
        |     i -> (e.qv[i]-c.cv[i])*(e.qv[i]-c.cv[i]))) AS d2
        |  FROM e CROSS JOIN c WHERE e.qv IS NOT NULL),
        |r AS (SELECT vec_id, cid, d2,
        |   ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY d2, cid) AS rn FROM d),
        |a AS (SELECT vec_id, cid AS cluster_id, CAST(d2 AS BIGINT) AS cluster_d2
        |  FROM r WHERE rn = 1),
        |capped AS (SELECT vec_id, cluster_id, cluster_d2 FROM (
        |   SELECT vec_id, cluster_id, cluster_d2,
        |     row_number() OVER (PARTITION BY cluster_id
        |       ORDER BY ('0x' || substr(md5('v1' || vec_id::VARCHAR), 1, 15))::BIGINT % 10000,
        |                vec_id) AS rk
        |   FROM a) WHERE rk <= 20)
        |SELECT vec_id, cluster_id, cluster_d2 FROM capped
        |UNION ALL
        |SELECT vec_id, CAST(NULL AS BIGINT) AS cluster_id,
        |       CAST(NULL AS BIGINT) AS cluster_d2
        |FROM e WHERE qv IS NULL""".stripMargin,

    // the quantized-integer Lloyd's fit replayed from scratch
    // (kmeansOracleCtes: seeded init + 4 unrolled rounds), final
    // codebook exploded to integer coordinates — every qc hash-checked
    "q74_fit_centroids" ->
      (kmeansOracleCtes(k = 8, iters = 4) +
        """
          |SELECT cid, CAST(pos AS INT) AS pos, CAST(qc AS BIGINT) AS qc
          |FROM (SELECT cid, unnest(range(len(cv))) AS pos,
          |      unnest(cv) AS qc FROM cq4)""".stripMargin),

    // same replayed fit at nlist=16, plus one more assignment pass
    // (d5/a5) against the FINAL centroids — exactly what writeIvfIndex
    // persists as the cell layout: per-cell row counts and the integer
    // centroid norm Σqc² (empty cells appear on neither side)
    "q60_ann_ivf_build" -> ivfBuildOracleSql(nlist = 16),

    // the quantized layouts share q60's coarse geometry (same seeded
    // integer k-means over the same corpus), so their build summaries
    // answer the SAME cell-layout replay at the matching nlist — what
    // differs between the layouts (grids / codes / residual codes) is
    // under the PROBE oracles (q116/q122/q125)
    "q116_ann_ivf_quantized_build" -> ivfBuildOracleSql(nlist = 16),
    "q122_ann_ivf_pq_build" -> ivfBuildOracleSql(nlist = 16),
    "q125_ann_ivf_pqr_build" -> ivfBuildOracleSql(nlist = 8),

    // same window arithmetic over DuckDB lists: chunk i (0-based) covers
    // 1-based inclusive token slice [i*stride+1, min(i*stride+size, ntok)]
    "q54_chunks" ->
      """WITH base AS (SELECT doc_id,
        |  CASE WHEN <STRIP:text> = '' THEN [] ELSE string_split_regex(<STRIP:text>, '<WS>+') END AS toks
        | FROM documents),
        |n AS (SELECT doc_id, toks, len(toks) AS ntok FROM base WHERE len(toks) > 0),
        |c AS (SELECT doc_id, toks, ntok,
        |  unnest(range(0, CASE WHEN ntok <= 32 THEN 1
        |    ELSE CAST(ceil((ntok - 32) / 16.0) AS BIGINT) + 1 END)) AS ci
        | FROM n)
        |SELECT doc_id, CAST(ci AS INT) AS chunk_id,
        | array_to_string(toks[ci*16+1:least(ci*16+32, ntok)], ' ') AS chunk_text,
        | CAST(least(ci*16+32, ntok) - ci*16 AS INT) AS n_tok
        |FROM c""".stripMargin,

    // duplicate-line and duplicate-n-gram fractions over DuckDB lists
    // (gram i = 1-based inclusive slice toks[i:i+n-1])
    "q55_repetition" ->
      """WITH base AS (SELECT doc_id, text,
        |  string_split(text, chr(10)) AS ls,
        |  CASE WHEN <STRIP:text> = '' THEN [] ELSE string_split_regex(<STRIP:text>, '<WS>+') END AS toks
        | FROM documents)
        |SELECT doc_id,
        | ROUND(CASE WHEN length(text) = 0 THEN 0.0
        |   ELSE CAST(len(ls) - len(list_distinct(ls)) AS DOUBLE) / len(ls) END, 4) AS dup_line_frac,
        | ROUND(CASE WHEN len(toks) < 2 THEN 0.0
        |   ELSE CAST((len(toks) - 1) - len(list_distinct(list_transform(
        |     generate_series(1, len(toks) - 1), i -> array_to_string(toks[i:i+1], ' ')))) AS DOUBLE)
        |     / (len(toks) - 1) END, 4) AS dup_2gram_frac,
        | ROUND(CASE WHEN len(toks) < 3 THEN 0.0
        |   ELSE CAST((len(toks) - 2) - len(list_distinct(list_transform(
        |     generate_series(1, len(toks) - 2), i -> array_to_string(toks[i:i+2], ' ')))) AS DOUBLE)
        |     / (len(toks) - 2) END, 4) AS dup_3gram_frac
        |FROM base""".stripMargin,

    // Gopher rules: metrics rounded first, thresholds applied to the
    // ROUNDED values (exactly as the Spark side builds `keep`)
    "q56_gopher" ->
      """WITH base AS (SELECT doc_id, text,
        |  CASE WHEN <STRIP:text> = '' THEN [] ELSE string_split_regex(<STRIP:text>, '<WS>+') END AS toks,
        |  string_split(text, chr(10)) AS ls
        | FROM documents),
        |m AS (SELECT doc_id,
        |  CAST(len(toks) AS INT) AS n_words,
        |  ROUND(CASE WHEN len(toks) = 0 THEN 0.0
        |    ELSE CAST(length(regexp_replace(text, '<WS>', '', 'g')) AS DOUBLE) / len(toks) END, 4) AS mean_word_len,
        |  ROUND(CASE WHEN len(toks) = 0 THEN 0.0
        |    ELSE ((length(text) - length(replace(text, '#', '')))
        |        + (length(text) - length(replace(text, '...', ''))) / 3) / len(toks) END, 4) AS symbol_ratio,
        |  ROUND(CAST(len(list_filter(ls, l -> regexp_matches(ltrim(l), '^[-*•]'))) AS DOUBLE)
        |    / len(ls), 4) AS bullet_frac,
        |  ROUND(CAST(len(list_filter(ls, l -> regexp_matches(rtrim(l), '\.\.\.$'))) AS DOUBLE)
        |    / len(ls), 4) AS ellipsis_frac,
        |  ROUND(CASE WHEN len(toks) = 0 THEN 0.0
        |    ELSE CAST(len(list_filter(toks, t -> regexp_matches(t, '[A-Za-z]'))) AS DOUBLE) / len(toks) END, 4) AS alpha_frac,
        |  CAST(len(list_intersect(list_distinct(list_filter(
        |    string_split_regex(<STRIP:lower(text)>, '<WS>+'), t -> t <> '')),
        |    <GOPHER_STOPWORDS>)) AS INT) AS stop_hits
        | FROM base)
        |SELECT *,
        | (n_words BETWEEN 30 AND 100000 AND mean_word_len BETWEEN 3.0 AND 10.0
        |  AND symbol_ratio <= 0.1 AND bullet_frac <= 0.9 AND ellipsis_frac <= 0.3
        |  AND alpha_frac >= 0.8 AND stop_hits >= 2) AS keep
        |FROM m""".stripMargin,

    // identical augmentation arithmetic + the same three RE2 patterns;
    // DuckDB needs the 'g' flag to mirror Spark's replace-all default
    "q57_pii_scrub" ->
      (s"""WITH aug AS (SELECT doc_id, text ||
        | CASE WHEN doc_id % 3 = 0 THEN ' contact user' || CAST(doc_id AS VARCHAR) || '@mail.example.com' ELSE '' END ||
        | CASE WHEN doc_id % 4 = 0 THEN ' from 10.' || CAST(doc_id % 200 AS VARCHAR) || '.0.' || CAST(doc_id % 250 AS VARCHAR) ELSE '' END ||
        | CASE WHEN doc_id % 5 = 0 THEN ' call +1' || lpad(CAST(doc_id % 10000000 AS VARCHAR), 9, '0') ELSE '' END AS a
        | FROM documents)
        |SELECT doc_id,
        | regexp_replace(regexp_replace(regexp_replace(a,
        |   '${graft.text.Curation.emailPattern}', '<EMAIL>', 'g'),
        |   '${graft.text.Curation.ipv4Pattern}', '<IP>', 'g'),
        |   '${graft.text.Curation.phonePattern}', '<PHONE>', 'g') AS clean_text,
        | CAST(len(regexp_extract_all(a, '${graft.text.Curation.emailPattern}')) AS INT) AS n_emails,
        | CAST(len(regexp_extract_all(a, '${graft.text.Curation.ipv4Pattern}')) AS INT) AS n_ips,
        | CAST(len(regexp_extract_all(a, '${graft.text.Curation.phonePattern}')) AS INT) AS n_phones
        |FROM aug""".stripMargin),

    // the streaming gate's verdict + scrub against the batch oracles
    // verbatim: q56's rounded metric tower (over the augmented text) for
    // keep at minWords=30, q57's chained scrub for clean_text — one CTE
    // chain, NULL text rows surface NULL keep + NULL clean_text
    "q124_stream_quality" ->
      (s"""WITH aug AS (SELECT doc_id, text ||
        | CASE WHEN doc_id % 3 = 0 THEN ' contact user' || CAST(doc_id AS VARCHAR) || '@mail.example.com' ELSE '' END ||
        | CASE WHEN doc_id % 4 = 0 THEN ' from 10.' || CAST(doc_id % 200 AS VARCHAR) || '.0.' || CAST(doc_id % 250 AS VARCHAR) ELSE '' END ||
        | CASE WHEN doc_id % 5 = 0 THEN ' call +1' || lpad(CAST(doc_id % 10000000 AS VARCHAR), 9, '0') ELSE '' END AS a
        | FROM documents),
        |base AS (SELECT doc_id, a,
        |  CASE WHEN <STRIP:a> = '' THEN [] ELSE string_split_regex(<STRIP:a>, '<WS>+') END AS toks,
        |  string_split(a, chr(10)) AS ls
        | FROM aug),
        |m AS (SELECT doc_id, a,
        |  CAST(len(toks) AS INT) AS n_words,
        |  ROUND(CASE WHEN len(toks) = 0 THEN 0.0
        |    ELSE CAST(length(regexp_replace(a, '<WS>', '', 'g')) AS DOUBLE) / len(toks) END, 4) AS mean_word_len,
        |  ROUND(CASE WHEN len(toks) = 0 THEN 0.0
        |    ELSE ((length(a) - length(replace(a, '#', '')))
        |        + (length(a) - length(replace(a, '...', ''))) / 3) / len(toks) END, 4) AS symbol_ratio,
        |  ROUND(CAST(len(list_filter(ls, l -> regexp_matches(ltrim(l), '^[-*•]'))) AS DOUBLE)
        |    / len(ls), 4) AS bullet_frac,
        |  ROUND(CAST(len(list_filter(ls, l -> regexp_matches(rtrim(l), '\\.\\.\\.$$'))) AS DOUBLE)
        |    / len(ls), 4) AS ellipsis_frac,
        |  ROUND(CASE WHEN len(toks) = 0 THEN 0.0
        |    ELSE CAST(len(list_filter(toks, t -> regexp_matches(t, '[A-Za-z]'))) AS DOUBLE) / len(toks) END, 4) AS alpha_frac,
        |  CAST(len(list_intersect(list_distinct(list_filter(
        |    string_split_regex(<STRIP:lower(a)>, '<WS>+'), t -> t <> '')),
        |    <GOPHER_STOPWORDS>)) AS INT) AS stop_hits
        | FROM base)
        |SELECT doc_id,
        | (n_words BETWEEN 30 AND 100000 AND mean_word_len BETWEEN 3.0 AND 10.0
        |  AND symbol_ratio <= 0.1 AND bullet_frac <= 0.9 AND ellipsis_frac <= 0.3
        |  AND alpha_frac >= 0.8 AND stop_hits >= 2) AS keep,
        | regexp_replace(regexp_replace(regexp_replace(a,
        |   '${graft.text.Curation.emailPattern}', '<EMAIL>', 'g'),
        |   '${graft.text.Curation.ipv4Pattern}', '<IP>', 'g'),
        |   '${graft.text.Curation.phonePattern}', '<PHONE>', 'g') AS clean_text
        |FROM m""".stripMargin),

    // same quantized-log arithmetic: per-vocab-entry floor(log10 * 1e4)
    // as BIGINT, order-free integer sums, one division at the end (no
    // OOV branch needed — the corpus scores itself, every token is in
    // the LM)
    "q59_lm_logprob" ->
      """WITH tok AS (SELECT doc_id,
        |  unnest(string_split_regex(<STRIP:lower(text)>, '<WS>+')) AS token
        | FROM documents WHERE <STRIP:lower(text)> <> ''),
        |lm AS (SELECT token, COUNT(*) AS cnt FROM tok GROUP BY 1),
        |tot AS (SELECT SUM(cnt) AS total, COUNT(*) AS v FROM lm),
        |q AS (SELECT token,
        |  CAST(floor(log10(CAST(cnt + 1 AS DOUBLE) / (total + v)) * 10000) AS BIGINT) AS qlp
        | FROM lm, tot),
        |sc AS (SELECT t.doc_id, SUM(q.qlp) AS s, COUNT(*) AS n
        |       FROM tok t JOIN q USING (token) GROUP BY 1)
        |SELECT d.doc_id,
        | CAST(coalesce(sc.n, 0) AS INT) AS n_tok,
        | ROUND(CAST(CASE WHEN sc.s < 0 THEN -(((-sc.s)*2 + sc.n) // (sc.n*2))
        |       ELSE ((sc.s*2 + sc.n) // (sc.n*2)) END AS DOUBLE) / 10000.0, 4)
        |   AS logprob
        |FROM documents d LEFT JOIN sc USING (doc_id)""".stripMargin,

    // every max-cosine recomputed exhaustively (test = every 20th
    // vector); MAX-then-ROUND in the same order as the engine
    "q77_semantic_decontam" ->
      """WITH c AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
        |t AS (SELECT CAST(embedding AS DOUBLE[]) AS tv FROM embeddings
        |      WHERE vec_id % 20 = 0),
        |m AS (SELECT c.vec_id,
        |        ROUND(MAX(list_cosine_similarity(c.v, t.tv)), 4) AS max_cos_q
        |      FROM c CROSS JOIN t GROUP BY c.vec_id)
        |SELECT vec_id, max_cos_q,
        |       COALESCE(max_cos_q >= 0.9, false) AS contaminated
        |FROM m""".stripMargin,

    // q77's exhaustive spelling again (see the q83 query comment for
    // why the LSH path provably matches it on this data)
    "q83_semantic_lsh" ->
      """WITH c AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
        |t AS (SELECT CAST(embedding AS DOUBLE[]) AS tv FROM embeddings
        |      WHERE vec_id % 20 = 0),
        |m AS (SELECT c.vec_id, MAX(list_cosine_similarity(c.v, t.tv)) AS mx
        |      FROM c CROSS JOIN t GROUP BY c.vec_id)
        |SELECT vec_id, COALESCE(ROUND(mx, 4) >= 0.9, false) AS contaminated
        |FROM m""".stripMargin,

    // per-stratum rank (q48's salted bucket, id tie-break), per-stratum
    // count, and both integer-floor quotas re-derived with windows
    "q78_stratified_split" ->
      """WITH b AS (SELECT doc_id, lang,
        |  ('0x' || substr(md5('v1' || doc_id::VARCHAR), 1, 15))::BIGINT % 10000 AS bkt
        | FROM documents),
        |r AS (SELECT doc_id, lang,
        |  row_number() OVER (PARTITION BY lang ORDER BY bkt, doc_id) AS rk,
        |  count(*) OVER (PARTITION BY lang) AS n FROM b)
        |SELECT doc_id, lang,
        | CASE WHEN rk <= (n * 9000) // 10000 THEN 'train'
        |      WHEN rk <= (n * 9500) // 10000 THEN 'val'
        |      ELSE 'test' END AS split
        |FROM r""".stripMargin,

    // the rate tower re-derived independently: per-lang counts, global
    // min, floor(sqrt(n_min/n_s)·10000) — every step IEEE-correctly-
    // rounded, so the basis-point cut is bit-identical to the engine's
    "q79_temperature_mix" ->
      """WITH c AS (SELECT lang AS k, count(*) AS n_s FROM documents GROUP BY 1),
        |mn AS (SELECT min(n_s) AS n_min FROM c),
        |r AS (SELECT k,
        |   FLOOR(sqrt(CAST(n_min AS DOUBLE) / CAST(n_s AS DOUBLE)) * 10000.0) AS bp
        |  FROM c CROSS JOIN mn)
        |SELECT d.doc_id, d.lang FROM documents d JOIN r ON d.lang = r.k
        |WHERE ('0x' || substr(md5('v1' || d.doc_id::VARCHAR), 1, 15))::BIGINT % 10000
        |      < r.bp""".stripMargin,

    // the q21 fingerprint key, the keep-best window rule spelled
    // directly (score desc nulls last, id), NULL-key retention appended
    "q84_dedup_best" ->
      ("WITH f AS (SELECT doc_id, text, n_chars, " +
        "md5(array_to_string(list_sort(list_distinct(" +
        s"string_split_regex(${normSql.format("text")}, '\\s+'))), ' ')) AS fp " +
        """FROM documents),
          |r AS (SELECT doc_id, text, n_chars,
          |  row_number() OVER (PARTITION BY fp
          |    ORDER BY n_chars DESC NULLS LAST, doc_id) AS rk
          | FROM f WHERE fp IS NOT NULL)
          |SELECT doc_id, text, n_chars FROM r WHERE rk = 1
          |UNION ALL
          |SELECT doc_id, text, n_chars FROM f WHERE fp IS NULL""".stripMargin),

    // the contract's direct spelling: global (score desc, id) order,
    // exact integer cut — the engine reaches the same set via
    // histogram threshold + boundary-tie rank, never a global sort
    "q81_select_top" ->
      """WITH s AS (SELECT doc_id, n_chars FROM documents WHERE n_chars IS NOT NULL),
        |r AS (SELECT doc_id, n_chars,
        |  row_number() OVER (ORDER BY n_chars DESC, doc_id) AS rk,
        |  count(*) OVER () AS n FROM s)
        |SELECT doc_id, n_chars FROM r WHERE rk <= (n * 3000) // 10000""".stripMargin,

    // bucket → exclusive running token sum (id order) → budget cut →
    // per-shard rollup, replayed from scratch
    "q82_shard_manifest" ->
      """WITH base AS (SELECT doc_id,
        |  ('0x' || substr(md5('v1' || doc_id::VARCHAR), 1, 15))::BIGINT % 8 AS b,
        |  CAST(CASE WHEN <STRIP:text> = '' THEN 0
        |       ELSE len(string_split_regex(<STRIP:text>, '<WS>+')) END AS BIGINT) AS nt
        | FROM documents),
        |cum AS (SELECT doc_id, b, nt,
        |  CAST(COALESCE(SUM(nt) OVER (PARTITION BY b ORDER BY doc_id
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS st
        | FROM base)
        |SELECT b::VARCHAR || '-' || (st // 500)::VARCHAR AS shard_id,
        | COUNT(*) AS n_docs, CAST(SUM(nt) AS BIGINT) AS n_tokens,
        | MIN(doc_id) AS min_id, MAX(doc_id) AS max_id
        |FROM cum GROUP BY 1""".stripMargin,

    // q81's spelling with the window partitioned by lang — the
    // per-group exact-k contract stated directly
    "q85_select_top_by_lang" ->
      """WITH s AS (SELECT doc_id, lang, n_chars FROM documents
        |           WHERE n_chars IS NOT NULL),
        |r AS (SELECT doc_id, lang, n_chars,
        |  row_number() OVER (PARTITION BY lang ORDER BY n_chars DESC, doc_id) AS rk,
        |  count(*) OVER (PARTITION BY lang) AS n FROM s)
        |SELECT doc_id, lang, n_chars FROM r WHERE rk <= (n * 2500) // 10000""".stripMargin,

    // domain + canonical url spelled straight from the key formula
    // (q69's oracle arithmetic), malformed rows (k%17=0) under the
    // NULL-domain bucket; independent aggregation
    "q86_domain_stats" ->
      """WITH d AS (SELECT CAST(p_partkey AS BIGINT) AS k, p_size,
        |  CASE WHEN p_partkey % 17 = 0 THEN NULL ELSE
        |    'example' || (p_partkey % 13) ||
        |    (CASE p_partkey % 4 WHEN 0 THEN '.com' WHEN 1 THEN '.org'
        |          WHEN 2 THEN '.co.uk' ELSE '.net' END) END AS domain,
        |  CASE WHEN p_partkey % 17 = 0 THEN NULL ELSE
        |    (CASE WHEN p_partkey % 2 = 0 THEN 'https' ELSE 'http' END) ||
        |    '://sub' || (p_partkey % 7) || '.example' || (p_partkey % 13) ||
        |    (CASE p_partkey % 4 WHEN 0 THEN '.com' WHEN 1 THEN '.org'
        |          WHEN 2 THEN '.co.uk' ELSE '.net' END) ||
        |    (CASE WHEN p_partkey % 3 = 1 THEN ':8080' ELSE '' END) ||
        |    '/Path' || (p_partkey % 11) || '/item' ||
        |    '?aa=' || (p_partkey % 3) || '&zz=' || (p_partkey % 5) END AS canon
        | FROM part)
        |SELECT domain, count(*) AS n_docs,
        | count(DISTINCT canon) AS n_urls,
        | CAST(sum(p_size) AS BIGINT) AS w_sum
        |FROM d GROUP BY domain""".stripMargin,

    // the kept-set predicate spelled DIRECTLY in key arithmetic (which
    // keys land on each blocked domain), not via the domain string —
    // an independent derivation; malformed rows all kept
    "q87_blocklist" ->
      """SELECT CAST(p_partkey AS BIGINT) AS url_id FROM part
        |WHERE p_partkey % 17 = 0 OR NOT (
        |  (p_partkey % 13 = 1 AND p_partkey % 4 = 0) OR
        |  (p_partkey % 13 = 2 AND p_partkey % 4 = 1) OR
        |  (p_partkey % 13 = 5 AND p_partkey % 4 = 2))""".stripMargin,

    // min/max → ((x-lo)·255) div span → the 16 shift/mask interleave
    // terms, all in integer arithmetic — the exact z-key replayed
    "q89_zorder" -> {
      val terms = (0 until 8).flatMap(i => Seq(
        s"(((qa >> $i) & 1) << ${2 * i})",
        s"(((qb >> $i) & 1) << ${2 * i + 1})"))
      s"""WITH m AS (SELECT min(l_orderkey) alo, max(l_orderkey) ahi,
         |  min(l_partkey) blo, max(l_partkey) bhi FROM lineitem),
         |q AS (SELECT l_orderkey, l_linenumber,
         |  ((l_orderkey - alo) * 255) // greatest(ahi - alo, 1) AS qa,
         |  ((l_partkey - blo) * 255) // greatest(bhi - blo, 1) AS qb
         | FROM lineitem, m)
         |SELECT l_orderkey, l_linenumber,
         | CAST(${terms.mkString(" | ")} AS BIGINT) AS zval
         |FROM q""".stripMargin
    },

    // selection bucket + two cut hashes mod (len+1) + three substrings,
    // replayed in the portable md5 arithmetic
    "q95_fim" ->
      """WITH v AS (SELECT doc_id, text,
        |  (('0x' || substr(md5('v1sel' || doc_id::VARCHAR), 1, 15))::BIGINT
        |     % 10000) < 5000 AS sel,
        |  ('0x' || substr(md5('v1c1' || doc_id::VARCHAR), 1, 15))::BIGINT
        |     % (length(text) + 1) AS c1,
        |  ('0x' || substr(md5('v1c2' || doc_id::VARCHAR), 1, 15))::BIGINT
        |     % (length(text) + 1) AS c2
        | FROM documents)
        |SELECT doc_id, (sel AND text IS NOT NULL) AS fim,
        | CASE WHEN sel AND text IS NOT NULL THEN
        |   '<PRE>' || substr(text, 1, CAST(least(c1, c2) AS INTEGER)) ||
        |   '<SUF>' || substr(text, CAST(greatest(c1, c2) + 1 AS INTEGER)) ||
        |   '<MID>' || substr(text, CAST(least(c1, c2) + 1 AS INTEGER),
        |     CAST(greatest(c1, c2) - least(c1, c2) AS INTEGER))
        | ELSE text END AS text_fim
        |FROM v""".stripMargin,

    // the gate's documents table is one parquet file, so the expected
    // basename is a spellable constant — the hash still proves the
    // engine derived it from the scan context, not a literal
    "q101_provenance" ->
      "SELECT doc_id, 'documents.parquet' AS src_file FROM documents",

    // doc-frequency of every distinct-per-doc gram, shared = df >= 2,
    // ratio replayed in the same integer half-away arithmetic
    "q99_novelty" ->
      """WITH nn AS (SELECT doc_id, string_split_regex(<NORM_TEXT2>, '\s+') AS toks FROM documents),
        |g AS (SELECT doc_id,
        |  list_distinct(list_transform(generate_series(1, len(toks) - 3),
        |    i -> array_to_string(toks[i:i+3], ' '))) AS gs
        | FROM nn WHERE len(toks) >= 4),
        |e AS (SELECT doc_id, unnest(gs) AS gram FROM g),
        |df_ AS (SELECT gram, COUNT(*) AS c FROM e GROUP BY 1),
        |per AS (SELECT e.doc_id, COUNT(*) AS ng,
        |   SUM(CASE WHEN df_.c >= 2 THEN 1 ELSE 0 END) AS ns
        | FROM e JOIN df_ USING (gram) GROUP BY 1)
        |SELECT d.doc_id,
        | CAST(coalesce(p.ng, 0) AS INT) AS n_grams,
        | CAST(coalesce(p.ns, 0) AS INT) AS n_shared,
        | CASE WHEN p.ng > 0 THEN
        |   CAST(((p.ng - p.ns) * 10000 * 2 + p.ng) // (p.ng * 2) AS DOUBLE) / 10000.0
        | END AS novelty
        |FROM documents d LEFT JOIN per p USING (doc_id)""".stripMargin
        .replace("<NORM_TEXT2>", normSql.format("text")),

    // the full interpolation replayed: unigram + bigram + history
    // tables, per-LM-entry quantized logs, per-token case analysis
    // (first token / seen pair / unseen pair / OOV), integer-space
    // rounding. λ and μ interpolate from the SAME basis-point constants
    // the engine divides, via Double.toString round-trip.
    "q98_bigram_lm" -> {
      val lam = java.lang.Double.toString(9000 / 10000.0)
      val mu = java.lang.Double.toString((10000 - 9000) / 10000.0)
      val sql =
        """WITH ref AS (SELECT doc_id, text FROM documents WHERE doc_id % 2 = 0),
          |sc AS (SELECT doc_id, text FROM documents WHERE doc_id % 2 <> 0),
          |rtok AS (SELECT unnest(string_split_regex(<STRIP:lower(text)>, '<WS>+')) AS token
          |  FROM ref WHERE <STRIP:lower(text)> <> ''),
          |uni AS (SELECT token, COUNT(*) AS cnt FROM rtok GROUP BY 1),
          |tot AS (SELECT SUM(cnt) AS total, COUNT(*) AS v FROM uni),
          |rp AS (SELECT p.a AS w_prev, p.b AS w FROM (
          |  SELECT unnest(list_transform(generate_series(1, len(t) - 1),
          |    i -> {'a': t[i], 'b': t[i+1]})) AS p
          |  FROM (SELECT string_split_regex(<STRIP:lower(text)>, '<WS>+') AS t
          |        FROM ref WHERE <STRIP:lower(text)> <> '')
          |  WHERE len(t) >= 2)),
          |bi AS (SELECT w_prev, w, COUNT(*) AS cnt FROM rp GROUP BY 1, 2),
          |hist AS (SELECT w_prev, SUM(cnt) AS hcnt FROM bi GROUP BY 1),
          |quni AS (SELECT token,
          |  CAST(floor(log10(CAST(cnt + 1 AS DOUBLE) / (total + v)) * 10000) AS BIGINT) AS qu,
          |  CAST(floor(log10(CAST(<MU> AS DOUBLE) * (CAST(cnt + 1 AS DOUBLE) / (total + v))) * 10000) AS BIGINT) AS qu_mix
          | FROM uni, tot),
          |qbi AS (SELECT b.w_prev, b.w,
          |  CAST(floor(log10(CAST(<LAM> AS DOUBLE) * (CAST(b.cnt AS DOUBLE) / h.hcnt)
          |    + CAST(<MU> AS DOUBLE) * (CAST(coalesce(u.cnt, 0) + 1 AS DOUBLE) / (tot.total + tot.v))) * 10000) AS BIGINT) AS qb
          | FROM bi b JOIN hist h USING (w_prev) LEFT JOIN uni u ON u.token = b.w, tot),
          |stok AS (SELECT doc_id, unnest(list_transform(generate_series(1, len(t)),
          |    i -> {'w': t[i], 'prev': CASE WHEN i > 1 THEN t[i-1] END})) AS p
          |  FROM (SELECT doc_id, string_split_regex(<STRIP:lower(text)>, '<WS>+') AS t
          |        FROM sc WHERE <STRIP:lower(text)> <> '')),
          |per AS (SELECT st.doc_id,
          |  CASE WHEN st.p.prev IS NULL THEN
          |    coalesce(q.qu, CAST(floor(log10(CAST(1 AS DOUBLE) / (total + v)) * 10000) AS BIGINT))
          |  ELSE
          |    coalesce(b.qb, q.qu_mix, CAST(floor(log10(CAST(<MU> AS DOUBLE) / (total + v)) * 10000) AS BIGINT))
          |  END AS qlp
          | FROM stok st
          | LEFT JOIN qbi b ON b.w_prev = st.p.prev AND b.w = st.p.w
          | LEFT JOIN quni q ON q.token = st.p.w, tot),
          |agg AS (SELECT doc_id, SUM(qlp) AS s, COUNT(*) AS n FROM per GROUP BY 1)
          |SELECT d.doc_id, CAST(coalesce(a.n, 0) AS INT) AS n_tok,
          | ROUND(CAST(CASE WHEN a.s < 0 THEN -(((-a.s)*2 + a.n) // (a.n*2))
          |       ELSE ((a.s*2 + a.n) // (a.n*2)) END AS DOUBLE) / 10000.0, 4) AS logprob
          |FROM sc d LEFT JOIN agg a USING (doc_id)""".stripMargin
      sql.replace("<LAM>", lam).replace("<MU>", mu)
    },

    // every BPE round replayed: pair zip (overlapping, freq-weighted)
    // → (count desc, pair asc) winner → list_reduce fold merge (the
    // separator-omission trick mirrors Curation.bpeMergeApply exactly:
    // merging = dropping the '~' between the winning pair). Rounds
    // unroll as generated CTE blocks; cnt casts back from DuckDB's
    // HUGEINT sum.
    "q97_bpe_train" -> {
      val sel = (0 until bpeK).map(r =>
        s"SELECT $r AS round, a AS pair_left, b AS pair_right, " +
          s"a || b AS merged, CAST(cnt AS BIGINT) AS cnt FROM b$r")
        .mkString("\nUNION ALL ")
      bpeOracleCtes + "\n" + sel
    },

    // the finished tokenizer artifact on top of the q97 rounds: base
    // symbols = the distinct characters of the char-joined word table
    // (ids in symbol order), merges appended in training order.
    "q100_bpe_vocab" -> {
      val mrg = (0 until bpeK).map(r =>
        s"SELECT $r AS rnd, a || b AS sym FROM b$r").mkString(" UNION ALL ")
      bpeOracleCtes + s""",
        |base AS (SELECT DISTINCT unnest(string_split(s, '~')) AS sym FROM w0),
        |mrg AS ($mrg)
        |SELECT tok_id, symbol, kind FROM (
        | SELECT row_number() OVER (ORDER BY sym) - 1 AS tok_id,
        |        sym AS symbol, 'base' AS kind FROM base
        | UNION ALL
        | SELECT (SELECT COUNT(*) FROM base) + rnd, sym, 'merge' FROM mrg)""".stripMargin
    },

    // per-doc ENCODE on top of the q97 training replay: every word of
    // every doc runs the same list_reduce merge fold, once per round
    // (e0..e8 mirror the engine's sequential application); word
    // position rides a generate_series struct (the q98 ordinal
    // pattern) so the final token stream reassembles in order. The
    // LEFT JOIN keeps wordless docs with zero counts, NULL fertility.
    "q102_bpe_encode" -> {
      val applies = (0 until bpeK).map { r =>
        s"""e${r + 1} AS (SELECT doc_id, i, w, list_reduce(string_split(e$r.s, '~'),
           |  (acc, x) -> acc || CASE WHEN (acc = b$r.a OR suffix(acc, '~' || b$r.a))
           |    AND x = b$r.b THEN '' ELSE '~' END || x) AS s
           |  FROM e$r, b$r)""".stripMargin
      }.mkString(",\n")
      bpeOracleCtes + s""",
        |dt AS (SELECT doc_id, string_split_regex(<NORM_TEXT>, '\\s+') AS t
        |  FROM documents WHERE <NORM_TEXT> <> ''),
        |e0 AS (SELECT doc_id, p.i AS i, p.w AS w,
        |  rtrim(regexp_replace(p.w, '(.)', '\\1~', 'g'), '~') AS s FROM (
        |  SELECT doc_id, unnest(list_transform(generate_series(1, len(t)),
        |    i -> {'i': i, 'w': t[i]})) AS p FROM dt)),
        |$applies,
        |agg AS (SELECT doc_id,
        |  CAST(COUNT(*) AS INT) AS n_words,
        |  CAST(SUM(length(w)) AS BIGINT) AS n_chars_sym,
        |  CAST(SUM(len(string_split(s, '~'))) AS BIGINT) AS n_subwords,
        |  array_to_string(list(replace(s, '~', ' ') ORDER BY i), ' ') AS toks
        | FROM e$bpeK GROUP BY doc_id)
        |SELECT d.doc_id,
        |  coalesce(a.n_words, 0) AS n_words,
        |  coalesce(a.n_chars_sym, CAST(0 AS BIGINT)) AS n_chars_sym,
        |  coalesce(a.n_subwords, CAST(0 AS BIGINT)) AS n_subwords,
        |  CASE WHEN a.n_subwords > 0
        |    THEN (a.n_chars_sym * 10000) // a.n_subwords END AS compression_bp,
        |  coalesce(a.toks, '') AS toks
        |FROM documents d LEFT JOIN agg a USING (doc_id)"""
        .stripMargin.replace("<NORM_TEXT>", normSql.format("text"))
    },

    "q103_snapshot_diff" ->
      """WITH oldv AS (SELECT doc_id, text, lang FROM documents WHERE doc_id % 7 <> 0),
        |newv AS (SELECT doc_id,
        |  CASE WHEN doc_id % 11 = 0 THEN text || ' v2' ELSE text END AS text,
        |  lang FROM documents WHERE doc_id % 5 <> 0)
        |SELECT coalesce(o.doc_id, n.doc_id) AS doc_id,
        |  CASE WHEN o.doc_id IS NULL THEN 'added'
        |       WHEN n.doc_id IS NULL THEN 'removed'
        |       WHEN (o.text IS DISTINCT FROM n.text)
        |         OR (o.lang IS DISTINCT FROM n.lang) THEN 'changed'
        |       ELSE 'unchanged' END AS status
        |FROM oldv o FULL OUTER JOIN newv n ON o.doc_id = n.doc_id""".stripMargin,

    "q104_skew_stats" ->
      """WITH c AS (SELECT o_custkey AS key, COUNT(*) AS cnt FROM orders GROUP BY 1),
        |t AS (SELECT CAST(SUM(cnt) AS BIGINT) AS total, COUNT(*) AS nkeys FROM c),
        |r AS (SELECT key, cnt,
        |  CAST(row_number() OVER (ORDER BY cnt DESC, key ASC NULLS FIRST) AS INTEGER) AS rank
        | FROM c)
        |SELECT rank, key, cnt,
        |  (cnt * 10000) // total AS share_bp,
        |  (cnt * 10000) // (total // nkeys) AS vs_mean_bp
        |FROM r, t WHERE rank <= 25""".stripMargin,

    // the whole q96 pipeline replayed as ONE CTE tower from proven
    // fragments: q21's fingerprint key + min-id survivor, q57's
    // augmentation + scrub regexes, q56's rounded Gopher metrics,
    // q53's 4-gram decontamination, q65's pack running sum. The regex
    // patterns interpolate from the SAME Scala constants the engine
    // compiles, so the two sides cannot drift.
    "q96_curation_e2e" -> {
      val sql =
        """WITH corpus AS (SELECT doc_id, lang, text FROM documents WHERE doc_id % 20 <> 0),
          |fp AS (SELECT doc_id, lang, text,
          |  md5(array_to_string(list_sort(list_distinct(
          |    string_split_regex(<NORM_TEXT>, '\s+'))), ' ')) AS fp
          | FROM corpus),
          |ded AS (SELECT doc_id, lang, text FROM fp
          | QUALIFY fp IS NULL OR doc_id = MIN(doc_id) OVER (PARTITION BY fp)),
          |aug AS (SELECT doc_id, lang, text ||
          |  CASE WHEN doc_id % 3 = 0 THEN ' contact user' || CAST(doc_id AS VARCHAR) || '@mail.example.com' ELSE '' END ||
          |  CASE WHEN doc_id % 4 = 0 THEN ' from 10.' || CAST(doc_id % 200 AS VARCHAR) || '.0.' || CAST(doc_id % 250 AS VARCHAR) ELSE '' END ||
          |  CASE WHEN doc_id % 5 = 0 THEN ' call +1' || lpad(CAST(doc_id % 10000000 AS VARCHAR), 9, '0') ELSE '' END AS a
          | FROM ded),
          |scr AS (SELECT doc_id, lang,
          |  regexp_replace(regexp_replace(regexp_replace(a,
          |    '<EMAIL_RE>', '<EMAIL>', 'g'),
          |    '<IP_RE>', '<IP>', 'g'),
          |    '<PHONE_RE>', '<PHONE>', 'g') AS ct
          | FROM aug),
          |gb AS (SELECT doc_id, lang, ct,
          |  CASE WHEN <STRIP:ct> = '' THEN [] ELSE string_split_regex(<STRIP:ct>, '<WS>+') END AS toks,
          |  string_split(ct, chr(10)) AS ls
          | FROM scr),
          |gm AS (SELECT doc_id,
          |  CAST(len(toks) AS INT) AS n_words,
          |  ROUND(CASE WHEN len(toks) = 0 THEN 0.0
          |    ELSE CAST(length(regexp_replace(ct, '<WS>', '', 'g')) AS DOUBLE) / len(toks) END, 4) AS mean_word_len,
          |  ROUND(CASE WHEN len(toks) = 0 THEN 0.0
          |    ELSE ((length(ct) - length(replace(ct, '#', '')))
          |        + (length(ct) - length(replace(ct, '...', ''))) / 3) / len(toks) END, 4) AS symbol_ratio,
          |  ROUND(CAST(len(list_filter(ls, l -> regexp_matches(ltrim(l), '^[-*•]'))) AS DOUBLE)
          |    / len(ls), 4) AS bullet_frac,
          |  ROUND(CAST(len(list_filter(ls, l -> regexp_matches(rtrim(l), '\.\.\.$'))) AS DOUBLE)
          |    / len(ls), 4) AS ellipsis_frac,
          |  ROUND(CASE WHEN len(toks) = 0 THEN 0.0
          |    ELSE CAST(len(list_filter(toks, t -> regexp_matches(t, '[A-Za-z]'))) AS DOUBLE) / len(toks) END, 4) AS alpha_frac,
          |  CAST(len(list_intersect(list_distinct(list_filter(
          |    string_split_regex(<STRIP:lower(ct)>, '<WS>+'), t -> t <> '')),
          |    ['the','a'])) AS INT) AS stop_hits
          | FROM gb),
          |kq AS (SELECT b.doc_id, b.lang, b.ct FROM gb b JOIN gm m USING (doc_id)
          | WHERE m.n_words BETWEEN 30 AND 100000 AND m.mean_word_len BETWEEN 3.0 AND 10.0
          |   AND m.symbol_ratio <= 0.1 AND m.bullet_frac <= 0.9 AND m.ellipsis_frac <= 0.3
          |   AND m.alpha_frac >= 0.8 AND m.stop_hits >= 2),
          |tn AS (SELECT doc_id, string_split_regex(<NORM_CT>, '\s+') AS toks FROM kq),
          |tg AS (SELECT doc_id, list_distinct(list_transform(generate_series(1, len(toks) - 3),
          |    i -> array_to_string(toks[i:i+3], ' '))) AS gs
          |  FROM tn WHERE len(toks) >= 4),
          |te AS (SELECT doc_id, unnest(gs) AS gram FROM tg),
          |hn AS (SELECT doc_id, string_split_regex(<NORM_TEXT>, '\s+') AS toks
          |  FROM documents WHERE doc_id % 20 = 0),
          |hg AS (SELECT list_distinct(list_transform(generate_series(1, len(toks) - 3),
          |    i -> array_to_string(toks[i:i+3], ' '))) AS gs
          |  FROM hn WHERE len(toks) >= 4),
          |he AS (SELECT DISTINCT unnest(gs) AS gram FROM hg),
          |bad AS (SELECT DISTINCT te.doc_id FROM te JOIN he USING (gram)),
          |surv AS (SELECT k.doc_id, k.lang, k.ct FROM kq k LEFT JOIN bad b ON k.doc_id = b.doc_id
          |  WHERE b.doc_id IS NULL),
          |pb AS (SELECT doc_id, lang,
          |  CAST(CASE WHEN <STRIP:ct> = '' THEN 0
          |       ELSE len(string_split_regex(<STRIP:ct>, '<WS>+')) END AS BIGINT) AS n_tokens
          | FROM surv),
          |pc AS (SELECT doc_id, lang, n_tokens,
          |  CAST(COALESCE(SUM(n_tokens) OVER (PARTITION BY lang ORDER BY doc_id
          |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS tok_start
          | FROM pb WHERE n_tokens > 0)
          |SELECT doc_id, lang, n_tokens,
          | tok_start // 512 AS seq_id, tok_start % 512 AS seq_offset
          |FROM pc""".stripMargin
      sql.replace("<NORM_TEXT>", normSql.format("text"))
        .replace("<NORM_CT>", normSql.format("ct"))
        .replace("<EMAIL_RE>", graft.text.Curation.emailPattern)
        .replace("<IP_RE>", graft.text.Curation.ipv4Pattern)
        .replace("<PHONE_RE>", graft.text.Curation.phonePattern)
    },

    // every stat, the well-formed verdict, and the flattened rendering
    // spelled from the key formula (p pairs, optional system, dangling
    // user, malformed) — the engine must round-trip build → to_json →
    // from_json → stats to the same values
    "q94_conversation" ->
      """WITH v AS (SELECT doc_id,
        |  doc_id % 3 + 1 AS p,
        |  (doc_id % 5 = 0) AS sy,
        |  (doc_id % 7 = 0) AS ex,
        |  (doc_id % 17 = 0) AS mal,
        |  length(CAST(doc_id AS VARCHAR)) AS lk
        | FROM documents)
        |SELECT doc_id,
        | CASE WHEN mal THEN NULL ELSE CAST(2*p
        |   + CASE WHEN sy THEN 1 ELSE 0 END
        |   + CASE WHEN ex THEN 1 ELSE 0 END AS INTEGER) END AS n_turns,
        | CASE WHEN mal THEN NULL ELSE
        |   CAST(p + CASE WHEN ex THEN 1 ELSE 0 END AS INTEGER) END AS n_user,
        | CASE WHEN mal THEN NULL ELSE CAST(p AS INTEGER) END AS n_assistant,
        | CASE WHEN mal THEN NULL ELSE CAST(p*(3+lk)
        |   + CASE WHEN ex THEN 5 ELSE 0 END AS BIGINT) END AS n_chars_user,
        | CASE WHEN mal THEN NULL ELSE CAST(p*(3+lk) AS BIGINT) END AS n_chars_assistant,
        | CASE WHEN mal THEN NULL ELSE NOT ex END AS well_formed,
        | CASE WHEN mal THEN NULL ELSE
        |  (CASE WHEN sy THEN 'system: s' || doc_id || chr(10) ELSE '' END) ||
        |  'user: u' || doc_id || '_1' || chr(10) ||
        |  'assistant: a' || doc_id || '_1' ||
        |  (CASE WHEN p >= 2 THEN chr(10) || 'user: u' || doc_id || '_2' ||
        |    chr(10) || 'assistant: a' || doc_id || '_2' ELSE '' END) ||
        |  (CASE WHEN p >= 3 THEN chr(10) || 'user: u' || doc_id || '_3' ||
        |    chr(10) || 'assistant: a' || doc_id || '_3' ELSE '' END) ||
        |  (CASE WHEN ex THEN chr(10) || 'user: extra' ELSE '' END)
        | END AS text
        |FROM v""".stripMargin,

    // floor/frac-bp per lang spelled literally, the shared md5 bucket,
    // copies from generate_series — the mix contract replayed
    "q93_epochs_mix" ->
      """WITH p AS (SELECT doc_id, lang,
        |  CASE lang WHEN 'en' THEN 0 WHEN 'zh' THEN 2
        |       WHEN 'fr' THEN 3 ELSE 1 END AS fl,
        |  CASE lang WHEN 'en' THEN 5000 WHEN 'zh' THEN 3000
        |       ELSE 0 END AS bp
        | FROM documents),
        |b AS (SELECT doc_id, lang, fl + CASE WHEN
        |  ('0x' || substr(md5('v1' || doc_id::VARCHAR), 1, 15))::BIGINT
        |    % 10000 < bp THEN 1 ELSE 0 END AS nc FROM p)
        |SELECT doc_id, lang,
        |  CAST(unnest(generate_series(0, nc - 1)) AS INTEGER) AS epoch
        |FROM b WHERE nc > 0""".stripMargin,

    // every per-column statistic recomputed from scratch, dtype labels
    // spelled to Spark's simpleString names
    "q92_profile" -> Seq(
      ("o_orderkey", "bigint", true), ("o_custkey", "bigint", true),
      ("o_orderstatus", "string", false), ("o_totalprice", "double", true),
      ("o_orderdate", "timestamp_ntz", false),
      ("o_orderpriority", "string", false))
      .map { case (c, dt, num) =>
        val mn = if (num) s"CAST(min($c) AS DOUBLE)" else "CAST(NULL AS DOUBLE)"
        val mx = if (num) s"CAST(max($c) AS DOUBLE)" else "CAST(NULL AS DOUBLE)"
        s"""SELECT '$c' AS col_name, '$dt' AS dtype, count(*) AS n_rows,
           | count(*) - count($c) AS n_nulls,
           | count(DISTINCT $c) AS n_distinct,
           | $mn AS min_num, $mx AS max_num FROM orders""".stripMargin
      }.mkString("\nUNION ALL\n"),

    // the bucketing contract spelled directly: global (score desc, id)
    // row_number against the two DIV cut ranks; NULL scores ride along
    // with NULL buckets
    "q90_score_buckets" ->
      """WITH s AS (SELECT doc_id, n_chars FROM documents WHERE n_chars IS NOT NULL),
        |r AS (SELECT doc_id, n_chars,
        |  row_number() OVER (ORDER BY n_chars DESC, doc_id) AS rk,
        |  count(*) OVER () AS n FROM s),
        |b AS (SELECT doc_id, n_chars,
        |  CASE WHEN rk <= (n * 3333) // 10000 THEN 0
        |       WHEN rk <= (n * 6667) // 10000 THEN 1 ELSE 2 END AS bucket FROM r)
        |SELECT doc_id, n_chars, CAST(bucket AS INTEGER) AS bucket,
        |  CASE bucket WHEN 0 THEN 'head' WHEN 1 THEN 'middle'
        |       ELSE 'tail' END AS bucket_label
        |FROM b
        |UNION ALL
        |SELECT doc_id, n_chars, CAST(NULL AS INTEGER), CAST(NULL AS VARCHAR)
        |FROM documents WHERE n_chars IS NULL""".stripMargin,

    // every count and the priority argmax spelled from the moduli (the
    // engine runs real range-regex counting over the built string);
    // digits are counted but never win main_script
    "q91_script_mix" ->
      """SELECT doc_id,
        |  repeat('a', CAST(doc_id % 7 AS INTEGER)) ||
        |  repeat('б', CAST(doc_id % 5 AS INTEGER)) ||
        |  repeat('ω', CAST(doc_id % 6 AS INTEGER)) ||
        |  repeat('ش', CAST(doc_id % 2 AS INTEGER)) ||
        |  repeat('的', CAST(doc_id % 3 AS INTEGER)) || ' ' ||
        |  repeat('7', CAST(doc_id % 4 AS INTEGER)) AS text,
        |  CAST(doc_id % 7 AS INTEGER) AS n_latin,
        |  CAST(doc_id % 5 AS INTEGER) AS n_cyrillic,
        |  CAST(doc_id % 6 AS INTEGER) AS n_greek,
        |  CAST(doc_id % 2 AS INTEGER) AS n_arabic,
        |  CAST(doc_id % 3 AS INTEGER) AS n_cjk,
        |  CAST(doc_id % 4 AS INTEGER) AS n_digit,
        |  CASE WHEN doc_id % 7 = 0 AND doc_id % 5 = 0 AND doc_id % 6 = 0
        |            AND doc_id % 2 = 0 AND doc_id % 3 = 0 THEN 'unknown'
        |       WHEN doc_id % 7 >= doc_id % 5 AND doc_id % 7 >= doc_id % 6
        |            AND doc_id % 7 >= doc_id % 2 AND doc_id % 7 >= doc_id % 3
        |            THEN 'latin'
        |       WHEN doc_id % 5 >= doc_id % 6 AND doc_id % 5 >= doc_id % 2
        |            AND doc_id % 5 >= doc_id % 3 THEN 'cyrillic'
        |       WHEN doc_id % 6 >= doc_id % 2 AND doc_id % 6 >= doc_id % 3
        |            THEN 'greek'
        |       WHEN doc_id % 2 >= doc_id % 3 THEN 'arabic'
        |       ELSE 'cjk' END AS main_script
        |FROM documents""".stripMargin,

    // the per-test-doc leak table replayed from scratch on the shared
    // decontamination CTEs: inner join on the gram STRINGS (the engine
    // joins 64-bit hashes — collision-free at gate scale), two-key
    // distinct counts, zeros for clean test docs
    "q88_contamination_report" -> (decontaminateCtes +
      """
        |SELECT t.doc_id AS test_id,
        | CAST(coalesce(r.nd, 0) AS BIGINT) AS n_contaminating_docs,
        | CAST(coalesce(r.ng, 0) AS BIGINT) AS n_shared_grams,
        | coalesce(r.nd, 0) > 0 AS contaminated
        |FROM (SELECT doc_id FROM documents WHERE doc_id % 20 = 0) t
        |LEFT JOIN (
        |  SELECT tg.doc_id AS tid, count(DISTINCT e.doc_id) AS nd,
        |         count(DISTINCT e.gram) AS ng
        |  FROM e JOIN (SELECT doc_id, gram FROM e WHERE doc_id % 20 = 0) tg
        |    USING (gram)
        |  WHERE e.doc_id % 20 <> 0
        |  GROUP BY 1) r ON t.doc_id = r.tid""".stripMargin),

    // the UNFILTERED incremental contract replayed from scratch (the
    // driver row runs the bloom path — q68's shared-oracle pattern):
    // plant the same templates, anti-join batch keys against corpus
    // keys, keep min id per surviving batch key
    "q80_incremental_dedup" ->
      """WITH b AS (SELECT doc_id,
        |  CASE WHEN doc_id % 15 = 0 THEN 'BOILERPLATE LICENSE HEADER ALPHA v1'
        |       WHEN doc_id % 20 = 5 THEN 'BATCH ONLY PRESS RELEASE BETA v2'
        |       ELSE text END AS text, lang
        | FROM documents WHERE doc_id % 5 = 0),
        |seen AS (SELECT DISTINCT md5(CASE WHEN doc_id % 7 = 1
        |    THEN 'BOILERPLATE LICENSE HEADER ALPHA v1' ELSE text END) AS k
        |  FROM documents WHERE doc_id % 5 <> 0 AND text IS NOT NULL),
        |nov AS (SELECT b.*, md5(b.text) AS k FROM b
        |  WHERE md5(b.text) IS NULL
        |     OR NOT EXISTS (SELECT 1 FROM seen s WHERE s.k = md5(b.text)))
        |SELECT doc_id, text, lang FROM (
        |  SELECT nov.*, min(doc_id) OVER (PARTITION BY k) AS keep_id FROM nov)
        |WHERE k IS NULL OR doc_id = keep_id""".stripMargin,

    // the matrix replayed from scratch: same plants, distinct
    // (source, md5) keys, ordered pairs with the NULL group FIRST,
    // totals re-joined null-safely, bp as exact integer division
    "q106_source_overlap" ->
      """WITH d AS (SELECT
        |  CASE WHEN doc_id % 31 = 3 THEN NULL ELSE source END AS source,
        |  CASE WHEN doc_id % 7 = 0 THEN 'common template one across sources'
        |       WHEN doc_id % 11 = 1 THEN 'common template two across sources'
        |       ELSE text END AS text
        | FROM documents),
        |k AS (SELECT DISTINCT source, md5(text) AS k FROM d WHERE text IS NOT NULL),
        |tot AS (SELECT source, COUNT(*) AS n FROM k GROUP BY 1),
        |p AS (SELECT a.source AS source_a, b.source AS source_b,
        |   COUNT(*) AS n_shared
        | FROM k a JOIN k b ON a.k = b.k AND
        |   ((a.source IS NULL AND b.source IS NOT NULL) OR a.source < b.source)
        | GROUP BY 1, 2)
        |SELECT p.source_a, p.source_b, p.n_shared, ta.n AS n_a, tb.n AS n_b,
        |  (p.n_shared * 10000) // least(ta.n, tb.n) AS overlap_bp
        |FROM p
        |LEFT JOIN tot ta ON p.source_a IS NOT DISTINCT FROM ta.source
        |LEFT JOIN tot tb ON p.source_b = tb.source""".stripMargin,

    // the near-dup matrix replayed EXHAUSTIVELY: same boilerplate
    // plant, q26's shingle spelling, every cross-source pair's exact
    // word-shingle Jaccard, both directions expanded, distinct-doc
    // counts, totals over the shingled universe, bp as exact integer
    // division — the engine's bands only bound the comparison set
    "q123_source_neardup_overlap" ->
      ("WITH raw AS (SELECT doc_id, source, " +
        """CASE WHEN doc_id % 37 = 5
          |  THEN 'replicated boilerplate page copied across crawl sources verbatim with every mirror'
          |  ELSE text END AS text FROM documents),
          |""".stripMargin +
        "n AS (SELECT doc_id, source, " + normSql.format("text") + " AS s FROM raw), " +
        """t AS (SELECT doc_id, source, string_split(s, ' ') AS toks FROM n WHERE s <> ''),
          |g AS (SELECT doc_id, source,
          |  CASE WHEN len(toks) < 3 THEN [array_to_string(toks, ' ')]
          |       ELSE list_distinct(list_transform(generate_series(1, len(toks) - 2),
          |              i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2])) END AS sh
          | FROM t),
          |hits AS (
          | SELECT a.doc_id AS id_a, a.source AS sa, b.doc_id AS id_b, b.source AS sb
          | FROM g a JOIN g b ON a.doc_id < b.doc_id
          |   AND (a.source IS DISTINCT FROM b.source)
          | WHERE ROUND(CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE)
          |    / (len(a.sh) + len(b.sh) - len(list_intersect(a.sh, b.sh))), 4) >= 0.6),
          |dirs AS (SELECT sa AS source_a, sb AS source_b, id_a AS id FROM hits
          |  UNION ALL SELECT sb, sa, id_b FROM hits),
          |counts AS (SELECT source_a, source_b, COUNT(DISTINCT id) AS n_docs_a_in_b
          |  FROM dirs GROUP BY 1, 2),
          |tot AS (SELECT source, COUNT(DISTINCT doc_id) AS n_a FROM g GROUP BY 1)
          |SELECT source_a, source_b, n_docs_a_in_b, n_a,
          |  (n_docs_a_in_b * 10000) // n_a AS share_bp
          |FROM counts JOIN tot ON tot.source IS NOT DISTINCT FROM counts.source_a"""
          .stripMargin),

    // the exhaustive cross-source CONTAINMENT matrix replayed from
    // scratch: q128's quotation plant, q26's shingle spelling, then
    // every cross-source pair's |A∩B|·10⁴ // min(|A|,|B|) at 8000 bp —
    // the engine's pigeonhole prefix join has EXACT recall (not an LSH
    // dial), so the matrices must coincide identically
    "q128_source_containment_overlap" ->
      ("WITH raw AS (SELECT doc_id, source, " +
        """CASE WHEN doc_id % 41 = 7
          |  THEN 'sierra tango uniform victor whiskey xray yankee zulu quebec'
          |  WHEN doc_id % 41 = 9
          |  THEN 'framing commentary narrative opens preamble context sierra tango uniform victor whiskey xray yankee zulu quebec trailing analysis continues onward covering manifold subsequent windows entirely separate tokens conclude'
          |  ELSE text END AS text FROM documents),
          |""".stripMargin +
        "n AS (SELECT doc_id, source, " + normSql.format("text") + " AS s FROM raw), " +
        """t AS (SELECT doc_id, source, string_split(s, ' ') AS toks FROM n WHERE s <> ''),
          |g AS (SELECT doc_id, source,
          |  CASE WHEN len(toks) < 3 THEN [array_to_string(toks, ' ')]
          |       ELSE list_distinct(list_transform(generate_series(1, len(toks) - 2),
          |              i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2])) END AS sh
          | FROM t),
          |hits AS (
          | SELECT a.doc_id AS id_a, a.source AS sa, b.doc_id AS id_b, b.source AS sb
          | FROM g a JOIN g b ON a.doc_id < b.doc_id
          |   AND (a.source IS DISTINCT FROM b.source)
          | WHERE (len(list_intersect(a.sh, b.sh)) * 10000)
          |    // least(len(a.sh), len(b.sh)) >= 8000),
          |dirs AS (SELECT sa AS source_a, sb AS source_b, id_a AS id FROM hits
          |  UNION ALL SELECT sb, sa, id_b FROM hits),
          |counts AS (SELECT source_a, source_b, COUNT(DISTINCT id) AS n_docs_a_in_b
          |  FROM dirs GROUP BY 1, 2),
          |tot AS (SELECT source, COUNT(DISTINCT doc_id) AS n_a FROM g GROUP BY 1)
          |SELECT source_a, source_b, n_docs_a_in_b, n_a,
          |  (n_docs_a_in_b * 10000) // n_a AS share_bp
          |FROM counts JOIN tot ON tot.source IS NOT DISTINCT FROM counts.source_a"""
          .stripMargin),

    // the exhaustive cross-side near-dup verdict replayed from scratch:
    // same template plant + carve, q26's shingle spelling, every batch
    // id (shingle-less rows included) left-joined to its verified-hit
    // rollup — the engine's LSH bands only bound the comparison set, so
    // counts/max must coincide with the exhaustive join (recall
    // argument in the query's comment)
    "q105_incremental_neardup" -> nearDupOracleSql,

    // the indexed probe answers the SAME exhaustive oracle — build,
    // manifest, and pruned probe are all under the check by construction
    "q107_neardup_index" -> nearDupOracleSql,

    // the streaming gate's flag column against the same exhaustive hit
    // rollup (candidate ≡ verified on this fixture — the query's
    // comment derives why); batch rows yielding no shingles are never
    // flagged, which the left join's NULL→false spells directly
    "q108_stream_neardup" -> (nearDupOracleCtes +
      """SELECT i.doc_id, h.bid IS NOT NULL AS maybe_near_dup
        |FROM (SELECT doc_id FROM documents WHERE doc_id % 4 = 1) i
        |LEFT JOIN h ON i.doc_id = h.bid""".stripMargin),

    // both LMs, every quantized weight, and the top-100 cut re-derived
    // from scratch: target LM = every 3rd doc, reference = full corpus
    // (so reference lookups never go OOV — the target-side OOV floor is
    // the scalar subquery); ranking is weight desc + id, a total order
    "q75_dsir_select" ->
      """WITH tok AS (SELECT doc_id,
        |  unnest(string_split_regex(<STRIP:lower(text)>, '<WS>+')) AS token
        | FROM documents WHERE <STRIP:lower(text)> <> ''),
        |tlm AS (SELECT token, COUNT(*) AS cnt FROM tok WHERE doc_id % 3 = 0 GROUP BY 1),
        |rlm AS (SELECT token, COUNT(*) AS cnt FROM tok GROUP BY 1),
        |tt AS (SELECT SUM(cnt) AS total, COUNT(*) AS v FROM tlm),
        |rt AS (SELECT SUM(cnt) AS total, COUNT(*) AS v FROM rlm),
        |tq AS (SELECT token,
        |  CAST(floor(log10(CAST(cnt + 1 AS DOUBLE) / (total + v)) * 10000) AS BIGINT) AS qlp
        | FROM tlm, tt),
        |rq AS (SELECT token,
        |  CAST(floor(log10(CAST(cnt + 1 AS DOUBLE) / (total + v)) * 10000) AS BIGINT) AS qlp
        | FROM rlm, rt),
        |w AS (SELECT t.doc_id,
        |  COALESCE(tq.qlp,
        |    (SELECT CAST(floor(log10(1.0 / (total + v)) * 10000) AS BIGINT) FROM tt))
        |  - rq.qlp AS wq
        | FROM tok t LEFT JOIN tq USING (token) JOIN rq USING (token))
        |SELECT doc_id, CAST(COUNT(*) AS INT) AS n_tok,
        |  CAST(SUM(wq) AS BIGINT) AS dsir_logw_q
        |FROM w GROUP BY 1
        |ORDER BY dsir_logw_q DESC, doc_id LIMIT 100""".stripMargin,

    // the expected extraction spelled straight from the fixture's key
    // formula — title from the head, body text with paragraph newlines
    // and decoded entities, everything else (tags, script with its bare
    // '<', style, comment) gone
    "q76_html_extract" ->
      """SELECT CAST(p_partkey AS BIGINT) AS pid,
        | 'Part ' || (p_partkey % 7) AS html_title,
        | 'Item ' || (p_partkey % 13) || chr(10) ||
        | 'alpha & beta ' || (p_partkey % 5) || chr(10) ||
        | 'gamma delta' AS html_text
        |FROM part""".stripMargin,

    // count desc + token asc is a total order, so LIMIT is deterministic
    "q58_vocab" ->
      """SELECT t AS token, COUNT(*) AS cnt
        |FROM (SELECT unnest(string_split_regex(<STRIP:lower(text)>, '<WS>+')) AS t
        |      FROM documents WHERE <STRIP:text> <> '')
        |GROUP BY 1 ORDER BY cnt DESC, token LIMIT 50""".stripMargin,

    // q58's vocabulary rebuilt, then every doc's token stream flagged
    // against it: counts, OOV, and the integer-bp ratio re-derived; the
    // outer id spine keeps token-less docs at (0, 0, NULL)
    "q109_vocab_coverage" ->
      """WITH tok AS (SELECT doc_id,
        |  unnest(string_split_regex(<STRIP:lower(text)>, '<WS>+')) AS t
        | FROM documents WHERE <STRIP:text> <> ''),
        |v AS (SELECT t AS token FROM tok
        | GROUP BY 1 ORDER BY COUNT(*) DESC, token LIMIT 50),
        |per AS (SELECT tok.doc_id, COUNT(*) AS n_tokens,
        |  CAST(SUM(CASE WHEN v.token IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_oov
        | FROM tok LEFT JOIN v ON tok.t = v.token GROUP BY 1)
        |SELECT i.doc_id,
        |  COALESCE(p.n_tokens, 0) AS n_tokens,
        |  COALESCE(p.n_oov, 0) AS n_oov,
        |  CASE WHEN p.n_tokens > 0 THEN (p.n_oov * 10000) // p.n_tokens END AS oov_bp
        |FROM (SELECT doc_id FROM documents) i
        |LEFT JOIN per p ON i.doc_id = p.doc_id""".stripMargin,

    // the perceptron epochs replayed (3 rounds, 256 buckets); the cast
    // back from HUGEINT is the playbook rule for integer aggregates
    "q110_classifier_fit" -> (perceptronOracleCtes(256, 3) +
      "\nSELECT feat, CAST(w AS BIGINT) AS w FROM w3 ORDER BY feat"),

    // the same tower, then every doc's margin under the final weights;
    // docs outside the fit corpus (NULL text/id) keep NULL margin+pred
    "q111_classifier_score" -> classifierScoreOracleSql,

    // the STREAMING gate scores the same rows under the same weights —
    // q111's oracle verbatim (one oracle family, two physical
    // strategies: batch broadcast join + doc-id exchange vs the
    // row-local literal-map fold per micro-batch)
    "q115_stream_classify" -> classifierScoreOracleSql,

    // the three pairwise towers' final weight tables, stacked with
    // their pair labels — the whole multiclass model hash-checked
    "q117_classifier_multi_fit" -> (perceptronOvOOracleCtes(256, 3) +
      "\n" + ovoPairs.map { case (s, a, b) =>
        s"SELECT '$a' AS label_a, '$b' AS label_b, feat, " +
          s"CAST(w AS BIGINT) AS w FROM w${s}3"
      }.mkString("", "\nUNION ALL\n", "\nORDER BY label_a, label_b, feat")),

    // every doc scored by every pair, majority vote, lexicographic
    // tie-break — the prediction surface over the same towers
    "q118_classifier_multi_pred" -> multiPredOracleSql,

    // the STREAMING multiclass gate: the same rows, the same weights,
    // q118's oracle verbatim — batch exchanges vs one row-local
    // expression per micro-batch (the q111/q115 pairing, multiclass)
    "q120_stream_classify_multi" -> multiPredOracleSql,

    // the same md5 bucket arithmetic, spelled in SQL: cumulative ranges
    // over bucket = top-60-bits(md5(salt || id)) mod 10000
    "q48_split" ->
      """SELECT doc_id, lang,
        | CASE WHEN b < 9000 THEN 'train' WHEN b < 9500 THEN 'val'
        |      ELSE 'test' END AS split
        |FROM (SELECT doc_id, lang,
        |  ('0x' || substr(md5('v1' || doc_id::VARCHAR), 1, 15))::BIGINT % 10000 AS b
        | FROM documents)""".stripMargin,

    // mirror the line explode (struct-list unnest keeps positions), the
    // distinct-doc frequency filter, and the ordered reassembly
    "q52_line_dedup" ->
      """WITH base AS (SELECT doc_id, string_split(text, chr(10)) AS ls FROM documents),
        |l AS (SELECT doc_id, u.pos AS pos, u.ln AS ln
        |      FROM (SELECT doc_id,
        |              unnest(list_transform(generate_series(1, len(ls)),
        |                i -> {'pos': i, 'ln': ls[i]})) AS u
        |            FROM base)),
        |hot AS (SELECT ln FROM (SELECT ln, count(DISTINCT doc_id) AS df
        |                        FROM l GROUP BY ln) WHERE df > 2),
        |kept AS (SELECT * FROM l WHERE ln NOT IN (SELECT ln FROM hot)),
        |reb AS (SELECT doc_id, string_agg(ln, chr(10) ORDER BY pos) AS text
        |        FROM kept GROUP BY doc_id)
        |SELECT d.doc_id, coalesce(r.text, '') AS text
        |FROM (SELECT DISTINCT doc_id FROM documents) d
        |LEFT JOIN reb r USING (doc_id)""".stripMargin,

    // replay the synthetic byte stream as an uppercase hex string and
    // md5 it — matches Spark's md5(hex(payload)) content key exactly
    "q51_media_dedup" ->
      """WITH h AS (
        | SELECT CAST(p_partkey AS BIGINT) AS media_id,
        |  (SELECT md5(string_agg(upper(lpad(format('{:x}', (p_partkey + i*i) % 256), 2, '0')), '' ORDER BY i))
        |   FROM generate_series(0, 1023) t(i)) AS content_key
        | FROM part)
        |SELECT content_key, min(media_id) AS keeper_id, count(*) AS n_copies
        |FROM h GROUP BY content_key""".stripMargin,

    // replay the PNG pixel formula (x,y) → (media_id + x + y) mod 256
    // and aggregate with the SAME arithmetic shape as ImageCodec
    // (exact integer sums, one double division, identical guard) — the
    // Spark side decodes real PNG bytes, the oracle never needs to
    "q61_image_decode" ->
      """WITH px AS (
        | SELECT CAST(p_partkey AS BIGINT) AS media_id,
        |  CAST((p_partkey + x.v + y.v) % 256 AS BIGINT) AS s
        | FROM part, generate_series(0, 31) AS x(v), generate_series(0, 23) AS y(v))
        |SELECT media_id,
        | CAST(32 AS INTEGER) AS img_width, CAST(24 AS INTEGER) AS img_height,
        | ROUND(SUM(s)::DOUBLE / COUNT(*), 4) AS mean_intensity,
        | ROUND(sqrt(GREATEST(SUM(s*s)::DOUBLE / COUNT(*)
        |   - (SUM(s)::DOUBLE / COUNT(*)) * (SUM(s)::DOUBLE / COUNT(*)), 0)), 4)
        |   AS stddev_intensity
        |FROM px GROUP BY media_id""".stripMargin,

    // replay the closed-form PCM samples and their exact integer sums —
    // the engine result came from decoding REAL WAV bytes
    "q63_audio_decode" ->
      """WITH sm AS (
        | SELECT CAST(p_partkey AS BIGINT) AS media_id,
        |  CAST((p_partkey * 7 + i.v * i.v) % 65536 - 32768 AS BIGINT) AS s
        | FROM part, generate_series(0, 1999) AS i(v))
        |SELECT media_id, COUNT(*) AS n_samples,
        | CAST(COUNT(*) * 1000 / 8000 AS BIGINT) AS audio_duration_ms,
        | ROUND(SUM(s)::DOUBLE / COUNT(*), 4) AS mean_sample,
        | ROUND(sqrt(SUM(s*s)::DOUBLE / COUNT(*)), 4) AS rms
        |FROM sm GROUP BY media_id""".stripMargin,

    // replay the GIF frame formula (x,y,f) → (media_id + 17f + x + y)
    // mod 256 for the sampled frames (every 2nd of 8) with the SAME
    // arithmetic shape as VideoCodec (exact integer sums, one double
    // division, identical guard); duration/offsets are frame_idx × the
    // 4 cs container delay — the Spark side reads them back from REAL
    // GraphicControlExtension metadata, the oracle never needs to
    "q67_video_decode" ->
      """WITH px AS (
        | SELECT CAST(p_partkey AS BIGINT) AS media_id, f.v AS fi,
        |  CAST((p_partkey + 17 * f.v + x.v + y.v) % 256 AS BIGINT) AS s
        | FROM part, generate_series(0, 7) AS f(v),
        |      generate_series(0, 15) AS x(v), generate_series(0, 11) AS y(v)
        | WHERE f.v % 2 = 0)
        |SELECT media_id, CAST(8 AS INTEGER) AS n_frames,
        | CAST(320 AS BIGINT) AS video_duration_ms,
        | CAST(fi AS INTEGER) AS frame_idx, CAST(fi * 40 AS BIGINT) AS frame_ms,
        | ROUND(SUM(s)::DOUBLE / COUNT(*), 4) AS frame_mean,
        | ROUND(sqrt(GREATEST(SUM(s*s)::DOUBLE / COUNT(*)
        |   - (SUM(s)::DOUBLE / COUNT(*)) * (SUM(s)::DOUBLE / COUNT(*)), 0)), 4)
        |   AS frame_stddev
        |FROM px GROUP BY media_id, fi""".stripMargin,

    // exact cosine of the planted queries against the FULL corpus: the
    // true argmax per query is the planted twin (score 1.0, nothing
    // else near it), which LSH must find via guaranteed θ=0 collisions
    "q62_ann_lsh" ->
      """WITH q AS (SELECT vec_id + 10000000 AS query_id,
        |            CAST(embedding AS DOUBLE[]) AS qv
        |           FROM embeddings WHERE vec_id % 100 = 0),
        |c AS (SELECT vec_id AS neighbor_id, CAST(embedding AS DOUBLE[]) AS cv
        |      FROM embeddings),
        |scored AS (
        | SELECT query_id, neighbor_id,
        |  ROUND(list_cosine_similarity(qv, cv), 4) AS score
        | FROM q CROSS JOIN c),
        |ranked AS (
        | SELECT query_id, neighbor_id, score,
        |  ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY score DESC, neighbor_id) AS rank
        | FROM scored)
        |SELECT query_id, neighbor_id, score, CAST(rank AS INTEGER) AS rank
        |FROM ranked WHERE rank = 1""".stripMargin,

    // only exact-duplicate pairs clear the 0.9999 cosine threshold (see
    // the query comment), so min-id-per-component reduces to
    // min-id-per-identical-vector — which SQL states directly
    "q64_embed_dedup" ->
      """WITH corpus AS (
        | SELECT vec_id, embedding FROM embeddings
        | UNION ALL
        | SELECT CASE WHEN vec_id % 40 = 0 THEN vec_id - 10000000
        |             ELSE vec_id + 10000000 END AS vec_id, embedding
        | FROM embeddings WHERE vec_id % 20 = 0)
        |SELECT MIN(vec_id) AS vec_id FROM corpus GROUP BY embedding""".stripMargin,

    // the ExactSubstr contract recomputed from scratch: token 10-grams
    // with positions (1-based list slices), the globally-duplicated
    // hash set, the covered-position union, and ordered reassembly of
    // the survivors — the same md5-60-bit gram hash as the engine
    "q72_substring_dedup" ->
      ("WITH nn AS (SELECT doc_id, " + normSql.format("text") + " AS s FROM documents), " +
        """t AS (SELECT doc_id,
          |  CASE WHEN s IS NULL OR s = '' THEN [] ELSE string_split(s, ' ') END AS toks
          | FROM nn),
          |tt AS (SELECT doc_id, toks, len(toks) AS ntok FROM t),
          |g AS (SELECT doc_id, u.pos AS pos, u.h AS h FROM (
          |  SELECT doc_id, unnest(list_transform(generate_series(1, ntok - 9),
          |    i -> {'pos': i,
          |          'h': ('0x' || substr(md5(array_to_string(toks[i:i+9], ' ')), 1, 15))::BIGINT})) AS u
          |  FROM tt WHERE ntok >= 10)),
          |dup AS (SELECT h FROM g GROUP BY h HAVING COUNT(*) > 1),
          |cov AS (SELECT DISTINCT g.doc_id, g.pos + o.v AS p
          |        FROM g JOIN dup USING (h), generate_series(0, 9) o(v)),
          |tok AS (SELECT doc_id, u.p AS p, u.tk AS tk FROM (
          |  SELECT doc_id, unnest(list_transform(generate_series(1, ntok),
          |    i -> {'p': i, 'tk': toks[i]})) AS u
          |  FROM tt WHERE ntok >= 1)),
          |kept AS (SELECT tok.doc_id, tok.p, tok.tk
          |         FROM tok LEFT JOIN cov ON tok.doc_id = cov.doc_id AND tok.p = cov.p
          |         WHERE cov.p IS NULL),
          |reb AS (SELECT doc_id, string_agg(tk, ' ' ORDER BY p) AS text, COUNT(*) AS nk
          |        FROM kept GROUP BY doc_id)
          |SELECT tt.doc_id, COALESCE(r.text, '') AS text,
          | CAST(COALESCE(r.nk, 0) AS BIGINT) AS n_kept,
          | CAST(tt.ntok - COALESCE(r.nk, 0) AS BIGINT) AS n_removed
          |FROM tt LEFT JOIN reb r ON tt.doc_id = r.doc_id""".stripMargin),

    // the packing contract is a per-shard exclusive running sum of the
    // shared whitespace token count — spelled identically here
    "q65_pack" ->
      """WITH base AS (
        | SELECT doc_id, lang,
        |  CAST(CASE WHEN <STRIP:text> = '' THEN 0
        |       ELSE len(string_split_regex(<STRIP:text>, '<WS>+')) END AS BIGINT) AS n_tokens
        | FROM documents),
        |cum AS (
        | SELECT doc_id, lang, n_tokens,
        |  -- SUM(BIGINT) widens to HUGEINT in DuckDB — cast back so
        |  -- seq_id/seq_offset type-match Spark's BIGINT output
        |  CAST(COALESCE(SUM(n_tokens) OVER (PARTITION BY lang ORDER BY doc_id
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS tok_start
        | FROM base WHERE n_tokens > 0)
        |SELECT doc_id, lang, n_tokens,
        | tok_start // 512 AS seq_id, tok_start % 512 AS seq_offset
        |FROM cum""".stripMargin,

    // rank by the same salted bucket (id tiebreak), keep the first 30
    "q49_cap_source" ->
      """SELECT doc_id, source FROM (
        | SELECT doc_id, source, row_number() OVER (PARTITION BY source
        |   ORDER BY ('0x' || substr(md5('v1' || doc_id::VARCHAR), 1, 15))::BIGINT % 10000,
        |            doc_id) AS rk
        | FROM documents) WHERE rk <= 30""".stripMargin,

    "q50_sample_lang" ->
      """SELECT doc_id, lang FROM documents
        |WHERE ('0x' || substr(md5('v1' || doc_id::VARCHAR), 1, 15))::BIGINT % 10000
        |      < CASE WHEN lang = 'en' THEN 2500.0 ELSE 10000.0 END""".stripMargin,

    "q28_embed_neardup" ->
      """WITH g AS (SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS v FROM embeddings)
        |SELECT a.vec_id AS id_a, b.vec_id AS id_b,
        | ROUND(list_cosine_similarity(a.v, b.v), 4) AS cos
        |FROM g a JOIN g b ON a.label = b.label AND a.vec_id < b.vec_id
        |WHERE ROUND(list_cosine_similarity(a.v, b.v), 4) >= 0.3""".stripMargin,

    "q29_match_topk" ->
      ("WITH tok AS (SELECT p_partkey, list_distinct(string_split_regex(" +
        normSql.format("p_name") + ", '\\s+')) AS toks FROM part), " +
        """post AS (SELECT p_partkey AS rid, unnest(toks) AS tok FROM tok),
          |idf AS (SELECT tok, COUNT(*) AS df FROM post GROUP BY 1),
          |n AS (SELECT COUNT(*) AS nd FROM tok),
          |qt AS (SELECT p_partkey AS lid, unnest(toks) AS tok FROM tok WHERE p_partkey % 17 = 0),
          |cand AS (
          | SELECT qt.lid, post.rid,
          |  CAST(FLOOR((LN((n.nd + 1.0) / (idf.df + 1)) + 1) * 10000) AS BIGINT) AS w
          | FROM qt JOIN post ON qt.tok = post.tok JOIN idf ON qt.tok = idf.tok CROSS JOIN n),
          |scored AS (SELECT lid, rid, CAST(SUM(w) AS BIGINT) AS hit_score FROM cand GROUP BY 1, 2),
          |ranked AS (
          | SELECT lid, rid, hit_score,
          |  COUNT(*) OVER (PARTITION BY lid) AS matchid_hit_matches_unfiltered,
          |  MAX(hit_score) OVER (PARTITION BY lid) AS hit_max_score,
          |  ROW_NUMBER() OVER (PARTITION BY lid ORDER BY hit_score DESC, rid) AS hit_rank
          | FROM scored)
          |SELECT lid AS p_partkey, rid AS hit_p_partkey, hit_score,
          | CAST(hit_rank AS INTEGER) AS hit_rank, matchid_hit_matches_unfiltered, hit_max_score
          |FROM ranked WHERE hit_rank <= 5""".stripMargin),

    // BM25 mirror of q29: FULL token lists feed tf (per-doc token
    // counts) and dl (list length); the weight expression repeats the
    // Spark side's operation ORDER exactly so the per-row doubles (and
    // hence the 1e-4 floor) agree bit-for-bit
    "q66_match_bm25" ->
      ("WITH tok AS (SELECT p_partkey, string_split_regex(" +
        normSql.format("p_name") + ", '\\s+') AS ts FROM part), " +
        """n AS (SELECT COUNT(*) AS nd,
          |   CAST(SUM(len(ts)) AS DOUBLE) / COUNT(*) AS avgdl FROM tok),
          |post AS (SELECT p_partkey AS rid, len(ts) AS dl, tok, COUNT(*) AS tf
          | FROM (SELECT p_partkey, ts, unnest(ts) AS tok FROM tok) GROUP BY 1, 2, 3),
          |idf AS (SELECT tok, COUNT(*) AS df FROM post GROUP BY 1),
          |qt AS (SELECT p_partkey AS lid, unnest(list_distinct(ts)) AS tok
          | FROM tok WHERE p_partkey % 17 = 0),
          |cand AS (
          | SELECT qt.lid, post.rid,
          |  CAST(FLOOR(LN(1 + (n.nd - idf.df + 0.5) / (idf.df + 0.5)) *
          |    (post.tf * (1.2 + 1.0)) /
          |    (post.tf + 1.2 * (1.0 - 0.75) + 1.2 * 0.75 * post.dl / n.avgdl) *
          |    10000) AS BIGINT) AS w
          | FROM qt JOIN post ON qt.tok = post.tok JOIN idf ON qt.tok = idf.tok CROSS JOIN n),
          |scored AS (SELECT lid, rid, CAST(SUM(w) AS BIGINT) AS hit_score FROM cand GROUP BY 1, 2),
          |ranked AS (
          | SELECT lid, rid, hit_score,
          |  COUNT(*) OVER (PARTITION BY lid) AS matchid_hit_matches_unfiltered,
          |  MAX(hit_score) OVER (PARTITION BY lid) AS hit_max_score,
          |  ROW_NUMBER() OVER (PARTITION BY lid ORDER BY hit_score DESC, rid) AS hit_rank
          | FROM scored)
          |SELECT lid AS p_partkey, rid AS hit_p_partkey, hit_score,
          | CAST(hit_rank AS INTEGER) AS hit_rank, matchid_hit_matches_unfiltered, hit_max_score
          |FROM ranked WHERE hit_rank <= 5""".stripMargin),

    "q30_sql" ->
      """SELECT o_orderkey, o_orderdate,
        | CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2)) * (1 - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE) AS revenue
        |FROM orders JOIN lineitem ON l_orderkey = o_orderkey
        |WHERE o_orderdate < TIMESTAMP '1995-03-15'
        |GROUP BY o_orderkey, o_orderdate""".stripMargin,

    "q31_shuffle" ->
      "SELECT c_mktsegment, COUNT(*) AS n FROM customer GROUP BY 1",

    "q32_graph_degree" ->
      """WITH e AS (
        | SELECT c_custkey AS src, CAST(c_nationkey + 1000000 AS BIGINT) AS dst FROM customer),
        |sym AS (SELECT src AS node FROM e UNION ALL SELECT dst FROM e)
        |SELECT node, CAST(COUNT(*) AS INTEGER) AS degree FROM sym GROUP BY 1""".stripMargin,

    // triangles via 3-way self-join on the canonical (src<dst) edge set;
    // same chain-graph construction as the Spark side
    "q33_graph_triangles" ->
      """WITH s AS (
        | SELECT CAST(s_suppkey AS BIGINT) AS id,
        |  lead(s_suppkey, 1) OVER (PARTITION BY s_nationkey % 3 ORDER BY s_suppkey) AS n1,
        |  lead(s_suppkey, 2) OVER (PARTITION BY s_nationkey % 3 ORDER BY s_suppkey) AS n2
        | FROM supplier),
        |e AS (
        | SELECT id AS a, CAST(n1 AS BIGINT) AS b FROM s WHERE n1 IS NOT NULL
        | UNION ALL
        | SELECT id, CAST(n2 AS BIGINT) FROM s WHERE n2 IS NOT NULL),
        |deg AS (
        | SELECT node, CAST(COUNT(*) AS INTEGER) AS degree
        | FROM (SELECT a AS node FROM e UNION ALL SELECT b FROM e) GROUP BY 1),
        |tri AS (
        | SELECT e1.a AS x, e1.b AS y, e2.b AS z
        | FROM e e1 JOIN e e2 ON e2.a = e1.b JOIN e e3 ON e3.a = e1.a AND e3.b = e2.b),
        |tpn AS (
        | SELECT node, COUNT(*) AS triangles
        | FROM (SELECT x AS node FROM tri UNION ALL SELECT y FROM tri UNION ALL SELECT z FROM tri)
        | GROUP BY 1)
        |SELECT d.node, d.degree,
        | CAST(COALESCE(t.triangles, 0) AS INTEGER) AS triangles,
        | CASE WHEN d.degree >= 2
        |      THEN round(COALESCE(t.triangles, 0) * 2.0 / (d.degree * (d.degree - 1)), 4)
        |      ELSE 0.0 END AS clustering
        |FROM deg d LEFT JOIN tpn t ON t.node = d.node""".stripMargin,

    // the deterministic shell of the ML re-score: feature assembly,
    // label binarization, and the score-validity invariant (the RF score
    // itself is pinned by MlGoldenSpec, not SQL)
    "q34_ml_score" ->
      """SELECT o_orderkey,
        | COALESCE(TRY_CAST(o_totalprice AS DOUBLE), 0.0) AS feat_totalprice,
        | CAST(CASE WHEN o_orderstatus = 'F' THEN 1 ELSE 0 END AS INTEGER) AS label,
        | CAST(1 AS INTEGER) AS score_ok
        |FROM orders""".stripMargin,

    // payload bytes are the closed form (media_id + i²) mod 256 — DuckDB
    // replays the byte stream with generate_series and averages it
    "q36_media_stats" ->
      """SELECT CAST(p_partkey AS BIGINT) AS media_id,
        | 'image' AS kind,
        | CAST(p_partkey % 640 + 32 AS INTEGER) AS width,
        | CAST(1024 AS INTEGER) AS byte_count,
        | m.mean_intensity
        |FROM part,
        |LATERAL (SELECT round(avg((p_partkey + i*i) % 256), 4) AS mean_intensity
        |         FROM generate_series(0, 1023) t(i)) m""".stripMargin,

    "q35_sessions" ->
      """WITH e AS (
        | SELECT user_id, event_id, epoch_ms(ts) AS ms, CAST(value AS DECIMAL(18,2)) AS v
        | FROM events),
        |marked AS (
        | SELECT user_id, event_id, ms, v,
        |  CASE WHEN ms - LAG(ms) OVER (PARTITION BY user_id ORDER BY ms, event_id)
        |            > 30 * 60 * 1000 THEN 1 ELSE 0 END AS brk
        | FROM e),
        |sess AS (
        | SELECT user_id, ms, v,
        |  SUM(brk) OVER (PARTITION BY user_id ORDER BY ms, event_id
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sid
        | FROM marked)
        |SELECT user_id, MIN(ms) AS start_ms, MAX(ms) AS end_ms,
        | COUNT(*) AS n_events, CAST(SUM(v) AS DOUBLE) AS sum_value
        |FROM sess GROUP BY user_id, sid""".stripMargin,

    "q37_subwords" ->
      """SELECT doc_id,
        | CAST(len(regexp_extract_all(text, '<SUBWORD>')) AS INTEGER) AS n_subwords,
        | CAST(CASE WHEN <STRIP:text> = '' THEN 0
        |      ELSE len(string_split_regex(<STRIP:text>, '<WS>+')) END AS INTEGER) AS n_tokens
        |FROM documents""".stripMargin,

    "q43_bool_match" ->
      ("WITH tok AS (SELECT p_partkey, list_distinct(string_split_regex(" +
        normSql.format("p_name") + ", '\\s+')) AS toks, lower(p_brand) AS brand FROM part), " +
        """n AS (SELECT COUNT(*) AS nd FROM tok),
          |post1 AS (SELECT p_partkey AS rid, unnest(toks) AS tok FROM tok),
          |idf1 AS (SELECT tok, COUNT(*) AS df FROM post1 GROUP BY 1),
          |qt1 AS (SELECT p_partkey AS lid, unnest(toks) AS tok FROM tok WHERE p_partkey % 29 = 0),
          |c1 AS (
          | SELECT qt1.lid, post1.rid,
          |  CAST(SUM(CAST(FLOOR((LN((n.nd + 1.0) / (idf1.df + 1)) + 1) * 10000) AS BIGINT)) AS BIGINT) AS s1
          | FROM qt1 JOIN post1 ON qt1.tok = post1.tok JOIN idf1 ON qt1.tok = idf1.tok CROSS JOIN n
          | GROUP BY 1, 2),
          |post2 AS (SELECT p_partkey AS rid, brand AS tok FROM tok),
          |idf2 AS (SELECT tok, COUNT(*) AS df FROM post2 GROUP BY 1),
          |qt2 AS (SELECT p_partkey AS lid, brand AS tok FROM tok WHERE p_partkey % 29 = 0),
          |c2 AS (
          | SELECT qt2.lid, post2.rid,
          |  CAST(SUM(CAST(FLOOR((LN((n.nd + 1.0) / (idf2.df + 1)) + 1) * 10000) AS BIGINT)) AS BIGINT) AS s2
          | FROM qt2 JOIN post2 ON qt2.tok = post2.tok JOIN idf2 ON qt2.tok = idf2.tok CROSS JOIN n
          | GROUP BY 1, 2),
          |merged AS (
          | SELECT COALESCE(c1.lid, c2.lid) AS lid, COALESCE(c1.rid, c2.rid) AS rid,
          |  c1.s1 AS s1, c2.s2 AS s2
          | FROM c1 FULL JOIN c2 ON c1.lid = c2.lid AND c1.rid = c2.rid),
          |ok AS (
          | SELECT lid, rid, s1 + COALESCE(s2, 0) AS hit_score
          | FROM merged WHERE s1 IS NOT NULL),
          |ranked AS (
          | SELECT lid, rid, hit_score,
          |  COUNT(*) OVER (PARTITION BY lid) AS matchid_hit_matches_unfiltered,
          |  MAX(hit_score) OVER (PARTITION BY lid) AS hit_max_score,
          |  ROW_NUMBER() OVER (PARTITION BY lid ORDER BY hit_score DESC, rid) AS hit_rank
          | FROM ok)
          |SELECT lid AS p_partkey, rid AS hit_p_partkey, hit_score,
          | CAST(hit_rank AS INTEGER) AS hit_rank, matchid_hit_matches_unfiltered, hit_max_score
          |FROM ranked WHERE hit_rank <= 5""".stripMargin),

    "q44_asof" ->
      """WITH e AS (SELECT event_id, user_id, epoch_us(ts) AS ts_us, event_type, value FROM events),
        |c AS (SELECT event_id, user_id, ts_us FROM e WHERE event_type = 'click'),
        |p AS (SELECT user_id, ts_us, MAX(CAST(value AS DECIMAL(18,2))) AS p_value
        |      FROM e WHERE event_type = 'purchase' GROUP BY 1, 2)
        |SELECT c.event_id, c.user_id, c.ts_us, CAST(p.p_value AS DOUBLE) AS asof_p_value
        |FROM c ASOF LEFT JOIN p ON c.user_id = p.user_id AND c.ts_us >= p.ts_us""".stripMargin,

    "q45_range_join" ->
      """WITH e AS (SELECT event_id, user_id, epoch_us(ts) AS ts_us, event_type FROM events),
        |c AS (SELECT user_id, ts_us FROM e WHERE event_type = 'click'),
        |p AS (SELECT event_id AS p_id, user_id, ts_us FROM e WHERE event_type = 'purchase')
        |SELECT p.p_id, COUNT(*) AS n_clicks
        |FROM p JOIN c ON c.user_id = p.user_id
        |  AND c.ts_us BETWEEN p.ts_us AND p.ts_us + 3600000000
        |GROUP BY 1""".stripMargin,

    "q42_quantiles" ->
      """SELECT l_returnflag,
        | quantile_cont(l_quantity, 0.5) AS median_qty,
        | quantile_cont(l_quantity, 0.9) AS p90_qty,
        | quantile_cont(l_extendedprice, 0.25) AS p25_price,
        | quantile_cont(l_extendedprice, 0.75) AS p75_price
        |FROM lineitem GROUP BY 1""".stripMargin,

    "q41_running_total" ->
      """SELECT o_custkey, o_orderkey,
        | CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) OVER (
        |   PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
        |   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE) AS running_total
        |FROM orders""".stripMargin,

    "q40_stream_hourly" ->
      """SELECT CAST(date_trunc('hour', ts) AS TIMESTAMP) AS hr, event_type,
        | COUNT(*) AS n, CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
        |FROM events GROUP BY 1, 2""".stripMargin,

    "q39_matching_e2e" ->
      """WITH fn AS (SELECT ['aline','bruno','celine','david','emma','farid','gina','hugo','ines','jules','karim','lea','marc','nora','omar'] AS f),
        |ln AS (SELECT ['martin','bernard','dubois','thomas','robert','richard','petit','durand','leroy','moreau','simon','laurent','lefebvre','michel','garcia','blanc','bertrand','roux','vincent','fournier'] AS l),
        |p AS (
        | SELECT c_custkey AS pid,
        |  (SELECT f FROM fn)[CAST(c_custkey % 15 AS INT) + 1] || CAST(c_custkey % 89 AS VARCHAR) AS first_name,
        |  (SELECT l FROM ln)[CAST(c_custkey % 20 AS INT) + 1] || CAST(c_custkey % 97 AS VARCHAR) AS last_name,
        |  printf('%04d%02d%02d', CAST(1950 + c_custkey % 49 AS INT), CAST(1 + c_custkey % 12 AS INT), CAST(1 + c_custkey % 28 AS INT)) AS birth_str,
        |  lower(n_name) AS city
        | FROM customer JOIN nation ON c_nationkey = n_nationkey),
        |r0 AS (
        | SELECT c_custkey AS k,
        |  (SELECT f FROM fn)[CAST(c_custkey % 15 AS INT) + 1] || CAST(c_custkey % 89 AS VARCHAR) AS first_name,
        |  (SELECT l FROM ln)[CAST(c_custkey % 20 AS INT) + 1] || CAST(c_custkey % 97 AS VARCHAR) AS lname,
        |  n_name FROM customer JOIN nation ON c_nationkey = n_nationkey),
        |r AS (
        | SELECT k + 1000000 AS pid, first_name,
        |  CASE WHEN k % 7 = 0 THEN substr(lname, 1, 2) || substr(lname, 4) ELSE lname END AS last_name,
        |  CASE WHEN k % 11 = 0 THEN printf('%04d%02d%02d', CAST(1950 + k % 49 AS INT), CAST(1 + k % 12 AS INT), CAST(1 + (k + 1) % 28 AS INT))
        |       ELSE printf('%04d%02d%02d', CAST(1950 + k % 49 AS INT), CAST(1 + k % 12 AS INT), CAST(1 + k % 28 AS INT)) END AS birth_str,
        |  lower(n_name) AS city
        | FROM r0),
        |post AS (SELECT pid AS rid, unnest(list_distinct([first_name, last_name])) AS tok FROM r),
        |idf AS (SELECT tok, COUNT(*) AS df FROM post GROUP BY 1),
        |nn AS (SELECT COUNT(*) AS nd FROM r),
        |qt AS (SELECT pid AS lid, unnest(list_distinct([first_name, last_name])) AS tok FROM p),
        |cand AS (
        | SELECT qt.lid, post.rid,
        |  CAST(FLOOR((LN((nn.nd + 1.0) / (idf.df + 1)) + 1) * 10000) AS BIGINT) AS w
        | FROM qt JOIN post ON qt.tok = post.tok JOIN idf ON qt.tok = idf.tok CROSS JOIN nn),
        |scored AS (SELECT lid, rid, CAST(SUM(w) AS BIGINT) AS hs FROM cand GROUP BY 1, 2),
        |topk AS (
        | SELECT lid, rid FROM (
        |  SELECT lid, rid, ROW_NUMBER() OVER (PARTITION BY lid ORDER BY hs DESC, rid) AS rn
        |  FROM scored) WHERE rn <= 5),
        |pairs AS (
        | SELECT t.lid, t.rid,
        |  p.first_name || ' ' || p.last_name AS nm_l, r.first_name || ' ' || r.last_name AS nm_r,
        |  p.birth_str AS d_l, r.birth_str AS d_r, p.city AS c_l, r.city AS c_r
        | FROM topk t JOIN p ON t.lid = p.pid JOIN r ON t.rid = r.pid),
        |resc AS (
        | SELECT lid, rid,
        |  ROUND(GREATEST((100.0 - 100.0 * levenshtein(nm_l, nm_r) / (1.0 + LEAST(length(nm_l), length(nm_r)))) / 100.0, 0.0), 2) AS s_name,
        |  CASE WHEN d_l = d_r THEN 1.0 WHEN levenshtein(d_l, d_r) <= 2 THEN 0.7 ELSE 0.0 END AS s_date,
        |  CASE WHEN c_l = c_r THEN 1.0 ELSE ROUND(GREATEST((100.0 - 100.0 * levenshtein(c_l, c_r) / (1.0 + LEAST(length(c_l), length(c_r)))) / 100.0, 0.0), 2) END AS s_city
        | FROM pairs),
        |total AS (
        | SELECT lid, rid, s_name, s_date, s_city,
        |  ROUND(0.5 * s_name + 0.3 * s_date + 0.2 * s_city, 4) AS s
        | FROM resc),
        |best AS (
        | SELECT lid, rid, s_name, s_date, s_city, s,
        |  ROW_NUMBER() OVER (PARTITION BY lid ORDER BY s DESC, rid) AS rn
        | FROM total WHERE s > 0.1)
        |SELECT lid AS matchid_id, rid AS hit_matchid_id,
        | s_name AS matchid_hit_score_name, s_date AS matchid_hit_score_date,
        | s_city AS matchid_hit_score_city, s AS matchid_hit_score,
        | CAST(FLOOR(s * 100) AS INTEGER) AS confiance
        |FROM best WHERE rn = 1""".stripMargin,

    "q38_eval" ->
      """SELECT c_custkey, s_suppkey,
        | ROUND(GREATEST((100.0 - 100.0 * damerau_levenshtein(c_name, s_name) / (1.0 + LEAST(length(c_name), length(s_name)))) / 100.0, 0.0), 2) AS lev_norm,
        | CAST(damerau_levenshtein(c_name, s_name) AS INTEGER) AS dl
        |FROM customer JOIN supplier ON c_custkey % 100 = s_suppkey % 100""".stripMargin
  )
}
