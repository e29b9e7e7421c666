package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{StringType, StructType}
import org.apache.spark.sql.expressions.Window
import graft.functions.Tools

/** Row/column operators — the Spark re-expression of the reference's 26
  * `internal_*` recipe steps (/root/reference/code/recipes.py:1622-2486).
  * Every operator is a pure `DataFrame => DataFrame` transform: no
  * driver-side collection, no per-chunk state — Catalyst sees the whole
  * recipe as one plan and optimizes it globally (SURVEY.md §4).
  */
object Ops {

  /** Column selection by regex-or-explicit-list, defaulting to all columns
    * (select_columns, code/recipes.py:1596-1608). Resolution happens at
    * plan-build time against df.columns — zero runtime cost.
    *
    * Error contract mirrors the reference: a PLAIN identifier that names
    * no column fails loudly (pandas raises KeyError on a missing list
    * entry), while a REGEX entry may legitimately match nothing (the
    * reference's regex branch silently yields the empty set) — the
    * distinction is whether the entry carries any regex metacharacter. */
  def selectColumns(df: DataFrame, select: Seq[String]): Seq[String] =
    if (select.isEmpty) df.columns.toSeq
    else {
      val cols = df.columns
      select.flatMap { s =>
        if (cols.contains(s)) Seq(s)
        else {
          val matched = cols.filter(_.matches(s)).toSeq
          val plainName = s.forall(ch => ch.isLetterOrDigit || ch == '_')
          if (matched.isEmpty && plainName) sys.error(
            s"select: column '$s' not found (known: ${cols.mkString(", ")})")
          matched
        }
      }.distinct
    }

  // ------------------------------------------------------------ map/rename
  /** `map` with an array of source columns → array column. */
  def mapArray(df: DataFrame, dst: String, srcs: Seq[String]): DataFrame =
    df.withColumn(dst, array(srcs.map(col): _*))

  /** `rename`: YAML maps new→old; reference inverts the dict
    * (code/recipes.py:1697-1700). Here: old→new, the sane direction. */
  def rename(df: DataFrame, oldToNew: Map[String, String]): DataFrame =
    oldToNew.foldLeft(df) { case (d, (o, n)) => d.withColumnRenamed(o, n) }

  // ---------------------------------------------------------- keep/delete
  /** `keep`: project to selected columns with optional row filter
    * (code/recipes.py:1900-1914). `where` is a SQL boolean expression —
    * Catalyst pushes it into the scan. */
  def keep(df: DataFrame, select: Seq[String], where: Option[String] = None): DataFrame = {
    val filtered = where.map(w => df.filter(expr(w))).getOrElse(df)
    filtered.select(selectColumns(df, select).map(col): _*)
  }

  /** `delete`: drop selected columns (code/recipes.py:2072-2085). */
  def delete(df: DataFrame, select: Seq[String]): DataFrame =
    df.drop(selectColumns(df, select): _*)

  // -------------------------------------------------------------- fillna
  /** `fillna`: per-column default; creates the column when absent
    * (code/recipes.py:1622-1634). */
  def fillna(df: DataFrame, values: Map[String, Any]): DataFrame = {
    val (present, absent) = values.partition { case (c, _) => df.columns.contains(c) }
    val filled = present.foldLeft(df) { case (d, (c, v)) =>
      d.withColumn(c, coalesce(col(c), lit(v)))
    }
    absent.foldLeft(filled) { case (d, (c, v)) => d.withColumn(c, lit(v)) }
  }

  // ------------------------------------------------------------- replace
  /** `replace`: ordered regex→replacement chain over string columns;
    * array columns are mapped element-wise (code/recipes.py:2461-2474,
    * tools.replace_regex). */
  def replace(df: DataFrame, select: Seq[String], rules: Seq[(String, String)]): DataFrame =
    selectColumns(df, select).foldLeft(df) { (d, c) =>
      val f = d.schema(c).dataType match {
        case org.apache.spark.sql.types.ArrayType(StringType, _) =>
          (in: Column) => transform(in, x =>
            rules.foldLeft(x) { case (cc, (re, rep)) => regexp_replace(cc, re, rep) })
        case _ =>
          (in: Column) =>
            rules.foldLeft(in) { case (cc, (re, rep)) => regexp_replace(cc, re, rep) }
      }
      d.withColumn(c, f(col(c)))
    }

  /** `normalize`: accent-fold + lowercase + strip non-alnum
    * (code/recipes.py:2476-2483, tools.py:142-155). Array columns are
    * normalized element-wise with empties dropped — the reference's list
    * form (`[_f for _f in [normalize(z) for z in x] if _f]`,
    * tools.py:148-155), which name recipes rely on. */
  def normalize(df: DataFrame, select: Seq[String]): DataFrame =
    selectColumns(df, select).foldLeft(df) { (d, c) =>
      val norm = d.schema(c).dataType match {
        case org.apache.spark.sql.types.ArrayType(_, _) =>
          filter(transform(col(c), e => Tools.normalize(e)),
            e => e.isNotNull && e =!= lit(""))
        case _ => Tools.normalize(col(c))
      }
      d.withColumn(c, norm)
    }

  // ---------------------------------------------------------------- casts
  /** `to_integer` (code/recipes.py:1916-1927). Already-numeric columns
    * just cast (the ""-as-missing check only applies to strings — under
    * ANSI a numeric = '' comparison would error). */
  def toInteger(df: DataFrame, select: Seq[String]): DataFrame =
    selectColumns(df, select).foldLeft(df) { (d, c) =>
      d.withColumn(c, d.schema(c).dataType match {
        case _: org.apache.spark.sql.types.NumericType => col(c).cast("long")
        case _ => Tools.toInteger(col(c))
      })
    }

  /** `to_float` with optional na_value (code/recipes.py:1955-1970). */
  def toFloat(df: DataFrame, select: Seq[String], naValue: Option[Double] = None): DataFrame =
    selectColumns(df, select).foldLeft(df) { (d, c) =>
      d.withColumn(c, d.schema(c).dataType match {
        case _: org.apache.spark.sql.types.NumericType => col(c).cast("double")
        case _ => Tools.toFloat(col(c), naValue)
      })
    }

  /** `parsedate` (code/recipes.py:2448-2459). */
  def parsedate(df: DataFrame, select: Seq[String], fmt: String): DataFrame =
    selectColumns(df, select).foldLeft(df) { (d, c) =>
      d.withColumn(c, Tools.parsedate(col(c), fmt))
    }

  // ---------------------------------------------------------------- ngram
  /** `ngram`: char n-grams of normalized tokens, default n=[2,3]
    * (code/recipes.py:1972-1987). String col → array of grams. */
  def ngram(df: DataFrame, select: Seq[String], ns: Seq[Int] = Seq(2, 3)): DataFrame =
    selectColumns(df, select).foldLeft(df) { (d, c) =>
      d.withColumn(c, Tools.charNgramsMulti(col(c), ns))
    }

  // ----------------------------------------------------------- nest/unnest
  /** `nest`: selected columns → one JSON-string column, originals dropped
    * (code/recipes.py:2396-2409). */
  def nest(df: DataFrame, select: Seq[String], target: String): DataFrame = {
    val cols = selectColumns(df, select)
    df.withColumn(target, to_json(struct(cols.map(col): _*)))
      .drop(cols.filterNot(_ == target): _*)
  }

  /** `unnest`: JSON-string column → one column per field, with optional
    * prefix, original dropped (code/recipes.py:2378-2394). Schema must be
    * supplied (conf-driven) or pre-inferred — plan-time knowledge, no
    * driver-side data peek at scale. */
  def unnest(df: DataFrame, column: String, schema: StructType, prefix: String = ""): DataFrame = {
    val parsed = df.withColumn("__unnest", from_json(col(column), schema))
    val expanded = schema.fieldNames.foldLeft(parsed) { (d, f) =>
      d.withColumn(prefix + f, col("__unnest").getField(f))
    }
    expanded.drop("__unnest", column)
  }

  /** Infer the JSON schema of a column from data (test/interactive
    * convenience — prefer the explicit-schema overload in pipelines). */
  def inferJsonSchema(df: DataFrame, column: String): StructType = {
    val spark = df.sparkSession
    spark.read.json(df.select(col(column).cast("string")).na.drop()
      .limit(1000).as(spark.implicits.newStringEncoder)).schema
  }

  // --------------------------------------------------------------- unfold
  /** `unfold`: explode array column(s) into rows; rows with empty/null
    * arrays are KEPT with `fillNa` (code/recipes.py:2411-2446 — the
    * empty-list edge is the tricky documented behavior). The fill only
    * applies when its type fits the element type: the default "" on a
    * numeric array would silently retype the column to string (or error
    * under ANSI) — such rows keep NULL instead. */
  def unfold(df: DataFrame, column: String, fillNa: Any = ""): DataFrame = {
    import org.apache.spark.sql.types.NumericType
    val elemType = df.schema(column).dataType match {
      case org.apache.spark.sql.types.ArrayType(e, _) => e
      case other => other
    }
    val exploded = df.withColumn(column, explode_outer(col(column)))
    val fill = (elemType, fillNa) match {
      case (StringType, v)             => Some(lit(v.toString))
      case (n: NumericType, v: Number) => Some(lit(v).cast(n))
      case _                           => None
    }
    fill.map(f => exploded.withColumn(column, coalesce(col(column), f)))
      .getOrElse(exploded)
  }

  // -------------------------------------------------------------- shuffle
  /** `shuffle`: independently permute every selected column
    * (anonymization, code/recipes.py:1717-1726). Deterministic given seed.
    *
    * Distributed permutation: every row draws a pseudo-random bucket,
    * then values are permuted uniformly WITHIN each bucket — the windows
    * partition by bucket, so no single-partition global sort ever forms
    * and the op scales linearly in rows / `buckets`-way parallel. The
    * row→bucket draw is uniform, so each value is equally likely to land
    * on any row (exact multiset preservation, marginally uniform
    * placement; the permutation is bucket-block-structured, which is what
    * anonymization needs — linkage to the source row is broken). */
  def shuffleCols(df: DataFrame, select: Seq[String] = Nil, seed: Long = 42L,
                  buckets: Int = 256): DataFrame = {
    val cols = selectColumns(df, select)
    // The id and bucket are MATERIALIZED once (localCheckpoint truncates
    // lineage): both join sides below read the same concrete rows, so the
    // per-bucket counts provably match. Without this,
    // monotonically_increasing_id would be re-evaluated independently in
    // the two plan subtrees, and any recomputation divergence (AQE
    // replan, task retry) silently drops/duplicates rows in the 1:1 join.
    val base = df
      .withColumn("__id", monotonically_increasing_id())
      .withColumn("__b", pmod(xxhash64(col("__id"), lit(seed)), lit(buckets.toLong)))
      .localCheckpoint()
    val id = col("__id")
    cols.zipWithIndex.foldLeft(base) { case (d, (c, i)) =>
      // the receiving rows, numbered in one random per-bucket order …
      val rowSide = d.withColumn("__rn", row_number().over(
        Window.partitionBy("__b").orderBy(xxhash64(id, lit(seed + 2 * i + 1)), id)))
      // … the column's values, numbered in an independent random order;
      // per-bucket counts match on both sides so the join is exactly 1:1
      val valSide = base.select(col("__b"), col(c).as(s"__perm_$c"),
          xxhash64(id, lit(seed + 2 * i + 2)).as("__o"), id.as("__m"))
        .withColumn("__rn", row_number().over(
          Window.partitionBy("__b").orderBy(col("__o"), col("__m"))))
        .select(col("__b"), col("__rn"), col(s"__perm_$c"))
      rowSide.drop(c).join(valSide, Seq("__b", "__rn"))
        .withColumnRenamed(s"__perm_$c", c).drop("__rn")
    }.drop("__b", "__id")
  }

  // ----------------------------------------------------------- hash split
  /** Deterministic train/val/test assignment — the training-data
    * curation staple rand() can't provide: the same (salt, id) lands in
    * the same split on every run, every engine, every cluster size, and
    * changing the salt re-rolls every assignment at once. The bucket is
    * the top 60 bits of md5(salt || id) mod 10000 (engine-portable:
    * `('0x' || substr(md5(salt || id), 1, 15))::BIGINT % 10000` in any
    * SQL dialect), mapped through the cumulative weight ranges in the
    * given order. Row-local, codegen'd, no shuffle; weights are
    * fractions summing to ~1 (enforced to 1e-6). */
  def hashSplit(df: DataFrame, idCol: String, salt: String,
      splits: Seq[(String, Double)], splitCol: String = "split"): DataFrame = {
    require(splits.nonEmpty, "hashSplit needs at least one split")
    require(splits.forall(_._2 >= 0), s"negative split weight in $splits")
    val total = splits.map(_._2).sum
    require(math.abs(total - 1.0) < 1e-6,
      s"split weights must sum to 1, got $total in $splits")
    val bucket = hashBucket(idCol, salt)
    val bounds = splits.scanLeft(0L) { case (acc, (_, w)) =>
      acc + math.round(w * 10000)
    }.tail
    val nb = splits.map(_._1).zip(bounds)
    // when-chain over the cumulative upper bounds; the last split is the
    // otherwise-branch so rounding drift can never drop a bucket
    val assigned =
      if (nb.size == 1) lit(nb.head._1)
      else nb.init.tail.foldLeft(when(bucket < nb.head._2, lit(nb.head._1))) {
        case (c, (name, hi)) => c.when(bucket < hi, lit(name))
      }.otherwise(lit(nb.last._1))
    df.withColumn(splitCol, assigned)
  }

  /** The 0..9999 hash bucket shared by the deterministic curation ops:
    * top 60 bits of md5(salt || id) mod 10000, engine-portable
    * (`('0x' || substr(md5(salt || id), 1, 15))::BIGINT % 10000`).
    * NULL ids hash as the empty string rather than propagating null —
    * otherwise the three ops would disagree silently (a null bucket
    * falls to hashSplit's otherwise-branch, fails sampleByKey's filter,
    * and sorts first in capPerKey). This way all null-id rows share one
    * deterministic bucket and every op treats them the same. */
  private def hashBucket(idCol: String, salt: String) = pmod(
    conv(substring(md5(concat(lit(salt),
      coalesce(col(idCol).cast("string"), lit("")))), 1, 15),
      16, 10).cast("long"),
    lit(10000L))

  /** Per-row WEIGHTED sampling: keep each row with probability
    * `weightCol` / 10⁴ — the consumer of soft-dedup's `weight_bp`
    * ([[graft.dedup.Dedup.duplicationWeights]]), turning
    * down-weighting into an executable subsample: a dup group of n
    * keeps ≈ one row in expectation, every decision a deterministic
    * salted-md5 bucket (re-runs and engines agree; the salt re-rolls).
    * NULL weights KEEP their rows — the weight producer deliberately
    * marks unknown-content rows NULL, and a sampler silently dropping
    * them would delete exactly the rows nobody scored. Out-of-range
    * weights fail loudly per row (a clamped or mod-ed weight would
    * silently resample the whole corpus at the wrong rate). */
  def sampleByWeight(df: DataFrame, idCol: String, weightCol: String,
      salt: String = ""): DataFrame = {
    val w = col(weightCol).cast("long")
    val checked = when(w.isNull, lit(null).cast("long"))
      .when(w < 0 || w > 10000, raise_error(concat(
        lit(s"sampleByWeight: $weightCol must be in [0, 10000] bp, got "),
        w.cast("string"))))
      .otherwise(w)
    df.filter(checked.isNull || hashBucket(idCol, salt) < checked)
  }

  /** Stamp each row with the BASENAME of the file it was scanned from
    * (`input_file_name()`) — scan-level provenance. At 100 TB this is
    * the debugging handle that matters: a bad row traces to its source
    * shard without re-deriving partition layouts, and downstream
    * curation can group/cap/quarantine per input file (compose with
    * [[capPerKey]] on the new column). Zero cost: the expression reads
    * the scan's task context inside whole-stage codegen — no shuffle,
    * no extra I/O. Rows that did not come from a file scan (in-memory
    * fixtures, streaming sources) stamp an empty string — surfaced as
    * NULL so "unknown origin" is queryable rather than a '' sentinel.
    *
    * `input_file_name()` returns a percent-encoded URI, so the basename
    * of `my file.parquet` arrives as `my%20file.parquet` — decoded here
    * so per-file grouping/quarantine keys match the on-disk name. Two
    * traps in the decode: url_decode is FORM decoding ('+' → space,
    * wrong for URI paths, where a literal '+' rides undisturbed), so
    * literal '+' is pre-escaped to %2B first; and a hostile byte
    * sequence that is not valid percent-encoding must stamp the raw
    * form rather than fail the scan (try_url_decode → coalesce). */
  def withProvenance(df: DataFrame, outCol: String = "src_file"): DataFrame = {
    val base = element_at(split(input_file_name(), "/"), -1)
    val decoded = coalesce(
      try_url_decode(regexp_replace(base, "\\+", "%2B")), base)
    df.withColumn(outCol, when(base =!= "", decoded))
  }

  /** Cap each key's contribution at `n` rows (training-data curation:
    * bound any one source/domain so it cannot dominate the mix). Which
    * rows survive is deterministic — rank by the salted id hash, id as
    * tiebreak — so re-runs and engines agree. ONE shuffle on the key;
    * WindowGroupLimit prunes each partition to n before the sort
    * completes, so a hot key never materializes fully. */
  def capPerKey(df: DataFrame, keyCol: String, idCol: String, n: Int,
      salt: String = ""): DataFrame = {
    require(n >= 1, s"capPerKey needs n >= 1, got $n")
    val w = Window.partitionBy(col(keyCol))
      .orderBy(hashBucket(idCol, salt), col(idCol))
    df.withColumn("__rk", row_number().over(w))
      .filter(col("__rk") <= n)
      .drop("__rk")
  }

  /** Deterministic per-key sampling (source mixing): keep a row iff its
    * hash bucket falls under its key's rate — e.g. keep 100% of rare
    * languages and 10% of English. Same guarantees as hashSplit: stable
    * across runs/engines, the salt re-rolls globally. Row-local filter,
    * no shuffle. */
  def sampleByKey(df: DataFrame, keyCol: String, idCol: String,
      rates: Seq[(String, Double)], defaultRate: Double = 1.0,
      salt: String = ""): DataFrame = {
    require((defaultRate +: rates.map(_._2)).forall(r => r >= 0 && r <= 1),
      s"rates must be in [0,1]: $rates default=$defaultRate")
    val cut = rates.foldLeft(lit(math.round(defaultRate * 10000).toDouble)) {
      case (acc, (k, r)) =>
        when(col(keyCol) === k, lit(math.round(r * 10000).toDouble)).otherwise(acc)
    }
    df.filter(hashBucket(idCol, salt) < cut)
  }

  /** Stratified split with EXACT per-stratum quotas: within every
    * stratum, rank rows by the salted id hash (id tiebreak — the
    * library-wide deterministic order) and cut at
    * floor(n_s · cum_weight) boundaries, so a 90/5/5 split holds in
    * every stratum separately, not just in expectation. [[hashSplit]]
    * is only stratified in expectation: a rare 40-row language can
    * land 38/0/2 by hash luck, starving a split — this is the exact
    * variant for when per-stratum presence is a requirement (per-lang
    * eval sets, per-source ablations).
    *
    * Quota arithmetic is pure 64-bit integers (weights quantized to
    * basis points at plan build, then n_s·bp div 10000) — no floats,
    * so any engine reproduces the same boundaries. The last declared
    * split takes each stratum's remainder; earlier splits get exactly
    * floor(n_s · cum_bp/10000) − floor(n_s · prev_bp/10000) rows,
    * which may be 0 in tiny strata (floor, never round — a quota is a
    * budget, not a target). NULL strata form one ordinary stratum
    * (SQL window semantics); NULL ids hash as "" like every curation
    * op here.
    *
    * Scale: ONE shuffle on the stratum key, shared by the rank and
    * count windows (same partition spec). A mega-stratum is one
    * partition — same bound as any per-key window op; pre-split such
    * corpora by a composite stratum if a single key nears executor
    * memory (the rank order makes any refinement reproducible). */
  def stratifiedSplit(df: DataFrame, stratumCol: String, idCol: String,
      salt: String, splits: Seq[(String, Double)],
      splitCol: String = "split"): DataFrame = {
    require(splits.nonEmpty, "stratifiedSplit needs at least one split")
    require(splits.forall(_._2 >= 0), s"negative split weight in $splits")
    val total = splits.map(_._2).sum
    require(math.abs(total - 1.0) < 1e-6,
      s"split weights must sum to 1, got $total in $splits")
    val cumBp = splits.scanLeft(0L) { case (acc, (_, w)) =>
      acc + math.round(w * 10000)
    }.tail
    val byStratum = Window.partitionBy(col(stratumCol))
    val rk = row_number().over(byStratum.orderBy(hashBucket(idCol, salt),
      col(idCol)))
    val nS = count(lit(1)).over(byStratum)
    // quota_k = n_s · cum_bp div 10000 in TRUE long arithmetic (SQL
    // `div`): a `/` here returns DOUBLE, exact only while n_s·bp stays
    // under 2^53 — a silent one-row quota error past ~9·10¹¹ rows in
    // one stratum, precisely the scale this engine claims
    def quota(bp: Long): Column = expr(s"(__strat_n * ${bp}L) div 10000L")
    val nb = splits.map(_._1).zip(cumBp)
    val assigned =
      if (nb.size == 1) lit(nb.head._1)
      else nb.init.tail.foldLeft(
        when(col("__rk") <= quota(nb.head._2), lit(nb.head._1))) {
        case (c, (name, bp)) => c.when(col("__rk") <= quota(bp), lit(name))
      }.otherwise(lit(nb.last._1))
    df.withColumn("__rk", rk)
      .withColumn("__strat_n", nS)
      .withColumn(splitCol, assigned)
      .drop("__rk", "__strat_n")
  }

  /** Temperature-rebalanced source mixing (multilingual-corpus style,
    * cf. the exponentiated-smoothing sampling in XLM-R §5.1 / mBERT):
    * downsample each key so expected contributions follow
    * n_s^(1−1/T) · n_min^(1/T) — T=1 equalizes every key to the rarest
    * key's count; larger T preserves more of the original skew; the
    * rarest key always keeps 100%. Per-row keep decisions reuse the
    * deterministic salted-hash bucket, so membership is reproducible
    * across runs and engines.
    *
    * `temperature` must be a power of two (1, 2, 4, 8, …): the keep
    * rate is then (n_min/n_s)^(1/T) = log2(T) repeated square roots —
    * ÷ and √ are IEEE-correctly-rounded, so every engine computes the
    * IDENTICAL rate double and floor(rate·10000) can never disagree at
    * a bucket boundary. Arbitrary real T needs pow(), whose last-ulp
    * varies by libm — a silent one-row cross-engine diff at some
    * boundary bucket. Rejected loudly instead of risked silently.
    *
    * Scale: one map-side-combined count per key (KB-sized for any real
    * source/language column) broadcast back onto the corpus — the
    * corpus itself never shuffles; the filter is row-local
    * (PlanQualitySpec pins the shape). NULL keys count as their own
    * group (null-safe join). */
  def sampleToTemperature(df: DataFrame, keyCol: String, idCol: String,
      temperature: Double = 2.0, salt: String = ""): DataFrame = {
    val t = temperature
    require(t >= 1 && t == math.rint(t) && java.lang.Long.bitCount(t.toLong) == 1,
      s"temperature must be a power of two >= 1 (got $t): the rate " +
        "(n_min/n_s)^(1/T) is computed by repeated IEEE sqrt for " +
        "cross-engine determinism; general pow() is libm-dependent")
    val sqrts = java.lang.Long.numberOfTrailingZeros(t.toLong)
    val counts = df.groupBy(col(keyCol).as("__tk"))
      .agg(count(lit(1)).as("__tn"))
    val minN = broadcast(counts.agg(min(col("__tn")).as("__tmin")))
    val withN = df.join(broadcast(counts.crossJoin(minN)),
      col(keyCol) <=> col("__tk"), "left")
    val rate = (1 to sqrts).foldLeft(
      col("__tmin").cast("double") / col("__tn").cast("double"))(
      (c, _) => sqrt(c))
    withN.filter(hashBucket(idCol, salt) < floor(rate * lit(10000.0)))
      .drop("__tk", "__tn", "__tmin")
  }

  /** Source UPSAMPLING by repeat factor ("epochs") — the other half of
    * mixing next to [[sampleByKey]]/[[sampleToTemperature]]: a
    * pretraining mix repeats scarce high-quality sources (2–4 epochs
    * of wiki/books against one epoch of web crawl). Each row of key k
    * gets floor(e_k) whole copies plus one more iff its salted hash
    * bucket < frac(e_k)·10⁴ — expected volume exactly e_k× per source,
    * every copy decided deterministically per id (same id → same copy
    * count on any engine/run; the salt re-rolls globally). e_k < 1
    * degrades to deterministic downsampling with the same arithmetic.
    * Adds `epoch` (0-based copy index): copies stay distinguishable —
    * a downstream exact dedup must key on (id, epoch), not silently
    * undo the mix. Row-local when-chain + explode(sequence): no
    * shuffle, and the explosion is exactly the requested output
    * volume. Keys not listed get `defaultEpochs` (1 = pass-through);
    * NULL keys take the default too. */
  def epochsMix(df: DataFrame, keyCol: String, idCol: String,
      epochs: Seq[(String, Double)], defaultEpochs: Double = 1.0,
      salt: String = ""): DataFrame = {
    require((defaultEpochs +: epochs.map(_._2)).forall(e => e >= 0 && e <= 100),
      s"epochs must be in [0, 100]: $epochs default=$defaultEpochs")
    def fullOf(e: Double) = math.floor(e).toInt
    def bpOf(e: Double) = math.round((e - math.floor(e)) * 10000).toInt
    def chain(v: Double => Int) = epochs.foldLeft(lit(v(defaultEpochs))) {
      case (acc, (k, e)) => when(col(keyCol) === k, lit(v(e))).otherwise(acc)
    }
    val nc = chain(fullOf) +
      when(hashBucket(idCol, salt) < chain(bpOf), 1).otherwise(0)
    df.withColumn("__nc", nc)
      .filter(col("__nc") > 0) // sequence(0, -1) would throw, not empty
      .withColumn("epoch", explode(sequence(lit(0), col("__nc") - 1)))
      .drop("__nc")
  }

  /** Rebalance an UNDER-PARALLELIZED input before heavy row-local work.
    * A small hot input (one file under maxPartitionBytes — config
    * tables, benchmark sets, a freshly collected shard) scans as ONE
    * partition, and every narrow stage built on it (normalize → explode
    * → broadcast joins → partial agg) then runs a single core end to
    * end regardless of cluster size — measured 4.2× on the bigram-LM
    * scorer at bench scale (SCALE.md ninth sweep: the same volume in
    * 32 files vs 1). The guard makes this safe to leave in a 100-TB
    * job: if the scan already yields ≥ `target` partitions (any real
    * multi-file corpus), the call is a NO-OP — no exchange is added;
    * only a genuinely under-split input pays one (input-sized, i.e.
    * small by precondition) round-robin shuffle.
    *
    * `target` defaults to the session's default parallelism (= cores
    * at local, executor slots on a cluster).
    *
    * The no-op decision is made ONLY for scan-level inputs (narrow ops
    * over a relation — project/filter/generate, no join/agg/window/
    * sort/repartition upstream), where the static partition count IS
    * the file-split count and compiling it costs a file listing, no
    * job. For anything wider the static count lies under AQE — a
    * post-shuffle input reports the configured shuffle-partition
    * count (e.g. 32) even when AQE coalesces it to 1 at runtime, so
    * trusting it would silently SKIP the rebalance exactly where it is
    * needed (r10 ADVICE), and `df.rdd` would force physical-plan
    * compilation of the whole upstream subtree. There the decision
    * falls to the optimizer's SIZE estimate, with two honest limits:
    *   - an estimated-small wide frame pays `repartition(goal)`
    *     UNCONDITIONALLY — a fixed explicit width, NOT the REBALANCE
    *     hint, because AQE sizes a rebalance by BYTES (the 64 MB
    *     advisory), which would coalesce a byte-small CPU-heavy frame
    *     right back to ~1 partition (the r10 condition this branch
    *     exists to fix) and would silently ignore an explicit
    *     `target` (r12 review). The costs are bounded and accepted:
    *     a frame that was already parallel pays one exchange of at
    *     most goal × 128 MB (the branch's own precondition), and the
    *     fixed width is `goal` — the session's full parallelism by
    *     default, so "capped at goal" is not a real loss for a small
    *     frame (r11 ADVICE, adjudicated this way in r12);
    *   - without CBO a Join's size estimate is the PRODUCT of its
    *     children and an Aggregate inherits its child's size, so a
    *     small post-join/post-agg frame often reads as huge and is
    *     then left untouched. That skip is deliberate conservatism:
    *     the operator must never risk buying a full-data exchange on
    *     a frame that really is big, and an AQE-coalesced small wide
    *     frame that slips through costs low parallelism, not
    *     wrong results. Callers that KNOW a wide frame is small can
    *     `.cache()` it first (a cached plan reports measured bytes)
    *     or repartition explicitly.
    * A frame whose topmost wide operator is already a round-robin
    * `repartition(n)` with n ≥ `target` (a YAML `rebalance` step, an
    * earlier rebalance) comes back unchanged: AQE keeps that fixed
    * width, so a second spread would only add an exchange. */
  def rebalance(df: DataFrame, target: Int = 0): DataFrame = {
    val goal =
      if (target > 0) target
      else df.sparkSession.sparkContext.defaultParallelism
    import org.apache.spark.sql.catalyst.plans.{logical => lp}
    // the topmost wide operator: everything above it is row-local
    df.queryExecution.optimizedPlan.collectFirst {
      case p @ (_: lp.Join | _: lp.Aggregate | _: lp.Window | _: lp.Sort |
          _: lp.RepartitionOperation | _: lp.GlobalLimit |
          _: lp.Deduplicate) => p
    } match {
      case None =>
        if (df.rdd.getNumPartitions >= goal) df else df.repartition(goal)
      // already spread by an explicit repartition to a fixed width (a
      // YAML rebalance step, a caller's own rebalance), which AQE does
      // not coalesce: a second spread would only add an exchange
      case Some(r: lp.Repartition) if r.shuffle && r.numPartitions >= goal => df
      case Some(_) =>
        val est = df.queryExecution.optimizedPlan.stats.sizeInBytes
        if (est <= BigInt(goal) * 128L * 1024 * 1024) df.repartition(goal)
        else df
    }
  }

  /** [[rebalance]] for STREAMING frames (r15): a micro-batch sourced
    * from one unsplittable file runs every row-local kernel downstream
    * (shingle + minhash signatures, hashed-bag features, scrub towers)
    * on ONE core; a plain round-robin repartition to the session's
    * parallelism spreads it. Unconditional — the batch variant's
    * partition-count probe reads `df.rdd`, which a streaming frame
    * forbids, and a micro-batch that is already wide only pays a
    * narrow batch-local shuffle. Stateless, so it composes into any
    * streaming plan. */
  def rebalanceStream(df: DataFrame): DataFrame =
    df.repartition(df.sparkSession.sparkContext.defaultParallelism)

  /** Corpus snapshot diff — the incremental-pipeline audit companion to
    * [[graft.dedup.Dedup.incrementalDedup]]: classify every id across
    * two corpus versions as `added` (new only), `removed` (old only),
    * `changed` (both, any compare column differs) or `unchanged`.
    * Comparison is NULL-SAFE column equality (`<=>`) on `compareCols`
    * directly — no content hash, so there is nothing to collide and the
    * contract replays in any engine as `IS DISTINCT FROM`.
    *
    * Scale shape: one full outer join = one id-keyed exchange per side
    * (co-located/zero-shuffle when both snapshots are bucketed by id —
    * the natural layout for versioned corpora); the column compare is
    * row-local inside the join. Emitting one row per id across both
    * versions is the operator's contract (it IS the audit table);
    * filter `status <> 'unchanged'` composes into the same plan when
    * only the delta is wanted. */
  def snapshotDiff(oldDf: DataFrame, newDf: DataFrame, idCol: String,
      compareCols: Seq[String]): DataFrame = {
    require(compareCols.nonEmpty, "snapshotDiff needs compare columns")
    val o = oldDf.select(col(idCol),
      struct(compareCols.map(col): _*).as("__old_v"))
    val n = newDf.select(col(idCol),
      struct(compareCols.map(col): _*).as("__new_v"))
    o.join(n, Seq(idCol), "full_outer")
      .select(col(idCol),
        when(col("__old_v").isNull, lit("added"))
          .when(col("__new_v").isNull, lit("removed"))
          .when(col("__old_v") <=> col("__new_v"), lit("unchanged"))
          .otherwise(lit("changed")).as("status"))
  }

  /** Heavy-hitter profile of a key column — the measurement behind the
    * 100-TB skew decisions (salt this join? AQE skew threshold? cap
    * this key?): the top `n` keys by row count with their global share
    * and their ratio to the mean key, in exact basis points — long
    * arithmetic, no float ranking: `share_bp = cnt·10⁴ div total` and
    * `vs_mean_bp = cnt·10⁴ div (total div n_keys)` (dividing by the
    * integer mean, NOT `cnt·n_keys·10⁴ div total`, which overflows
    * Long once cnt·n_keys passes 9·10¹⁴ — trivially reached at corpus
    * scale; the mean is ≥ 1 by construction since every key holds at
    * least one row). Deterministic order: (cnt desc, key asc); NULL
    * keys profile as their own group (they are usually the worst hot
    * key in real data).
    *
    * Scale shape: ONE map-side-combined count agg (the only corpus
    * exchange), a one-row global rollup broadcast back onto the
    * key-sized count table, and a TakeOrdered top-n — never a global
    * sort, never a corpus-sized second pass. */
  def skewStats(df: DataFrame, keyCol: String, n: Int = 20): DataFrame = {
    require(n >= 1, s"skewStats needs n >= 1, got $n")
    val counts = df.groupBy(col(keyCol).as("key"))
      .agg(count(lit(1)).as("cnt"))
    val totals = broadcast(counts.agg(
      sum(col("cnt")).as("__total"), count(lit(1)).as("__nkeys")))
    counts.crossJoin(totals)
      .orderBy(col("cnt").desc, col("key").asc_nulls_first)
      .limit(n)
      .withColumn("rank",
        row_number().over(org.apache.spark.sql.expressions.Window
          .orderBy(col("cnt").desc, col("key").asc_nulls_first)))
      .select(col("rank"), col("key"), col("cnt"),
        expr("(cnt * 10000L) div __total").as("share_bp"),
        expr("(cnt * 10000L) div (__total div __nkeys)").as("vs_mean_bp"))
  }
}
