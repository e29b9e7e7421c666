package graft.sources

import org.apache.spark.sql.{Column, DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._

/** Physical-layout maintenance for parquet tables — the two operations
  * a 100-TB table needs between queries:
  *
  *   - [[zorderValue]]: the multi-column clustering key.
  *     Partitioning prunes on ONE key; a second predicate column scans
  *     everything. Interleaving the bits of several quantized keys into
  *     one sort key (Morton / Z-order) makes each output FILE narrow in
  *     EVERY interleaved dimension, so parquet row-group min/max
  *     statistics prune scans on any of them — the standard layout
  *     trick behind Delta/Iceberg OPTIMIZE ZORDER, built here from
  *     plain Spark: one bounded stats pass, a pure-Column bit
  *     interleave, `repartitionByRange` + in-partition sort, vanilla
  *     parquet. (The reference has no layout optimizer — its datasets
  *     are flat single files, `code/recipes.py` write paths — but at
  *     target scale the layout IS the index.)
  *
  *   - [[compact]]: small-file compaction. Incremental loads and
  *     streaming sinks degrade a table into thousands of KB-sized
  *     files whose open/footer cost dominates scans; compaction
  *     rewrites a directory into ~`targetMb` files (optionally
  *     re-sorted) and swaps it in atomically.
  */
object Layout {

  /** `a div b` in LONG arithmetic (Catalyst IntegralDivide via the
    * bridge) — `/` on Columns is DOUBLE division, which rounds at
    * 2^53 and would misplace quantization bucket boundaries. */
  private def ldiv(a: Column, b: Column): Column =
    org.apache.spark.sql.GraftBridge.column(
      new org.apache.spark.sql.catalyst.expressions.IntegralDivide(
        org.apache.spark.sql.GraftBridge.expression(a),
        org.apache.spark.sql.GraftBridge.expression(b)))

  /** Quantize a numeric column to `bits` bits over [lo, hi] with PURE
    * LONG arithmetic — `((x - lo) * (2^bits - 1)) div (hi - lo)` —
    * so the mapping is exact and replayable in any integer-correct
    * engine (no float rounding at bucket boundaries). NULL → 0 (NULLs
    * sort together at the low end, parquet stats still prune them).
    * Caller guarantees (hi - lo) ≥ 1 and |x - lo| * 2^bits fits a
    * long — true for any real id/date/count key at bits ≤ 20. */
  private def quantize(x: Column, lo: Column, hi: Column, bits: Int): Column = {
    val maxq = (1L << bits) - 1
    val span = greatest(hi - lo, lit(1L))
    coalesce(
      ldiv((x.cast("long") - lo) * maxq, span).cast("long"),
      lit(0L))
  }

  /** Bit-interleaved (Morton) sort key over quantized columns: bit i of
    * quantized column j lands at position `i * ncols + j`. A static
    * expression tree of `bits × ncols` shift/mask terms — pure Column
    * arithmetic, codegen'd, no UDF. `bits × ncols` must stay ≤ 62. */
  private[graft] def interleave(qs: Seq[Column], bits: Int): Column = {
    require(qs.nonEmpty, "zorder needs at least one column")
    require(bits * qs.size <= 62,
      s"zorder: bits($bits) × cols(${qs.size}) exceeds a long")
    val terms = for {
      i <- 0 until bits
      (q, j) <- qs.zipWithIndex
    } yield shiftleft(shiftright(q, i).bitwiseAND(lit(1L)), i * qs.size + j)
    terms.reduce(_ bitwiseOR _)
  }

  /** The z-value column for `df` over `cols`: one bounded stats pass
    * (a single-row min/max aggregate, collected — a declared-small
    * driver artifact like a codebook), then the pure-Column quantize +
    * interleave. Exposed so the driver gate can hash-check the exact
    * arithmetic against an oracle; a z-ordered write uses it as the
    * range-partition + sort key. */
  def zorderValue(df: DataFrame, cols: Seq[String], bits: Int = 16): DataFrame = {
    val aggs = cols.flatMap(c => Seq(
      min(col(c).cast("long")).as(s"__lo_$c"),
      max(col(c).cast("long")).as(s"__hi_$c")))
    val stats = df.agg(aggs.head, aggs.tail: _*).head()
    val qs = cols.map { c =>
      val lo = stats.getAs[Any](s"__lo_$c")
      val hi = stats.getAs[Any](s"__hi_$c")
      // an all-NULL column quantizes to 0 everywhere (still a valid key)
      if (lo == null) lit(0L)
      else quantize(col(c), lit(lo.asInstanceOf[Long]),
        lit(hi.asInstanceOf[Long]), bits)
    }
    df.withColumn("__zval", interleave(qs, bits))
  }

  /** Rewrite a parquet directory into ~`targetMb`-sized files: write a
    * sibling temp dir, then swap via two renames with a restore path
    * (a failed second rename puts the original back — the table is
    * never lost). NOT reader-atomic: between the renames the path is
    * briefly absent, so schedule compaction in the maintenance window
    * like any table rewrite (table-format transaction logs are what
    * close that window; out of scope here by design). `sortBy` re-sorts
    * within output files so compaction can also restore clustering that
    * incremental appends destroyed. File count comes from the CURRENT
    * on-disk byte size — compression ratio carries over since the data
    * is recompressed the same way. */
  def compact(spark: SparkSession, path: String, targetMb: Int = 128,
      sortBy: Seq[String] = Nil): Unit = {
    val hPath = new org.apache.hadoop.fs.Path(path)
    val fs = hPath.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val bytes = fs.getContentSummary(hPath).getLength
    val n = math.max(1, math.ceil(bytes / (targetMb * 1024.0 * 1024.0)).toInt)
    val df0 = spark.read.parquet(path)
    val df =
      if (sortBy.nonEmpty)
        df0.repartitionByRange(n, sortBy.map(col): _*)
          .sortWithinPartitions(sortBy.map(col): _*)
      else df0.repartition(n)
    val tmp = new org.apache.hadoop.fs.Path(path + ".compact-tmp")
    fs.delete(tmp, true)
    df.write.mode(SaveMode.Overwrite).parquet(tmp.toString)
    val bak = new org.apache.hadoop.fs.Path(path + ".compact-old")
    fs.delete(bak, true)
    if (!fs.rename(hPath, bak))
      sys.error(s"compact: could not move $path aside")
    if (!fs.rename(tmp, hPath)) {
      fs.rename(bak, hPath) // restore — never leave the table missing
      sys.error(s"compact: could not swap compacted files into $path")
    }
    fs.delete(bak, true)
  }
}
