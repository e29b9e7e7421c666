package graft.sources

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Physical layout for parquet tables:
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
}
