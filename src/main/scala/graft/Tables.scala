package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, TimestampNTZType, TimestampType}

/** Helpers to load the driver-provided parquet tables (TESTDATA.md) and to
  * build a correctly-configured local session.
  *
  * Scale note: all readers go through `spark.read.parquet` so Catalyst
  * handles column pruning / predicate pushdown; at cluster scale the same
  * code reads partitioned directories unchanged.
  */
object Tables {
  /** Read one of the driver tables: region nation customer supplier part
    * orders lineitem events documents embeddings. */
  def t(spark: SparkSession, dir: String, name: String): DataFrame =
    spark.read.parquet(s"$dir/$name.parquet")

  /** Epoch-microseconds Column for the `events.ts` column, adaptive to the
    * physical type the driver generated that round: TIMESTAMP_NANOS read
    * under nanosAsLong arrives as long nanoseconds (rounds ≤ 7);
    * TIMESTAMP / TIMESTAMP_NTZ (micros, round 8+) arrives as a timestamp.
    * The NTZ branch casts through TimestampType under the session's UTC
    * zone, so the wall-clock IS the epoch instant — identical to what
    * DuckDB's epoch_us(ts) computes on the same file. Any other type
    * fails loudly rather than silently shifting every window. */
  def eventTsUs(df: DataFrame): Column = df.schema("ts").dataType match {
    case LongType                        => expr("ts DIV 1000")
    case TimestampType | TimestampNTZType => unix_micros(col("ts").cast("timestamp"))
    case other => sys.error(s"events.ts: unsupported physical type $other")
  }

  /** TimestampType (UTC instant) Column for `events.ts` — same adaptivity
    * as [[eventTsUs]], for window/sessionization operators. */
  def eventTsStamp(df: DataFrame): Column = df.schema("ts").dataType match {
    case LongType                        => timestamp_micros(expr("ts DIV 1000"))
    case TimestampType | TimestampNTZType => col("ts").cast("timestamp")
    case other => sys.error(s"events.ts: unsupported physical type $other")
  }

  /** Register every driver table as a temp view so `spark.sql` recipes can
    * refer to them by name (mirrors the reference's named datasets,
    * /root/reference/code/recipes.py:248-447). */
  val names: Seq[String] = Seq("region", "nation", "customer", "supplier",
    "part", "orders", "lineitem", "events", "documents", "embeddings")

  def registerAll(spark: SparkSession, dir: String): Unit =
    names.foreach { n =>
      t(spark, dir, n).createOrReplaceTempView(n)
    }

  /** The session Verify, Profile and Explain share (Bench keeps the
    * same settings inline, in its timed harness): `local[cpus]` with
    * `cpus` shuffle partitions (SPARK_GRAFT_CPUS, default 32); AQE on
    * so skewed joins re-plan at runtime; nanos-as-long so the `events`
    * table (TIMESTAMP_NANOS parquet) loads; UTC; micros on write; UI
    * off. */
  def session(cpus: String = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32"))
      : SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.parquet.outputTimestampType", "TIMESTAMP_MICROS")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }
}
