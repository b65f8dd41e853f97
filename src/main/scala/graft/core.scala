package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** A named query + its DuckDB oracle (None → driver does a rows-only check). */
final case class Q(
    name: String,
    fn: (SparkSession, String) => DataFrame,
    oracle: Option[String])

/** Distributed plans' answer schemas, analyzed once per input shape
  * `key`. A driver path that answers with a local frame needs its plan's
  * schema, and building the plan only to read it costs a call 70–140 ms
  * of eager Dataset analysis (the shingle-pair and index-query paths).
  */
private[graft] object PlanSchemas {
  private val schemas = scala.collection.concurrent.TrieMap
    .empty[Seq[Any], StructType]

  def of(key: Seq[Any], analyze: => StructType): StructType =
    schemas.getOrElseUpdate(key, analyze)
}

/** Typed loaders for the driver-generated tables (TESTDATA.md).
  *
  * All timestamp columns are parquet `isAdjustedToUTC=false`, which Spark 4
  * reads as TIMESTAMP_NTZ — we keep NTZ end-to-end so written results carry
  * the same logical type the DuckDB oracle produces. `events.ts` is
  * nanosecond-precision, which Spark's vectorized reader rejects; with
  * `spark.sql.legacy.parquet.nanosAsLong=true` it surfaces as a raw Long
  * (epoch nanos) from which we derive exact integer epoch-millis.
  */
object Tables {
  val all: Seq[String] = Seq("region", "nation", "customer", "supplier",
    "part", "orders", "lineitem", "events", "documents", "embeddings")

  def apply(spark: SparkSession, dir: String, name: String): DataFrame =
    spark.read.parquet(s"$dir/$name.parquet")

  /** `embeddings` as (vec_id, v: array<double>). */
  private[graft] def vectors(spark: SparkSession, dir: String): DataFrame =
    apply(spark, dir, "embeddings")
      .select(col("vec_id"), col("embedding").cast("array<double>").as("v"))

  /** events with `ts_ms` (epoch millis, floor-truncated — same semantics as
    * DuckDB `epoch_ms(ts)`). The physical encoding of `ts` has changed under
    * us before (int64 nanos → micros TIMESTAMP_NTZ), so we branch on the
    * dtype the reader actually produced instead of assuming one layout:
    *   - LongType: raw epoch nanos (nanos parquet read under
    *     `nanosAsLong=true`, which `SparkEntry.tune` keeps set so old files
    *     still load) → integer `DIV 1000000`.
    *   - TIMESTAMP_NTZ (micros): reinterpret the wall-clock as a UTC instant
    *     (session tz is UTC via tune) → exact `unix_micros DIV 1000`.
    *   - TIMESTAMP (isAdjustedToUTC=true): already an instant.
    * All three paths are pure integer arithmetic — no float rounding, and
    * identical floor-millis to the oracle's `epoch_ms`. */
  def events(spark: SparkSession, dir: String): DataFrame = {
    val df = apply(spark, dir, "events")
    val tsMs = df.schema("ts").dataType match {
      case LongType         => expr("ts DIV 1000000")
      case TimestampNTZType => expr("unix_micros(CAST(ts AS TIMESTAMP)) DIV 1000")
      case TimestampType    => expr("unix_micros(ts) DIV 1000")
      case other =>
        throw new IllegalStateException(s"unsupported events.ts encoding: $other")
    }
    df.withColumn("ts_ms", tsMs)
  }
}

/** Determinism helpers — see SURVEY.md §5.
  *
  * Double aggregation is partition-order dependent at the last few bits, so
  * a naive `sum(double)` can differ between Spark and the DuckDB oracle (and
  * between two Spark runs with different partitioning). We accumulate in
  * exact decimal and cast back: bit-identical everywhere, any cluster size.
  * Scale choice: raw money/quantity columns are exact 2-decimal values →
  * DECIMAL(18,2) is lossless; arithmetic products of 2-dp columns are exact
  * ≤6-decimal values → DECIMAL(26,6) is lossless. Lossless cast = no
  * engine-specific rounding-mode edge cases.
  */
object Exact {
  /** Exact sum of a 2-decimal-valued double column, returned as double. */
  def dsum2(c: Column): Column = sum(c.cast(DecimalType(18, 2))).cast("double")
  /** Exact sum of a product of 2-dp columns (≤6 true decimals). */
  def dsum6(c: Column): Column = sum(c.cast(DecimalType(26, 6))).cast("double")
  /** Deterministic mean: exact sum / count, single IEEE division. */
  def davg2(c: Column): Column = dsum2(c) / count(lit(1))

  /** SQL mirrors for the DuckDB oracle. */
  def sqlSum2(e: String, as: String): String =
    s"CAST(SUM(CAST($e AS DECIMAL(18,2))) AS DOUBLE) AS $as"
  def sqlSum6(e: String, as: String): String =
    s"CAST(SUM(CAST($e AS DECIMAL(26,6))) AS DOUBLE) AS $as"
  def sqlAvg2(e: String, as: String): String =
    s"CAST(SUM(CAST($e AS DECIMAL(18,2))) AS DOUBLE)/COUNT(*) AS $as"
}
