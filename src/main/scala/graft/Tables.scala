package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, TimestampNTZType, TimestampType}

/** Loaders for the driver-generated parquet fixtures (TESTDATA.md).
  * Parquet + vectorized reader is the columnar upgrade over the reference's
  * row-at-a-time JSON scans (SURVEY.md §1.4) — WHAT is unchanged.
  */
object Tables {
  val names: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  /** events.ts has shipped as parquet TIMESTAMP(NANOS) (which Spark 4
    * rejects outright — PARQUET_TYPE_ILLEGAL — so we read nanos as raw long
    * via the legacy conf [[Engine.tune]] sets and truncate to micros) and,
    * since the fixtures
    * were regenerated, as timestamp[us] with no timezone annotation, which
    * Spark reads as TIMESTAMP_NTZ. Event-time operators (unix_micros,
    * window, watermark) want TIMESTAMP_LTZ; with the session timezone
    * pinned to UTC (Engine.tune) the NTZ→LTZ cast is value-preserving
    * and agrees with how DuckDB reads the same file for the oracle. */
  def normalizeEvents(df: DataFrame): DataFrame =
    if (!df.schema.fieldNames.contains("ts")) df
    else df.schema("ts").dataType match {
      case LongType         => df.withColumn("ts", timestamp_micros(expr("ts div 1000")))
      case TimestampNTZType => df.withColumn("ts", col("ts").cast(TimestampType))
      case _                => df
    }

  def apply(spark: SparkSession, dir: String, name: String): DataFrame =
    normalizeEvents(spark.read.parquet(s"$dir/$name.parquet"))
}
