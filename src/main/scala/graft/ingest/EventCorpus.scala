package graft.ingest

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** Deterministic EVENT corpus generator with a closed-form hourly
  * census (round 16 — the [[DocCorpus]]/[[BasketCorpus]] discipline
  * applied to the streaming family): one event per second from an
  * hour-aligned epoch base, event types cycling with period 4, value
  * pinned to 1.0 — so every fully-closed hourly window holds EXACTLY
  * 900 events per type with sum_val 900.0, at any scale. Written in
  * the fixture events layout (event_id, ts, user_id, event_type,
  * value, props) so the registered watermarked streams
  * ([[graft.streaming.StreamingOps.hourlyAppend]]) run against the
  * directory unchanged.
  *
  * With the 10-minute watermark, the final hour's window never closes
  * and the second-to-last does (3600 s span > 600 s lag), so an
  * `n = 3600·H`-event corpus emits hours 0..H−2: exactly `4(H−1)`
  * rows. Input volume scales linearly with H while the OPEN-window
  * state the append aggregate carries stays O(types × watermark lag)
  * — the bounded-state property `stream_decade` ([[graft.Soak]]) measures.
  */
object EventCorpus {

  /** 2024-01-01T00:00:00Z in epoch micros — hour-aligned, so Spark's
    * epoch-aligned 1-hour windows coincide with the generator's hours. */
  val BaseUs = 1704067200000000L

  val Types = Seq("view", "click", "purchase", "refund")

  /** Writes `n` events (n divisible by 3600) as `<out>/events.parquet`.
    * Returns `out`. */
  def write(spark: SparkSession, out: String, n: Long): String = {
    require(n % 3600 == 0, s"n=$n must be divisible by 3600 (whole hours)")
    spark.range(n).select(
        col("id").as("event_id"),
        timestamp_micros(lit(BaseUs) + col("id") * 1000000L).as("ts"),
        (col("id") % 997).as("user_id"),
        element_at(array(Types.map(lit): _*), (col("id") % 4 + 1).cast("int"))
          .as("event_type"),
        lit(1.0).as("value"),
        lit("{}").as("props"))
      .write.mode("overwrite").parquet(s"$out/events.parquet")
    out
  }
}
