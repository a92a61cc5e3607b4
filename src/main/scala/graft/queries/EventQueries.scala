package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables

/** Event-table queries: semi-structured JSON prop extraction (the fixture
  * analog of the reference's nested-JSON path access, SURVEY.md §1.2) and
  * event-time bucketed aggregation (the batch shape of the streaming
  * windows in graft.streaming).
  */
object EventQueries {

  /** Nested-prop extraction via regexp (engine-portable; the library also
    * offers from_json, exercised in tests). One scan, one shuffle. */
  def jsonExtract(spark: SparkSession, dir: String): DataFrame = {
    Tables(spark, dir, "events")
      .filter(col("props").contains("\"k\""))
      .withColumn("k",
        regexp_extract(col("props"), """"k":\s*(\d+)""", 1).cast("long"))
      .filter(col("k").isNotNull)  // NULL sorts first in Spark, last in DuckDB
      .groupBy("k")
      .agg(count(lit(1)).as("cnt"),
        sum(col("value").cast("decimal(18,2)")).cast("double").as("sum_val"))
      .orderBy("k")
  }

  /** Z-order layout histogram over the (user_id, value-bucket) plane:
    * each event keyed by the 16-bit Morton z-value of its coordinates
    * (graft.functions.ZValue, native codegen kernel), tile = zval >> 8 —
    * one 16×16 spatial block of the 256×256 grid. The per-tile counts
    * are the layout table a Z-ORDER clustering write produces:
    * range-partition/sort by zval and each tile is contiguous on disk,
    * so a box predicate over BOTH dimensions prunes to the few tiles it
    * overlaps instead of full slabs of either dimension (the
    * Delta/Iceberg Z-ORDER property; pinned with file-level evidence in
    * ZOrderSpec). */
  def zorder(spark: SparkSession, dir: String): DataFrame = {
    Tables(spark, dir, "events")
      .select(pmod(col("user_id"), lit(256L)).as("x"),
        pmod(floor(col("value")).cast("long"), lit(256L)).as("y"))
      .select(graft.functions.ZOrder.zvalue("x", "y").as("zval"))
      .groupBy(shiftright(col("zval"), 8).as("tile"))
      .agg(count(lit(1)).as("n_events"),
        min("zval").as("z_min"), max("zval").as("z_max"))
      .orderBy("tile")
  }

  /** Hourly-volume anomaly detection: each hour's event count z-scored
    * against the whole hourly distribution, flagged at |z| > 2 — the
    * ingest-volume monitoring pass of a data pipeline. Variance comes
    * from EXACT integer sums (z = (x·n − Σx) / (n·√((n·Σx² − (Σx)²) /
    * (n·(n−1))))), evaluated in the same order on both engines, so the
    * doubles are engine-identical — a streaming-moments stddev_samp
    * would drift with partition/summation order. The stats window runs
    * over the tiny aggregated hourly frame (|hours| rows), not the
    * corpus. */
  def anomaly(spark: SparkSession, dir: String): DataFrame = {
    val hourly = Tables(spark, dir, "events")
      .groupBy(date_trunc("hour", col("ts")).as("hr"))
      .agg(count(lit(1)).as("n_events"))
    val w = org.apache.spark.sql.expressions.Window.partitionBy()
    val n = count(lit(1)).over(w)
    val s = sum("n_events").over(w)
    val s2 = sum(col("n_events") * col("n_events")).over(w)
    // Degenerate inputs pin to NULL on BOTH engines (IEEE 0/0 and x/0
    // renderings are engine-specific): n == 1 zeroes the sample-variance
    // denominator n·(n−1), and a zero-variance window (all hourly counts
    // identical, n·Σx² = (Σx)²) zeroes the stddev — fixture has 720
    // varied hours, but the contract must hold on any input.
    val z = when(n > 1 && (n * s2 - s * s) > 0, round(
      (col("n_events") * n - s).cast("double") /
        (n.cast("double") *
          sqrt((n * s2 - s * s).cast("double") / (n * (n - lit(1))).cast("double"))),
      4))
    hourly
      .withColumn("z", z)
      .withColumn("is_anomaly", abs(col("z")) > 2.0)
      .orderBy("hr")
  }

  /** Tumbling 1-hour event-time buckets — batch twin of
    * graft.streaming.StreamingOps.hourlyCounts. */
  def hourlyAgg(spark: SparkSession, dir: String): DataFrame = {
    Tables(spark, dir, "events")
      .groupBy(date_trunc("hour", col("ts")).as("hr"), col("event_type"))
      .agg(count(lit(1)).as("cnt"),
        sum(col("value").cast("decimal(18,2)")).cast("double").as("sum_val"))
      .orderBy("hr", "event_type")
  }

  /** Partial re-aggregation — the incremental-pipeline pattern: the day
    * rollup is computed FROM the stored hourly partials (counts add,
    * decimal sums add, n_partials counts the merged intermediates), not
    * by rescanning raw events. At 100 TB this is the difference between
    * a daily report that reads 24 hourly aggregate rows per key and one
    * that re-reads the raw day; the oracle aggregates the raw table
    * directly, so the MERGEABILITY of the partials themselves sits
    * under the cross-engine hash (any partial lost or double-merged
    * breaks the row). Sums ride the same decimal(18,2) quantization as
    * ev_hourly_agg, so addition order cannot move the result. */
  def reaggregate(spark: SparkSession, dir: String): DataFrame = {
    val hourly = Tables(spark, dir, "events")
      .groupBy(date_trunc("hour", col("ts")).as("hr"), col("event_type"))
      .agg(count(lit(1)).as("cnt"),
        sum(col("value").cast("decimal(18,2)")).as("sum_val"))
    hourly
      .groupBy(to_date(col("hr")).as("day"), col("event_type"))
      .agg(sum("cnt").as("cnt"),
        sum("sum_val").cast("double").as("sum_val"),
        count(lit(1)).as("n_partials"))
      .orderBy("day", "event_type")
  }

  /** JSON-path prop extraction via get_json_object (the JSON-function
    * analog of the regexp path above; FIXTURES.md §C role map). */
  def jsonPath(spark: SparkSession, dir: String): DataFrame = {
    Tables(spark, dir, "events")
      .select(get_json_object(col("props"), "$.k").cast("long").as("k"))
      .filter(col("k").isNotNull)
      .groupBy("k").agg(count(lit(1)).as("cnt"))
      .orderBy("k")
  }

  /** Semi-structured ingestion through the VARIANT type (new in Spark
    * 4): props parses ONCE into the binary variant encoding, then typed
    * paths extract from it — the schema-flexible lakehouse column that
    * replaces repeated string re-parsing (get_json_object re-walks the
    * JSON text per call; variant_get walks the pre-parsed tree).
    * try_parse_json nulls malformed rows instead of failing the scan —
    * the PERMISSIVE-mode analog for semi-structured columns. Output is
    * plain typed columns, so the oracle is engine-neutral. */
  def variantExtract(spark: SparkSession, dir: String): DataFrame = {
    Tables(spark, dir, "events")
      .select(expr("try_parse_json(props)").as("v"))
      // try_variant_get, not variant_get: a well-formed-JSON string k
      // ('{"k":"abc"}') must null out like the oracle's TRY_CAST, not
      // throw a cast error
      .select(expr("try_variant_get(v, '$.k', 'bigint')").as("k"))
      .filter(col("k").isNotNull)
      .groupBy("k").agg(count(lit(1)).as("cnt"))
      .orderBy("k")
  }

  /** Gap-based sessionization (the batch classic the streaming
    * `mapGroupsWithState` summary approximates): a new session starts
    * when a user's inter-event gap exceeds SessionGap. Two windows over
    * ONE shuffle on user_id: lag() flags session starts, a running sum
    * numbers them; per-session stats aggregate after. Event times are
    * compared in exact integer micros on both engines. */
  val SessionGapUs: Long = 30L * 60 * 1000000 // 30 minutes

  def sessionize(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val byUser = Window.partitionBy("user_id").orderBy("t_us", "event_id")
    val run = byUser.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    Tables(spark, dir, "events")
      .select(col("event_id"), col("user_id"), unix_micros(col("ts")).as("t_us"))
      .withColumn("new_s",
        when(col("t_us") - lag("t_us", 1).over(byUser) > SessionGapUs, 1L)
          .otherwise(lit(0L)))
      .withColumn("session_no", sum("new_s").over(run))
      .groupBy("user_id", "session_no")
      .agg(count(lit(1)).as("n_events"),
        min("t_us").as("first_us"), max("t_us").as("last_us"))
      .orderBy("user_id", "session_no")
  }

  /** Peak concurrent sessions per day — the capacity-planning number,
    * via the classic sweep-line: every session contributes (+1 at
    * first_us, −1 at last_us + 1), simultaneous points collapse to one
    * NET delta per instant (which also makes the tie order a non-issue),
    * and the running sum over the time-ordered point stream is the live
    * concurrency; per day, the max and the earliest instant achieving
    * it. Sessions come from the registered [[sessionize]] (shared code
    * AND a shared oracle CTE chain, so the session definition cannot
    * fork). The sweep frame is session-sized — 2 points per session,
    * netted — and the global running sum is a prefix scan over it; at
    * 100 TB that is a range-partitioned two-pass prefix sum, at
    * fixture scale one window. A day's peak is measured at its
    * state-change instants (a session straddling midnight counts in
    * both days' points). */
  /** Range buckets for the distributed prefix sums ([[bucketedPrefixSum]]).
    * Fixed and data-independent: the per-bucket offset table is ≤ this + 1
    * rows at ANY scale, so it is always broadcast/driver-trivial, while
    * each bucket holds ~1/Buckets of the frame. */
  val PrefixSumBuckets = 1024

  /** Global running sum of `weight` in the total order `order`, WITHOUT an
    * unpartitioned window (r18 optimization, guide §2.5 / VERDICT r17 #3):
    * the classic range-partitioned two-pass prefix sum. `driver` must be a
    * numeric column monotone NON-DECREASING along `order` (ties allowed —
    * the in-bucket window orders by the full `order`); rows are cut into
    * [[PrefixSumBuckets]] fixed-width driver ranges (width_bucket is
    * monotone, so bucket order respects `order`), per-bucket totals make a
    * ≤(Buckets+1)-row offset table whose running offsets come from a
    * bounded triangular self-join (never a global window), and the final
    * pass adds each row's in-bucket partitioned running sum to its
    * bucket's offset. Exact: the global prefix splits into "all earlier
    * buckets" + "my bucket's prefix", both computed exactly. */
  private def bucketedPrefixSum(df: DataFrame, driver: org.apache.spark.sql.Column,
      order: Seq[org.apache.spark.sql.Column], weight: org.apache.spark.sql.Column,
      out: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    // the input feeds the range-stats pass AND the bucketed pass —
    // materialize it once or the caller's upstream pipeline is embedded
    // (and re-executed) per reference, compounding when passes chain
    // (rfm chains three: the un-checkpointed spelling planned 430
    // Exchange nodes; this one is linear)
    val dfm = df.localCheckpoint(true)
    val stats = dfm.agg(min(driver).as("_lo"), max(driver).as("_hi"))
    val b = dfm.crossJoin(broadcast(stats))
      .withColumn("_bkt",
        when(col("_hi") > col("_lo"),
          width_bucket(driver.cast("double"), col("_lo").cast("double"),
            col("_hi").cast("double"), lit(PrefixSumBuckets)))
          .otherwise(lit(1L)))
      .drop("_lo", "_hi")
    val btot = b.groupBy("_bkt").agg(sum(weight).as("_w"))
    val off = btot.as("a")
      .join(btot.as("b"), col("b._bkt") < col("a._bkt"), "left")
      .groupBy(col("a._bkt").as("_bkt"))
      .agg(coalesce(sum(col("b._w")), lit(0L)).as("_off"))
    val inBkt = Window.partitionBy("_bkt").orderBy(order: _*)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    b.join(broadcast(off), Seq("_bkt"))
      .withColumn(out, col("_off") + sum(weight).over(inBkt))
      .drop("_bkt", "_off")
  }

  def peakConcurrency(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val s = sessionize(spark, dir).select("first_us", "last_us")
    val pts = s.select(col("first_us").as("t"), lit(1L).as("d"))
      .unionAll(s.select((col("last_us") + 1L).as("t"), lit(-1L).as("d")))
      .groupBy("t").agg(sum("d").as("delta"))
    // the global sweep is a range-partitioned two-pass prefix sum (r18 —
    // the old `Window.orderBy(t)` moved every netted point through ONE
    // partition; see bucketedPrefixSum)
    val run = bucketedPrefixSum(pts, col("t"), Seq(col("t")), col("delta"), "conc")
      .select(to_date(timestamp_micros(col("t"))).as("day"),
        col("t"), col("conc"))
    val byDay = Window.partitionBy("day")
    run.withColumn("peak", max("conc").over(byDay))
      .filter(col("conc") === col("peak"))
      .groupBy("day", "peak").agg(min("t").as("peak_at_us"))
      .select(col("day"), col("peak"), col("peak_at_us"))
      .orderBy("day")
  }

  /** Lateness-bucket cap (minutes): everything ≥ this collapses into the
    * open-ended last bucket. */
  val LatenessCapMin = 10L

  /** Watermark-delay tuning profile — the batch diagnostic a streaming
    * deployment runs BEFORE choosing `withWatermark`'s delay: how far
    * behind each user's high-water mark events arrive. Arrival order is
    * the event_id sequence within a user; lateness is the running
    * max(t_us) over that order minus the event's own t_us, bucketed in
    * whole minutes with an open-ended cap. The histogram row at bucket b
    * is exactly the event mass a watermark of b minutes would admit
    * late vs drop. One shuffle on user_id (same partitioning every
    * sessionization query uses), then a tiny grouped count — no global
    * arrival-order sort anywhere. All arithmetic exact integer micros. */
  def lateness(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val run = Window.partitionBy("user_id").orderBy("event_id")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    Tables(spark, dir, "events")
      .select(col("user_id"), col("event_id"), unix_micros(col("ts")).as("t_us"))
      .withColumn("hwm", max("t_us").over(run))
      .select(least(expr("(hwm - t_us) div 60000000"), lit(LatenessCapMin))
        .as("late_min"))
      .groupBy("late_min").agg(count(lit(1)).as("cnt"))
      .orderBy("late_min")
  }

  /** Candidate watermark delays (minutes) the trade-off sweep prices —
    * single-sourced between the Spark frame and the generated oracle
    * VALUES list, the dedup_banding_sweep discipline. */
  val WatermarkSweepMin: Seq[Long] = Seq(0L, 1L, 2L, 5L, 10L)

  /** The DECISION the lateness profile motivates: for each candidate
    * watermark delay, how much event mass a streaming deployment would
    * admit vs drop as late. Lateness here is UNCAPPED (unlike the
    * [[lateness]] histogram's display cap) — a capped value would
    * wrongly admit arbitrarily-late events at the cap delay. One
    * user-partition window pass folds to a minutes-keyed histogram
    * (bounded by the corpus time span), and the 5-row delay frame meets
    * it in a broadcast ≤-join — both sides aggregate-sized, never
    * event-sized, so the sweep costs one pass regardless of |delays|.
    * Admitted mass is monotone in the delay and admitted+dropped is the
    * corpus total at every row (spec-pinned). */
  def watermarkTradeoff(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    import spark.implicits._
    val run = Window.partitionBy("user_id").orderBy("event_id")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val hist = Tables(spark, dir, "events")
      .select(col("user_id"), col("event_id"), unix_micros(col("ts")).as("t_us"))
      .withColumn("hwm", max("t_us").over(run))
      .select(expr("(hwm - t_us) div 60000000").as("late_min"))
      .groupBy("late_min").agg(count(lit(1)).as("cnt"))
    val delays = WatermarkSweepMin.toDF("delay_min")
    // ONE histogram pass: admitted and the corpus total fold out of the
    // same broadcast product — a separate total aggregate would re-plan
    // (and at 100 TB re-scan) the whole window subtree
    delays.join(broadcast(hist), lit(true), "left")
      .groupBy("delay_min")
      .agg(
        coalesce(sum(when(col("late_min") <= col("delay_min"), col("cnt"))), lit(0L))
          .as("admitted"),
        coalesce(sum("cnt"), lit(0L)).as("total"))
      .select(col("delay_min"), col("admitted"),
        (col("total") - col("admitted")).as("dropped"))
      .orderBy("delay_min")
  }

  /** Fixed-width value histogram (profiling op): 20 buckets of width
    * BucketWidth with the last bucket open-ended — one scan, one grouped
    * count, the data-profiling pass every curation job starts with.
    * Bucket arithmetic is exact (floor of double/constant), so the
    * histogram is engine- and partitioning-independent. */
  val BucketWidth = 25.0
  val NumBuckets = 20

  def histogram(spark: SparkSession, dir: String): DataFrame = {
    Tables(spark, dir, "events")
      .select(least(floor(col("value") / BucketWidth), lit(NumBuckets - 1L))
        .cast("long").as("bucket"))
      .groupBy("bucket")
      .agg(count(lit(1)).as("cnt"))
      .select(col("bucket"), (col("bucket") * BucketWidth).as("lo"), col("cnt"))
      .orderBy("bucket")
  }

  /** Dense hourly timeline: every hour between the corpus min and max
    * gets a row, count 0 where no events landed — the gap-filling
    * (resample) step a time-series pipeline needs before rolling
    * windows or models. The spine is generated from ONE tiny aggregate
    * row (min/max) + sequence-explode; the join is hour-keyed, so at
    * scale the spine side broadcasts (it is |hours|, not |events|). */
  def hourlyDense(spark: SparkSession, dir: String): DataFrame = {
    val hourly = Tables(spark, dir, "events")
      .groupBy(date_trunc("hour", col("ts")).as("hr"))
      .agg(count(lit(1)).as("cnt"))
    val spine = hourly.agg(min("hr").as("lo"), max("hr").as("hi"))
      .select(explode(sequence(col("lo"), col("hi"), expr("interval 1 hour"))).as("hr"))
    spine.join(hourly, Seq("hr"), "left")
      .select(col("hr"), coalesce(col("cnt"), lit(0L)).as("cnt"))
      .orderBy("hr")
  }

  /** Hour-over-hour cohort retention: of the distinct users active in
    * hour h, how many are also active in hour h+1 — the engagement
    * metric every product-analytics pipeline computes. One distinct
    * (hour, user) frame joined to its own hour-shifted self (left-semi,
    * equi on both keys): the join shuffles on (hr, user), no windows,
    * no per-user collection. */
  def retention(spark: SparkSession, dir: String): DataFrame = {
    val act = Tables(spark, dir, "events")
      .select(date_trunc("hour", col("ts")).as("hr"), col("user_id"))
      .distinct()
    val nxt = act.select((col("hr") - expr("interval 1 hour")).as("hr"), col("user_id"))
    val retained = act.join(nxt, Seq("hr", "user_id"), "left_semi")
      .groupBy("hr").agg(count(lit(1)).as("n_retained"))
    act.groupBy("hr").agg(count(lit(1)).as("n_active"))
      .join(retained, Seq("hr"), "left")
      .select(col("hr"), col("n_active"),
        coalesce(col("n_retained"), lit(0L)).as("n_retained"))
      .orderBy("hr")
  }

  /** The classic cohort-retention TRIANGLE — [[retention]]'s
    * hour-over-hour diagonal generalized to the full (cohort × offset)
    * grid every growth dashboard renders: users cohorted by their FIRST
    * active hour, n_active counting the cohort's distinct users active
    * at each whole-hour offset. The offset-0 column IS the cohort size
    * (every user is active in their own first hour), so every later
    * column is bounded by it and the whole matrix sums to the distinct
    * (user, hour) activity mass — both spec-pinned. Cost: one distinct,
    * one user-keyed min, one user-keyed equi-join back, one grouped
    * count — two user_id shuffles + one on the span²-bounded output
    * key, nothing event-squared; offsets are exact integer micros
    * divided on the hour grid. */
  def retentionMatrix(spark: SparkSession, dir: String): DataFrame = {
    val act = Tables(spark, dir, "events")
      .select(date_trunc("hour", col("ts")).as("hr"), col("user_id"))
      .distinct()
    val cohort = act.groupBy("user_id").agg(min("hr").as("c_hr"))
    act.join(cohort, Seq("user_id"))
      .select(col("c_hr").as("cohort_hr"),
        expr("(unix_micros(hr) - unix_micros(c_hr)) div 3600000000").as("offset_h"))
      .groupBy("cohort_hr", "offset_h")
      .agg(count(lit(1)).as("n_active"))
      .orderBy("cohort_hr", "offset_h")
  }

  /** Ordered funnel: users who signed up, then clicked after signing up,
    * then purchased after clicking — first-touch ordering per stage. One
    * conditional-min aggregate per user + one global rollup: no joins,
    * no window, two shuffles total regardless of stage count (the
    * per-stage-join spelling pays a shuffle per stage). Null stage
    * times drop out of the `<` comparisons identically in both engines. */
  def funnel(spark: SparkSession, dir: String): DataFrame = {
    val firsts = Tables(spark, dir, "events")
      .groupBy("user_id")
      .agg(
        min(when(col("event_type") === "signup", col("ts"))).as("t_signup"),
        min(when(col("event_type") === "click", col("ts"))).as("t_click"),
        min(when(col("event_type") === "purchase", col("ts"))).as("t_purchase"))
    firsts.agg(
      sum(when(col("t_signup").isNotNull, 1L).otherwise(0L)).as("n_signup"),
      sum(when(col("t_signup") < col("t_click"), 1L).otherwise(0L)).as("n_signup_click"),
      sum(when(col("t_signup") < col("t_click") && col("t_click") < col("t_purchase"),
        1L).otherwise(0L)).as("n_full_funnel"))
  }

  /** Conversion window for the time-bounded funnel (2 h in micros). */
  val FunnelWindowUs: Long = 2L * 3600L * 1000000L

  /** TIME-BOUNDED funnel — [[funnel]]'s unbounded ordering made the
    * product question every conversion dashboard actually asks: clicked
    * within 2 h OF SIGNUP, purchased within 2 h OF THAT CLICK. Strict
    * first-qualifying-event chaining (the anchor for stage n+1 is the
    * earliest stage-n event inside its own window, not the global
    * first), so a user who clicks late and again early next day cannot
    * smuggle a purchase through an expired window. Three user-keyed
    * aggregates + user-keyed equi-joins — the same shuffle key
    * throughout, no window functions, nothing event-squared; exact
    * integer micros so the boundary (≤, strict >) is engine-identical.
    * The funnel counts are monotone and n_signup anchors to the
    * unbounded funnel's (spec-pinned). */
  def funnelWindowed(spark: SparkSession, dir: String): DataFrame = {
    val ev = Tables(spark, dir, "events")
      .select(col("user_id"), col("event_type"), unix_micros(col("ts")).as("t_us"))
    val s = ev.filter(col("event_type") === "signup")
      .groupBy("user_id").agg(min("t_us").as("t_s"))
    val c = ev.filter(col("event_type") === "click")
      .join(s, Seq("user_id"))
      .filter(col("t_us") > col("t_s") && col("t_us") <= col("t_s") + FunnelWindowUs)
      .groupBy("user_id").agg(min("t_us").as("t_c"))
    val p = ev.filter(col("event_type") === "purchase")
      .join(c, Seq("user_id"))
      .filter(col("t_us") > col("t_c") && col("t_us") <= col("t_c") + FunnelWindowUs)
      .groupBy("user_id").agg(min("t_us").as("t_p"))
    s.join(c, Seq("user_id"), "left").join(p, Seq("user_id"), "left")
      .agg(count(lit(1)).as("n_signup"),
        count(col("t_c")).as("n_click_w"),
        count(col("t_p")).as("n_purchase_w"))
  }

  /** Event-type transition matrix (first-order Markov counts): for each
    * user's time-ordered stream, count (event_type → next event_type)
    * pairs — the behavioral-analytics dual of [[sessionize]] and the input
    * to any path/funnel mining. One shuffle on user_id for the lead()
    * window, then a |types|²-bounded grouped count with map-side partials.
    * Order within a user is total (exact integer micros, event_id
    * tiebreak), so lead() is deterministic on both engines. */
  def paths(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val byUser = Window.partitionBy("user_id").orderBy("t_us", "event_id")
    Tables(spark, dir, "events")
      .select(col("user_id"), col("event_id"),
        unix_micros(col("ts")).as("t_us"), col("event_type"))
      .withColumn("next_type", lead("event_type", 1).over(byUser))
      .filter(col("next_type").isNotNull)
      .groupBy("event_type", "next_type")
      .agg(count(lit(1)).as("n_trans"))
      .orderBy(desc("n_trans"), asc("event_type"), asc("next_type"))
  }

  /** Last-touch attribution: each purchase is credited to the most
    * recent PRECEDING non-purchase event of the same user (the
    * "channel"), however far back — the marketing-attribution shape.
    * The carry-forward is `last(channel, ignoreNulls)` over an
    * unbounded-preceding frame: one shuffle on user_id, a linear
    * running-state pass per partition (no per-row backward scan), then a
    * |channels|-bounded grouped count. Purchases with no prior event
    * roll up under 'none'. */
  def attribution(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val byUser = Window.partitionBy("user_id")
      .orderBy("t_us", "event_id")
      .rowsBetween(Window.unboundedPreceding, -1)
    Tables(spark, dir, "events")
      .select(col("user_id"), col("event_id"),
        unix_micros(col("ts")).as("t_us"), col("event_type"),
        col("value"))
      .withColumn("channel",
        last(when(col("event_type") =!= "purchase", col("event_type")),
          ignoreNulls = true).over(byUser))
      .filter(col("event_type") === "purchase")
      .groupBy(coalesce(col("channel"), lit("none")).as("channel"))
      .agg(count(lit(1)).as("n_conversions"),
        sum(col("value").cast("decimal(18,2)")).cast("double").as("attributed_value"))
      .orderBy(desc("n_conversions"), asc("channel"))
  }

  /** RFM segmentation: per-user Recency (last purchase time), Frequency
    * (purchase count), Monetary (purchase value) quartiled with ntile(4)
    * — the classic customer-scoring pass. The ntile orderings carry a
    * user_id tiebreak so bucket edges are deterministic on both engines.
    * Shapes: one |purchases| shuffle to the per-user aggregate, then the
    * three ntile windows run over the |users|-sized frame (each a single
    * global sort of the SMALL aggregate, not the event log), then a
    * 4³-bounded grouped count. */
  def rfm(spark: SparkSession, dir: String): DataFrame = {
    // r18 (guide §2.5 / VERDICT r17 #3): the three global `ntile(4)`
    // windows each moved the whole |users| frame through ONE partition.
    // Each quartile score is now an exact global RANK from the
    // range-partitioned two-pass prefix sum ([[bucketedPrefixSum]],
    // weight 1 ⇒ row number in the total order), mapped through NTile's
    // own bucket arithmetic (first n%4 buckets hold ⌈n/4⌉ rows, the rest
    // ⌊n/4⌋ — Spark's NTile semantics verbatim, so the scores are
    // bit-identical to the window spelling at every n).
    val perUser = Tables(spark, dir, "events")
      .filter(col("event_type") === "purchase")
      .groupBy("user_id")
      .agg(max(unix_micros(col("ts"))).as("last_us"),
        count(lit(1)).as("freq"),
        sum(col("value").cast("decimal(18,2)")).as("monetary"))
    val withN = perUser
      .crossJoin(broadcast(perUser.agg(count(lit(1)).as("_n"))))
    val ntileOf = (rn: String) => expr(
      s"CAST(CASE WHEN $rn <= (_n % 4) * ((_n DIV 4) + 1)" +
        s" THEN ($rn - 1) DIV ((_n DIV 4) + 1) + 1" +
        s" ELSE (_n % 4) + ($rn - (_n % 4) * ((_n DIV 4) + 1) - 1) DIV (_n DIV 4) + 1" +
        s" END AS INT)")
    val r = bucketedPrefixSum(withN, -col("last_us"),
      Seq(col("last_us").desc, col("user_id").asc), lit(1L), "_rn")
      .withColumn("r_score", ntileOf("_rn")).drop("_rn")
    val f = bucketedPrefixSum(r, -col("freq"),
      Seq(col("freq").desc, col("user_id").asc), lit(1L), "_rn")
      .withColumn("f_score", ntileOf("_rn")).drop("_rn")
    val scored = bucketedPrefixSum(f, (-col("monetary")).cast("double"),
      Seq(col("monetary").desc, col("user_id").asc), lit(1L), "_rn")
      .withColumn("m_score", ntileOf("_rn")).drop("_rn")
    scored.groupBy("r_score", "f_score", "m_score")
      .agg(count(lit(1)).as("n_users"),
        sum(col("monetary")).cast("double").as("segment_value"))
      .orderBy("r_score", "f_score", "m_score")
  }

  /** Top-20 three-step behavior paths: the trigram extension of
    * [[paths]] — two stacked lead() offsets over the SAME user window
    * (one shuffle, one sort, both leads in one Window node), then a
    * |types|³-bounded census cut to 20 by TakeOrdered. The sequence-
    * mining shape funnel designers start from. */
  def pathTrigrams(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val byUser = Window.partitionBy("user_id").orderBy("t_us", "event_id")
    Tables(spark, dir, "events")
      .select(col("user_id"), col("event_id"),
        unix_micros(col("ts")).as("t_us"), col("event_type"))
      .withColumn("step2", lead("event_type", 1).over(byUser))
      .withColumn("step3", lead("event_type", 2).over(byUser))
      .filter(col("step3").isNotNull)
      .groupBy(col("event_type").as("step1"), col("step2"), col("step3"))
      .agg(count(lit(1)).as("n_paths"))
      .orderBy(desc("n_paths"), asc("step1"), asc("step2"), asc("step3"))
      .limit(20)
  }

  /** Conversion bar for the A/B readout: a "converted" user made at
    * least this many purchases (the fixture's per-user median — every
    * user purchases at least once, so a has-purchased flag would
    * saturate both cohorts at p=1 and zero the test's denominator). */
  val AbConvThreshold = 14L

  /** Two-proportion z-test between the even/odd user cohorts (the A/B
    * readout): conversion = "user made ≥ [[AbConvThreshold]] purchases".
    * One |events| scan to per-user flags, one |users| aggregate to the
    * four counts, then the z-statistic from EXACT integer counts in one
    * fixed-order expression — engine-identical doubles, same discipline
    * as [[anomaly]]'s z-score. Output is a single decision row. */
  def abTest(spark: SparkSession, dir: String): DataFrame = {
    val perUser = Tables(spark, dir, "events")
      .groupBy(col("user_id"))
      .agg(when(sum(when(col("event_type") === "purchase", 1L).otherwise(0L))
        >= AbConvThreshold, 1L).otherwise(0L).as("conv"))
      .withColumn("cohort", col("user_id") % 2)
    val counts = perUser.groupBy()
      .agg(
        sum(when(col("cohort") === 0, 1L).otherwise(0L)).as("n_a"),
        sum(when(col("cohort") === 0, col("conv")).otherwise(0L)).as("conv_a"),
        sum(when(col("cohort") === 1, 1L).otherwise(0L)).as("n_b"),
        sum(when(col("cohort") === 1, col("conv")).otherwise(0L)).as("conv_b"))
    val pa = col("conv_a") * lit(1.0) / col("n_a")
    val pb = col("conv_b") * lit(1.0) / col("n_b")
    val pool = (col("conv_a") + col("conv_b")) * lit(1.0) / (col("n_a") + col("n_b"))
    val z = (pa - pb) /
      sqrt(pool * (lit(1.0) - pool) * (lit(1.0) / col("n_a") + lit(1.0) / col("n_b")))
    counts.select(col("n_a"), col("conv_a"), col("n_b"), col("conv_b"),
      round(z, 6).as("z"),
      (abs(round(z, 6)) > 1.96).as("significant"))
  }

  /** HyperLogLog geometry: m = 2^[[HllBucketBits]] registers; the 48-bit
    * md5-derived hash splits into 6 bucket bits + 42 payload bits; a zero
    * payload pins the rank at [[HllRankCap]] = 42 + 1. */
  val HllBucketBits = 6
  val HllBuckets = 1L << HllBucketBits
  val HllRankCap = 43
  /** 2^42·2, i.e. the S-scale unit 2^(HllRankCap): S = Σ 2^(43 − M_j)
    * renders every register's 2^−M contribution as an EXACT integer. */
  val HllScale = 1L << HllRankCap

  /** Deterministic HyperLogLog DAU: the mergeable approximate-distinct
    * sketch next to [[dauWau]]'s exact count — THE fixed-memory DAU
    * structure at 100 TB, where countDistinct's shuffle carries every
    * distinct user and this carries 64 integers per day regardless of
    * volume. Register assignment is md5-derived (like the CMS sketch,
    * [[graft.text.TextAnalysis.cmsHeavy]]) so BOTH engines build the
    * bit-identical sketch and the estimate itself sits under the oracle
    * hash: hash = first 48 md5 bits, bucket = hash mod 64, register
    * value = LSB-rank of the payload bits (geometric(1/2), exactly the
    * statistic HLL's estimator assumes; `bit_count((w & -w) - 1) + 1` in
    * both engines). Registers merge by MAX — a (day, bucket) grouped max
    * IS the merge, partial aggregates combine map-side, and the same 64
    * integers can be unioned across days/sources/streams (mergeability
    * spec-pinned in DauHllSpec). The harmonic-mean read-off stays exact
    * integer arithmetic until one literal-constant double division:
    * S = Σ 2^(43−M) over all 64 registers (absent register ⇒ M = 0 ⇒
    * term 2^43), est = α₆₄·m²·2^43 / S — identical IEEE doubles on both
    * engines because S is an exact BIGINT. Raw estimate only (the
    * small-range linear-counting branch needs ln, whose last-ulp
    * behavior is engine-specific — applied driver-side in DauHllSpec);
    * zero_regs ships so any consumer can apply the correction. */
  def dauHll(spark: SparkSession, dir: String): DataFrame = {
    val ev = Tables(spark, dir, "events")
      .select(to_date(col("ts")).as("day"), col("user_id"))
    val dau = ev.groupBy("day").agg(countDistinct("user_id").as("dau"))
    dau.join(hllEstimate(hllRegisters(ev)), Seq("day"))
      .select("day", "dau", "hll_est", "zero_regs")
      .orderBy("day")
  }

  /** The sketch itself: per (day, bucket) register = max LSB-rank.
    * Merge law (DauHllSpec): registers of a union of frames = bucket-wise
    * MAX of the frames' registers — the property that lets per-source /
    * per-partition sketches combine without rescanning. */
  private[graft] def hllRegisters(ev: DataFrame): DataFrame =
    ev.select(col("day"),
        expr("conv(substring(md5(cast(user_id as string)), 1, 12), 16, 10)")
          .cast("long").as("h"))
      .select(col("day"), (col("h") % HllBuckets).as("b"),
        expr(s"h div $HllBuckets").as("w"))
      .select(col("day"), col("b"),
        when(col("w") === 0, lit(HllRankCap))
          .otherwise(expr("bit_count((w & -w) - 1) + 1")).as("rho"))
      .groupBy("day", "b").agg(max("rho").as("m"))

  /** DuckDB CTE prefix ending in `s(day, n_obs, s_obs)` (plus the raw
    * `hh(day, user_id, h)` hash frame) — the register table of the HLL
    * sketch, single-sourced between the batch (ev_dau_hll) and streaming
    * (stream_dau_hll) oracles so online and offline distinct-count
    * monitors cannot fork. */
  private[graft] val hllOracleCtes: String = {
    val h = graft.text.TextAnalysis.nibSql("CAST(user_id AS VARCHAR)", 12)
    s"""hh AS (
       |  SELECT CAST(date_trunc('day', ts) AS DATE) AS day, user_id,
       |    ($h) AS h
       |  FROM events),
       |r AS (
       |  SELECT day, h % $HllBuckets AS b,
       |    CASE WHEN h // $HllBuckets = 0 THEN $HllRankCap
       |         ELSE CAST(bit_count(((h // $HllBuckets) & -(h // $HllBuckets)) - 1)
       |              AS INTEGER) + 1
       |    END AS rho
       |  FROM hh),
       |m AS (SELECT day, b, max(rho) AS m FROM r GROUP BY day, b),
       |s AS (SELECT day, count(*) AS n_obs,
       |        CAST(sum(CAST(1 AS BIGINT) << ($HllRankCap - m)) AS BIGINT) AS s_obs
       |      FROM m GROUP BY day)""".stripMargin
  }

  /** DuckDB spelling of [[hllEstimate]]'s read-off columns over `s`. */
  private[graft] val hllOracleReadoff: String =
    s"""round(CAST(0.709 AS DOUBLE) * CAST(${HllBuckets * HllBuckets} AS DOUBLE) * CAST($HllScale AS DOUBLE) /
       |    CAST(CAST($HllBuckets - n_obs AS BIGINT) * $HllScale + s_obs AS DOUBLE), 2) AS hll_est,
       |  CAST($HllBuckets - n_obs AS BIGINT) AS zero_regs""".stripMargin

  /** Harmonic-mean read-off over the 64 registers (absent ⇒ M = 0). */
  private[graft] def hllEstimate(regs: DataFrame): DataFrame =
    regs.groupBy("day").agg(
        count(lit(1)).as("n_obs"),
        sum(expr(s"shiftleft(cast(1 as bigint), $HllRankCap - m)")).as("s_obs"))
      .select(col("day"),
        ((lit(HllBuckets) - col("n_obs")) * lit(HllScale) + col("s_obs")).as("s"),
        (lit(HllBuckets) - col("n_obs")).as("zero_regs"))
      .select(col("day"),
        // literal-by-literal DOUBLE casts (not bare decimal literals):
        // both engines otherwise type 0.709 as DECIMAL and fork/overflow;
        // 0.709 is the standard alpha for m = 64 registers
        expr(s"round(cast(0.709 as double) * cast(${HllBuckets * HllBuckets} as double) * " +
          s"cast($HllScale as double) / cast(s as double), 2)")
          .as("hll_est"),
        col("zero_regs"))

  /** DAU / WAU / stickiness: daily active users, trailing-7-day active
    * users, and their ratio per day. WAU is computed WITHOUT a
    * distinct-over-sliding-window (quadratic in window length at the
    * event level): each distinct (user, day) pair fans out to the ≤7
    * target days it keeps the user active in, and one grouped distinct
    * count per target day finishes it — |users·days|·7 rows through one
    * exchange, the scalable spelling of a rolling-distinct. Days join
    * back to the observed DAU frame so partial tail windows past the
    * last day never appear. */
  def dauWau(spark: SparkSession, dir: String): DataFrame = {
    val ud = Tables(spark, dir, "events")
      .select(col("user_id"), to_date(col("ts")).as("day"))
      .distinct()
    val dau = ud.groupBy("day").agg(countDistinct("user_id").as("dau"))
    val wau = ud
      .select(col("user_id"), explode(sequence(lit(0), lit(6))).as("k"), col("day"))
      .select(col("user_id"), date_add(col("day"), col("k")).as("day"))
      .groupBy("day").agg(countDistinct("user_id").as("wau"))
    dau.join(wau, Seq("day"))
      .select(col("day"), col("dau"), col("wau"),
        round(col("dau") * lit(1.0) / col("wau"), 6).as("stickiness"))
      .orderBy("day")
  }

  /** Week-over-week growth monitor: weekly event volume and value with
    * the previous week's figures and delta/growth via lag — the topline
    * trend table of a product-analytics deployment. Plan: one grouped
    * aggregate collapses the corpus to |weeks| rows (map-side partials
    * behind the shuffle), then the lag window runs over that tiny frame
    * only — the single-partition window never touches raw events. Value
    * sums are exact DECIMAL before the final double cast, so
    * partition/summation order cannot drift the floats; the growth
    * percentage is evaluated as delta·100.0/prev in the same order on
    * both engines under a 1e-4 round. */
  def wowGrowth(spark: SparkSession, dir: String): DataFrame = {
    val weekly = Tables(spark, dir, "events")
      .groupBy(date_trunc("week", col("ts")).cast("date").as("wk"))
      .agg(count(lit(1)).as("n_events"),
        sum(col("value").cast("decimal(18,2)")).cast("double").as("sum_val"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy().orderBy("wk")
    weekly
      .withColumn("prev_events", lag("n_events", 1).over(w))
      .withColumn("delta_events", col("n_events") - col("prev_events"))
      .withColumn("growth_pct",
        round(col("delta_events") * lit(100.0) / col("prev_events"), 4))
      .orderBy("wk")
  }

  /** Experiment arms for the SRM guardrail. */
  val SrmArms = 3

  /** Chi-square critical value at df = SrmArms−1 = 2, α = 0.05. */
  val SrmCritical = 5.991

  /** Sample-ratio-mismatch (SRM) guardrail: users hashed into
    * [[SrmArms]] equal-intent arms (md5 buckets — the stable assignment
    * an experimentation platform uses), arm counts chi-square-tested
    * against the equal split. SRM is THE first validity check an A/B
    * readout must pass — a mismatched split means the assignment or
    * logging is broken and every downstream metric is suspect. The
    * statistic is exact to the last step: with expected T/k, χ² =
    * Σ(k·obsᵢ−T)²/(k·T) — an exact integer numerator and ONE double
    * division, so no float-summation-order contract (the ev_anomaly
    * discipline). Plan: distinct users (one shuffle), a single global
    * aggregate; the chi-square evaluates on a 1-row frame. */
  def experimentSrm(spark: SparkSession, dir: String): DataFrame = {
    val arm = expr(
      "conv(substring(md5(concat('exp1:', cast(user_id as string))), 1, 4), 16, 10)")
      .cast("long") % SrmArms
    val counts = Tables(spark, dir, "events")
      .select(col("user_id")).distinct()
      .select(arm.as("arm"))
      .groupBy()
      .agg(sum(when(col("arm") === 0, 1L).otherwise(0L)).as("n_a"),
        sum(when(col("arm") === 1, 1L).otherwise(0L)).as("n_b"),
        sum(when(col("arm") === 2, 1L).otherwise(0L)).as("n_c"),
        count(lit(1)).as("n_total"))
    // the squared deviations ride DECIMAL(38,0) (DuckDB: HUGEINT) so the
    // numerator stays EXACT past 1.5e9 users, where a Long d² would wrap
    def dev(c: Column) = {
      val d = (c * SrmArms - col("n_total")).cast("decimal(38,0)")
      d * d
    }
    val chi2 = round(
      (dev(col("n_a")) + dev(col("n_b")) + dev(col("n_c"))).cast("double") /
        (col("n_total") * SrmArms), 6)
    counts.select(col("n_a"), col("n_b"), col("n_c"), col("n_total"),
      chi2.as("chi2"),
      when(chi2 > SrmCritical, 1).otherwise(0).as("srm_flag"))
  }

  /** Weekly growth accounting: every active (user, week) classified as
    * new (first-ever week), retained (also active the week before), or
    * resurrected (active before, but not last week), plus the churned
    * count (active last week, absent this week) — the standard
    * growth-accounting ledger where new + retained + resurrected −
    * churned reconciles the WAU delta. Plan: the corpus collapses to
    * the distinct (user, week) frame first (one shuffle with map-side
    * partials); the lag/lead windows run per-user over that frame
    * (each partition is one user's |weeks|-row history, never raw
    * events); weekly counts and the final full-outer stitch touch only
    * |weeks|-row frames. Churn at the horizon is censored against the
    * corpus max week (a 1-row broadcast). Integer counts only — no
    * float contract anywhere. */
  def growthAccounting(spark: SparkSession, dir: String): DataFrame = {
    val uw = Tables(spark, dir, "events")
      .select(col("user_id"),
        date_trunc("week", col("ts")).cast("date").as("wk"))
      .distinct()
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("user_id").orderBy("wk")
    val hist = uw
      .withColumn("prev", lag("wk", 1).over(w))
      .withColumn("next", lead("wk", 1).over(w))
    val active = hist.groupBy("wk").agg(
      sum(when(col("prev").isNull, 1).otherwise(0)).as("n_new"),
      sum(when(datediff(col("wk"), col("prev")) === 7, 1).otherwise(0))
        .as("n_retained"),
      sum(when(col("prev").isNotNull &&
        datediff(col("wk"), col("prev")) > 7, 1).otherwise(0))
        .as("n_resurrected"))
    val maxWk = uw.agg(max("wk").as("max_wk"))
    val churn = hist
      .filter(col("next").isNull || datediff(col("next"), col("wk")) > 7)
      .select(date_add(col("wk"), 7).as("wk"))
      .crossJoin(broadcast(maxWk))
      .filter(col("wk") <= col("max_wk"))
      .groupBy("wk").agg(count(lit(1)).as("n_churned"))
    active.join(churn, Seq("wk"), "full_outer")
      .select(col("wk"),
        coalesce(col("n_new"), lit(0L)).as("n_new"),
        coalesce(col("n_retained"), lit(0L)).as("n_retained"),
        coalesce(col("n_resurrected"), lit(0L)).as("n_resurrected"),
        coalesce(col("n_churned"), lit(0L)).as("n_churned"))
      .orderBy("wk")
  }

  /** Train/test day cutoff for the forecast baseline (the fixture spans
    * 2024-01-01..01-30; 24 train days, 6 test days). */
  val ForecastCutoff = "2024-01-25"

  /** Tukey-fence IQR outlier detection per event type — the classic
    * robust outlier gate (value outside [q1 − 1.5·IQR, q3 + 1.5·IQR]),
    * kept EXACT end to end: quartiles come from the shared integer-rank
    * read-off ([[graft.functions.ExactPercentiles]], the same spelling
    * as the latency percentiles, here at p25/p75 over the floor-bucket
    * histogram), and the fence test is cross-multiplied to integers —
    * `2·v < 2·q1 − 3·IQR` — so no 1.5 ever materializes as a float and
    * both engines classify every row identically. Plan: one grouped
    * histogram (|types|·|buckets| rows), quartile windows over that tiny
    * frame, then a broadcast of the 5-row fence table back onto one
    * corpus scan. The fixture's value distribution is right-skewed:
    * ~90 high outliers per type fire, zero low (spec-pinned shape). */
  def outlierIqr(spark: SparkSession, dir: String): DataFrame = {
    val b = Tables(spark, dir, "events")
      .select(col("event_type"), floor(col("value")).cast("long").as("b"))
    val hist = b.groupBy("event_type", "b").agg(count(lit(1)).as("cnt"))
    val q = graft.functions.ExactPercentiles
      .readoff(hist, "event_type", "b", Seq(25, 75))
      .groupBy("event_type")
      .agg(min(when(col("pct") === 25, col("b"))).as("q1"),
        min(when(col("pct") === 75, col("b"))).as("q3"))
    b.join(broadcast(q), Seq("event_type"))
      .groupBy("event_type", "q1", "q3")
      .agg(count(lit(1)).as("n_rows"),
        sum(when(col("b") * 2 < col("q1") * 2 - (col("q3") - col("q1")) * 3, 1L)
          .otherwise(0L)).as("n_low"),
        sum(when(col("b") * 2 > col("q3") * 2 + (col("q3") - col("q1")) * 3, 1L)
          .otherwise(0L)).as("n_high"))
      .select(col("event_type"), col("q1"), col("q3"),
        (col("q3") - col("q1")).as("iqr"), col("n_rows"),
        col("n_low"), col("n_high"))
      .orderBy("event_type")
  }

  /** Longest consecutive-day activity streak per user — the engagement
    * metric behind every "N-day streak" badge, via the classic
    * gaps-and-islands identity: over each user's DISTINCT active days
    * in order, day − row_number is CONSTANT exactly within a
    * consecutive run, so grouping on that anchor date splits the
    * timeline into islands with no self-join and no recursive walk.
    * Per user: active days, distinct islands, and the longest streak.
    * All date/integer arithmetic; one shuffle on user_id, windows over
    * each user's |days| ≤ 30 rows. */
  def activeStreak(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val byUser = Window.partitionBy("user_id").orderBy("day")
    Tables(spark, dir, "events")
      .select(col("user_id"), to_date(col("ts")).as("day"))
      .distinct()
      .withColumn("anchor", date_sub(col("day"), row_number().over(byUser)))
      .groupBy("user_id", "anchor").agg(count(lit(1)).as("len"))
      .groupBy("user_id")
      .agg(sum("len").as("n_active_days"),
        count(lit(1)).as("n_streaks"),
        max("len").as("longest_streak"))
      .orderBy("user_id")
  }

  /** Trailing window depth of the dyadic EWMA — weights 2^(depth−1−k)
    * for lags k = 0..depth−1, normalized by 2^depth − 1. */
  val EwmaDepth = 8

  /** Exponentially-weighted moving average of hourly volume — the
    * smoother behind every ops dashboard's "trend" line, with the
    * geometric α = 1/2 weights chosen DYADIC so the whole statistic is
    * exact: the numerator Σ lag(cnt,k)·2^(depth−1−k) is an integer
    * window expression (no float accumulates in any order anywhere),
    * and the single normalizing division by 2^depth − 1 = 255 is one
    * exactly-rounded IEEE op — engine-identical, where a conventional
    * recursive EWMA (s_t = α·x + (1−α)·s_{t−1}) compounds float error
    * in sequence order and cannot be window-parallelized at all. Rows
    * without the full trailing history are withheld (the smoother
    * invents nothing). Plan: the corpus collapses to |hours| rows
    * first; the global-order window runs over that tiny frame only —
    * [[anomaly]]'s documented posture. */
  def ewma(spark: SparkSession, dir: String): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window.orderBy("hr")
    val num = (0 until EwmaDepth)
      .map(k => lag(col("cnt"), k).over(w) * lit(1L << (EwmaDepth - 1 - k)))
      .reduce(_ + _)
    Tables(spark, dir, "events")
      .groupBy(date_trunc("hour", col("ts")).as("hr"))
      .agg(count(lit(1)).as("cnt"))
      .withColumn("num", num)
      .filter(col("num").isNotNull)
      .select(col("hr"), col("cnt"),
        expr(s"round(cast(num as double) / cast(${(1 << EwmaDepth) - 1} as double), 6)")
          .as("ewma"))
      .orderBy("hr")
  }

  /** Seasonal-naive forecasting baseline + backtest: the hour-of-day
    * profile fitted on the train days predicts each test (day, hour)
    * cell, scored by MAE per hour — the sanity baseline every real
    * forecasting deployment must beat, and the backtest harness shape
    * (fit on a prefix, score on the holdout) is the actual deliverable.
    * Scale: two aggregates over the hourly frame (|days|·24 rows after
    * the first shuffle) and a 24-row broadcast model join. Determinism:
    * the model means are rounded to a 1e-6 grid and carried as exact
    * DECIMAL, so the |actual − pred| sums are order-independent; the
    * final MAE is one division. */
  def forecastNaive(spark: SparkSession, dir: String): DataFrame = {
    val hourly = Tables(spark, dir, "events")
      .select(to_date(col("ts")).as("day"), hour(col("ts")).as("hod"))
      .groupBy("day", "hod").agg(count(lit(1)).as("cnt"))
    val cutoff = lit(ForecastCutoff).cast("date")
    val model = hourly.filter(col("day") < cutoff)
      .groupBy("hod")
      .agg(round(sum("cnt") * lit(1.0) / count(lit(1)), 6)
        .cast("decimal(18,6)").as("pred"))
    hourly.filter(col("day") >= cutoff)
      .join(broadcast(model), Seq("hod"))
      .groupBy("hod", "pred")
      .agg(count(lit(1)).as("n_test"),
        round(sum(abs(col("cnt").cast("decimal(18,6)") - col("pred")))
          .cast("double") / count(lit(1)), 6).as("mae"))
      .select(col("hod"), col("pred").cast("double").as("pred"),
        col("n_test"), col("mae"))
      .orderBy("hod")
  }

  /** CUPED pre-period cutoff: the month's first half is the covariate
    * window, the second half the experiment window. */
  val CupedCutoff = "2024-01-16"

  /** CUPED variance-reduced experiment readout (Deng et al., WSDM'13):
    * each user's PRE-period purchase count is the covariate for their
    * POST-period metric; θ = cov(pre, post)/var(pre) computed from EXACT
    * BIGINT moment sums (n·Σxy − Σx·Σy over n·Σx² − (Σx)²  — the
    * Moments-aggregate discipline), the cohort difference re-estimated
    * on the adjusted metric, and the achieved variance reduction (ρ²)
    * reported. One |events| scan → |users| frame → 1-row moments; every
    * downstream number is fixed-order arithmetic over those exact sums,
    * so both engines agree bitwise. The ρ² squares are taken in DOUBLE
    * (their BIGINT squares would overflow at fixture scale — by design,
    * the cast happens BEFORE squaring on both engines). */
  def cuped(spark: SparkSession, dir: String): DataFrame = {
    val cut = lit(CupedCutoff).cast("timestamp")
    val isP = col("event_type") === "purchase"
    val per = Tables(spark, dir, "events")
      .groupBy("user_id")
      .agg(sum(when(isP && col("ts") < cut, 1L).otherwise(0L)).as("x"),
        sum(when(isP && col("ts") >= cut, 1L).otherwise(0L)).as("y"))
      .withColumn("c", col("user_id") % 2)
    val s = per.groupBy().agg(
      count(lit(1)).as("n"),
      sum("x").as("sx"), sum("y").as("sy"),
      sum(col("x") * col("y")).as("sxy"),
      sum(col("x") * col("x")).as("sxx"),
      sum(col("y") * col("y")).as("syy"),
      sum(when(col("c") === 0, 1L).otherwise(0L)).as("na"),
      sum(when(col("c") === 0, col("x")).otherwise(0L)).as("sxa"),
      sum(when(col("c") === 0, col("y")).otherwise(0L)).as("sya"),
      sum(when(col("c") === 1, 1L).otherwise(0L)).as("nb"),
      sum(when(col("c") === 1, col("x")).otherwise(0L)).as("sxb"),
      sum(when(col("c") === 1, col("y")).otherwise(0L)).as("syb"))
    val t = s.withColumn("theta",
      (col("n") * col("sxy") - col("sx") * col("sy")).cast("double") /
        (col("n") * col("sxx") - col("sx") * col("sx")).cast("double"))
    val meanDiff = col("sya") * lit(1.0) / col("na") - col("syb") * lit(1.0) / col("nb")
    val adjA = col("sya") * lit(1.0) / col("na") -
      col("theta") * (col("sxa") * lit(1.0) / col("na") - col("sx") * lit(1.0) / col("n"))
    val adjB = col("syb") * lit(1.0) / col("nb") -
      col("theta") * (col("sxb") * lit(1.0) / col("nb") - col("sx") * lit(1.0) / col("n"))
    val covN = (col("n") * col("sxy") - col("sx") * col("sy")).cast("double")
    val varX = (col("n") * col("sxx") - col("sx") * col("sx")).cast("double")
    val varY = (col("n") * col("syy") - col("sy") * col("sy")).cast("double")
    t.select(col("n"), col("na"), col("nb"),
      round(col("theta"), 6).as("theta"),
      round(meanDiff, 6).as("diff_raw"),
      round(adjA - adjB, 6).as("diff_cuped"),
      round(covN * covN / (varX * varY) * 100.0, 6).as("var_reduction_pct"))
  }

  /** Bounce rate per session entry type: sessions ([[sessionize]]'s
    * exact gap semantics, shared constant) keyed by their FIRST event's
    * type; a one-event session is a bounce. The entry type rides the
    * same (t_us, event_id)-ordered window that numbers the sessions
    * (min of a (t_us, event_id, type) struct per session — no second
    * shuffle), then a |types|-bounded census. Rates are exact-count
    * ratios rounded to 1e-6. */
  def bounceRate(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val byUser = Window.partitionBy("user_id").orderBy("t_us", "event_id")
    val run = byUser.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    Tables(spark, dir, "events")
      .select(col("event_id"), col("user_id"), col("event_type"),
        unix_micros(col("ts")).as("t_us"))
      .withColumn("new_s",
        when(col("t_us") - lag("t_us", 1).over(byUser) > SessionGapUs, 1L)
          .otherwise(lit(0L)))
      .withColumn("session_no", sum("new_s").over(run))
      .groupBy("user_id", "session_no")
      .agg(count(lit(1)).as("n_events"),
        min(struct(col("t_us"), col("event_id"), col("event_type")))
          .getField("event_type").as("entry_type"))
      .groupBy("entry_type")
      .agg(count(lit(1)).as("n_sessions"),
        sum(when(col("n_events") === 1, 1L).otherwise(0L)).as("n_bounces"))
      .select(col("entry_type"), col("n_sessions"), col("n_bounces"),
        round(col("n_bounces") * lit(1.0) / col("n_sessions"), 6).as("bounce_rate"))
      .orderBy("entry_type")
  }

  /** Cohort LTV matrix — the value-weighted sibling of
    * [[retentionMatrix]]: users cohorted by FIRST-purchase day, each
    * later purchase's value accruing to the (cohort, age-in-days) cell,
    * plus the running cumulative LTV per cohort. Two shuffles to the
    * |cohorts|×|ages| matrix; the cumulative window runs over that tiny
    * aggregated frame, never the event log. Value mass stays exact
    * DECIMAL through the cumulative sum, so the running totals are
    * order-independent and engine-identical. */
  def ltvMatrix(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val p = Tables(spark, dir, "events")
      .filter(col("event_type") === "purchase")
      .select(col("user_id"), to_date(col("ts")).as("day"),
        col("value").cast("decimal(18,2)").as("v"))
    val cohort = p.groupBy("user_id").agg(min("day").as("c_day"))
    val cells = p.join(cohort, Seq("user_id"))
      .groupBy(col("c_day").as("cohort_day"),
        datediff(col("day"), col("c_day")).as("age_d"))
      .agg(sum(col("v")).as("rev"))
    val cum = Window.partitionBy("cohort_day").orderBy("age_d")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    cells.withColumn("cum_ltv", sum("rev").over(cum))
      .select(col("cohort_day"), col("age_d"),
        col("rev").cast("double").as("rev"),
        col("cum_ltv").cast("double").as("cum_ltv"))
      .orderBy("cohort_day", "age_d")
  }

  /** Relative lifts the power analysis prices, and the standard
    * two-sided α=.05 / power=.80 z constants (1.959964, 0.841621 —
    * fixed public quantiles, interpolated into both engines as
    * literals so no inverse-normal libm call exists anywhere). */
  val PowerLifts = Seq(2, 5, 10) // percent
  val PowerZAlpha = 1.959964
  val PowerZBeta = 0.841621

  /** Experiment power analysis — the third leg of the A/B harness
    * (ev_ab_test measures, ev_cuped sharpens, this PLANS): for the
    * fixture's measured baseline conversion rate, the per-arm sample
    * size needed to detect a 2/5/10% relative lift at α=.05,
    * power=.80 — n = (z_α+z_β)²·2·p̄(1−p̄)/δ². One |users| aggregate
    * produces the baseline; the table is 3 rows of fixed-order
    * arithmetic over it, ceil'd to integers so the cross-engine hash
    * sees no raw float tails. */
  def powerAnalysis(spark: SparkSession, dir: String): DataFrame = {
    val base = Tables(spark, dir, "events")
      .groupBy(col("user_id"))
      .agg(when(sum(when(col("event_type") === "purchase", 1L).otherwise(0L))
        >= AbConvThreshold, 1L).otherwise(0L).as("conv"))
      .agg(count(lit(1)).as("n_users"), sum("conv").as("n_conv"))
    val p = col("n_conv") * lit(1.0) / col("n_users")
    val frames = PowerLifts.map { liftPct =>
      val delta = p * (liftPct / 100.0)
      val zsum = PowerZAlpha + PowerZBeta
      val nArm = ceil(lit(zsum * zsum) * lit(2.0) * p * (lit(1.0) - p) /
        (delta * delta)).cast("long")
      base.select(lit(liftPct).as("lift_pct"),
        round(p, 6).as("baseline_rate"),
        round(delta, 6).as("abs_delta"),
        nArm.as("n_per_arm"))
    }
    frames.reduce(_ unionByName _).orderBy("lift_pct")
  }

  /** AS-OF enrichment through the custom whole-operator tier
    * ([[graft.plans.AsOf]], round 16): every purchase joined to the
    * same user's most recent prior (or simultaneous) click — one
    * clustered exchange per side, then a single forward merge pass per
    * partition (O(|L|+|R|), O(1) live rows), where the built-in
    * spellings pay a per-left row-set (range join) or a full union
    * window sort. The click side is deduplicated per (user, micros)
    * first so the as-of match is UNIQUE — the determinism discipline
    * the DuckDB native `ASOF LEFT JOIN` oracle needs too, making this
    * the rare custom-exec query the oracle gates with its own native
    * operator rather than a re-derivation. */
  def asofEnrich(spark: SparkSession, dir: String): DataFrame = {
    val purchases = asofPurchases(spark, dir)
    val clicks = asofClicks(spark, dir)
    graft.plans.AsOf.join(purchases, clicks,
        Seq("user_id" -> "c_user"), "t_us", "c_us")
      .select(col("event_id"), col("user_id"), col("t_us"), col("value"),
        col("click_id"), col("c_us").as("click_us"), col("click_value"))
      .orderBy("event_id")
  }

  /** Tolerance in micros for [[asofForward]]'s match window (1 hour). */
  val AsOfForwardTolUs: Long = 3600000000L

  /** The as-of queries' LEFT side: purchase events with event-time
    * micros — shared by [[asofEnrich]] and [[asofForward]] (the
    * streaming dual derives the same frame from its feed). */
  private[graft] def asofPurchases(spark: SparkSession, dir: String): DataFrame =
    Tables(spark, dir, "events")
      .filter(col("event_type") === "purchase")
      .select(col("event_id"), col("user_id"),
        unix_micros(col("ts")).as("t_us"), col("value"))

  /** The as-of queries' RIGHT side, ONE definition for the batch pair
    * and the streaming dual's static table: clicks deduplicated per
    * (user, micros) so the as-of match is unique. The single
    * `repartition(user_id)` shuffle satisfies both the dedup agg's
    * clustering and the as-of exec's key distribution, so the frame
    * flows into the join with no second exchange (ledger-pinned
    * Exchange=3). */
  private[graft] def asofClicks(spark: SparkSession, dir: String): DataFrame =
    Tables(spark, dir, "events")
      .filter(col("event_type") === "click")
      .repartition(col("user_id"))
      .groupBy(col("user_id").as("c_user"), unix_micros(col("ts")).as("c_us"))
      .agg(max(col("event_id")).as("click_id"), max(col("value")).as("click_value"))

  /** The as-of enrichment a THIRD way: as an `ASOF LEFT JOIN` SQL
    * STRING through the injected parser + resolution rule
    * ([[graft.plans.GraftSqlParser]] / [[graft.plans.ResolveAsOfJoin]]),
    * on an extensions-enabled session — the full library-on-a-cluster
    * path (`spark.sql.extensions`) end to end: custom syntax → custom
    * logical node → custom exec, rows identical to [[asofEnrich]] and
    * the oracle is DuckDB's native ASOF LEFT JOIN a third time. */
  def asofSqlEntry(spark: SparkSession, dir: String): DataFrame = {
    val s = graft.Sessions.withExtensions(spark)
    asofPurchases(s, dir).createOrReplaceTempView("graft_asof_p")
    asofClicks(s, dir).createOrReplaceTempView("graft_asof_c")
    s.sql(
      """SELECT p.event_id, p.user_id, p.t_us, p.value,
        |       c.click_id, c.c_us AS click_us, c.click_value
        |FROM graft_asof_p p ASOF LEFT JOIN graft_asof_c c
        |  ON p.user_id = c.c_user AND p.t_us >= c.c_us
        |ORDER BY p.event_id""".stripMargin)
  }

  /** The bounded (tolerance) as-of a FOURTH way (round 17, VERDICT r16
    * #3): the backward enrichment with a 1-hour staleness bound, written
    * as plain SQL — the tolerance rides the ON clause as the natural
    * conjunct `p.t_us - c.c_us <= N`, which [[graft.plans.ResolveAsOfJoin]]
    * lifts into the exec's `toleranceUs` instead of rejecting as a mixed
    * predicate. DuckDB's native ASOF carries no tolerance, so the oracle
    * re-derives the match with a bounded range join + per-left argmax —
    * exactly the composition the exec avoids. */
  def asofTolSqlEntry(spark: SparkSession, dir: String): DataFrame = {
    val s = graft.Sessions.withExtensions(spark)
    asofPurchases(s, dir).createOrReplaceTempView("graft_asof_p")
    asofClicks(s, dir).createOrReplaceTempView("graft_asof_c")
    s.sql(
      s"""SELECT p.event_id, p.user_id, p.t_us, p.value,
         |       c.click_id, c.c_us AS click_us, c.click_value
         |FROM graft_asof_p p ASOF LEFT JOIN graft_asof_c c
         |  ON p.user_id = c.c_user AND p.t_us >= c.c_us
         |     AND p.t_us - c.c_us <= $AsOfForwardTolUs
         |ORDER BY p.event_id""".stripMargin)
  }

  /** Impact-window width for [[intervalOverlap]] (1 hour in micros). */
  val ImpactWindowUs: Long = 3600000000L

  /** One event type as per-user IMPACT-WINDOW intervals
    * `[t, t + ImpactWindowUs]`, prefixed — the two sides of
    * [[intervalOverlap]]. */
  private[graft] def impactWindows(spark: SparkSession, dir: String,
      etype: String, p: String): DataFrame =
    Tables(spark, dir, "events")
      .filter(col("event_type") === etype)
      .select(col("user_id").as(s"${p}user"), col("event_id").as(s"${p}id"),
        unix_micros(col("ts")).as(s"${p}start"),
        (unix_micros(col("ts")) + ImpactWindowUs).as(s"${p}end"))

  /** INTERVAL OVERLAP through the custom plane-sweep tier
    * ([[graft.plans.Interval]], round 16): per user, every (click,
    * error) pair whose 1-hour impact windows overlap, with the overlap
    * width — the incident-correlation question ("which clicks landed
    * inside an error's blast radius?"). Spark plans an overlap predicate
    * as a same-key equi-join with the range residual as a POST-FILTER —
    * per-key quadratic; the sweep exec is O(|L|+|R|+output) with live
    * memory bounded by peak interval concurrency. The DuckDB oracle runs
    * the same overlap predicate through its own IEJoin machinery —
    * again a custom exec gated by the other engine's native range-join
    * path. */
  def intervalOverlap(spark: SparkSession, dir: String): DataFrame = {
    val c = impactWindows(spark, dir, "click", "c_")
    val e = impactWindows(spark, dir, "error", "e_")
    graft.plans.Interval.join(c, e, Seq("c_user" -> "e_user"),
        ("c_start", "c_end"), ("e_start", "e_end"))
      .select(col("c_user").as("user_id"),
        col("c_id").as("click_id"), col("e_id").as("error_id"),
        (least(col("c_end"), col("e_end")) -
          greatest(col("c_start"), col("e_start"))).as("overlap_us"))
      .orderBy("user_id", "click_id", "error_id")
  }

  /** [[intervalOverlap]] as an `INTERVAL JOIN` SQL STRING through the
    * injected parser (round 17, VERDICT r16 #3 — the plane-sweep tier's
    * SQL surface, completing what [[asofSqlEntry]] proved for the merge
    * tier): custom syntax → [[graft.plans.UnresolvedIntervalJoin]] →
    * [[graft.plans.ResolveIntervalJoin]] → the same plane-sweep exec,
    * rows identical to the DSL twin and the oracle is the identical
    * DuckDB IEJoin query. */
  def intervalSqlEntry(spark: SparkSession, dir: String): DataFrame = {
    val s = graft.Sessions.withExtensions(spark)
    impactWindows(s, dir, "click", "c_").createOrReplaceTempView("graft_ivl_c")
    impactWindows(s, dir, "error", "e_").createOrReplaceTempView("graft_ivl_e")
    s.sql(
      """SELECT c.c_user AS user_id, c.c_id AS click_id, e.e_id AS error_id,
        |       least(c.c_end, e.e_end) - greatest(c.c_start, e.e_start) AS overlap_us
        |FROM graft_ivl_c c INTERVAL JOIN graft_ivl_e e
        |  ON c.c_user = e.e_user AND e.e_start <= c.c_end AND e.e_end >= c.c_start
        |ORDER BY user_id, click_id, error_id""".stripMargin)
  }

  /** The FORWARD + TOLERANCE face of the same custom operator (pandas
    * `merge_asof(direction='forward', tolerance=...)` surface): every
    * purchase joined to the same user's NEXT click, but only if it lands
    * within [[AsOfForwardTolUs]] — the attribution-window shape ("did a
    * click follow within the hour?"). Same merge exec, same single
    * exchange per side; the forward scan PEEKS its candidate instead of
    * consuming it (the next left row may need the same one). The oracle
    * has no native forward ASOF in DuckDB — it re-derives the match with
    * a bounded range join + per-left min, which is exactly the
    * composition the exec exists to avoid. */
  def asofForward(spark: SparkSession, dir: String): DataFrame = {
    val purchases = asofPurchases(spark, dir)
    val clicks = asofClicks(spark, dir)
    graft.plans.AsOf.join(purchases, clicks,
        Seq("user_id" -> "c_user"), "t_us", "c_us",
        forward = true, toleranceUs = Some(AsOfForwardTolUs))
      .select(col("event_id"), col("user_id"), col("t_us"), col("value"),
        col("click_id"), col("c_us").as("click_us"), col("click_value"))
      .orderBy("event_id")
  }

  /** Time-to-convert distribution: per user, the lag from first signup
    * to first subsequent purchase, bucketed in whole hours with an
    * open-ended 48h+ tail — the timing histogram behind [[funnel]]'s
    * stage counts (how LONG conversion takes, not just whether). Same
    * conditional-min shape as the funnel (one |events| aggregate, no
    * joins), then a |buckets|-bounded census. Exact integer micros
    * throughout. */
  def conversionLag(spark: SparkSession, dir: String): DataFrame = {
    val firsts = Tables(spark, dir, "events")
      .groupBy("user_id")
      .agg(
        min(when(col("event_type") === "signup", unix_micros(col("ts")))).as("t_s"),
        min(when(col("event_type") === "purchase", unix_micros(col("ts")))).as("t_p"))
      .filter(col("t_s").isNotNull && col("t_p") > col("t_s"))
    firsts
      .select(least(expr("(t_p - t_s) div 3600000000"), lit(48L)).as("lag_h"))
      .groupBy("lag_h")
      .agg(count(lit(1)).as("n_users"))
      .orderBy("lag_h")
  }

  /** SLO error budget: the fixture's error share is ~20%, so the
    * target is 80% non-error — budget 0.2. */
  val SloBudget = 0.2

  /** Error-budget burn-rate monitor (the SRE multiwindow alert): per
    * hour, the error rate over the event mix, the 1-hour and trailing
    * 6-hour burn rates against the [[SloBudget]], and the
    * fast-AND-slow-window alert rule (short window catches the spike,
    * long window suppresses flapping). The rolling mean runs over the
    * |hours| aggregated frame ordered by hour — a ≤6-row frame per row,
    * never the event log. Rates are exact-count ratios; the 6-window
    * mean sums those identical doubles in frame order on both engines. */
  def sloBurn(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val hourly = Tables(spark, dir, "events")
      .groupBy(date_trunc("hour", col("ts")).as("hr"))
      .agg(sum(when(col("event_type") === "error", 1L).otherwise(0L)).as("n_err"),
        count(lit(1)).as("n_all"))
      .withColumn("rate", col("n_err") * lit(1.0) / col("n_all"))
    val w6 = Window.orderBy("hr").rowsBetween(-5, Window.currentRow)
    hourly
      .withColumn("burn_1h", round(col("rate") / SloBudget, 6))
      .withColumn("burn_6h",
        round((sum("rate").over(w6) / count(lit(1)).over(w6)) / SloBudget, 6))
      .withColumn("alert", col("burn_1h") > 1.2 && col("burn_6h") > 1.0)
      .select(col("hr"), col("n_err"), col("n_all"),
        round(col("rate"), 6).as("rate"),
        col("burn_1h"), col("burn_6h"), col("alert"))
      .orderBy("hr")
  }

  /** Window lengths (hours) the funnel sweep prices. */
  val FunnelSweepHours = Seq(1L, 2L, 4L)

  /** Conversion-window decision sweep — [[funnelWindowed]]'s fixed 2 h
    * window priced at 1/2/4 h: per candidate window, the stage-wise
    * conversion counts. The table a funnel designer reads before fixing
    * the window (too short undercounts slow converters, too long
    * attributes unrelated purchases); cost is |windows| passes of the
    * registered funnel machinery, each the same three user-keyed
    * aggregates. The 2 h row equals `ev_funnel_windowed` by shared
    * construction. */
  def funnelWindowSweep(spark: SparkSession, dir: String): DataFrame = {
    val ev = Tables(spark, dir, "events")
      .select(col("user_id"), col("event_type"), unix_micros(col("ts")).as("t_us"))
    val s = ev.filter(col("event_type") === "signup")
      .groupBy("user_id").agg(min("t_us").as("t_s"))
    val frames = FunnelSweepHours.map { h =>
      val wUs = h * 3600L * 1000000L
      val c = ev.filter(col("event_type") === "click")
        .join(s, Seq("user_id"))
        .filter(col("t_us") > col("t_s") && col("t_us") <= col("t_s") + wUs)
        .groupBy("user_id").agg(min("t_us").as("t_c"))
      val p = ev.filter(col("event_type") === "purchase")
        .join(c, Seq("user_id"))
        .filter(col("t_us") > col("t_c") && col("t_us") <= col("t_c") + wUs)
        .groupBy("user_id").agg(min("t_us").as("t_p"))
      s.join(c, Seq("user_id"), "left").join(p, Seq("user_id"), "left")
        .agg(count(lit(1)).as("n_signup"),
          count(col("t_c")).as("n_click_w"),
          count(col("t_p")).as("n_purchase_w"))
        .select(lit(h).as("window_h"), col("n_signup"),
          col("n_click_w"), col("n_purchase_w"))
    }
    frames.reduce(_ unionByName _).orderBy("window_h")
  }

  /** Traffic heatmap — counts per (Sunday-first day-of-week 1..7,
    * hour-of-day): the weekly seasonality profile behind
    * [[forecastNaive]]'s hour-of-day model and the first chart every
    * traffic dashboard draws. One grouped count into a ≤168-cell frame.
    * `dow` follows Spark `dayofweek()` / DuckDB `EXTRACT(DOW)+1`
    * numbering (Sunday=1 .. Saturday=7), NOT ISO Monday-first. */
  def trafficHeatmap(spark: SparkSession, dir: String): DataFrame = {
    Tables(spark, dir, "events")
      .groupBy(dayofweek(col("ts")).as("dow"), hour(col("ts")).as("hod"))
      .agg(count(lit(1)).as("n_events"),
        countDistinct(col("user_id")).as("n_users"))
      .orderBy("dow", "hod")
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "ev_traffic_heatmap" -> (trafficHeatmap _),
    "ev_funnel_window_sweep" -> (funnelWindowSweep _),
    "ev_slo_burn" -> (sloBurn _),
    "ev_conversion_lag" -> (conversionLag _),
    "ev_power_analysis" -> (powerAnalysis _),
    "ev_ltv_matrix" -> (ltvMatrix _),
    "ev_bounce_rate" -> (bounceRate _),
    "ev_cuped" -> (cuped _),
    "ev_forecast_naive" -> (forecastNaive _),
    "ev_ewma" -> (ewma _),
    "ev_outlier_iqr" -> (outlierIqr _),
    "ev_wow_growth" -> (wowGrowth _),
    "ev_growth_accounting" -> (growthAccounting _),
    "ev_experiment_srm" -> (experimentSrm _),
    "ev_ab_test" -> (abTest _),
    "ev_dau_wau" -> (dauWau _),
    "ev_dau_hll" -> (dauHll _),
    "ev_path_trigrams" -> (pathTrigrams _),
    "ev_attribution" -> (attribution _),
    "ev_rfm" -> (rfm _),
    "ev_paths" -> (paths _),
    "ev_hourly_dense" -> (hourlyDense _),
    "ev_retention" -> (retention _),
    "ev_retention_matrix" -> (retentionMatrix _),
    "ev_funnel" -> (funnel _),
    "ev_funnel_windowed" -> (funnelWindowed _),
    "ev_json_extract" -> (jsonExtract _),
    "ev_json_path" -> (jsonPath _),
    "ev_variant" -> (variantExtract _),
    "ev_hourly_agg" -> (hourlyAgg _),
    "ev_anomaly" -> (anomaly _),
    "ev_zorder" -> (zorder _),
    "ev_histogram" -> (histogram _),
    "ev_lateness" -> (lateness _),
    "ev_watermark_tradeoff" -> (watermarkTradeoff _),
    "ev_reaggregate" -> (reaggregate _),
    "ev_sessionize" -> (sessionize _),
    "ev_peak_concurrency" -> (peakConcurrency _),
    "ev_active_streak" -> (activeStreak _),
    "ev_asof_enrich" -> (asofEnrich _),
    "ev_asof_forward" -> (asofForward _),
    "ev_asof_sql" -> (asofSqlEntry _),
    "ev_asof_tol_sql" -> (asofTolSqlEntry _),
    "ev_interval_join" -> (intervalOverlap _),
    "ev_interval_sql" -> (intervalSqlEntry _))

  /** Shared by `ev_interval_join` and `ev_interval_sql` (round 17): the
    * SQL spelling routes through the SAME plane-sweep exec, so the
    * identical DuckDB IEJoin query gates both. */
  private val IntervalOverlapOracle: String =
    s"""WITH c AS (SELECT user_id, event_id AS click_id, epoch_us(ts) AS c_s,
       |             epoch_us(ts) + $ImpactWindowUs AS c_e
       |           FROM events WHERE event_type = 'click'),
       |e AS (SELECT user_id AS e_user, event_id AS error_id, epoch_us(ts) AS e_s,
       |        epoch_us(ts) + $ImpactWindowUs AS e_e
       |      FROM events WHERE event_type = 'error')
       |SELECT c.user_id, c.click_id, e.error_id,
       |       least(c.c_e, e.e_e) - greatest(c.c_s, e.e_s) AS overlap_us
       |FROM c JOIN e ON c.user_id = e.e_user
       |  AND e.e_s <= c.c_e AND e.e_e >= c.c_s
       |ORDER BY 1, 2, 3""".stripMargin

  val oracles: Map[String, String] = Map(
    // the native-ASOF oracle a third time: parser-injected SQL syntax
    // must not change a single match
    "ev_asof_sql" ->
      """WITH p AS (SELECT event_id, user_id, epoch_us(ts) AS t_us, value
        |           FROM events WHERE event_type = 'purchase'),
        |c AS (SELECT user_id AS c_user, epoch_us(ts) AS c_us,
        |        max(event_id) AS click_id, max(value) AS click_value
        |      FROM events WHERE event_type = 'click' GROUP BY 1, 2)
        |SELECT p.event_id, p.user_id, p.t_us, p.value,
        |       c.click_id, c.c_us AS click_us, c.click_value
        |FROM p ASOF LEFT JOIN c
        |  ON p.user_id = c.c_user AND p.t_us >= c.c_us
        |ORDER BY p.event_id""".stripMargin,
    // DuckDB's native ASOF has no tolerance clause: re-derive the bounded
    // backward match as a range join + per-left argmax — exactly the
    // composition the custom exec exists to avoid paying
    "ev_asof_tol_sql" ->
      s"""WITH p AS (SELECT event_id, user_id, epoch_us(ts) AS t_us, value
         |           FROM events WHERE event_type = 'purchase'),
         |c AS (SELECT user_id AS c_user, epoch_us(ts) AS c_us,
         |        max(event_id) AS click_id, max(value) AS click_value
         |      FROM events WHERE event_type = 'click' GROUP BY 1, 2),
         |j AS (SELECT p.event_id, max(c.c_us) AS m_us
         |      FROM p JOIN c ON p.user_id = c.c_user
         |        AND c.c_us <= p.t_us
         |        AND p.t_us - c.c_us <= $AsOfForwardTolUs
         |      GROUP BY 1)
         |SELECT p.event_id, p.user_id, p.t_us, p.value,
         |       c.click_id, c.c_us AS click_us, c.click_value
         |FROM p LEFT JOIN j USING (event_id)
         |       LEFT JOIN c ON c.c_user = p.user_id AND c.c_us = j.m_us
         |ORDER BY p.event_id""".stripMargin,
    "ev_interval_join" -> IntervalOverlapOracle,
    "ev_interval_sql" -> IntervalOverlapOracle,
    "ev_asof_forward" ->
      s"""WITH p AS (SELECT event_id, user_id, epoch_us(ts) AS t_us, value
         |           FROM events WHERE event_type = 'purchase'),
         |c AS (SELECT user_id AS c_user, epoch_us(ts) AS c_us,
         |        max(event_id) AS click_id, max(value) AS click_value
         |      FROM events WHERE event_type = 'click' GROUP BY 1, 2),
         |j AS (SELECT p.event_id, min(c.c_us) AS m_us
         |      FROM p JOIN c ON p.user_id = c.c_user
         |        AND c.c_us >= p.t_us
         |        AND c.c_us - p.t_us <= $AsOfForwardTolUs
         |      GROUP BY 1)
         |SELECT p.event_id, p.user_id, p.t_us, p.value,
         |       c.click_id, c.c_us AS click_us, c.click_value
         |FROM p LEFT JOIN j USING (event_id)
         |       LEFT JOIN c ON c.c_user = p.user_id AND c.c_us = j.m_us
         |ORDER BY p.event_id""".stripMargin,
    "ev_asof_enrich" ->
      """WITH p AS (SELECT event_id, user_id, epoch_us(ts) AS t_us, value
        |           FROM events WHERE event_type = 'purchase'),
        |c AS (SELECT user_id AS c_user, epoch_us(ts) AS c_us,
        |        max(event_id) AS click_id, max(value) AS click_value
        |      FROM events WHERE event_type = 'click' GROUP BY 1, 2)
        |SELECT p.event_id, p.user_id, p.t_us, p.value,
        |       c.click_id, c.c_us AS click_us, c.click_value
        |FROM p ASOF LEFT JOIN c
        |  ON p.user_id = c.c_user AND p.t_us >= c.c_us
        |ORDER BY p.event_id""".stripMargin,
    "ev_experiment_srm" -> {
      val nib = graft.text.TextAnalysis.nibSql(
        "'exp1:' || CAST(user_id AS VARCHAR)", 4)
      def dev(c: String) =
        s"CAST($SrmArms*$c - n_total AS HUGEINT)*($SrmArms*$c - n_total)"
      s"""WITH u AS (SELECT DISTINCT user_id FROM events),
         |a AS (SELECT ($nib) % $SrmArms AS arm FROM u),
         |c AS (SELECT
         |  CAST(sum(CASE WHEN arm = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_a,
         |  CAST(sum(CASE WHEN arm = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_b,
         |  CAST(sum(CASE WHEN arm = 2 THEN 1 ELSE 0 END) AS BIGINT) AS n_c,
         |  CAST(count(*) AS BIGINT) AS n_total FROM a)
         |SELECT n_a, n_b, n_c, n_total,
         |  round(CAST(${dev("n_a")} + ${dev("n_b")} + ${dev("n_c")}
         |    AS DOUBLE) / ($SrmArms * n_total), 6) AS chi2,
         |  CASE WHEN round(CAST(${dev("n_a")} + ${dev("n_b")} + ${dev("n_c")}
         |    AS DOUBLE) / ($SrmArms * n_total), 6) > $SrmCritical
         |  THEN 1 ELSE 0 END AS srm_flag
         |FROM c""".stripMargin
    },
    "ev_growth_accounting" ->
      """WITH uw AS (
        |  SELECT DISTINCT user_id, CAST(date_trunc('week', ts) AS DATE) AS wk
        |  FROM events),
        |hist AS (
        |  SELECT user_id, wk,
        |    lag(wk) OVER (PARTITION BY user_id ORDER BY wk) AS prev,
        |    lead(wk) OVER (PARTITION BY user_id ORDER BY wk) AS next
        |  FROM uw),
        |active AS (
        |  SELECT wk,
        |    CAST(sum(CASE WHEN prev IS NULL THEN 1 ELSE 0 END) AS BIGINT)
        |      AS n_new,
        |    CAST(sum(CASE WHEN date_diff('day', prev, wk) = 7
        |      THEN 1 ELSE 0 END) AS BIGINT) AS n_retained,
        |    CAST(sum(CASE WHEN prev IS NOT NULL
        |      AND date_diff('day', prev, wk) > 7
        |      THEN 1 ELSE 0 END) AS BIGINT) AS n_resurrected
        |  FROM hist GROUP BY wk),
        |mx AS (SELECT max(wk) AS max_wk FROM uw),
        |churn AS (
        |  SELECT wk + 7 AS wk, CAST(count(*) AS BIGINT) AS n_churned
        |  FROM hist CROSS JOIN mx
        |  WHERE (next IS NULL OR date_diff('day', wk, next) > 7)
        |    AND wk + 7 <= max_wk
        |  GROUP BY 1)
        |SELECT COALESCE(a.wk, c.wk) AS wk,
        |  COALESCE(n_new, 0) AS n_new,
        |  COALESCE(n_retained, 0) AS n_retained,
        |  COALESCE(n_resurrected, 0) AS n_resurrected,
        |  COALESCE(n_churned, 0) AS n_churned
        |FROM active a FULL JOIN churn c ON a.wk = c.wk
        |ORDER BY wk""".stripMargin,
    "ev_wow_growth" ->
      """WITH weekly AS (
        |  SELECT CAST(date_trunc('week', ts) AS DATE) AS wk,
        |    CAST(count(*) AS BIGINT) AS n_events,
        |    CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_val
        |  FROM events GROUP BY 1)
        |SELECT wk, n_events, sum_val,
        |  lag(n_events) OVER (ORDER BY wk) AS prev_events,
        |  n_events - lag(n_events) OVER (ORDER BY wk) AS delta_events,
        |  round((n_events - lag(n_events) OVER (ORDER BY wk)) * 100.0
        |        / lag(n_events) OVER (ORDER BY wk), 4) AS growth_pct
        |FROM weekly ORDER BY wk""".stripMargin,
    "ev_traffic_heatmap" ->
      """SELECT CAST(EXTRACT(DOW FROM ts) + 1 AS INTEGER) AS dow,
        |  CAST(EXTRACT(HOUR FROM ts) AS INTEGER) AS hod,
        |  CAST(count(*) AS BIGINT) AS n_events,
        |  CAST(count(DISTINCT user_id) AS BIGINT) AS n_users
        |FROM events GROUP BY 1, 2 ORDER BY dow, hod""".stripMargin,
    "ev_funnel_window_sweep" -> {
      val blocks = FunnelSweepHours.map { h =>
        val wUs = h * 3600L * 1000000L
        s"""SELECT $h AS window_h,
           |  CAST(count(*) AS BIGINT) AS n_signup,
           |  CAST(count(c.t_c) AS BIGINT) AS n_click_w,
           |  CAST(count(p.t_p) AS BIGINT) AS n_purchase_w
           |FROM s
           |LEFT JOIN (SELECT e.user_id, min(e.t_us) AS t_c
           |           FROM e JOIN s USING (user_id)
           |           WHERE e.event_type = 'click'
           |             AND e.t_us > t_s AND e.t_us <= t_s + $wUs
           |           GROUP BY e.user_id) c USING (user_id)
           |LEFT JOIN (SELECT e.user_id, min(e.t_us) AS t_p
           |           FROM e JOIN (SELECT e2.user_id, min(e2.t_us) AS t_c
           |                        FROM e e2 JOIN s USING (user_id)
           |                        WHERE e2.event_type = 'click'
           |                          AND e2.t_us > t_s AND e2.t_us <= t_s + $wUs
           |                        GROUP BY e2.user_id) cc USING (user_id)
           |           WHERE e.event_type = 'purchase'
           |             AND e.t_us > cc.t_c AND e.t_us <= cc.t_c + $wUs
           |           GROUP BY e.user_id) p USING (user_id)""".stripMargin
      }.mkString("\nUNION ALL\n")
      s"""WITH e AS (SELECT user_id, event_type, epoch_us(ts) AS t_us FROM events),
         |s AS (SELECT user_id, min(t_us) AS t_s FROM e
         |      WHERE event_type = 'signup' GROUP BY user_id)
         |$blocks
         |ORDER BY window_h""".stripMargin
    },
    "ev_slo_burn" ->
      s"""WITH h AS (
         |  SELECT date_trunc('hour', ts) AS hr,
         |    CAST(sum(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END) AS BIGINT) AS n_err,
         |    CAST(count(*) AS BIGINT) AS n_all
         |  FROM events GROUP BY 1),
         |r AS (
         |  SELECT hr, n_err, n_all,
         |    n_err * CAST(1.0 AS DOUBLE) / n_all AS rate
         |  FROM h),
         |b AS (
         |  SELECT hr, n_err, n_all, rate,
         |    round(rate / CAST($SloBudget AS DOUBLE), 6) AS burn_1h,
         |    round((sum(rate) OVER w / count(*) OVER w) / CAST($SloBudget AS DOUBLE), 6) AS burn_6h
         |  FROM r
         |  WINDOW w AS (ORDER BY hr ROWS BETWEEN 5 PRECEDING AND CURRENT ROW))
         |SELECT hr, n_err, n_all, round(rate, 6) AS rate, burn_1h, burn_6h,
         |  burn_1h > 1.2 AND burn_6h > 1.0 AS alert
         |FROM b ORDER BY hr""".stripMargin,
    "ev_conversion_lag" ->
      """WITH f AS (
        |  SELECT user_id,
        |    min(CASE WHEN event_type = 'signup' THEN epoch_us(ts) END) AS t_s,
        |    min(CASE WHEN event_type = 'purchase' THEN epoch_us(ts) END) AS t_p
        |  FROM events GROUP BY user_id)
        |SELECT least((t_p - t_s) // 3600000000, 48) AS lag_h,
        |  CAST(count(*) AS BIGINT) AS n_users
        |FROM f WHERE t_s IS NOT NULL AND t_p > t_s
        |GROUP BY 1 ORDER BY lag_h""".stripMargin,
    "ev_power_analysis" -> {
      val zsum2 = (PowerZAlpha + PowerZBeta) * (PowerZAlpha + PowerZBeta)
      val blocks = PowerLifts.map { liftPct =>
        s"""SELECT $liftPct AS lift_pct,
           |  round(p, 6) AS baseline_rate,
           |  round(p * CAST(${liftPct / 100.0} AS DOUBLE), 6) AS abs_delta,
           |  CAST(ceil(CAST($zsum2 AS DOUBLE) * CAST(2.0 AS DOUBLE) * p * (CAST(1.0 AS DOUBLE) - p) /
           |    ((p * CAST(${liftPct / 100.0} AS DOUBLE)) * (p * CAST(${liftPct / 100.0} AS DOUBLE))))
           |    AS BIGINT) AS n_per_arm
           |FROM b""".stripMargin
      }.mkString("\nUNION ALL\n")
      s"""WITH pu AS (
         |  SELECT user_id,
         |    CASE WHEN sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
         |              >= $AbConvThreshold THEN 1 ELSE 0 END AS conv
         |  FROM events GROUP BY user_id),
         |b AS (
         |  SELECT sum(conv) * CAST(1.0 AS DOUBLE) / count(*) AS p FROM pu)
         |$blocks
         |ORDER BY lift_pct""".stripMargin
    },
    "ev_ltv_matrix" ->
      """WITH p AS (
        |  SELECT user_id, CAST(date_trunc('day', ts) AS DATE) AS day,
        |    CAST(value AS DECIMAL(18,2)) AS v
        |  FROM events WHERE event_type = 'purchase'),
        |c AS (SELECT user_id, min(day) AS c_day FROM p GROUP BY user_id),
        |cells AS (
        |  SELECT c_day AS cohort_day,
        |    CAST(date_diff('day', c_day, day) AS INTEGER) AS age_d,
        |    sum(v) AS rev
        |  FROM p JOIN c USING (user_id) GROUP BY 1, 2)
        |SELECT cohort_day, age_d, CAST(rev AS DOUBLE) AS rev,
        |  CAST(sum(rev) OVER (PARTITION BY cohort_day ORDER BY age_d
        |                      ROWS UNBOUNDED PRECEDING) AS DOUBLE) AS cum_ltv
        |FROM cells ORDER BY cohort_day, age_d""".stripMargin,
    "ev_bounce_rate" ->
      s"""WITH e AS (
         |  SELECT event_id, user_id, event_type, epoch_us(ts) AS t_us,
         |    CASE WHEN epoch_us(ts) - lag(epoch_us(ts), 1)
         |             OVER (PARTITION BY user_id ORDER BY epoch_us(ts), event_id)
         |           > $SessionGapUs THEN 1 ELSE 0 END AS new_s
         |  FROM events),
         |s AS (
         |  SELECT *, sum(new_s) OVER (PARTITION BY user_id
         |                             ORDER BY t_us, event_id
         |                             ROWS UNBOUNDED PRECEDING) AS session_no
         |  FROM e),
         |g AS (
         |  SELECT user_id, session_no, count(*) AS n_events,
         |    min(struct_pack(t_us := t_us, event_id := event_id,
         |                    event_type := event_type)).event_type AS entry_type
         |  FROM s GROUP BY 1, 2)
         |SELECT entry_type, CAST(count(*) AS BIGINT) AS n_sessions,
         |  CAST(sum(CASE WHEN n_events = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_bounces,
         |  round(sum(CASE WHEN n_events = 1 THEN 1 ELSE 0 END) * CAST(1.0 AS DOUBLE)
         |    / count(*), 6) AS bounce_rate
         |FROM g GROUP BY entry_type ORDER BY entry_type""".stripMargin,
    "ev_cuped" ->
      s"""WITH pu AS (
         |  SELECT user_id,
         |    sum(CASE WHEN event_type = 'purchase' AND ts < TIMESTAMP '$CupedCutoff'
         |             THEN 1 ELSE 0 END) AS x,
         |    sum(CASE WHEN event_type = 'purchase' AND ts >= TIMESTAMP '$CupedCutoff'
         |             THEN 1 ELSE 0 END) AS y,
         |    user_id % 2 AS c
         |  FROM events GROUP BY user_id),
         |s AS (
         |  SELECT CAST(count(*) AS BIGINT) AS n,
         |    CAST(sum(x) AS BIGINT) AS sx, CAST(sum(y) AS BIGINT) AS sy,
         |    CAST(sum(x * y) AS BIGINT) AS sxy,
         |    CAST(sum(x * x) AS BIGINT) AS sxx,
         |    CAST(sum(y * y) AS BIGINT) AS syy,
         |    CAST(sum(CASE WHEN c = 0 THEN 1 ELSE 0 END) AS BIGINT) AS na,
         |    CAST(sum(CASE WHEN c = 0 THEN x ELSE 0 END) AS BIGINT) AS sxa,
         |    CAST(sum(CASE WHEN c = 0 THEN y ELSE 0 END) AS BIGINT) AS sya,
         |    CAST(sum(CASE WHEN c = 1 THEN 1 ELSE 0 END) AS BIGINT) AS nb,
         |    CAST(sum(CASE WHEN c = 1 THEN x ELSE 0 END) AS BIGINT) AS sxb,
         |    CAST(sum(CASE WHEN c = 1 THEN y ELSE 0 END) AS BIGINT) AS syb
         |  FROM pu),
         |t AS (
         |  SELECT *,
         |    CAST(n * sxy - sx * sy AS DOUBLE) /
         |    CAST(n * sxx - sx * sx AS DOUBLE) AS theta
         |  FROM s)
         |SELECT n, na, nb,
         |  round(theta, 6) AS theta,
         |  round(sya * CAST(1.0 AS DOUBLE) / na - syb * CAST(1.0 AS DOUBLE) / nb, 6) AS diff_raw,
         |  round((sya * CAST(1.0 AS DOUBLE) / na -
         |         theta * (sxa * CAST(1.0 AS DOUBLE) / na - sx * CAST(1.0 AS DOUBLE) / n)) -
         |        (syb * CAST(1.0 AS DOUBLE) / nb -
         |         theta * (sxb * CAST(1.0 AS DOUBLE) / nb - sx * CAST(1.0 AS DOUBLE) / n)), 6) AS diff_cuped,
         |  round(CAST(n * sxy - sx * sy AS DOUBLE) * CAST(n * sxy - sx * sy AS DOUBLE) /
         |        (CAST(n * sxx - sx * sx AS DOUBLE) * CAST(n * syy - sy * sy AS DOUBLE)) * 100.0,
         |        6) AS var_reduction_pct
         |FROM t""".stripMargin,
    "ev_forecast_naive" ->
      s"""WITH h AS (
         |  SELECT CAST(date_trunc('day', ts) AS DATE) AS day,
         |    CAST(EXTRACT(HOUR FROM ts) AS INTEGER) AS hod, count(*) AS cnt
         |  FROM events GROUP BY 1, 2),
         |m AS (
         |  SELECT hod,
         |    CAST(round(sum(cnt) * CAST(1.0 AS DOUBLE) / count(*), 6)
         |      AS DECIMAL(18,6)) AS pred
         |  FROM h WHERE day < DATE '$ForecastCutoff' GROUP BY hod)
         |SELECT h.hod, CAST(pred AS DOUBLE) AS pred,
         |  CAST(count(*) AS BIGINT) AS n_test,
         |  round(CAST(sum(abs(CAST(cnt AS DECIMAL(18,6)) - pred)) AS DOUBLE)
         |    / count(*), 6) AS mae
         |FROM h JOIN m ON h.hod = m.hod
         |WHERE day >= DATE '$ForecastCutoff'
         |GROUP BY h.hod, pred ORDER BY h.hod""".stripMargin,
    "ev_ab_test" ->
      s"""WITH pu AS (
        |  SELECT user_id,
        |    CASE WHEN sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
        |              >= $AbConvThreshold THEN 1 ELSE 0 END AS conv,
        |    user_id % 2 AS cohort
        |  FROM events GROUP BY user_id),
        |c AS (
        |  SELECT
        |    CAST(sum(CASE WHEN cohort = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_a,
        |    CAST(sum(CASE WHEN cohort = 0 THEN conv ELSE 0 END) AS BIGINT) AS conv_a,
        |    CAST(sum(CASE WHEN cohort = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_b,
        |    CAST(sum(CASE WHEN cohort = 1 THEN conv ELSE 0 END) AS BIGINT) AS conv_b
        |  FROM pu)
        |SELECT n_a, conv_a, n_b, conv_b,
        |  round((conv_a * CAST(1.0 AS DOUBLE) / n_a - conv_b * CAST(1.0 AS DOUBLE) / n_b) /
        |    sqrt(((conv_a + conv_b) * CAST(1.0 AS DOUBLE) / (n_a + n_b)) *
        |         (CAST(1.0 AS DOUBLE) - (conv_a + conv_b) * CAST(1.0 AS DOUBLE) / (n_a + n_b)) *
        |         (CAST(1.0 AS DOUBLE) / n_a + CAST(1.0 AS DOUBLE) / n_b)), 6) AS z,
        |  abs(round((conv_a * CAST(1.0 AS DOUBLE) / n_a - conv_b * CAST(1.0 AS DOUBLE) / n_b) /
        |    sqrt(((conv_a + conv_b) * CAST(1.0 AS DOUBLE) / (n_a + n_b)) *
        |         (CAST(1.0 AS DOUBLE) - (conv_a + conv_b) * CAST(1.0 AS DOUBLE) / (n_a + n_b)) *
        |         (CAST(1.0 AS DOUBLE) / n_a + CAST(1.0 AS DOUBLE) / n_b)), 6)) > 1.96 AS significant
        |FROM c""".stripMargin,
    "ev_outlier_iqr" -> {
      val quart = graft.functions.ExactPercentiles.sql(
        """  SELECT event_type, CAST(floor(value) AS BIGINT) AS b,
          |    count(*) AS cnt
          |  FROM events GROUP BY 1, 2""".stripMargin,
        "event_type", "b", Seq(25, 75))
      s"""WITH qr AS (SELECT * FROM (
         |$quart
         |)),
         |qq AS (SELECT event_type,
         |         min(CASE WHEN pct = 25 THEN b END) AS q1,
         |         min(CASE WHEN pct = 75 THEN b END) AS q3
         |       FROM qr GROUP BY event_type),
         |bb AS (SELECT event_type, CAST(floor(value) AS BIGINT) AS b FROM events)
         |SELECT bb.event_type, q1, q3, q3 - q1 AS iqr,
         |  CAST(count(*) AS BIGINT) AS n_rows,
         |  CAST(sum(CASE WHEN 2*b < 2*q1 - 3*(q3 - q1) THEN 1 ELSE 0 END) AS BIGINT) AS n_low,
         |  CAST(sum(CASE WHEN 2*b > 2*q3 + 3*(q3 - q1) THEN 1 ELSE 0 END) AS BIGINT) AS n_high
         |FROM bb JOIN qq USING (event_type)
         |GROUP BY bb.event_type, q1, q3
         |ORDER BY bb.event_type""".stripMargin
    },
    "ev_ewma" -> {
      val terms = (0 until EwmaDepth)
        .map(k => s"lag(cnt, $k) OVER w * ${1L << (EwmaDepth - 1 - k)}")
        .mkString(" + ")
      s"""WITH h AS (
         |  SELECT date_trunc('hour', ts) AS hr, count(*) AS cnt
         |  FROM events GROUP BY 1),
         |t AS (SELECT hr, cnt, $terms AS num
         |      FROM h WINDOW w AS (ORDER BY hr))
         |SELECT hr, CAST(cnt AS BIGINT) AS cnt,
         |  round(CAST(num AS DOUBLE) / CAST(${(1 << EwmaDepth) - 1} AS DOUBLE), 6) AS ewma
         |FROM t WHERE num IS NOT NULL ORDER BY hr""".stripMargin
    },
    "ev_dau_hll" ->
      s"""WITH $hllOracleCtes,
         |d AS (SELECT day, CAST(count(DISTINCT user_id) AS BIGINT) AS dau
         |      FROM hh GROUP BY day)
         |SELECT d.day, dau, $hllOracleReadoff
         |FROM d JOIN s USING (day)
         |ORDER BY day""".stripMargin,
    "ev_dau_wau" ->
      """WITH ud AS (
        |  SELECT DISTINCT user_id, CAST(date_trunc('day', ts) AS DATE) AS day
        |  FROM events),
        |dau AS (SELECT day, CAST(count(DISTINCT user_id) AS BIGINT) AS dau
        |        FROM ud GROUP BY day),
        |wau AS (
        |  SELECT day + CAST(k AS INTEGER) AS day,
        |    CAST(count(DISTINCT user_id) AS BIGINT) AS wau
        |  FROM ud, UNNEST(range(0, 7)) t(k)
        |  GROUP BY 1)
        |SELECT dau.day, dau, wau,
        |  round(dau * CAST(1.0 AS DOUBLE) / wau, 6) AS stickiness
        |FROM dau JOIN wau ON dau.day = wau.day
        |ORDER BY dau.day""".stripMargin,
    "ev_path_trigrams" ->
      """WITH e AS (
        |  SELECT event_type AS step1,
        |    lead(event_type, 1) OVER w AS step2,
        |    lead(event_type, 2) OVER w AS step3
        |  FROM events
        |  WINDOW w AS (PARTITION BY user_id ORDER BY epoch_us(ts), event_id))
        |SELECT step1, step2, step3, CAST(count(*) AS BIGINT) AS n_paths
        |FROM e WHERE step3 IS NOT NULL
        |GROUP BY 1, 2, 3
        |ORDER BY n_paths DESC, step1 ASC, step2 ASC, step3 ASC LIMIT 20""".stripMargin,
    "ev_attribution" ->
      """WITH e AS (
        |  SELECT user_id, event_id, epoch_us(ts) AS t_us, event_type, value,
        |    last_value(CASE WHEN event_type <> 'purchase' THEN event_type END IGNORE NULLS)
        |      OVER (PARTITION BY user_id ORDER BY epoch_us(ts), event_id
        |            ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS channel
        |  FROM events)
        |SELECT COALESCE(channel, 'none') AS channel,
        |  CAST(count(*) AS BIGINT) AS n_conversions,
        |  CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS attributed_value
        |FROM e WHERE event_type = 'purchase'
        |GROUP BY 1 ORDER BY n_conversions DESC, channel ASC""".stripMargin,
    "ev_rfm" ->
      """WITH pu AS (
        |  SELECT user_id, max(epoch_us(ts)) AS last_us, count(*) AS freq,
        |    sum(CAST(value AS DECIMAL(18,2))) AS monetary
        |  FROM events WHERE event_type = 'purchase' GROUP BY user_id),
        |s AS (
        |  SELECT monetary,
        |    CAST(ntile(4) OVER (ORDER BY last_us DESC, user_id ASC) AS INTEGER) AS r_score,
        |    CAST(ntile(4) OVER (ORDER BY freq DESC, user_id ASC) AS INTEGER) AS f_score,
        |    CAST(ntile(4) OVER (ORDER BY monetary DESC, user_id ASC) AS INTEGER) AS m_score
        |  FROM pu)
        |SELECT r_score, f_score, m_score,
        |  CAST(count(*) AS BIGINT) AS n_users,
        |  CAST(sum(monetary) AS DOUBLE) AS segment_value
        |FROM s GROUP BY 1, 2, 3 ORDER BY r_score, f_score, m_score""".stripMargin,
    "ev_reaggregate" ->
      """SELECT CAST(date_trunc('day', ts) AS DATE) AS day, event_type,
        |  CAST(count(*) AS BIGINT) AS cnt,
        |  CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_val,
        |  CAST(count(DISTINCT date_trunc('hour', ts)) AS BIGINT) AS n_partials
        |FROM events GROUP BY 1, 2 ORDER BY day, event_type""".stripMargin,
    "ev_paths" ->
      """WITH t AS (
        |  SELECT user_id, event_id, epoch_us(ts) AS t_us, event_type FROM events),
        |p AS (
        |  SELECT event_type,
        |    lead(event_type) OVER (PARTITION BY user_id
        |                           ORDER BY t_us, event_id) AS next_type
        |  FROM t)
        |SELECT event_type, next_type, count(*) AS n_trans
        |FROM p WHERE next_type IS NOT NULL
        |GROUP BY 1, 2
        |ORDER BY n_trans DESC, event_type, next_type""".stripMargin,
    "ev_json_extract" ->
      """SELECT k, count(*) AS cnt,
        |       CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_val
        |FROM (
        |  SELECT TRY_CAST(regexp_extract(props, '"k":\s*(\d+)', 1) AS BIGINT) AS k, value
        |  FROM events WHERE contains(props, '"k"'))
        |WHERE k IS NOT NULL
        |GROUP BY k ORDER BY k""".stripMargin,
    "ev_json_path" ->
      """SELECT k, count(*) AS cnt FROM (
        |  SELECT TRY_CAST(json_extract_string(props, '$.k') AS BIGINT) AS k FROM events)
        |WHERE k IS NOT NULL GROUP BY k ORDER BY k""".stripMargin,
    // the variant path must agree with the string-reparse path — DuckDB
    // has no VARIANT, so the oracle is the typed-extraction equivalent
    "ev_variant" ->
      """SELECT k, count(*) AS cnt FROM (
        |  SELECT TRY_CAST(json_extract_string(props, '$.k') AS BIGINT) AS k FROM events)
        |WHERE k IS NOT NULL GROUP BY k ORDER BY k""".stripMargin,
    "ev_hourly_agg" ->
      """SELECT date_trunc('hour', ts) AS hr, event_type,
        |       count(*) AS cnt,
        |       CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_val
        |FROM events GROUP BY 1, 2 ORDER BY hr, event_type""".stripMargin,
    // shift-sum Morton interleave: exact BIGINT arithmetic, the portable
    // spelling of the graft_zvalue kernel
    "ev_zorder" ->
      """WITH xy AS (
        |  SELECT event_id,
        |    ((user_id % 256) + 256) % 256 AS x,
        |    ((CAST(floor(value) AS BIGINT) % 256) + 256) % 256 AS y
        |  FROM events),
        |z AS (
        |  SELECT event_id,
        |    CAST(sum((((x >> i) & 1) << (2*i)) + (((y >> i) & 1) << (2*i+1))) AS BIGINT) AS zval
        |  FROM xy, UNNEST(range(0, 16)) t(i)
        |  GROUP BY event_id)
        |SELECT zval >> 8 AS tile, count(*) AS n_events,
        |       min(zval) AS z_min, max(zval) AS z_max
        |FROM z GROUP BY 1 ORDER BY tile""".stripMargin,
    // exact-integer variance, evaluated in the same order as the Spark
    // side so the doubles agree bit-for-bit
    "ev_anomaly" ->
      """WITH h AS (
        |  SELECT date_trunc('hour', ts) AS hr, count(*) AS n_events
        |  FROM events GROUP BY 1),
        |st AS (
        |  SELECT hr, n_events,
        |    count(*) OVER () AS n,
        |    CAST(sum(n_events) OVER () AS BIGINT) AS s,
        |    CAST(sum(n_events * n_events) OVER () AS BIGINT) AS s2
        |  FROM h),
        |z AS (
        |  SELECT hr, n_events,
        |    CASE WHEN n > 1 AND n * s2 - s * s > 0 THEN
        |      round(CAST(n_events * n - s AS DOUBLE) /
        |            (CAST(n AS DOUBLE) *
        |             sqrt(CAST(n * s2 - s * s AS DOUBLE) / CAST(n * (n - 1) AS DOUBLE))),
        |            4) END AS z
        |  FROM st)
        |SELECT hr, n_events, z, abs(z) > 2.0 AS is_anomaly
        |FROM z ORDER BY hr""".stripMargin,
    "ev_funnel" ->
      """WITH f AS (
        |  SELECT user_id,
        |    min(CASE WHEN event_type = 'signup' THEN ts END) AS t_signup,
        |    min(CASE WHEN event_type = 'click' THEN ts END) AS t_click,
        |    min(CASE WHEN event_type = 'purchase' THEN ts END) AS t_purchase
        |  FROM events GROUP BY user_id)
        |SELECT
        |  CAST(sum(CASE WHEN t_signup IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_signup,
        |  CAST(sum(CASE WHEN t_signup < t_click THEN 1 ELSE 0 END) AS BIGINT) AS n_signup_click,
        |  CAST(sum(CASE WHEN t_signup < t_click AND t_click < t_purchase
        |           THEN 1 ELSE 0 END) AS BIGINT) AS n_full_funnel
        |FROM f""".stripMargin,
    // strict first-qualifying-event chaining: stage n+1's anchor is the
    // earliest stage-n event INSIDE its own window
    "ev_funnel_windowed" ->
      s"""WITH e AS (SELECT user_id, event_type, epoch_us(ts) AS t_us FROM events),
         |s AS (SELECT user_id, min(t_us) AS t_s FROM e
         |      WHERE event_type = 'signup' GROUP BY user_id),
         |c AS (SELECT e.user_id, min(e.t_us) AS t_c
         |      FROM e JOIN s USING (user_id)
         |      WHERE e.event_type = 'click'
         |        AND e.t_us > t_s AND e.t_us <= t_s + ${FunnelWindowUs}
         |      GROUP BY e.user_id),
         |p AS (SELECT e.user_id, min(e.t_us) AS t_p
         |      FROM e JOIN c USING (user_id)
         |      WHERE e.event_type = 'purchase'
         |        AND e.t_us > t_c AND e.t_us <= t_c + ${FunnelWindowUs}
         |      GROUP BY e.user_id)
         |SELECT CAST(count(*) AS BIGINT) AS n_signup,
         |       CAST(count(c.t_c) AS BIGINT) AS n_click_w,
         |       CAST(count(p.t_p) AS BIGINT) AS n_purchase_w
         |FROM s LEFT JOIN c USING (user_id) LEFT JOIN p USING (user_id)""".stripMargin,
    "ev_retention" ->
      """WITH act AS (
        |  SELECT DISTINCT date_trunc('hour', ts) AS hr, user_id FROM events),
        |ret AS (
        |  SELECT a.hr, count(*) AS n_retained
        |  FROM act a
        |  WHERE EXISTS (SELECT 1 FROM act b
        |                WHERE b.user_id = a.user_id
        |                  AND b.hr = a.hr + INTERVAL 1 HOUR)
        |  GROUP BY a.hr)
        |SELECT act.hr, count(*) AS n_active,
        |       CAST(coalesce(any_value(ret.n_retained), 0) AS BIGINT) AS n_retained
        |FROM act LEFT JOIN ret ON act.hr = ret.hr
        |GROUP BY act.hr ORDER BY act.hr""".stripMargin,
    "ev_retention_matrix" ->
      """WITH act AS (
        |  SELECT DISTINCT date_trunc('hour', ts) AS hr, user_id FROM events),
        |c AS (SELECT user_id, min(hr) AS c_hr FROM act GROUP BY user_id)
        |SELECT c.c_hr AS cohort_hr,
        |  CAST((epoch_us(a.hr) - epoch_us(c.c_hr)) // 3600000000 AS BIGINT) AS offset_h,
        |  CAST(count(*) AS BIGINT) AS n_active
        |FROM act a JOIN c USING (user_id)
        |GROUP BY 1, 2 ORDER BY cohort_hr, offset_h""".stripMargin,
    "ev_hourly_dense" ->
      """WITH h AS (
        |  SELECT date_trunc('hour', ts) AS hr, count(*) AS cnt
        |  FROM events GROUP BY 1),
        |b AS (SELECT min(hr) AS lo, max(hr) AS hi FROM h),
        |spine AS (SELECT UNNEST(generate_series(lo, hi, INTERVAL 1 HOUR)) AS hr FROM b)
        |SELECT spine.hr, CAST(coalesce(h.cnt, 0) AS BIGINT) AS cnt
        |FROM spine LEFT JOIN h USING (hr)
        |ORDER BY hr""".stripMargin,
    "ev_histogram" ->
      s"""SELECT bucket, CAST(bucket * ${BucketWidth} AS DOUBLE) AS lo, count(*) AS cnt
         |FROM (
         |  SELECT CAST(least(floor(value / ${BucketWidth}), ${NumBuckets - 1}) AS BIGINT) AS bucket
         |  FROM events)
         |GROUP BY bucket ORDER BY bucket""".stripMargin,
    "ev_lateness" ->
      s"""WITH t AS (SELECT user_id, event_id, epoch_us(ts) AS t_us FROM events),
         |h AS (SELECT t_us, max(t_us) OVER (PARTITION BY user_id ORDER BY event_id
         |        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS hwm FROM t),
         |b AS (SELECT least((hwm - t_us) // 60000000, ${LatenessCapMin}) AS late_min FROM h)
         |SELECT late_min, CAST(count(*) AS BIGINT) AS cnt
         |FROM b GROUP BY late_min ORDER BY late_min""".stripMargin,
    // UNCAPPED lateness vs the generated candidate-delay list — the
    // VALUES branches map over the same constant the Spark sweep reads
    "ev_watermark_tradeoff" ->
      s"""WITH t AS (SELECT user_id, event_id, epoch_us(ts) AS t_us FROM events),
         |h AS (SELECT t_us, max(t_us) OVER (PARTITION BY user_id ORDER BY event_id
         |        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS hwm FROM t),
         |b AS (SELECT (hwm - t_us) // 60000000 AS late_min FROM h),
         |d(dm) AS (VALUES ${WatermarkSweepMin.map(d => s"($d)").mkString(",")})
         |SELECT CAST(dm AS BIGINT) AS delay_min,
         |  CAST(sum(CASE WHEN late_min <= dm THEN 1 ELSE 0 END) AS BIGINT) AS admitted,
         |  CAST(sum(CASE WHEN late_min > dm THEN 1 ELSE 0 END) AS BIGINT) AS dropped
         |FROM b, d GROUP BY dm ORDER BY delay_min""".stripMargin,
    // identical lag/running-sum windowing in exact integer micros
    "ev_sessionize" ->
      s"""WITH $sessionCtes
         |SELECT user_id, session_no, n_events, first_us, last_us
         |FROM sess ORDER BY user_id, session_no""".stripMargin,
    "ev_active_streak" ->
      """WITH ud AS (
        |  SELECT DISTINCT user_id, CAST(date_trunc('day', ts) AS DATE) AS day
        |  FROM events),
        |a AS (
        |  SELECT user_id,
        |    day - CAST(row_number() OVER (PARTITION BY user_id ORDER BY day)
        |          AS INTEGER) AS anchor
        |  FROM ud),
        |i AS (SELECT user_id, anchor, count(*) AS len
        |      FROM a GROUP BY user_id, anchor)
        |SELECT user_id, CAST(sum(len) AS BIGINT) AS n_active_days,
        |  CAST(count(*) AS BIGINT) AS n_streaks,
        |  CAST(max(len) AS BIGINT) AS longest_streak
        |FROM i GROUP BY user_id ORDER BY user_id""".stripMargin,
    "ev_peak_concurrency" ->
      s"""WITH $sessionCtes,
         |pt AS (
         |  SELECT first_us AS t, 1 AS d FROM sess
         |  UNION ALL SELECT last_us + 1, -1 FROM sess),
         |np AS (SELECT t, CAST(sum(d) AS BIGINT) AS delta FROM pt GROUP BY t),
         |rn AS (
         |  SELECT t, CAST(sum(delta) OVER (ORDER BY t
         |    ROWS UNBOUNDED PRECEDING) AS BIGINT) AS conc
         |  FROM np),
         |dd AS (
         |  SELECT CAST(date_trunc('day', make_timestamp(t)) AS DATE) AS day,
         |         t, conc
         |  FROM rn),
         |pk AS (SELECT dd.*, max(conc) OVER (PARTITION BY day) AS peak FROM dd)
         |SELECT day, CAST(peak AS BIGINT) AS peak,
         |  CAST(min(t) AS BIGINT) AS peak_at_us
         |FROM pk WHERE conc = peak
         |GROUP BY day, peak ORDER BY day""".stripMargin)

  /** Gap-session CTE chain ending in `sess(user_id, session_no,
    * n_events, first_us, last_us)` — shared by the sessionize and
    * peak-concurrency oracles so the session definition cannot fork. */
  private def sessionCtes: String =
    s"""t AS (
       |  SELECT event_id, user_id, epoch_us(ts) AS t_us FROM events),
       |f AS (
       |  SELECT user_id, event_id, t_us,
       |    CASE WHEN t_us - lag(t_us) OVER w > ${SessionGapUs} THEN 1 ELSE 0 END AS new_s
       |  FROM t WINDOW w AS (PARTITION BY user_id ORDER BY t_us, event_id)),
       |s AS (
       |  SELECT user_id, t_us,
       |    CAST(sum(new_s) OVER (PARTITION BY user_id ORDER BY t_us, event_id
       |                          ROWS UNBOUNDED PRECEDING) AS BIGINT) AS session_no
       |  FROM f),
       |sess AS (
       |  SELECT user_id, session_no, count(*) AS n_events,
       |         min(t_us) AS first_us, max(t_us) AS last_us
       |  FROM s GROUP BY user_id, session_no)""".stripMargin
}
