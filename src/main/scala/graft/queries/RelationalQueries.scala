package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.Tables

/** Relational capability superset (SURVEY.md §7.2 step 4): joins, richer
  * aggregates, window functions, grouping sets, set operations over the
  * TPC-H-ish fixture tables. The reference has none of these (§2.7); the
  * 100 TB north star pulls them in.
  *
  * Float determinism vs the DuckDB oracle: money aggregates go through
  * exact DECIMAL arithmetic (sum of decimal is order-independent) and are
  * cast to DOUBLE only at the very end — both engines then produce
  * bit-identical doubles. `l_quantity` is integer-valued so plain double
  * sums are already exact.
  *
  * Scale notes per query are inline; the general posture: filters first
  * (pushed to the parquet scan), dimension tables broadcast, fact-fact
  * joins shuffle on the join key and AQE handles skew/coalescing.
  */
object RelationalQueries {

  private def dec(c: String) = col(c).cast("decimal(18,2)")

  // ---- TPC-H Q1 analog: one-pass scan + 6-way aggregate, no join.
  def q1Pricing(spark: SparkSession, dir: String): DataFrame = {
    val price = dec("l_extendedprice")
    val disc = (lit(1.0) - col("l_discount")).cast("decimal(8,2)")
    val tax = (lit(1.0) + col("l_tax")).cast("decimal(8,2)")
    Tables(spark, dir, "lineitem")
      .filter(col("l_shipdate") <= lit("1998-09-02").cast("timestamp"))
      .groupBy("l_returnflag", "l_linestatus")
      .agg(
        sum(col("l_quantity")).as("sum_qty"),
        sum(price).cast("double").as("sum_base_price"),
        sum(price * disc).cast("double").as("sum_disc_price"),
        sum(price * disc * tax).cast("double").as("sum_charge"),
        (sum(col("l_quantity")) / count(lit(1))).as("avg_qty"),
        (sum(price).cast("double") / count(lit(1))).as("avg_price"),
        (sum(col("l_discount").cast("decimal(8,2)")).cast("double") / count(lit(1))).as("avg_disc"),
        count(lit(1)).as("count_order"))
      .orderBy("l_returnflag", "l_linestatus")
  }

  /** [[q1Pricing]] authored as a SQL STRING over a registered temp view
    * (round 15, VERDICT r14 #8 — `tw_q1_sql_entry` proved the parser
    * surface costs nothing on the §2 shape; this pins it on the
    * relational side, where real users actually write SQL): parser →
    * analyzer → catalog resolution end-to-end, same oracle as the DSL
    * twin, and TpchShapesSpec pins plan-DIGEST equality — both author
    * the same logical plan, so the SQL surface is free at any scale.
    * `1.0D` keeps the literals DOUBLE (bare `1.0` parses as DECIMAL in
    * SQL, which would change the decimal arithmetic the DSL twin does
    * with double literals). */
  def q1PricingViaSql(spark: SparkSession, dir: String): DataFrame = {
    Tables(spark, dir, "lineitem").createOrReplaceTempView("graft_lineitem")
    spark.sql(
      """SELECT l_returnflag, l_linestatus,
        |  sum(l_quantity) AS sum_qty,
        |  CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_base_price,
        |  CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2)) *
        |           CAST(1.0D - l_discount AS DECIMAL(8,2))) AS DOUBLE) AS sum_disc_price,
        |  CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2)) *
        |           CAST(1.0D - l_discount AS DECIMAL(8,2)) *
        |           CAST(1.0D + l_tax AS DECIMAL(8,2))) AS DOUBLE) AS sum_charge,
        |  sum(l_quantity) / count(1) AS avg_qty,
        |  CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) / count(1) AS avg_price,
        |  CAST(sum(CAST(l_discount AS DECIMAL(8,2))) AS DOUBLE) / count(1) AS avg_disc,
        |  count(1) AS count_order
        |FROM graft_lineitem
        |WHERE l_shipdate <= CAST('1998-09-02' AS TIMESTAMP)
        |GROUP BY l_returnflag, l_linestatus
        |ORDER BY l_returnflag, l_linestatus""".stripMargin)
  }

  // ---- TPC-H Q3 analog: customer ⋈ orders ⋈ lineitem, top-10 revenue.
  // customer side is filter-reduced then broadcast by AQE; the orders ⋈
  // lineitem join shuffles on the order key. Top-k = TakeOrderedAndProject,
  // no global sort materialization.
  def q3TopK(spark: SparkSession, dir: String): DataFrame = {
    val cust = Tables(spark, dir, "customer")
      .filter(col("c_mktsegment") === "BUILDING")
      .select("c_custkey")
    val ord = Tables(spark, dir, "orders")
      .filter(col("o_orderdate") < lit("1998-01-01").cast("timestamp"))
      .select("o_orderkey", "o_custkey", "o_orderdate", "o_orderpriority")
    val li = Tables(spark, dir, "lineitem")
      .filter(col("l_shipdate") > lit("1998-01-01").cast("timestamp"))
      .select("l_orderkey", "l_extendedprice", "l_discount")
    val disc = (lit(1.0) - col("l_discount")).cast("decimal(8,2)")
    li.join(ord, col("l_orderkey") === col("o_orderkey"))
      .join(broadcast(cust), col("o_custkey") === col("c_custkey"))
      .groupBy("l_orderkey", "o_orderdate", "o_orderpriority")
      .agg(sum(dec("l_extendedprice") * disc).cast("double").as("revenue"))
      .orderBy(desc("revenue"), asc("l_orderkey"))
      .limit(10)
  }

  // ---- TPC-H Q5 analog: 6-table join, revenue per nation.
  // region/nation broadcast (tiny always); supplier/customer co-partition
  // with the facts via the shuffle joins; AQE converts to broadcast when
  // the filtered side is small.
  def q5RegionRevenue(spark: SparkSession, dir: String): DataFrame = {
    val region = Tables(spark, dir, "region").filter(col("r_name") === "ASIA")
    val nation = Tables(spark, dir, "nation")
    val cust = Tables(spark, dir, "customer").select("c_custkey", "c_nationkey")
    val sup = Tables(spark, dir, "supplier").select("s_suppkey", "s_nationkey")
    val ord = Tables(spark, dir, "orders")
      .filter(col("o_orderdate") >= lit("1996-01-01").cast("timestamp") &&
        col("o_orderdate") < lit("1997-01-01").cast("timestamp"))
      .select("o_orderkey", "o_custkey")
    val li = Tables(spark, dir, "lineitem")
      .select("l_orderkey", "l_suppkey", "l_extendedprice", "l_discount")
    val disc = (lit(1.0) - col("l_discount")).cast("decimal(8,2)")
    li.join(ord, col("l_orderkey") === col("o_orderkey"))
      .join(cust, col("o_custkey") === col("c_custkey"))
      .join(sup, col("l_suppkey") === col("s_suppkey") &&
        col("c_nationkey") === col("s_nationkey"))
      .join(broadcast(nation), col("s_nationkey") === col("n_nationkey"))
      .join(broadcast(region), col("n_regionkey") === col("r_regionkey"))
      .groupBy("n_name")
      .agg(sum(dec("l_extendedprice") * disc).cast("double").as("revenue"))
      .orderBy(desc("revenue"), asc("n_name"))
  }

  // ---- TPC-H Q6 analog: pure scan-filter-aggregate; every predicate must
  // reach the parquet scan (PushedFilters).
  def q6RevenueFilter(spark: SparkSession, dir: String): DataFrame = {
    Tables(spark, dir, "lineitem")
      .filter(col("l_shipdate") >= lit("1996-01-01").cast("timestamp") &&
        col("l_shipdate") < lit("1997-01-01").cast("timestamp") &&
        col("l_discount") >= lit(0.05) && col("l_discount") <= lit(0.07) &&
        col("l_quantity") < lit(24.0))
      .agg(sum(dec("l_extendedprice") * col("l_discount").cast("decimal(8,2)"))
        .cast("double").as("revenue"))
  }

  // ---- semi / anti joins (EXISTS / NOT EXISTS)
  def semiJoin(spark: SparkSession, dir: String): DataFrame = {
    val cust = Tables(spark, dir, "customer").select("c_custkey", "c_name")
    val ord = Tables(spark, dir, "orders").select("o_custkey")
    cust.join(ord, col("c_custkey") === col("o_custkey"), "left_semi")
      .orderBy("c_custkey")
  }

  def antiJoin(spark: SparkSession, dir: String): DataFrame = {
    val cust = Tables(spark, dir, "customer").select("c_custkey", "c_name")
    val ord = Tables(spark, dir, "orders").select("o_custkey")
    cust.join(ord, col("c_custkey") === col("o_custkey"), "left_anti")
      .orderBy("c_custkey")
  }

  // ---- window function: top-2 orders per customer. Single shuffle on the
  // partition key; row_number + filter prunes before any further op.
  def windowRank(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("o_custkey"))
      .orderBy(desc("o_totalprice"), asc("o_orderkey"))
    Tables(spark, dir, "orders")
      .select("o_custkey", "o_orderkey", "o_totalprice")
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") <= 2)
      .orderBy("o_custkey", "rn")
  }

  // ---- top-2 per customer through the CUSTOM whole-operator path
  // (graft.plans.TopKPerGroup: logical node → strategy → bounded-heap
  // exec). Same semantics as windowRank, but the physical plan keeps a
  // k-row heap per group instead of sorting every group's full row set —
  // the oracle is the identical window SQL, so the gate proves the
  // custom operator end-to-end.
  def topKPerGroup(spark: SparkSession, dir: String): DataFrame = {
    val df = Tables(spark, dir, "orders")
      .select("o_custkey", "o_orderkey", "o_totalprice")
    graft.plans.TopK.perGroup(df, Seq("o_custkey"),
        Seq("o_totalprice" -> false, "o_orderkey" -> true), k = 2)
      .orderBy("o_custkey", "rn")
  }

  // ---- grouping sets: ROLLUP over (returnflag, linestatus)
  def rollupAgg(spark: SparkSession, dir: String): DataFrame = {
    Tables(spark, dir, "lineitem")
      .rollup(col("l_returnflag"), col("l_linestatus"))
      .agg(count(lit(1)).as("cnt"), sum(col("l_quantity")).as("sum_qty"))
      .select(
        coalesce(col("l_returnflag"), lit("ALL")).as("rf"),
        coalesce(col("l_linestatus"), lit("ALL")).as("ls"),
        col("cnt"), col("sum_qty"))
      .orderBy("rf", "ls")
  }

  // ---- top-3 order values per priority through the CUSTOM AGGREGATE
  // (functions.TopKValues, a TypedImperativeAggregate): a bounded k-heap
  // that runs as a partial aggregate before the shuffle and merges after,
  // so the exchange carries one <=k-value buffer per (partition, group) —
  // what collect_list+slice cannot do (it ships every row). Oracle is the
  // DuckDB ordered-list aggregate; values are exact copies (no
  // arithmetic), so doubles match bit-for-bit.
  def topKAgg(spark: SparkSession, dir: String): DataFrame = {
    val aggCol = org.apache.spark.sql.GraftBridge.column(
      graft.functions.TopKValues(
        org.apache.spark.sql.GraftBridge.expression(col("o_totalprice")), 3)
        .toAggregateExpression())
    Tables(spark, dir, "orders")
      .groupBy("o_orderpriority")
      .agg(aggCol.as("topv"))
      .select(col("o_orderpriority"),
        try_element_at(col("topv"), lit(1)).as("top1"),
        try_element_at(col("topv"), lit(2)).as("top2"),
        try_element_at(col("topv"), lit(3)).as("top3"))
      .orderBy("o_orderpriority")
  }

  // ---- grouping sets: CUBE over (returnflag, linestatus) — all four
  // grouping combinations in one pass (rollup covers three); Spark plans
  // a single Expand + aggregate, the same shape DuckDB's CUBE uses.
  def cubeAgg(spark: SparkSession, dir: String): DataFrame = {
    Tables(spark, dir, "lineitem")
      .cube(col("l_returnflag"), col("l_linestatus"))
      .agg(count(lit(1)).as("cnt"), sum(col("l_quantity")).as("sum_qty"))
      .select(
        coalesce(col("l_returnflag"), lit("ALL")).as("rf"),
        coalesce(col("l_linestatus"), lit("ALL")).as("ls"),
        col("cnt"), col("sum_qty"))
      .orderBy("rf", "ls")
  }

  // ---- explicit GROUPING SETS: the general multi-grain aggregate that
  // rollup and cube are fixed shapes of — an arbitrary grain list in ONE
  // Expand + aggregate pass (no union of per-grain scans). grouping_id()
  // tags each output row's grain, so a NULL group value is
  // distinguishable from a real NULL. Money sums go through exact
  // DECIMAL (order-independent) and surface as DOUBLE.
  def groupingSetsAgg(spark: SparkSession, dir: String): DataFrame = {
    Tables(spark, dir, "orders")
      .groupingSets(
        Seq(Seq(col("o_orderstatus"), col("o_orderpriority")),
          Seq(col("o_orderstatus")), Seq()),
        col("o_orderstatus"), col("o_orderpriority"))
      .agg(grouping_id().as("gid"), count(lit(1)).as("cnt"),
        sum(dec("o_totalprice")).cast("double").as("sum_price"))
      .select(
        coalesce(col("o_orderstatus"), lit("ALL")).as("status"),
        coalesce(col("o_orderpriority"), lit("ALL")).as("priority"),
        col("gid"), col("cnt"), col("sum_price"))
      .orderBy("gid", "status", "priority")
  }

  // ---- SQL:2016 LISTAGG (new in Spark 4): ordered string aggregation —
  // the report-building aggregate that is only deterministic WITH the
  // within-group order (an unordered collect would hash-mismatch by
  // partitioning). Tiny dims broadcast; the aggregate itself is one
  // hash-shuffle on the group key like any other agg.
  def listAgg(spark: SparkSession, dir: String): DataFrame = {
    val nation = Tables(spark, dir, "nation")
    val region = Tables(spark, dir, "region")
    nation.join(broadcast(region), col("n_regionkey") === col("r_regionkey"))
      .groupBy(col("r_name"))
      .agg(expr("listagg(n_name, ',') WITHIN GROUP (ORDER BY n_name)").as("nations"),
        count(lit(1)).as("n_nations"))
      .orderBy("r_name")
  }

  // ---- navigation window functions: lag/lead/ntile per customer order
  // history. One shuffle on the partition key; the values are copied, not
  // computed, so cross-engine determinism needs only the total order
  // (o_orderdate, o_orderkey).
  def windowLag(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("o_custkey"))
      .orderBy(asc("o_orderdate"), asc("o_orderkey"))
    Tables(spark, dir, "orders")
      .filter(col("o_custkey") < 50)
      .select(col("o_custkey"), col("o_orderkey"), col("o_orderdate"), col("o_totalprice"))
      .withColumn("prev_price", lag(col("o_totalprice"), 1).over(w))
      .withColumn("next_price", lead(col("o_totalprice"), 1).over(w))
      .withColumn("quartile", ntile(4).over(w))
      .orderBy("o_custkey", "o_orderdate", "o_orderkey")
  }

  // ---- set operations on customer key sets of two order years
  private def custkeysOfYear(spark: SparkSession, dir: String, y: Int): DataFrame =
    Tables(spark, dir, "orders")
      .filter(col("o_orderdate") >= lit(f"$y-01-01").cast("timestamp") &&
        col("o_orderdate") < lit(f"${y + 1}-01-01").cast("timestamp"))
      .select("o_custkey")

  def intersectYears(spark: SparkSession, dir: String): DataFrame = {
    custkeysOfYear(spark, dir, 1996).intersect(custkeysOfYear(spark, dir, 1997))
      .orderBy("o_custkey")
  }

  def exceptYears(spark: SparkSession, dir: String): DataFrame = {
    custkeysOfYear(spark, dir, 1996).except(custkeysOfYear(spark, dir, 1997))
      .orderBy("o_custkey")
  }

  // ---- salted join: the manual skew remedy for a hot join key. The fact
  // side gets a deterministic salt (l_linenumber % SaltBuckets); the dim
  // side is replicated SaltBuckets× with every salt value, so a hot
  // orderkey's rows spread over SaltBuckets reducers instead of one.
  // Semantically identical to the plain join (the oracle IS the plain
  // join) — AQE's skew-join split handles this adaptively, but the salting
  // pattern works on any engine and under any partitioner.
  private val SaltBuckets = 8

  def saltedJoin(spark: SparkSession, dir: String): DataFrame = {
    val li = Tables(spark, dir, "lineitem")
      .select(col("l_orderkey"), col("l_linenumber"), col("l_extendedprice"))
      .withColumn("l_salt", pmod(col("l_linenumber"), lit(SaltBuckets)))
    val ord = Tables(spark, dir, "orders")
      .select(col("o_orderkey"), col("o_orderpriority"))
      .withColumn("o_salt", explode(sequence(lit(0), lit(SaltBuckets - 1))))
    li.join(ord,
        col("l_orderkey") === col("o_orderkey") && col("l_salt") === col("o_salt"))
      .groupBy("o_orderpriority")
      .agg(count(lit(1)).as("cnt"),
        sum(dec("l_extendedprice")).cast("double").as("sum_price"))
      .orderBy("o_orderpriority")
  }

  // ---- two-phase hot-key salting: the production refinement of the
  // blanket salted join above. Phase 1 detects hot join keys by count
  // threshold (a tiny set — broadcast both ways); phase 2 salts the fact
  // side and replicates the dim side ONLY for those keys (salt 0
  // elsewhere), so the dim-side blow-up is |hot| × SaltBuckets instead of
  // |dim| × SaltBuckets. At 100 TB the phase-1 count is the cheap part
  // (map-side-combined count per key); production would sample instead of
  // scanning, but the plan shape is identical. Oracle = the plain join,
  // same as rel_salted_join: salting must never change semantics.
  private val HotKeyThreshold = 6L

  /** Join-key skew profile — the DETECTION diagnostic in front of the
    * salting remedies ([[saltedJoin]] blankets, [[saltedJoinHot]] salts
    * detected-hot keys; this is the report that justifies either): the
    * heaviest join keys with their absolute counts and corpus share.
    * One grouped count on the key, a global-window share over the
    * key-sized aggregated frame (|keys| rows, never the fact table),
    * and a TakeOrdered top-10. A deployment reads "is the hottest key
    * over the salting threshold" straight off row 1. */
  def skewProfile(spark: SparkSession, dir: String): DataFrame = {
    val counts = Tables(spark, dir, "orders")
      .groupBy(col("o_custkey").as("custkey"))
      .agg(count(lit(1)).as("cnt"))
    val w = org.apache.spark.sql.expressions.Window.partitionBy()
    counts
      .withColumn("share", round(col("cnt").cast("double") / sum("cnt").over(w), 6))
      .orderBy(desc("cnt"), asc("custkey"))
      .limit(10)
  }

  def saltedJoinHot(spark: SparkSession, dir: String): DataFrame = {
    val li = Tables(spark, dir, "lineitem")
      .select(col("l_orderkey"), col("l_linenumber"), col("l_extendedprice"))
    val hot = li.groupBy("l_orderkey").agg(count(lit(1)).as("k_cnt"))
      .filter(col("k_cnt") >= HotKeyThreshold)
      .select(col("l_orderkey").as("hot_key"))
    val liSalted = li
      .join(broadcast(hot), col("l_orderkey") === col("hot_key"), "left")
      .withColumn("l_salt",
        when(col("hot_key").isNotNull, pmod(col("l_linenumber"), lit(SaltBuckets)))
          .otherwise(lit(0)))
      .drop("hot_key")
    val ordSalted = Tables(spark, dir, "orders")
      .select(col("o_orderkey"), col("o_orderpriority"))
      .join(broadcast(hot), col("o_orderkey") === col("hot_key"), "left")
      .withColumn("o_salt", explode(
        when(col("hot_key").isNotNull, sequence(lit(0), lit(SaltBuckets - 1)))
          .otherwise(sequence(lit(0), lit(0)))))
      .drop("hot_key")
    liSalted.join(ordSalted,
        col("l_orderkey") === col("o_orderkey") && col("l_salt") === col("o_salt"))
      .groupBy("o_orderpriority")
      .agg(count(lit(1)).as("cnt"),
        sum(dec("l_extendedprice")).cast("double").as("sum_price"))
      .orderBy("o_orderpriority")
  }

  // ---- as-of join: each event matched to the user's latest order at or
  // before the event time — the operator Spark lacks natively (DuckDB's
  // ASOF JOIN is the oracle). Implemented as the ONE-SHUFFLE distributed
  // algorithm: tag and union both sides, sort within user by (time, side)
  // with orders first on ties (<= semantics), and carry the last non-null
  // order columns forward with a running window. No row explosion — the
  // equi-join-then-rank alternative multiplies every event by the user's
  // full order history before discarding all but one row; this shape
  // shuffles each input row exactly once at any scale. Orders are first
  // deduped to one row per (custkey, orderdate) — max orderkey — because
  // an as-of tie among equal timestamps is otherwise nondeterministic on
  // BOTH engines.
  def asofJoin(spark: SparkSession, dir: String): DataFrame = {
    val dedupe = Window.partitionBy("o_custkey", "o_orderdate")
      .orderBy(desc("o_orderkey"))
    val ord = Tables(spark, dir, "orders")
      .withColumn("rn", row_number().over(dedupe)).filter(col("rn") === 1)
      .select(col("o_custkey").as("user_id"),
        unix_micros(col("o_orderdate").cast("timestamp")).as("t_us"),
        lit(0).as("is_event"), lit(null).cast("long").as("event_id"),
        col("o_orderkey"), col("o_totalprice"))
    val ev = Tables(spark, dir, "events")
      .select(col("user_id"), unix_micros(col("ts")).as("t_us"),
        lit(1).as("is_event"), col("event_id"),
        lit(null).cast("long").as("o_orderkey"),
        lit(null).cast("double").as("o_totalprice"))
    val carry = Window.partitionBy("user_id")
      .orderBy(asc("t_us"), asc("is_event"), asc("event_id"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    ord.unionAll(ev)
      .withColumn("asof_orderkey", last(col("o_orderkey"), ignoreNulls = true).over(carry))
      .withColumn("asof_totalprice", last(col("o_totalprice"), ignoreNulls = true).over(carry))
      .filter(col("is_event") === 1 && col("asof_orderkey").isNotNull)
      .select(col("event_id"), col("user_id"), col("asof_orderkey"), col("asof_totalprice"))
      .orderBy("event_id")
  }

  // ---- binned range join: events × orders within ±1 day on the time
  // axis alone (NO equi key). The naive plan is a nested-loop cross
  // product — quadratic, dead at scale. Binning the time axis at the
  // radius width turns it into an equi-join: each order falls in exactly
  // one bin, each event probes its own bin ± 1, the exact predicate
  // re-checks inside the match. Every qualifying pair appears exactly
  // once, the join shuffles on the bin key, and the blow-up is a fixed
  // 3× on the probe side regardless of data size.
  private val RangeRadiusUs = 86400000000L // 1 day in microseconds

  def rangeJoinBinned(spark: SparkSession, dir: String): DataFrame = {
    val ev = Tables(spark, dir, "events")
      .select(col("event_id"), unix_micros(col("ts")).as("e_us"))
      .withColumn("ebin", explode(array(
        expr(s"e_us div ${RangeRadiusUs}L - 1"),
        expr(s"e_us div ${RangeRadiusUs}L"),
        expr(s"e_us div ${RangeRadiusUs}L + 1"))))
    val ord = Tables(spark, dir, "orders")
      .select(col("o_orderkey"), unix_micros(col("o_orderdate").cast("timestamp")).as("o_us"))
      .withColumn("obin", expr(s"o_us div ${RangeRadiusUs}L"))
    // radius check belongs in the JOIN condition: with a post-filter, an
    // event whose bin held only out-of-range orders would lose its
    // null-padded row and vanish instead of counting 0
    ev.join(ord, col("ebin") === col("obin") &&
        abs(col("o_us") - col("e_us")) <= RangeRadiusUs, "left")
      .groupBy("event_id")
      .agg(count(col("o_orderkey")).as("n_near"))
      .orderBy("event_id")
  }

  // ---- running window frame: cumulative revenue per customer in order
  // date order (rowsBetween unbounded-preceding..current). One shuffle on
  // the partition key; DECIMAL accumulation keeps every prefix sum exact.
  def windowRunning(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("o_custkey"))
      .orderBy(asc("o_orderdate"), asc("o_orderkey"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    Tables(spark, dir, "orders")
      .filter(col("o_custkey") < 50)
      .select(col("o_custkey"), col("o_orderkey"), col("o_orderdate"))
      .withColumn("run_cnt", count(lit(1)).over(w))
      .orderBy("o_custkey", "o_orderdate", "o_orderkey")
  }

  // ---- UNION (distinct) completing the set-op family with intersect/except
  def unionYears(spark: SparkSession, dir: String): DataFrame = {
    custkeysOfYear(spark, dir, 1996).union(custkeysOfYear(spark, dir, 1997))
      .distinct()
      .orderBy("o_custkey")
  }

  // ---- pivot: returnflag columns per linestatus (manual-CASE equivalent
  // in the oracle; Spark's pivot plans to the same conditional aggregates)
  def pivotFlags(spark: SparkSession, dir: String): DataFrame = {
    Tables(spark, dir, "lineitem")
      .groupBy("l_linestatus")
      .pivot("l_returnflag", Seq("A", "N", "R"))
      .agg(sum(col("l_quantity")))
      .orderBy("l_linestatus")
  }

  // ---- distribution window functions: percent_rank / cume_dist place
  // each order inside its customer's price distribution; nth_value reads
  // a fixed position of the full frame. One shuffle on the partition key.
  def windowDist(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("o_custkey"))
      .orderBy(asc("o_totalprice"), asc("o_orderkey"))
    val full = w.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    Tables(spark, dir, "orders")
      .filter(col("o_custkey") < 50)
      .select(col("o_custkey"), col("o_orderkey"), col("o_totalprice"))
      .withColumn("pr", percent_rank().over(w))
      .withColumn("cd", cume_dist().over(w))
      .withColumn("third_price", nth_value(col("o_totalprice"), 3).over(full))
      .orderBy("o_custkey", "o_totalprice", "o_orderkey")
  }

  // ---- NTILE customer-value tiering: customers ranked by lifetime
  // spend within their market segment and cut into quartiles, then
  // summarized per (segment, tile) — the standard value-tier table
  // behind cohort targeting. Plan: orders collapse to per-customer
  // spend FIRST (map-side partials behind one shuffle), the segment
  // dimension joins on the collapsed frame, and the ntile window runs
  // over |customers| rows partitioned by segment — never over raw
  // orders. Spend is summed as exact DECIMAL so tile boundaries and
  // the per-tile sums are engine-identical; doubles appear only in the
  // final casts.
  def windowNtile(spark: SparkSession, dir: String): DataFrame = {
    val spend = Tables(spark, dir, "orders")
      .groupBy(col("o_custkey"))
      .agg(sum(col("o_totalprice").cast("decimal(18,2)")).as("spend"))
    val cust = Tables(spark, dir, "customer")
      .select("c_custkey", "c_mktsegment")
    val w = Window.partitionBy(col("c_mktsegment"))
      .orderBy(desc("spend"), asc("c_custkey"))
    spend.join(cust, col("o_custkey") === col("c_custkey"))
      .withColumn("tile", ntile(4).over(w))
      .groupBy("c_mktsegment", "tile")
      .agg(count(lit(1)).as("n_cust"),
        min(col("spend")).cast("double").as("min_spend"),
        max(col("spend")).cast("double").as("max_spend"),
        sum(col("spend")).cast("double").as("tile_spend"))
      .orderBy("c_mktsegment", "tile")
  }

  // ---- value-based window frame (RANGE BETWEEN): for each order, how
  // many of the same customer's orders fall within ±30 days of it — a
  // sliding event-time neighborhood that ROWS frames cannot express
  // (the frame width varies with value gaps, not row counts).
  def windowRangeFrame(spark: SparkSession, dir: String): DataFrame = {
    val day = 86400L
    val w = Window.partitionBy(col("o_custkey"))
      .orderBy(col("o_epoch"))
      .rangeBetween(-30 * day, 30 * day)
    Tables(spark, dir, "orders")
      .filter(col("o_custkey") < 50)
      .select(col("o_custkey"), col("o_orderkey"),
        unix_timestamp(col("o_orderdate").cast("timestamp")).as("o_epoch"))
      .withColumn("n_near", count(lit(1)).over(w))
      .orderBy("o_custkey", "o_epoch", "o_orderkey")
  }

  // ---- argument extremes (min_by/max_by): the orderkey holding each
  // priority's cheapest/priciest order. The comparison value is made
  // UNIQUE (price paired with orderkey in exact integer arithmetic), so
  // the result is deterministic on both engines — bare min_by on a tied
  // value is engine-arbitrary and would never hash-match.
  def argExtremes(spark: SparkSession, dir: String): DataFrame = {
    // price*100 in doubles is NOT exact (1234.56*100 = 123455.999…), and
    // Spark's cast-to-long truncates where DuckDB's rounds — so BOTH
    // sides floor() the identical double product before the cast. Floor
    // collisions are harmless: +orderkey keeps the rank unique, and the
    // collision pattern is engine-identical.
    val rank = floor(col("o_totalprice") * 100).cast("long") * 10000000000L +
      col("o_orderkey")
    Tables(spark, dir, "orders")
      .select(col("o_orderpriority"), col("o_orderkey"), rank.as("rk"))
      .groupBy("o_orderpriority")
      .agg(min_by(col("o_orderkey"), col("rk")).as("cheapest_order"),
        max_by(col("o_orderkey"), col("rk")).as("priciest_order"))
      .orderBy("o_orderpriority")
  }

  // ---- unpivot (melt): the wide pivot result back to long form — the
  // inverse reshaping op. Plans as a single Expand (one pass, 3 output
  // rows per input row), no shuffle beyond the pivot's own aggregate.
  def unpivotFlags(spark: SparkSession, dir: String): DataFrame = {
    pivotFlags(spark, dir)
      .unpivot(Array(col("l_linestatus")), Array(col("A"), col("N"), col("R")),
        "flag", "sum_qty")
      .orderBy("l_linestatus", "flag")
  }

  // ---- correlated scalar subquery: per-customer order count written as a
  // correlated subquery — Catalyst MUST decorrelate it into an aggregate +
  // left outer join (RewriteCorrelatedScalarSubquery); a per-row re-scan
  // of orders would be quadratic and is not a plan Spark can emit.
  def corrSubquery(spark: SparkSession, dir: String): DataFrame = {
    Tables(spark, dir, "customer").createOrReplaceTempView("graft_cust")
    Tables(spark, dir, "orders").createOrReplaceTempView("graft_ord")
    spark.sql(
      """SELECT c_custkey,
        |  (SELECT count(*) FROM graft_ord WHERE o_custkey = c_custkey) AS n_orders
        |FROM graft_cust
        |WHERE c_custkey < 100
        |ORDER BY c_custkey""".stripMargin)
  }

  // ---- SCD2 run collapse: the change-data-capture build step — collapse
  // each customer's order history into runs of constant o_orderpriority
  // with [eff_from, eff_to) validity ranges (type-2 slowly-changing
  // dimension). Two windows over the SAME (o_custkey) partitioning —
  // change detection (lag) + run numbering (running sum), then the
  // collapsed frame's lead() for eff_to — so the whole query pays ONE
  // shuffle on the dimension key; run rows ≤ input rows by construction.
  // The key is the customer (no skew: order history per customer is
  // bounded); at 100 TB this is the standard one-shuffle SCD2 shape.
  /** The SCD2 build's oracle CTE chain (change detection, run
    * numbering, run collapse, validity-range chaining) — shared between
    * the build and the point-in-time read so the two cannot desync. */
  private[graft] val scd2ChainSql =
    """m AS (
      |  SELECT o_custkey, o_orderkey, o_orderdate, o_orderpriority,
      |    CASE WHEN lag(o_orderpriority) OVER w IS NULL
      |           OR lag(o_orderpriority) OVER w <> o_orderpriority
      |         THEN 1 ELSE 0 END AS chg
      |  FROM orders
      |  WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey)),
      |r0 AS (
      |  SELECT o_custkey, o_orderdate, o_orderpriority,
      |    CAST(sum(chg) OVER (PARTITION BY o_custkey
      |                        ORDER BY o_orderdate, o_orderkey
      |                        ROWS UNBOUNDED PRECEDING) AS BIGINT) AS run_id
      |  FROM m),
      |runs AS (
      |  SELECT o_custkey, run_id, min(o_orderpriority) AS priority,
      |    min(o_orderdate) AS eff_from, count(*) AS n_orders
      |  FROM r0 GROUP BY 1, 2),
      |scd2 AS (
      |  SELECT o_custkey, run_id, priority, eff_from,
      |    lead(eff_from) OVER (PARTITION BY o_custkey ORDER BY run_id) AS eff_to,
      |    n_orders
      |  FROM runs)""".stripMargin

  /** The fixed point-in-time the AS OF read resolves — mid-range of the
    * orders date span, so present keys, changed keys, and not-yet-born
    * keys all occur. */
  val Scd2AsOfDate = "1995-06-01"

  /** The READ side of SCD2 — the query the dimension history exists to
    * answer: each key's state AS OF a fixed date, i.e. the unique run
    * whose validity range [eff_from, eff_to) covers it (open-ended last
    * runs cover everything after their start; keys born later are
    * absent). By the chain construction at most one run matches per key
    * (spec-pinned). In production this filter hits the STORED SCD2
    * table; composing it over the registered build keeps the whole
    * lineage under one cross-engine hash. */
  def scd2AsOf(spark: SparkSession, dir: String): DataFrame =
    scd2Runs(spark, dir)
      .filter(col("eff_from") <= lit(Scd2AsOfDate) &&
        (col("eff_to").isNull || col("eff_to") > lit(Scd2AsOfDate)))
      .select(col("o_custkey"), col("priority"), col("eff_from"), col("eff_to"))
      .orderBy("o_custkey")

  def scd2Runs(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    val prev = lag(col("o_orderpriority"), 1).over(w)
    val runs = Tables(spark, dir, "orders")
      .select(col("o_custkey"), col("o_orderkey"), col("o_orderdate"),
        col("o_orderpriority"))
      .withColumn("chg",
        when(prev.isNull || prev =!= col("o_orderpriority"), 1L).otherwise(0L))
      .withColumn("run_id", sum("chg")
        .over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .groupBy("o_custkey", "run_id")
      .agg(min("o_orderpriority").as("priority"),
        min("o_orderdate").as("eff_from"),
        count(lit(1)).as("n_orders"))
    val wRun = Window.partitionBy("o_custkey").orderBy("run_id")
    runs.withColumn("eff_to", lead(col("eff_from"), 1).over(wRun))
      .select(col("o_custkey"), col("run_id"), col("priority"),
        col("eff_from"), col("eff_to"), col("n_orders"))
      .orderBy("o_custkey", "run_id")
  }

  // ---- MERGE-style upsert (SCD1 apply): a change batch — each customer's
  // LATEST order priority — applied to a target dimension slice via ONE
  // full outer join on the key, classifying every key as update (both
  // sides), insert (batch only), or keep (target only). This is the batch
  // spelling of MERGE INTO. Full outer CANNOT broadcast-hash in Spark, so
  // the join sort-merges on the key — the honest 100 TB shape when the
  // result must carry unmatched rows from BOTH sides; the latest-wins
  // dedup runs BEFORE the join behind a map-side WindowGroupLimit (rank
  // pushdown), so the join's batch side is |keys|, not |orders|. The
  // touched-partition rewrite is the storage layer's job; classification
  // and new-value resolution are exactly this plan. Batch keys < 300 vs
  // target keys < 200 guarantee all three actions appear at sf>=0.01.
  def mergeUpsert(spark: SparkSession, dir: String): DataFrame = {
    val wLatest = Window.partitionBy("o_custkey")
      .orderBy(desc("o_orderdate"), desc("o_orderkey"))
    val batch = Tables(spark, dir, "orders")
      .filter(col("o_custkey") < 300)
      .select(col("o_custkey"), col("o_orderkey"), col("o_orderdate"),
        col("o_orderpriority"))
      .withColumn("rk", row_number().over(wLatest))
      .filter(col("rk") === 1)
      .select(col("o_custkey").as("custkey"),
        col("o_orderpriority").as("new_priority"))
    val target = Tables(spark, dir, "customer")
      .filter(col("c_custkey") < 200)
      .select(col("c_custkey").as("tkey"), col("c_mktsegment"))
    // classification is by KEY presence on each side (never by value
    // nullability — a legitimately-null attribute must not flip an
    // update into an insert)
    target.join(batch.withColumnRenamed("custkey", "bkey"),
        col("tkey") === col("bkey"), "full_outer")
      .select(coalesce(col("tkey"), col("bkey")).as("custkey"),
        when(col("tkey").isNull, "insert")
          .when(col("bkey").isNull, "keep")
          .otherwise("update").as("action"),
        when(col("bkey").isNull, col("c_mktsegment"))
          .otherwise(concat(lit("PRIO:"), col("new_priority"))).as("merged_val"))
      .orderBy("custkey")
  }

  /** Qualifying-quantity threshold for the Q18 shape, single-sourced
    * with the oracle (25 / 204 qualifying orders at sf0.001 / sf0.01). */
  val Q18Threshold = 250.0

  // ---- TPC-H Q18 shape (large-volume customers): join against a
  // HAVING-filtered aggregate of the fact table itself — the "find the
  // heavy hitters, then enrich them" layout. The qualifying set is an
  // aggregate (map-side partials) that shrinks the fact table to the few
  // keys over threshold BEFORE any join; AQE then broadcasts it against
  // orders, and the customer dimension broadcasts too, so nothing
  // |lineitem|-sized ever reaches a join. l_quantity is integer-valued,
  // so the double sums are exact on both engines.
  def q18LargeOrders(spark: SparkSession, dir: String): DataFrame = {
    val big = Tables(spark, dir, "lineitem")
      .groupBy("l_orderkey").agg(sum("l_quantity").as("total_qty"))
      .filter(col("total_qty") > Q18Threshold)
    Tables(spark, dir, "orders")
      .join(big, col("o_orderkey") === col("l_orderkey"))
      .join(Tables(spark, dir, "customer"),
        col("o_custkey") === col("c_custkey"))
      .select(col("c_custkey"), col("c_name"), col("o_orderkey"),
        col("o_orderdate"), col("o_totalprice"), col("total_qty"))
      .orderBy(desc("o_totalprice"), asc("o_orderkey"))
      .limit(100)
  }

  /** PageRank fixed-point scale: ranks live on a 10^6 integer grid. */
  val PrScale = 1000000L

  /** One PageRank iteration over the part→supplier bipartite graph
    * (distinct (l_partkey, l_suppkey) edges): every part starts at
    * [[PrScale]], splits its rank evenly over its suppliers (exact
    * integer division — remainders dropped identically in both engines
    * since every operand is non-negative), and each supplier's new rank
    * is the damped sum `0.15·scale + 0.85·Σ contrib`, cross-multiplied
    * into pure BIGINT arithmetic. Float PageRank diverges across
    * summation orders; the quantized grid makes the round
    * bit-deterministic. This plan is ROUND ONE from the uniform start
    * (the part ranks are the [[PrScale]] constant); a full power
    * iteration generalizes it by joining a (part, rank) table in place
    * of that constant — same shape, one extra node-sized equi-join —
    * rather than looping this exact plan. Cost per round: one node-sized
    * degree aggregate, one edge×degree equi-join, one grouped sum —
    * the standard Pregel-style round, all shuffles on graph keys;
    * nothing edge-squared anywhere. */
  def pagerankIter(spark: SparkSession, dir: String): DataFrame = {
    // edges materialized once (r18): the round references the edge set
    // twice (degree aggregate + contribution join) and the planner does
    // not reuse the distinct's exchange across the two (the join adds a
    // null filter to one side) — the before-plan ran the lineitem scan +
    // distinct pipeline twice (plans/r18/rel_pagerank_iter_before.txt).
    pagerankIterFrom(Tables(spark, dir, "lineitem")
      .select(col("l_partkey").as("part"), col("l_suppkey").as("supp"))
      .distinct()
      .localCheckpoint(true))
  }

  /** [[pagerankIter]] over an explicit edge frame, so [[pagerankRound2]]
    * can share ONE materialized edge set between both rounds instead of
    * re-running the lineitem scan + distinct per round (r17 optimization
    * — measured plan before: 4 scans / 12 exchanges in round 2). */
  private def pagerankIterFrom(edges: DataFrame): DataFrame = {
    val deg = edges.groupBy("part").agg(count(lit(1)).as("deg"))
    edges.join(deg, Seq("part"))
      .select(col("supp"), expr(s"$PrScale div deg").as("c"))
      .groupBy("supp")
      .agg(count(lit(1)).as("in_deg"), sum("c").as("c_sum"))
      .select(col("supp").as("suppkey"), col("in_deg"),
        (lit(15L * PrScale / 100) + expr("(85 * c_sum) div 100")).as("rank_new"))
      .orderBy("suppkey")
  }

  /** The back-propagation round that makes the PageRank loop real:
    * round two pushes the supplier ranks [[pagerankIter]] emitted back
    * across the same edges in the supplier→part direction (bipartite
    * power iteration alternates sides), so round one's output IS this
    * round's rank input — composed directly, the way a driver loop
    * would. Same exact-integer split (rank div out-degree, all operands
    * non-negative) and damped BIGINT sum; same Pregel-round cost. */
  def pagerankRound2(spark: SparkSession, dir: String): DataFrame = {
    // one edge materialization shared by both alternations (the
    // trajectory loop's discipline, applied to the two-round composition)
    val edges = Tables(spark, dir, "lineitem")
      .select(col("l_partkey").as("part"), col("l_suppkey").as("supp"))
      .distinct()
      .localCheckpoint(true)
    val sdeg = edges.groupBy("supp").agg(count(lit(1)).as("sdeg"))
    val r1 = pagerankIterFrom(edges)
      .select(col("suppkey").as("supp"), col("rank_new").as("rank1"))
    edges.join(sdeg, Seq("supp")).join(r1, Seq("supp"))
      .select(col("part"), expr("rank1 div sdeg").as("c"))
      .groupBy("part")
      .agg(count(lit(1)).as("in_deg"), sum("c").as("c_sum"))
      .select(col("part").as("partkey"), col("in_deg"),
        (lit(15L * PrScale / 100) + expr("(85 * c_sum) div 100")).as("rank_new"))
      .orderBy("partkey")
  }

  /** Full alternations (part→supplier→part) the converged PageRank run
    * executes — the fixed iteration budget of the driver loop. Single-
    * sourced with the unrolled oracle CTE chain, so editing it can never
    * desync kernel from oracle. */
  val PrAlternations = 4

  /** The REAL driver loop over [[pagerankIter]]/[[pagerankRound2]]'s
    * single rounds: [[PrAlternations]] full part→supplier→part power
    * alternations of the damped bipartite PageRank, with per-round
    * `localCheckpoint` (the `dedup_components` discipline — lineage cut
    * each round, edges and degree tables materialized ONCE before the
    * loop) and a driver-side stop probe (a node-sized aggregate — data
    * rows never transit the driver) that exits early iff the integer
    * ranks reach an EXACT fixed point. The early exit is output-neutral
    * by construction: identical rank input reproduces identical rank
    * output for every later round, so the unrolled [[PrAlternations]]-
    * round oracle matches whether or not the loop cut out early — the
    * probe is the stop condition a production run would use, not a
    * semantics fork. Per-alternation cost is two edge-keyed equi-joins +
    * two grouped sums (the Pregel round), nothing edge-squared; at 100 TB
    * the loop state is one (node, rank) table the size of the part
    * column. Convergence itself (L∞ contraction at the 0.85 damping
    * rate, total-rank conservation) is pinned by PagerankSpec on the
    * trajectory this same loop records. */
  private[queries] def pagerankTrajectory(
      spark: SparkSession, dir: String): (DataFrame, Seq[Long]) = {
    // ONE materialization carrying the edge list AND both endpoint
    // degrees (r18 optimization, guide §1.2 step 1 / §2.4): the old
    // spelling checkpointed edges, pdeg and sdeg separately (3 actions)
    // and re-joined the two degree tables into every alternation (8
    // node-keyed joins across the loop). Folding pd/sd onto the edge
    // row costs two integer columns on the one checkpoint and removes
    // both per-round degree joins — the degree of an endpoint is a
    // function of the endpoint, so the fold is exact.
    val e = Tables(spark, dir, "lineitem")
      .select(col("l_partkey").as("part"), col("l_suppkey").as("supp"))
      .distinct()
    val edges = e
      .join(e.groupBy("part").agg(count(lit(1)).as("pd")), Seq("part"))
      .join(e.groupBy("supp").agg(count(lit(1)).as("sd")), Seq("supp"))
      .localCheckpoint(true)
    // round-0 ranks: every part at PrScale — a lazy 2-column projection
    // of the checkpointed edges (the old pdeg-based spelling selected
    // the same part set), folded into round 1's job instead of paying
    // its own checkpoint action
    var ranks: DataFrame = edges.select(col("part")).distinct()
      .select(col("part"), lit(PrScale).as("r"))
    val deltas = scala.collection.mutable.ArrayBuffer.empty[Long]
    var it = 0
    var converged = false
    while (it < PrAlternations && !converged) {
      val sr = edges.join(ranks.select(col("part"), col("r")), Seq("part"))
        .select(col("supp"), expr("r div pd").as("c"))
        .groupBy("supp").agg(sum("c").as("c_sum"))
        .select(col("supp"),
          (lit(15L * PrScale / 100) + expr("(85 * c_sum) div 100")).as("r"))
      // the new part ranks CARRY the previous rank (one broadcast-sized
      // join on the node table before the checkpoint), and the
      // convergence delta rides the checkpoint action itself as an
      // observed metric — one action per alternation where the old
      // spelling paid two (checkpoint + a separate join-probe job)
      val obs = org.apache.spark.sql.Observation()
      val pr = edges.join(sr, Seq("supp"))
        .select(col("part"), expr("r div sd").as("c"))
        .groupBy("part").agg(sum("c").as("c_sum"))
        .select(col("part"),
          (lit(15L * PrScale / 100) + expr("(85 * c_sum) div 100")).as("r"))
        .join(ranks.select(col("part"), col("r").as("prev")), Seq("part"))
        .observe(obs, max(abs(col("r") - col("prev"))).as("d"))
        .localCheckpoint(true)
      val d = obs.get("d").asInstanceOf[Long]
      deltas += d
      converged = d == 0L
      ranks = pr
      it += 1
    }
    (ranks.select(col("part"), col("r")), deltas.toSeq)
  }

  /** Converged-run output: the part-side ranks after the final
    * alternation, the graph metric the reference's 1.5 B-tweet
    * historical corpus would demand at scale. */
  def pagerankConverged(spark: SparkSession, dir: String): DataFrame =
    pagerankTrajectory(spark, dir)._1
      .select(col("part").as("partkey"), col("r").as("rank_final"))
      .orderBy("partkey")

  /** One unrolled oracle round: sr$i from pr$(i-1), pr$i from sr$i —
    * the same damped exact-integer update as the Spark loop (`//` floors
    * like Spark's `div` on these all-non-negative operands). */
  private def prRoundCte(i: Int): String =
    s"""sr$i AS (
       |  SELECT e.supp,
       |    CAST(${15L * PrScale / 100} + (85 * sum(p.r // d.pd)) // 100 AS BIGINT) AS r
       |  FROM e JOIN pr${i - 1} p USING (part) JOIN pd d USING (part)
       |  GROUP BY e.supp),
       |pr$i AS (
       |  SELECT e.part,
       |    CAST(${15L * PrScale / 100} + (85 * sum(s.r // d.sd)) // 100 AS BIGINT) AS r
       |  FROM e JOIN sr$i s USING (supp) JOIN sd d USING (supp)
       |  GROUP BY e.part)""".stripMargin

  /** The unrolled [[PrAlternations]]-round oracle — generated by mapping
    * over the same constant the Spark loop iterates, so kernel and
    * oracle can never silently desync. */
  private[queries] def pagerankConvergedSql: String = {
    val rounds = (1 to PrAlternations).map(prRoundCte).mkString(",\n")
    s"""WITH e AS (SELECT DISTINCT l_partkey AS part, l_suppkey AS supp FROM lineitem),
       |pd AS (SELECT part, count(*) AS pd FROM e GROUP BY part),
       |sd AS (SELECT supp, count(*) AS sd FROM e GROUP BY supp),
       |pr0 AS (SELECT part, CAST($PrScale AS BIGINT) AS r FROM pd),
       |$rounds
       |SELECT part AS partkey, r AS rank_final
       |FROM pr$PrAlternations ORDER BY partkey""".stripMargin
  }

  /** Minimum co-occurrence count for a part pair to count as an edge of
    * the co-purchase graph — the frequent-itemset support threshold. It
    * is the load-bearing scale bound: raw distinct pairs grow with the
    * order count (1.2M at sf0.1), but the support-pruned graph stays
    * ~3.5k edges from sf0.01 to sf0.1, so everything downstream of the
    * prune (the triangle join included) runs on a sketch-sized input. */
  val CopurchaseSupport = 2

  /** Support-pruned co-purchase edge set `(p1 < p2, cnt)` — the
    * market-basket pair-mining core. Pair generation self-joins the
    * distinct (order, part) set on the order key, so the blowup per
    * order is (basket choose 2), bounded by the basket size (≤7 lines
    * in TPC-H-shaped data) — never data-squared. One shuffle on the
    * order key, one on the pair. */
  private def copurchaseEdges(spark: SparkSession, dir: String): DataFrame =
    // basket frame materialized once (r18): the pair self-join references
    // it on both sides, and without the checkpoint each side re-ran the
    // lineitem scan + distinct (the lift query's r17 fix, applied to the
    // pairs/triangles path too) — post-checkpoint the two sides are
    // identical subplans, so AQE can additionally reuse one exchange
    copurchaseEdgesFrom(distinctOrderParts(spark, dir).localCheckpoint(true))

  /** The distinct (order, part) basket frame every co-purchase miner
    * starts from. */
  private def distinctOrderParts(spark: SparkSession, dir: String): DataFrame =
    Tables(spark, dir, "lineitem")
      .select(col("l_orderkey").as("ok"), col("l_partkey").as("pk"))
      .distinct()

  /** [[copurchaseEdges]] over an explicit basket frame, so a caller that
    * needs the basket frame for OTHER aggregates too (the lift query's
    * item supports and basket total) can materialize it once instead of
    * re-running the lineitem scan + distinct per reference (r17
    * optimization, guide §1.2 step 1). */
  private def copurchaseEdgesFrom(l: DataFrame): DataFrame =
    l.as("a").join(l.as("b"),
        col("a.ok") === col("b.ok") && col("a.pk") < col("b.pk"))
      .select(col("a.pk").as("p1"), col("b.pk").as("p2"))
      .groupBy("p1", "p2").agg(count(lit(1)).as("cnt"))
      .filter(col("cnt") >= CopurchaseSupport)

  /** Top co-purchased part pairs above the support threshold — frequent
    * pair mining, the first rung of market-basket analysis. Total order
    * (cnt desc, p1, p2) before the limit keeps the result
    * engine-comparable; the top-k itself is a TakeOrdered, not a global
    * sort. */
  def copurchasePairs(spark: SparkSession, dir: String): DataFrame = {
    copurchaseEdges(spark, dir)
      .orderBy(desc("cnt"), asc("p1"), asc("p2"))
      .limit(20)
  }

  /** Association-rule metrics for the mined pairs — market-basket
    * mining's second rung: each top co-purchased pair annotated with its
    * item supports, confidence(p1→p2) = cnt/n1, and lift =
    * N·cnt/(n1·n2). The per-item support table is one basket-keyed
    * aggregate joined to the 20-row top-pair set (AQE broadcasts the
    * tiny side), and the basket total N is a 1-row broadcast product —
    * nothing here rescans pairs. Each ratio is one double division from
    * exact integers, rounded to 6 decimals, so both engines emit the
    * identical value. */
  def copurchaseLift(spark: SparkSession, dir: String): DataFrame = {
    // the basket frame feeds FOUR branches (pair mining self-join × 2,
    // item supports, basket total): one materialization instead of four
    // lineitem scans + four distinct shuffles (r17 optimization —
    // measured plan before: 5 scans / 14 exchanges)
    val l = distinctOrderParts(spark, dir).localCheckpoint(true)
    val item = l.groupBy("pk").agg(count(lit(1)).as("n_item"))
    val baskets = l.select("ok").distinct().agg(count(lit(1)).as("n_baskets"))
    val top = copurchaseEdgesFrom(l)
      .orderBy(desc("cnt"), asc("p1"), asc("p2")).limit(20)
    top
      .join(item.select(col("pk").as("p1"), col("n_item").as("n1")), Seq("p1"))
      .join(item.select(col("pk").as("p2"), col("n_item").as("n2")), Seq("p2"))
      .crossJoin(broadcast(baskets))
      .select(col("p1"), col("p2"), col("cnt"), col("n1"), col("n2"),
        round(col("cnt").cast("double") / col("n1"), 6).as("confidence"),
        round(col("n_baskets").cast("double") * col("cnt") / (col("n1") * col("n2")), 6)
          .as("lift"))
      .orderBy(desc("cnt"), asc("p1"), asc("p2"))
  }

  /** Triangle census of the support-pruned co-purchase graph, by
    * degree-ordered edge orientation: each edge points from its
    * lower-degree endpoint (id tiebreak), wedges are generated only at
    * a triangle's orientation-minimum vertex, and the closing edge is
    * probed with one equi-join against the canonical edge set — the
    * standard bound of Σ out-deg² ≤ O(m·√m) wedge candidates instead of
    * the hub-quadratic naive join. Emits one row (n_nodes, n_edges,
    * n_triangles); the three counts meet in 1-row broadcast products. */
  def triangles(spark: SparkSession, dir: String): DataFrame = {
    // the support prune leaves a sketch-sized edge set (~3.5k rows at
    // sf0.1) whose lineage is the expensive basket self-join; the census
    // reads it from four branches (orientation, wedges, closing probe,
    // counts), so materialize it once instead of recomputing the join
    // per branch — same call the components loop makes per round
    triangleCensus(
      copurchaseEdges(spark, dir).select("p1", "p2").localCheckpoint(true))
  }

  /** LOCF (last-observation-carried-forward) imputation — the canonical
    * sparse-timeseries fill: per customer, each order carries the most
    * recent FINALIZED order's price forward in (date, key) order; rows
    * before a customer's first observation stay NULL (LOCF invents
    * nothing). The IGNORE-NULLS running last_value is THE window
    * modifier built for this — no self-join, no recursive gap walk; one
    * shuffle on the partition key and a per-customer ordered scan,
    * embarrassingly parallel across customers at any scale. The 1-in-100
    * customer sample only caps the VERIFY dump; the plan is
    * sample-free. */
  def locfFill(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy("o_custkey")
      .orderBy("o_date", "o_orderkey")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    Tables(spark, dir, "orders")
      .filter(col("o_custkey") % 100 === 0)
      .select(col("o_custkey"), col("o_orderdate").cast("date").as("o_date"),
        col("o_orderkey"),
        when(col("o_orderstatus") === "F", col("o_totalprice")).as("observed"))
      .withColumn("filled", last(col("observed"), ignoreNulls = true).over(w))
      .orderBy("o_custkey", "o_date", "o_orderkey")
  }

  /** Calendar-dimension build — the most ubiquitous warehouse table:
    * one row per day spanning the fact table's date range (derived from
    * a 1-row min/max aggregate, so the spine always covers the data),
    * with the standard attributes every BI join wants precomputed —
    * year, quarter, month, day-of-month, ISO week, Sunday-first
    * day-of-week (1..7, the [[trafficHeatmap]] convention), and the
    * weekend flag. Generated by `sequence(min, max, 1 day)` — a spine
    * that can never drift from the facts, where a hand-maintained
    * calendar goes stale. Pure date arithmetic; |days| rows. */
  def dateDim(spark: SparkSession, dir: String): DataFrame = {
    Tables(spark, dir, "orders")
      .agg(min(col("o_orderdate")).cast("date").as("d0"),
        max(col("o_orderdate")).cast("date").as("d1"))
      .select(explode(expr("sequence(d0, d1, interval 1 day)")).as("d"))
      .select(col("d"), year(col("d")).as("yr"), quarter(col("d")).as("qtr"),
        month(col("d")).as("mo"), dayofmonth(col("d")).as("dom"),
        weekofyear(col("d")).as("iso_wk"), dayofweek(col("d")).as("dow"))
      .withColumn("is_weekend",
        when(col("dow") === 1 || col("dow") === 7, 1).otherwise(0))
      .orderBy("d")
  }

  /** ABC classification — Pareto analysis of part revenue: parts sorted
    * by revenue descending, class A = the head covering the first 80% of
    * cumulative revenue, B = the next 15%, C = the tail. The class
    * boundaries are EXACT-DECIMAL comparisons (cum·100 ≤ total·80 on the
    * un-divided sums), so no float share ever decides a boundary part
    * and both engines cut identically — ties inside the running sum are
    * impossible because the order (revenue desc, partkey asc) is total.
    * Reported per class: part count, revenue, revenue share — the
    * inventory-policy summary. The windows run over the |parts|-sized
    * aggregate, and at 100 TB the global sort is a range partition of
    * that aggregate, not of lineitem. */
  def abcAnalysis(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val perPart = Tables(spark, dir, "lineitem")
      .groupBy(col("l_partkey").as("partkey"))
      .agg(sum(col("l_extendedprice").cast("decimal(18,2)")).as("rev"))
    val cum = Window.orderBy(desc("rev"), asc("partkey"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val tot = Window.partitionBy()
    perPart
      .withColumn("cum_rev", sum("rev").over(cum))
      .withColumn("total", sum("rev").over(tot))
      .withColumn("abc",
        when(col("cum_rev") * 100 <= col("total") * 80, "A")
          .when(col("cum_rev") * 100 <= col("total") * 95, "B")
          .otherwise("C"))
      .groupBy("abc")
      .agg(count(lit(1)).as("n_parts"),
        sum("rev").cast("double").as("revenue"),
        round(sum("rev").cast("double") * 100 /
          max(col("total")).cast("double"), 4).as("rev_share_pct"))
      .orderBy("abc")
  }

  /** Price-volume decomposition periods (by ship year). */
  val DecompY0 = 1996
  val DecompY1 = 1997

  /** Price-volume growth decomposition — the FP&A bridge every revenue
    * review runs: each return-flag class's year-over-year revenue change
    * split into a VOLUME effect (quantity change at old average price,
    * (q₁−q₀)·p₀) and a PRICE effect (price change on new volume,
    * q₁·(p₁−p₀)); the two provably sum to the delta, enforced by
    * construction — price_effect is computed as delta − volume_effect,
    * so the bridge closes exactly even in floating point. One scan with
    * conditional aggregates (no self-join of periods); quantity and
    * revenue sums ride exact DECIMAL so partition order cannot drift
    * the doubles, and the only non-exact steps are the same
    * fixed-order double expressions on both engines. */
  def growthDecomp(spark: SparkSession, dir: String): DataFrame = {
    def s(y: Int, c: Column) =
      sum(when(year(col("l_shipdate")) === y, c).otherwise(lit(0))
        .cast("decimal(18,2)"))
    Tables(spark, dir, "lineitem")
      .groupBy(col("l_returnflag").as("flag"))
      .agg(s(DecompY0, col("l_quantity")).as("q0"),
        s(DecompY0, col("l_extendedprice")).as("r0"),
        s(DecompY1, col("l_quantity")).as("q1"),
        s(DecompY1, col("l_extendedprice")).as("r1"))
      .select(col("flag"),
        col("r0").cast("double").as("rev0"),
        col("r1").cast("double").as("rev1"),
        expr("cast(r1 - r0 as double)").as("delta"),
        // a class absent from the base year has no old price to bridge
        // from: pin NULL on both engines rather than an engine-specific
        // inf/NaN rendering (the ev_anomaly degenerate-input contract)
        expr("case when q0 = 0 then null else " +
          "round(cast(q1 - q0 as double) * (cast(r0 as double) / cast(q0 as double)), 2) end")
          .as("volume_effect"))
      .select(col("flag"), col("rev0"), col("rev1"),
        round(col("delta"), 2).as("delta"), col("volume_effect"),
        round(col("delta") - col("volume_effect"), 2).as("price_effect"))
      .orderBy("flag")
  }

  /** Apportionment budget (integer units) for the allocation report. */
  val AllocBudget = 1000000L

  /** Largest-remainder (Hamilton) apportionment — divide a fixed integer
    * budget across order-priority classes proportional to their order
    * counts so the allocations SUM TO THE BUDGET EXACTLY: each class
    * gets floor(budget·nᵢ/N), and the leftover units (< #classes) go to
    * the largest remainders (budget·nᵢ mod N, priority-asc tiebreak).
    * Everything is exact BIGINT — the naive round(budget·share) spelling
    * over- or under-spends by up to #classes/2 units and is exactly the
    * bug this method exists to kill (Σ = budget is spec-pinned on
    * adversarial weights). The remainder ranking is a window over the
    * |classes|-sized aggregate, never the fact table. */
  def budgetAllocation(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val counts = Tables(spark, dir, "orders")
      .groupBy(col("o_orderpriority").as("priority"))
      .agg(count(lit(1)).as("n_orders"))
    val tot = Window.partitionBy()
    val rk = Window.orderBy(
      desc("rem"), asc("priority")) // deterministic largest-remainder order
    counts
      .withColumn("n_total", sum("n_orders").over(tot))
      .select(col("priority"), col("n_orders"),
        expr(s"($AllocBudget * n_orders) div n_total").as("base"),
        expr(s"($AllocBudget * n_orders) % n_total").as("rem"),
        col("n_total"))
      .withColumn("rem_rank", row_number().over(rk))
      .withColumn("residual",
        lit(AllocBudget) - sum("base").over(tot))
      .select(col("priority"), col("n_orders"),
        (col("base") + when(col("rem_rank") <= col("residual"), 1L)
          .otherwise(0L)).as("alloc"),
        when(col("rem_rank") <= col("residual"), 1).otherwise(0)
          .as("got_extra"))
      .orderBy("priority")
  }

  /** Incremental-refresh cutoff — MID-month on purpose, so January 2001
    * exists as a base partial AND a delta partial and the merge provably
    * combines two partials for one group (a month-boundary cutoff would
    * make the merge a disjoint union). */
  val MvCutoff = "2001-01-15"

  /** Incremental materialized-view maintenance — the production refresh
    * lifecycle: the monthly revenue MV's partial aggregates
    * (month, count, exact DECIMAL revenue sum) for orders BEFORE
    * [[MvCutoff]] are persisted once as a parquet artifact
    * (IndexStore, the same build/serve split as sim_ivf_served), and
    * the registered query REFRESHES it — scans only the delta
    * (orders ≥ cutoff, the filter pushed to the scan), aggregates it,
    * and merges by unioning partials and re-summing per month. Counts
    * merge by addition and DECIMAL sums merge exactly, which is WHY the
    * MV is incrementally maintainable at all (the algebraic-aggregate
    * property; a median MV would need the full history). The oracle is
    * the MV's DEFINING query — one full recompute over orders — so the
    * driver's hash proves refresh ≡ definition, not merely
    * self-consistency. At 100 TB the refresh touches |delta| rows +
    * a months-sized artifact instead of the whole fact table. */
  def mvRefresh(spark: SparkSession, dir: String): DataFrame = {
    def partials(pred: Column): DataFrame =
      Tables(spark, dir, "orders")
        .filter(pred)
        .groupBy(date_trunc("month", col("o_orderdate")).cast("date")
          .as("month"))
        .agg(count(lit(1)).as("n_part"),
          sum(col("o_totalprice").cast("decimal(18,2)")).as("rev_part"))
    val cut = lit(MvCutoff).cast("timestamp")
    val base = graft.similarity.IndexStore.ensure(spark, dir, "mv_monthly")(
      partials(col("o_orderdate") < cut))
    base.select("month", "n_part", "rev_part")
      .unionAll(partials(col("o_orderdate") >= cut))
      .groupBy("month")
      .agg(sum("n_part").as("n_orders"),
        sum("rev_part").cast("double").as("revenue"))
      .orderBy("month")
  }

  /** BFS hop cap: both engines bound the expansion at the same constant,
    * so the result is well-defined ("min-hop distance within 20") even on
    * a pathological graph whose diameter exceeds it. Fixture co-purchase
    * graphs have diameter ≈ 3–6. */
  val ReachMaxHops = 20

  /** Single-source BFS over the co-purchase graph run to FIXPOINT — the
    * frontier-expansion loop every distributed graph engine (Pregel,
    * GraphX, GraphFrames) builds on, here as plain DataFrame rounds:
    * seed = smallest node; per round the frontier equi-joins the
    * undirected edge list, dedups, and anti-joins the visited set; the
    * loop stops when the frontier empties (1-row `isEmpty` probe, same
    * documented O(1) driver stop as [[pagerankConverged]]) or at
    * [[ReachMaxHops]]. State crossing rounds is node-sized (visited +
    * frontier), lineage truncated per round via `localCheckpoint` — at
    * 100 TB the edge list shuffles once on src and every round is one
    * equi-join + distinct, never a path enumeration. Output is the hop
    * histogram (n_nodes, id range per hop). Oracle: DuckDB
    * `WITH RECURSIVE` capped at the same hop constant, min(hops) per
    * node — BFS re-expressed as the fixpoint its semantics are. */
  def reachability(spark: SparkSession, dir: String): DataFrame = {
    bfsHistogram(
      copurchaseEdges(spark, dir).select("p1", "p2").localCheckpoint(true))
  }

  /** The BFS core over any canonical (p1 < p2) edge frame — split out so
    * hop semantics (seed = min node, unreachable components absent, hop
    * cap honored) are provable on synthetic graphs in ReachabilitySpec,
    * independent of the co-purchase derivation. */
  private[queries] def bfsHistogram(e: DataFrame): DataFrame = {
    val undirected = e.select(col("p1").as("src"), col("p2").as("dst"))
      .unionAll(e.select(col("p2").as("src"), col("p1").as("dst")))
      .localCheckpoint(true) // edge-sized; reused by every round
    var visited = e.agg(min("p1").as("node"))
      .select(col("node"), lit(0).as("hops")).localCheckpoint(true)
    var frontier = visited
    var frontierEmpty = frontier.isEmpty
    var h = 0
    while (h < ReachMaxHops && !frontierEmpty) {
      h += 1
      // the empty-frontier stop probe rides the checkpoint action as an
      // observed row count (r18, guide §1.2 step 1) — one action per hop
      // instead of checkpoint + a separate isEmpty job
      val obs = org.apache.spark.sql.Observation()
      val next = frontier.join(undirected, col("node") === col("src"))
        .select(col("dst").as("node")).distinct()
        .join(visited, Seq("node"), "left_anti")
        .select(col("node"), lit(h).as("hops"))
        .observe(obs, count(lit(1)).as("n"))
        .localCheckpoint(true)
      frontierEmpty = obs.get("n").asInstanceOf[Long] == 0L
      // visited stays a LAZY union of the per-hop checkpoints: each hop
      // already materialized its own frontier, so re-materializing the
      // growing union every round (the previous spelling) paid one extra
      // full write+read of the visited set per hop for nothing (r17
      // optimization — the anti-join reads the union of checkpointed
      // pieces directly)
      visited = visited.unionAll(next)
      frontier = next
    }
    visited.groupBy("hops")
      .agg(count(lit(1)).as("n_nodes"),
        min("node").as("min_node"), max("node").as("max_node"))
      .orderBy("hops")
  }

  /** The census core over any canonical (p1 < p2) edge set — split out so
    * the orientation argument is provable on synthetic graphs in
    * GraphCensusSpec, independent of the co-purchase derivation. */
  private[queries] def triangleCensus(e: DataFrame): DataFrame = {
    val deg = e.select(col("p1").as("n")).unionAll(e.select(col("p2").as("n")))
      .groupBy("n").agg(count(lit(1)).as("deg"))
    // p1 < p2 canonically, so the equal-degree tiebreak (orient by id)
    // keeps src = p1
    val fwd = col("da.deg") <= col("db.deg")
    val oriented = e
      .join(deg.as("da"), col("p1") === col("da.n"))
      .join(deg.as("db"), col("p2") === col("db.n"))
      .select(
        when(fwd, col("p1")).otherwise(col("p2")).as("src"),
        when(fwd, col("p2")).otherwise(col("p1")).as("dst"))
    val wedges = oriented.as("o1").join(oriented.as("o2"),
        col("o1.src") === col("o2.src") && col("o1.dst") < col("o2.dst"))
      .select(col("o1.dst").as("v"), col("o2.dst").as("w"))
    val closed = wedges.join(e.as("c"),
      least(col("v"), col("w")) === col("c.p1") &&
        greatest(col("v"), col("w")) === col("c.p2"))
    deg.agg(count(lit(1)).as("n_nodes"))
      .crossJoin(broadcast(e.agg(count(lit(1)).as("n_edges"))))
      .crossJoin(broadcast(closed.agg(count(lit(1)).as("n_triangles"))))
      .select(col("n_nodes"), col("n_edges"), col("n_triangles"))
  }

  // ---- TPC-H Q4 analog (fixture has no l_commitdate, so "late" =
  // shipped >60 days after the order date): priority counts of orders
  // with at least one late line. The cross-table predicate rides the
  // LEFT SEMI join condition — Spark plans one shuffle-semi-join (or
  // broadcast under AQE when the filtered orders side is small) and
  // probes each order key at most once; no EXISTS-per-row re-scan, and
  // the lineitem side carries only (l_orderkey, l_shipdate).
  def q4LateOrders(spark: SparkSession, dir: String): DataFrame = {
    val ord = Tables(spark, dir, "orders")
      .filter(col("o_orderdate") >= lit("1996-01-01").cast("timestamp") &&
        col("o_orderdate") < lit("1997-01-01").cast("timestamp"))
      .select("o_orderkey", "o_orderdate", "o_orderpriority")
    val li = Tables(spark, dir, "lineitem").select("l_orderkey", "l_shipdate")
    ord.join(li,
        col("l_orderkey") === col("o_orderkey") &&
          col("l_shipdate") > col("o_orderdate") + expr("INTERVAL 60 DAYS"),
        "left_semi")
      .groupBy("o_orderpriority")
      .agg(count(lit(1)).as("order_count"))
      .orderBy("o_orderpriority")
  }

  // ---- TPC-H Q7 analog: cross-border volume per directed nation pair
  // and ship year, for a nation band (the fixture's trade graph is too
  // sparse for one literal pair at sf0.001). Both nation legs are
  // band-filtered BEFORE their broadcast, so the dim joins already
  // prune; the supp≠cust inequality runs after — and the fact joins
  // shuffle on their natural keys only.
  def q7Volume(spark: SparkSession, dir: String): DataFrame = {
    val n1 = Tables(spark, dir, "nation").filter(col("n_nationkey") < 4)
      .select(col("n_nationkey").as("s_nkey"), col("n_name").as("supp_nation"))
    val n2 = Tables(spark, dir, "nation").filter(col("n_nationkey") < 4)
      .select(col("n_nationkey").as("c_nkey"), col("n_name").as("cust_nation"))
    val sup = Tables(spark, dir, "supplier").select("s_suppkey", "s_nationkey")
    val cust = Tables(spark, dir, "customer").select("c_custkey", "c_nationkey")
    val ord = Tables(spark, dir, "orders").select("o_orderkey", "o_custkey")
    val li = Tables(spark, dir, "lineitem")
      .filter(col("l_shipdate") >= lit("1996-01-01").cast("timestamp") &&
        col("l_shipdate") < lit("1998-01-01").cast("timestamp"))
      .select("l_orderkey", "l_suppkey", "l_shipdate", "l_extendedprice", "l_discount")
    val disc = (lit(1.0) - col("l_discount")).cast("decimal(8,2)")
    li.join(ord, col("l_orderkey") === col("o_orderkey"))
      .join(sup, col("l_suppkey") === col("s_suppkey"))
      .join(cust, col("o_custkey") === col("c_custkey"))
      .join(broadcast(n1), col("s_nationkey") === col("s_nkey"))
      .join(broadcast(n2), col("c_nationkey") === col("c_nkey"))
      .filter(col("s_nkey") =!= col("c_nkey"))
      .groupBy(col("supp_nation"), col("cust_nation"),
        year(col("l_shipdate")).as("l_year"))
      .agg(count(lit(1)).as("cnt"),
        sum(dec("l_extendedprice") * disc).cast("double").as("revenue"))
      .orderBy("supp_nation", "cust_nation", "l_year")
  }

  // ---- TPC-H Q10 analog: returned-item revenue per customer, top 20.
  // The quarter-filtered orders side shrinks first; nation broadcasts;
  // top-k is TakeOrderedAndProject (no global sort materialization).
  def q10Returned(spark: SparkSession, dir: String): DataFrame = {
    val ord = Tables(spark, dir, "orders")
      .filter(col("o_orderdate") >= lit("1996-07-01").cast("timestamp") &&
        col("o_orderdate") < lit("1996-10-01").cast("timestamp"))
      .select("o_orderkey", "o_custkey")
    val li = Tables(spark, dir, "lineitem")
      .filter(col("l_returnflag") === "R")
      .select("l_orderkey", "l_extendedprice", "l_discount")
    val cust = Tables(spark, dir, "customer")
      .select("c_custkey", "c_name", "c_acctbal", "c_nationkey")
    val nation = Tables(spark, dir, "nation")
    val disc = (lit(1.0) - col("l_discount")).cast("decimal(8,2)")
    li.join(ord, col("l_orderkey") === col("o_orderkey"))
      .join(cust, col("o_custkey") === col("c_custkey"))
      .join(broadcast(nation), col("c_nationkey") === col("n_nationkey"))
      .groupBy("c_custkey", "c_name", "c_acctbal", "n_name")
      .agg(sum(dec("l_extendedprice") * disc).cast("double").as("revenue"))
      .orderBy(desc("revenue"), asc("c_custkey"))
      .limit(20)
  }

  // ---- TPC-H Q14 analog: promo revenue share for one ship month.
  // part is broadcast (tiny dim); both sums run in exact DECIMAL and
  // surface as DOUBLE, and the percentage divides the two already-cast
  // doubles so both engines perform the identical final flop.
  def q14Promo(spark: SparkSession, dir: String): DataFrame = {
    val li = Tables(spark, dir, "lineitem")
      .filter(col("l_shipdate") >= lit("1996-03-01").cast("timestamp") &&
        col("l_shipdate") < lit("1996-04-01").cast("timestamp"))
      .select("l_partkey", "l_extendedprice", "l_discount")
    val p = Tables(spark, dir, "part").select("p_partkey", "p_type")
    val disc = (lit(1.0) - col("l_discount")).cast("decimal(8,2)")
    val rev = dec("l_extendedprice") * disc
    li.join(broadcast(p), col("l_partkey") === col("p_partkey"))
      .agg(
        sum(when(col("p_type") === "PROMO", rev)
          .otherwise(lit(0).cast("decimal(18,2)"))).cast("double").as("promo_revenue"),
        sum(rev).cast("double").as("total_revenue"))
      .select(col("promo_revenue"), col("total_revenue"),
        (lit(100.0) * col("promo_revenue") / col("total_revenue")).as("promo_pct"))
  }

  // ---- TPC-H Q19 analog (fixture has no p_container/l_shipmode; the
  // clauses pair brand with a size band and a quantity band): an
  // OR-of-ANDs predicate spanning both join sides. Catalyst keeps the
  // partkey equi-join hashable and extracts the common single-side
  // conjuncts (p_brand IN (...), p_size/l_quantity bounds) to push
  // toward each scan, so the disjunction filters pairs after a normal
  // broadcast-hash probe — never a nested-loop fallback.
  def q19Disjunctive(spark: SparkSession, dir: String): DataFrame = {
    val li = Tables(spark, dir, "lineitem")
      .select("l_partkey", "l_quantity", "l_extendedprice", "l_discount")
    val p = Tables(spark, dir, "part").select("p_partkey", "p_brand", "p_size")
    val disc = (lit(1.0) - col("l_discount")).cast("decimal(8,2)")
    val clause1 = col("p_brand") === "Brand#11" &&
      col("p_size").between(1, 15) && col("l_quantity").between(1, 20)
    val clause2 = col("p_brand") === "Brand#12" &&
      col("p_size").between(10, 30) && col("l_quantity").between(10, 30)
    val clause3 = col("p_brand") === "Brand#13" &&
      col("p_size").between(20, 50) && col("l_quantity").between(20, 45)
    li.join(broadcast(p), col("l_partkey") === col("p_partkey"))
      .filter(clause1 || clause2 || clause3)
      .agg(count(lit(1)).as("cnt"),
        sum(dec("l_extendedprice") * disc).cast("double").as("revenue"))
  }

  // ==== TPC-H completion block: the remaining partsupp-free shapes
  // (Q8, Q12, Q13, Q15, Q17, Q21, Q22), adapted where the fixture lacks
  // a column (no l_shipmode/l_commitdate/p_container/c_phone — each
  // substitution is noted inline). Together with Q1/3/4/5/6/7/10/14/18/19
  // this covers every TPC-H query expressible over the fixture schema.

  /** Q8 target: NATION_6's share of AMERICA's ECONOMY-part import market. */
  val Q8Nation = "NATION_6"

  // ---- TPC-H Q8 (national market share): 7-table join, share =
  // conditional-sum / sum within the year group — one aggregate pass, no
  // scalar subquery. part is filter-reduced then broadcast BEFORE the
  // fact join (the most selective reducer); nation/region always
  // broadcast. Shares divide two exact decimal sums as doubles, so both
  // engines bit-agree.
  def q8MarketShare(spark: SparkSession, dir: String): DataFrame = {
    val p = Tables(spark, dir, "part")
      .filter(col("p_type") === "ECONOMY").select("p_partkey")
    val n1 = Tables(spark, dir, "nation")
      .select(col("n_nationkey").as("c_nk"), col("n_regionkey"))
    val n2 = Tables(spark, dir, "nation")
      .select(col("n_nationkey").as("s_nk"), col("n_name").as("supp_nation"))
    val region = Tables(spark, dir, "region").filter(col("r_name") === "AMERICA")
    val ord = Tables(spark, dir, "orders")
      .filter(col("o_orderdate") >= lit("1996-01-01").cast("timestamp") &&
        col("o_orderdate") < lit("1998-01-01").cast("timestamp"))
      .select("o_orderkey", "o_custkey", "o_orderdate")
    val disc = (lit(1.0) - col("l_discount")).cast("decimal(8,2)")
    val vol = dec("l_extendedprice") * disc
    Tables(spark, dir, "lineitem")
      .select("l_orderkey", "l_partkey", "l_suppkey", "l_extendedprice", "l_discount")
      .join(broadcast(p), col("l_partkey") === col("p_partkey"))
      .join(ord, col("l_orderkey") === col("o_orderkey"))
      .join(Tables(spark, dir, "customer").select("c_custkey", "c_nationkey"),
        col("o_custkey") === col("c_custkey"))
      .join(broadcast(n1), col("c_nationkey") === col("c_nk"))
      .join(broadcast(region), col("n_regionkey") === col("r_regionkey"))
      .join(Tables(spark, dir, "supplier").select("s_suppkey", "s_nationkey"),
        col("l_suppkey") === col("s_suppkey"))
      .join(broadcast(n2), col("s_nationkey") === col("s_nk"))
      .groupBy(year(col("o_orderdate")).as("o_year"))
      .agg(
        (sum(when(col("supp_nation") === Q8Nation, vol)
          .otherwise(lit(0).cast("decimal(18,2)"))).cast("double") /
          sum(vol).cast("double")).as("mkt_share"))
      .orderBy("o_year")
  }

  // ---- TPC-H Q12 shape (fixture has no l_shipmode; l_returnflag is the
  // line-side group key): orders ⋈ lineitem with a shipdate window,
  // CASE-split counts by order priority class. One shuffle join + one
  // aggregate; the date range is pushed to the lineitem scan.
  def q12PriorityClass(spark: SparkSession, dir: String): DataFrame = {
    val li = Tables(spark, dir, "lineitem")
      .filter(col("l_shipdate") >= lit("1996-01-01").cast("timestamp") &&
        col("l_shipdate") < lit("1997-01-01").cast("timestamp"))
      .select("l_orderkey", "l_returnflag")
    val ord = Tables(spark, dir, "orders").select("o_orderkey", "o_orderpriority")
    li.join(ord, col("l_orderkey") === col("o_orderkey"))
      .groupBy("l_returnflag")
      .agg(
        sum(when(col("o_orderpriority").isin("1-URGENT", "2-HIGH"), 1L)
          .otherwise(0L)).as("high_line_count"),
        sum(when(col("o_orderpriority").isin("1-URGENT", "2-HIGH"), 0L)
          .otherwise(1L)).as("low_line_count"))
      .orderBy("l_returnflag")
  }

  // ---- TPC-H Q13 (customer order-count distribution): LEFT join so
  // zero-order customers survive with count 0, then a second aggregate
  // over the counts. The filter ON THE JOIN SIDE (priority, standing in
  // for Q13's comment NOT LIKE) must not drop unmatched customers —
  // that's the left-join-with-filtered-right essence of Q13. Two
  // shuffles total; the second input is |customers| rows, the final
  // output |distinct counts|.
  def q13CustDist(spark: SparkSession, dir: String): DataFrame = {
    val ord = Tables(spark, dir, "orders")
      .filter(col("o_orderpriority") =!= "5-LOW")
      .select("o_orderkey", "o_custkey")
    Tables(spark, dir, "customer").select("c_custkey")
      .join(ord, col("c_custkey") === col("o_custkey"), "left_outer")
      .groupBy("c_custkey")
      .agg(count(col("o_orderkey")).as("c_count"))
      .groupBy("c_count")
      .agg(count(lit(1)).as("custdist"))
      .orderBy(desc("custdist"), desc("c_count"))
  }

  // ---- TPC-H Q15 (top supplier): quarterly revenue per supplier, then
  // suppliers whose revenue EQUALS the max. The max is a 1-row aggregate
  // equi-joined back by exact decimal equality (a BroadcastHashJoin, not
  // a window over one giant partition — the classic Q15 scale trap).
  // Revenue stays decimal until after the equality so ties are exact.
  def q15TopSupplier(spark: SparkSession, dir: String): DataFrame = {
    val disc = (lit(1.0) - col("l_discount")).cast("decimal(8,2)")
    val rev = Tables(spark, dir, "lineitem")
      .filter(col("l_shipdate") >= lit("1996-01-01").cast("timestamp") &&
        col("l_shipdate") < lit("1996-04-01").cast("timestamp"))
      .groupBy("l_suppkey")
      .agg(sum(dec("l_extendedprice") * disc).as("total_rev"))
    val maxRev = rev.agg(max(col("total_rev")).as("max_rev"))
    rev.join(broadcast(maxRev), col("total_rev") === col("max_rev"))
      .join(Tables(spark, dir, "supplier").select("s_suppkey", "s_name"),
        col("l_suppkey") === col("s_suppkey"))
      .select(col("s_suppkey"), col("s_name"),
        col("total_rev").cast("double").as("total_rev"))
      .orderBy("s_suppkey")
  }

  // ---- TPC-H Q17 (small-quantity-order revenue): per-part average
  // quantity correlated back against each line. The part filter (brand +
  // size band, standing in for brand + container) reduces lineitem FIRST
  // via a broadcast semi-shaped join; the per-part avg is an aggregate
  // over that reduced set joined back on partkey — never a correlated
  // per-row subquery execution. l_quantity is integer-valued so the avg
  // (exact sum / count) bit-agrees across engines.
  def q17SmallQty(spark: SparkSession, dir: String): DataFrame = {
    val p = Tables(spark, dir, "part")
      .filter(col("p_brand") === "Brand#11" && col("p_size") <= 10)
      .select("p_partkey")
    val li = Tables(spark, dir, "lineitem")
      .select("l_partkey", "l_quantity", "l_extendedprice")
      .join(broadcast(p), col("l_partkey") === col("p_partkey"))
    val avgQ = li.groupBy(col("l_partkey").as("ak"))
      .agg((sum("l_quantity") / count(lit(1))).as("avg_qty"))
    li.join(avgQ, col("l_partkey") === col("ak"))
      .filter(col("l_quantity") < lit(0.2) * col("avg_qty"))
      .agg((sum(dec("l_extendedprice")).cast("double") / lit(7.0)).as("avg_yearly"))
  }

  /** Q21 "late" horizon (no l_commitdate/l_receiptdate in the fixture):
    * a line is late when it ships >60 days after the order date — the
    * same lateness predicate rel_q4_late_orders established. */
  val Q21LateDays = 60

  // ---- TPC-H Q21 (suppliers who kept orders waiting): for finalized
  // orders, the supplier with a late line where the order had OTHER
  // suppliers (EXISTS) but NO other late supplier (NOT EXISTS). Both
  // correlated quantifiers collapse into ONE per-order aggregate
  // (n_suppliers, n_late_suppliers) joined back to the late lines —
  // the aggregate rewrite that turns Q21's double-correlated-subquery
  // into two shuffles, the shape that survives 100 TB.
  def q21Waiting(spark: SparkSession, dir: String): DataFrame = {
    val ord = Tables(spark, dir, "orders")
      .filter(col("o_orderstatus") === "F")
      .select("o_orderkey", "o_orderdate")
    val li = Tables(spark, dir, "lineitem")
      .select("l_orderkey", "l_suppkey", "l_shipdate")
      .join(ord, col("l_orderkey") === col("o_orderkey"))
      .withColumn("late",
        col("l_shipdate") > col("o_orderdate") + expr(s"INTERVAL $Q21LateDays DAYS"))
    val perOrder = li.groupBy(col("l_orderkey").as("gk"))
      .agg(countDistinct(col("l_suppkey")).as("n_supp"),
        countDistinct(when(col("late"), col("l_suppkey"))).as("n_late_supp"))
    li.filter(col("late"))
      .join(perOrder, col("l_orderkey") === col("gk"))
      .filter(col("n_supp") > 1 && col("n_late_supp") === 1)
      .groupBy("l_suppkey")
      .agg(countDistinct(col("l_orderkey")).as("numwait"))
      .join(Tables(spark, dir, "supplier").select("s_suppkey", "s_name"),
        col("l_suppkey") === col("s_suppkey"))
      .select(col("s_suppkey"), col("s_name"), col("numwait"))
      .orderBy(desc("numwait"), asc("s_suppkey"))
      .limit(20)
  }

  // ---- TPC-H Q22 (global sales opportunity): positive-balance average
  // as a 1-row broadcast threshold (the scalar subquery), customers
  // above it with NO orders (anti join), grouped by country code
  // (c_nationkey % 5 stands in for the phone prefix). The non-equi
  // threshold join is a 1×N broadcast product — the intended Q22 shape,
  // whitelisted in PlanAuditSpec. The average divides an exact decimal
  // sum by the count as doubles, so the > cut bit-agrees with DuckDB.
  def q22GlobalSales(spark: SparkSession, dir: String): DataFrame = {
    val cust = Tables(spark, dir, "customer")
      .withColumn("cntrycode", col("c_nationkey") % 5)
      .filter(col("cntrycode").isin(0, 1, 2))
      .select("c_custkey", "c_acctbal", "cntrycode")
    val avgBal = cust.filter(col("c_acctbal") > 0.0)
      .agg((sum(dec("c_acctbal")).cast("double") / count(lit(1))).as("avg_bal"))
    cust.join(broadcast(avgBal), col("c_acctbal") > col("avg_bal"))
      .join(Tables(spark, dir, "orders").select("o_custkey"),
        col("c_custkey") === col("o_custkey"), "left_anti")
      .groupBy("cntrycode")
      .agg(count(lit(1)).as("numcust"),
        sum(dec("c_acctbal")).cast("double").as("totacctbal"))
      .orderBy("cntrycode")
  }

  /** Q11 importance cut: a part matters if it carries more than this
    * fraction of the nation's total line value. */
  val Q11Fraction = 0.002

  // ---- TPC-H Q11 shape (important stock — no partsupp in the fixture,
  // so "inventory value" is the line value carried by one nation's
  // suppliers): per-part value vs a GLOBAL-fraction threshold. The
  // threshold is the same aggregate re-aggregated to 1 row and
  // broadcast back as a non-equi cut (the HAVING > scalar-subquery
  // shape); both sides of the compare are exact decimal sums cast to
  // double, so the cut bit-agrees with DuckDB.
  def q11TopParts(spark: SparkSession, dir: String): DataFrame = {
    val sup = Tables(spark, dir, "supplier")
      .join(broadcast(Tables(spark, dir, "nation")
        .filter(col("n_name") === "NATION_3")),
        col("s_nationkey") === col("n_nationkey"))
      .select("s_suppkey")
    val perPart = Tables(spark, dir, "lineitem")
      .select("l_partkey", "l_suppkey", "l_extendedprice")
      .join(broadcast(sup), col("l_suppkey") === col("s_suppkey"))
      .groupBy("l_partkey")
      .agg(sum(dec("l_extendedprice")).as("part_value"))
    val total = perPart.agg(sum(col("part_value")).as("total_value"))
    perPart.join(broadcast(total),
        col("part_value").cast("double") >
          col("total_value").cast("double") * Q11Fraction)
      .select(col("l_partkey"), col("part_value").cast("double").as("part_value"))
      .orderBy(desc("part_value"), asc("l_partkey"))
  }

  /** The part-supplier bridge standing in for partsupp: distinct
    * (partkey, suppkey) pairs actually traded, with the pair's minimum
    * line price as its exact-decimal "supply cost". One fact-table
    * aggregate; every Q2/Q9/Q16/Q20 shape hangs off it. */
  private def partSupp(spark: SparkSession, dir: String): DataFrame =
    Tables(spark, dir, "lineitem")
      .groupBy(col("l_partkey").as("ps_partkey"), col("l_suppkey").as("ps_suppkey"))
      .agg(min(dec("l_extendedprice")).as("ps_cost"))

  private val partSuppSql =
    """SELECT l_partkey AS ps_partkey, l_suppkey AS ps_suppkey,
      |  min(CAST(l_extendedprice AS DECIMAL(18,2))) AS ps_cost
      |FROM lineitem GROUP BY 1, 2""".stripMargin

  // ---- TPC-H Q2 shape (min-cost supplier): for each qualifying part,
  // the EUROPE suppliers achieving the per-part minimum cost over the
  // part-supplier bridge. The correlated MIN subquery becomes a per-part
  // aggregate equi-joined back on (partkey, cost) — exact decimal
  // equality, so ties survive identically on both engines. Regional
  // supplier set reduced then broadcast; nothing |lineitem|-sized past
  // the bridge aggregate.
  def q2MinCost(spark: SparkSession, dir: String): DataFrame = {
    val eurSup = Tables(spark, dir, "supplier")
      .join(broadcast(Tables(spark, dir, "nation")), col("s_nationkey") === col("n_nationkey"))
      .join(broadcast(Tables(spark, dir, "region").filter(col("r_name") === "EUROPE")),
        col("n_regionkey") === col("r_regionkey"))
      .select(col("s_suppkey"), col("s_name"), col("s_acctbal"), col("n_name"))
    val p = Tables(spark, dir, "part")
      .filter(col("p_type") === "STANDARD" && col("p_size") < 15)
      .select("p_partkey", "p_name")
    val ps = partSupp(spark, dir)
      .join(broadcast(eurSup), col("ps_suppkey") === col("s_suppkey"))
      .join(broadcast(p), col("ps_partkey") === col("p_partkey"))
    val minCost = ps.groupBy(col("ps_partkey").as("mk"))
      .agg(min(col("ps_cost")).as("min_cost"))
    ps.join(minCost, col("ps_partkey") === col("mk") && col("ps_cost") === col("min_cost"))
      .select(col("s_acctbal"), col("s_name"), col("n_name"),
        col("p_partkey"), col("p_name"), col("ps_cost").cast("double").as("cost"))
      .orderBy(desc("s_acctbal"), asc("n_name"), asc("s_name"), asc("p_partkey"))
      .limit(100)
  }

  // ---- TPC-H Q9 shape (product-type profit): revenue minus cost per
  // (supplier nation, order year) for parts matching a name token —
  // p_retailprice/10 stands in for ps_supplycost. Revenue and cost are
  // SEPARATE exact decimal sums subtracted as doubles at the end, so the
  // profit bit-agrees with DuckDB regardless of aggregation order. The
  // part filter reduces lineitem first (broadcast); nation broadcast;
  // the orders join shuffles on the order key.
  def q9Profit(spark: SparkSession, dir: String): DataFrame = {
    val p = Tables(spark, dir, "part")
      .filter(col("p_name").contains("widget"))
      .select("p_partkey", "p_retailprice")
    val disc = (lit(1.0) - col("l_discount")).cast("decimal(8,2)")
    Tables(spark, dir, "lineitem")
      .join(broadcast(p), col("l_partkey") === col("p_partkey"))
      .join(Tables(spark, dir, "orders").select("o_orderkey", "o_orderdate"),
        col("l_orderkey") === col("o_orderkey"))
      .join(Tables(spark, dir, "supplier").select("s_suppkey", "s_nationkey"),
        col("l_suppkey") === col("s_suppkey"))
      .join(broadcast(Tables(spark, dir, "nation")),
        col("s_nationkey") === col("n_nationkey"))
      .groupBy(col("n_name").as("nation"), year(col("o_orderdate")).as("o_year"))
      .agg(
        (sum(dec("l_extendedprice") * disc).cast("double") -
          sum(col("l_quantity").cast("decimal(8,0)") * dec("p_retailprice") *
            lit(0.1).cast("decimal(2,1)")).cast("double")).as("profit"))
      .orderBy(asc("nation"), desc("o_year"))
  }

  // ---- TPC-H Q16 shape (supplier count by part attributes): distinct
  // suppliers per (brand, type, size) over the bridge, excluding one
  // brand/type slice and complaint-proxy suppliers (negative balance —
  // the NOT IN subquery). The exclusion list is supplier-sized,
  // broadcast as a left anti join; the census is a |pairs|-sized
  // distinct aggregate, never fact-sized.
  def q16SupplierCnt(spark: SparkSession, dir: String): DataFrame = {
    val excl = Tables(spark, dir, "supplier")
      .filter(col("s_acctbal") < 0).select(col("s_suppkey").as("bad_supp"))
    val p = Tables(spark, dir, "part")
      .filter(col("p_brand") =!= "Brand#15" && col("p_type") =!= "PROMO" &&
        col("p_size").isin(1, 4, 9, 14, 19, 24, 29, 34))
      .select("p_partkey", "p_brand", "p_type", "p_size")
    partSupp(spark, dir)
      .join(broadcast(p), col("ps_partkey") === col("p_partkey"))
      .join(broadcast(excl), col("ps_suppkey") === col("bad_supp"), "left_anti")
      .groupBy("p_brand", "p_type", "p_size")
      .agg(countDistinct(col("ps_suppkey")).as("supplier_cnt"))
      .orderBy(desc("supplier_cnt"), asc("p_brand"), asc("p_type"), asc("p_size"))
  }

  /** Q20 dominance cut: a supplier "holds the stock" of a part when it
    * shipped more than this share of the part's 1996 volume. */
  val Q20Share = 0.3

  // ---- TPC-H Q20 shape (suppliers holding excess stock): suppliers of
  // one nation whose shipped quantity of some name-matched part exceeds
  // a share of that part's total year volume — availqty stands on the
  // shipped totals. Both quantity aggregates reuse ONE scan pass; the
  // dominance cut compares exact integer-valued sums scaled by a
  // constant; the supplier identity resolves via a semi join (EXISTS).
  def q20ExcessStock(spark: SparkSession, dir: String): DataFrame = {
    val p = Tables(spark, dir, "part")
      .filter(col("p_name").startsWith("red"))
      .select("p_partkey")
    val li96 = Tables(spark, dir, "lineitem")
      .filter(col("l_shipdate") >= lit("1996-01-01").cast("timestamp") &&
        col("l_shipdate") < lit("1997-01-01").cast("timestamp"))
      .join(broadcast(p), col("l_partkey") === col("p_partkey"))
      .select("l_partkey", "l_suppkey", "l_quantity")
    val pairQty = li96.groupBy("l_partkey", "l_suppkey")
      .agg(sum("l_quantity").as("pair_qty"))
    val partQty = pairQty.groupBy(col("l_partkey").as("tk"))
      .agg(sum(col("pair_qty")).as("part_qty"))
    val dominant = pairQty
      .join(partQty, col("l_partkey") === col("tk"))
      .filter(col("pair_qty") > col("part_qty") * Q20Share)
      .select(col("l_suppkey").as("dk")).distinct()
    Tables(spark, dir, "supplier")
      .join(broadcast(Tables(spark, dir, "nation")
        .filter(col("n_name") === "NATION_7")),
        col("s_nationkey") === col("n_nationkey"))
      .join(dominant, col("s_suppkey") === col("dk"), "left_semi")
      .select("s_suppkey", "s_name", "s_acctbal")
      .orderBy("s_suppkey")
  }

  // ---- exact grouped median WITHOUT a per-group sort of the raw rows:
  // aggregate to per-(group, value) counts first, then one cumulative
  // window over the DISTINCT-value frame picks the value containing the
  // ⌈n/2⌉-th row (the lower median — exact, no interpolation, so the
  // result is a value that exists and both engines agree bitwise). At
  // 100 TB the windowed frame is |distinct values per group|, not
  // |rows| — the classic scalable exact-median layout; the approximate
  // alternative (percentile_approx) trades this exactness for a sketch.
  def exactMedianGrouped(spark: SparkSession, dir: String): DataFrame = {
    val h = Tables(spark, dir, "orders")
      .groupBy("o_orderpriority", "o_totalprice")
      .agg(count(lit(1)).as("cnt"))
    val byVal = Window.partitionBy("o_orderpriority")
      .orderBy("o_totalprice")
    val whole = Window.partitionBy("o_orderpriority")
    h.withColumn("cum", sum("cnt").over(byVal))
      .withColumn("n", sum("cnt").over(whole))
      .filter(col("cum") - col("cnt") < expr("(n + 1) div 2") &&
        col("cum") >= expr("(n + 1) div 2"))
      .select(col("o_orderpriority"), col("o_totalprice").as("median_price"),
        col("n").as("n_orders"))
      .orderBy("o_orderpriority")
  }

  // ---- exact grouped percentiles (p50/p90/p99 — the latency-report
  // shape): the exact-median technique generalized to a percentile
  // list. ONE pass builds the per-(group, value) histogram (map-side
  // partials), the cumulative window runs over the DISTINCT-VALUE frame
  // (|groups|·|distinct values| rows, never raw orders), and each
  // percentile is selected by the exact integer rank (the
  // graft.functions.ExactPercentiles read-off, structurally shared
  // with the streaming stream_latency_pctl monitor). approx_percentile
  // is the 100 TB swap-in; this is its exact oracle-able sibling.
  def percentilesGrouped(spark: SparkSession, dir: String): DataFrame = {
    val h = Tables(spark, dir, "orders")
      .groupBy(col("o_orderpriority"), col("o_totalprice").as("value"))
      .agg(count(lit(1)).as("cnt"))
    graft.functions.ExactPercentiles.readoff(h, "o_orderpriority", "value")
  }

  // ---- keyed snapshot diff (the reconciliation report between two
  // table versions — what a migration or backfill runs before swapping
  // a partition in): v1 and v2 are deterministic slices/mutations of
  // the orders fixture (v1 misses the mod-97 keys, v2 misses mod-89,
  // v2 remaps priority on mod-53), full-outer joined on the key and
  // classified added / removed / changed / unchanged by KEY presence
  // then value equality. ONE key-shuffled join (AQE-planned) and a
  // |classes|-row aggregate — the report never materializes row-level
  // diffs, which is what makes it runnable table-wide at 100 TB (the
  // row-level drill-down is the same join with a class filter).
  def tableDiff(spark: SparkSession, dir: String): DataFrame = {
    val orders = Tables(spark, dir, "orders")
      .select(col("o_orderkey"), col("o_orderpriority"))
    val v1 = orders.filter(col("o_orderkey") % 97 =!= 0)
      .select(col("o_orderkey").as("k1"), col("o_orderpriority").as("p1"))
    val v2 = orders.filter(col("o_orderkey") % 89 =!= 0)
      .select(col("o_orderkey").as("k2"),
        when(col("o_orderkey") % 53 === 0, lit("REMAPPED"))
          .otherwise(col("o_orderpriority")).as("p2"))
    v1.join(v2, col("k1") === col("k2"), "full_outer")
      .select(when(col("k1").isNull, "added")
        .when(col("k2").isNull, "removed")
        .when(col("p1") =!= col("p2"), "changed")
        .otherwise("unchanged").as("action"))
      .groupBy("action").agg(count(lit(1)).as("n_keys"))
      .orderBy("action")
  }

  // ---- data-quality audit sweep (the Deequ/dbt-tests shape): one row
  // per declared constraint with its violation count — referential
  // integrity via anti joins (the dimension side broadcasts; the
  // fact-fact orphan check is a shuffled anti join on the key, exactly
  // a semi-join's cost), key uniqueness via a grouped count (violations
  // = Σ(cnt−1) over duplicated keys, so the check prices the fix), and
  // scalar domain/null rules as pushdown-friendly filtered counts. Each
  // branch collapses to ONE row before the union, so the report is
  // |checks| rows regardless of data size — the daily gate a 100 TB
  // warehouse runs before publishing a partition.
  def dqAudit(spark: SparkSession, dir: String): DataFrame = {
    val orders = Tables(spark, dir, "orders")
    def one(name: String, viol: DataFrame): DataFrame =
      viol.agg(count(lit(1)).as("n_violations"))
        .select(lit(name).as("dq_check"), col("n_violations"))
    val orphanOrders = one("orders_orphan_custkey",
      orders.join(Tables(spark, dir, "customer"),
        col("o_custkey") === col("c_custkey"), "left_anti"))
    val orphanLines = one("lineitem_orphan_orderkey",
      Tables(spark, dir, "lineitem").select("l_orderkey")
        .join(orders.select("o_orderkey"),
          col("l_orderkey") === col("o_orderkey"), "left_anti"))
    val dupKeys = orders.groupBy("o_orderkey")
      .agg(count(lit(1)).as("c")).filter(col("c") > 1)
      .agg(coalesce(sum(col("c") - 1), lit(0L)).as("n_violations"))
      .select(lit("orders_dup_orderkey").as("dq_check"), col("n_violations"))
    val negTotal = one("orders_nonpositive_total",
      orders.filter(col("o_totalprice") <= 0))
    val nullDate = one("orders_null_orderdate",
      orders.filter(col("o_orderdate").isNull))
    orphanOrders.union(orphanLines).union(dupKeys).union(negTotal)
      .union(nullDate)
      .orderBy("dq_check")
  }

  // ---- ANALYZE-style column profile (the optimizer-statistics pass):
  // null count, exact NDV, min and max per column of `orders`, in ONE
  // scan — the multi-countDistinct aggregate plans a single Expand pass
  // (one shuffle), not a job per column. Values are canonicalized to
  // strings through DECIMAL for numerics so both engines print
  // identically; at 100 TB the exact NDVs swap for HLL sketches with
  // the same plan shape (the repo's HLL sibling shows the swap).
  def dataProfile(spark: SparkSession, dir: String): DataFrame = {
    val canon: Map[String, Column => Column] = Map(
      "o_orderkey" -> (c => c.cast("string")),
      "o_custkey" -> (c => c.cast("string")),
      "o_totalprice" -> (c => c.cast("decimal(18,2)").cast("string")),
      "o_orderdate" -> (c => c.cast("string")),
      "o_orderstatus" -> (c => c),
      "o_orderpriority" -> (c => c))
    // per column: ONE single-column scan grouped on the value — the
    // per-column histogram — then every statistic reads the
    // |distinct|-sized frame (NDV = its row count, null mass = the null
    // group's count, min/max over its keys). This beats the
    // multi-countDistinct single-aggregate spelling, whose Expand
    // multiplies every input row by the column count (measured 3.1 s →
    // 1.1 s at sf0.1); min/max run on the RAW key (numeric/temporal
    // order), the canonical string cast applies to the 1-row result.
    val frames = canon.keys.toSeq.sorted.map { c =>
      Tables(spark, dir, "orders")
        .groupBy(col(c).as("v")).agg(count(lit(1)).as("cnt"))
        .agg(
          sum(when(col("v").isNull, col("cnt")).otherwise(0L)).as("n_null"),
          count(when(col("v").isNotNull, 1)).as("ndv"),
          canon(c)(min(col("v"))).as("min_val"),
          canon(c)(max(col("v"))).as("max_val"))
        .select(lit(c).as("column"), col("n_null"), col("ndv"),
          col("min_val"), col("max_val"))
    }
    frames.reduce(_ unionByName _).orderBy("column")
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "rel_data_profile" -> (dataProfile _),
    "rel_dq_audit" -> (dqAudit _),
    "rel_table_diff" -> (tableDiff _),
    "rel_percentiles_grouped" -> (percentilesGrouped _),
    "rel_exact_median" -> (exactMedianGrouped _),
    "rel_q2_min_cost" -> (q2MinCost _),
    "rel_q9_profit" -> (q9Profit _),
    "rel_q16_supplier_cnt" -> (q16SupplierCnt _),
    "rel_q20_excess_stock" -> (q20ExcessStock _),
    "rel_q11_top_parts" -> (q11TopParts _),
    "rel_q8_market_share" -> (q8MarketShare _),
    "rel_q12_priority_class" -> (q12PriorityClass _),
    "rel_q13_custdist" -> (q13CustDist _),
    "rel_q15_top_supplier" -> (q15TopSupplier _),
    "rel_q17_small_qty" -> (q17SmallQty _),
    "rel_q21_waiting" -> (q21Waiting _),
    "rel_q22_global" -> (q22GlobalSales _),
    "rel_q4_late_orders" -> (q4LateOrders _),
    "rel_q7_volume" -> (q7Volume _),
    "rel_q10_returned" -> (q10Returned _),
    "rel_q14_promo" -> (q14Promo _),
    "rel_q19_disjunctive" -> (q19Disjunctive _),
    "rel_pagerank_round2" -> (pagerankRound2 _),
    "rel_pagerank_iter" -> (pagerankIter _),
    "rel_pagerank_converged" -> (pagerankConverged _),
    "rel_copurchase_pairs" -> (copurchasePairs _),
    "rel_copurchase_lift" -> (copurchaseLift _),
    "rel_triangles" -> (triangles _),
    "rel_reachability" -> (reachability _),
    "rel_mv_refresh" -> (mvRefresh _),
    "rel_locf_fill" -> (locfFill _),
    "rel_growth_decomp" -> (growthDecomp _),
    "rel_abc_analysis" -> (abcAnalysis _),
    "rel_date_dim" -> (dateDim _),
    "rel_budget_alloc" -> (budgetAllocation _),
    "rel_q18_large_orders" -> (q18LargeOrders _),
    "rel_merge_upsert" -> (mergeUpsert _),
    "rel_scd2_runs" -> (scd2Runs _),
    "rel_scd2_asof" -> (scd2AsOf _),
    "rel_salted_join" -> (saltedJoin _),
    "rel_skew_profile" -> (skewProfile _),
    "rel_salted_join_hot" -> (saltedJoinHot _),
    "rel_asof_join" -> (asofJoin _),
    "rel_topk_per_group" -> (topKPerGroup _),
    "rel_topk_agg" -> (topKAgg _),
    "rel_range_join_binned" -> (rangeJoinBinned _),
    "rel_window_running" -> (windowRunning _),
    "rel_union" -> (unionYears _),
    "rel_pivot" -> (pivotFlags _),
    "rel_unpivot" -> (unpivotFlags _),
    "rel_corr_subquery" -> (corrSubquery _),
    "rel_window_range_frame" -> (windowRangeFrame _),
    "rel_window_dist" -> (windowDist _),
    "rel_window_ntile" -> (windowNtile _),
    "rel_arg_extremes" -> (argExtremes _),
    "rel_q1_pricing" -> (q1Pricing _),
    "rel_q1_sql_entry" -> (q1PricingViaSql _),
    "rel_q3_topk" -> (q3TopK _),
    "rel_q5_region_rev" -> (q5RegionRevenue _),
    "rel_q6_rev_filter" -> (q6RevenueFilter _),
    "rel_semi_join" -> (semiJoin _),
    "rel_anti_join" -> (antiJoin _),
    "rel_window_rank" -> (windowRank _),
    "rel_window_lag" -> (windowLag _),
    "rel_rollup" -> (rollupAgg _),
    "rel_cube" -> (cubeAgg _),
    "rel_grouping_sets" -> (groupingSetsAgg _),
    "rel_listagg" -> (listAgg _),
    "rel_intersect" -> (intersectYears _),
    "rel_except" -> (exceptYears _))

  /** Round-one contribution table as a CTE prefix ending in
    * `c(supp, c)` — single-sourced between the two PageRank oracles. */
  private def prContribSql: String =
    s"""WITH e AS (
       |  SELECT DISTINCT l_partkey AS part, l_suppkey AS supp FROM lineitem),
       |d AS (SELECT part, count(*) AS deg FROM e GROUP BY part),
       |c AS (SELECT supp, $PrScale // deg AS c FROM e JOIN d USING (part))""".stripMargin

  /** Shared by `rel_q1_pricing` and its SQL-string twin `rel_q1_sql_entry`. */
  private val Q1PricingOracle =
    """SELECT l_returnflag, l_linestatus,
      |  sum(l_quantity) AS sum_qty,
      |  CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_base_price,
      |  CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2)) * CAST(CAST(1.0 AS DOUBLE) - l_discount AS DECIMAL(8,2))) AS DOUBLE) AS sum_disc_price,
      |  CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2)) * CAST(CAST(1.0 AS DOUBLE) - l_discount AS DECIMAL(8,2)) * CAST(CAST(1.0 AS DOUBLE) + l_tax AS DECIMAL(8,2))) AS DOUBLE) AS sum_charge,
      |  sum(l_quantity) / count(*) AS avg_qty,
      |  CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) / count(*) AS avg_price,
      |  CAST(sum(CAST(l_discount AS DECIMAL(8,2))) AS DOUBLE) / count(*) AS avg_disc,
      |  count(*) AS count_order
      |FROM lineitem
      |WHERE l_shipdate <= TIMESTAMP '1998-09-02'
      |GROUP BY l_returnflag, l_linestatus
      |ORDER BY l_returnflag, l_linestatus""".stripMargin

  val oracles: Map[String, String] = Map(
    "rel_percentiles_grouped" -> graft.functions.ExactPercentiles.sql(
      """  SELECT o_orderpriority, o_totalprice AS value, count(*) AS cnt
        |  FROM orders GROUP BY 1, 2""".stripMargin,
      "o_orderpriority", "value"),
    "rel_table_diff" ->
      """WITH v1 AS (
        |  SELECT o_orderkey AS k1, o_orderpriority AS p1 FROM orders
        |  WHERE o_orderkey % 97 <> 0),
        |v2 AS (
        |  SELECT o_orderkey AS k2,
        |    CASE WHEN o_orderkey % 53 = 0 THEN 'REMAPPED'
        |         ELSE o_orderpriority END AS p2
        |  FROM orders WHERE o_orderkey % 89 <> 0)
        |SELECT CASE WHEN k1 IS NULL THEN 'added'
        |            WHEN k2 IS NULL THEN 'removed'
        |            WHEN p1 <> p2 THEN 'changed'
        |            ELSE 'unchanged' END AS action,
        |  CAST(count(*) AS BIGINT) AS n_keys
        |FROM v1 FULL JOIN v2 ON k1 = k2
        |GROUP BY 1 ORDER BY action""".stripMargin,
    "rel_dq_audit" ->
      """SELECT * FROM (
        |  SELECT 'lineitem_orphan_orderkey' AS dq_check,
        |    CAST(count(*) AS BIGINT) AS n_violations
        |  FROM lineitem WHERE NOT EXISTS (
        |    SELECT 1 FROM orders WHERE o_orderkey = l_orderkey)
        |  UNION ALL
        |  SELECT 'orders_dup_orderkey',
        |    coalesce(CAST(sum(c - 1) AS BIGINT), 0) FROM (
        |    SELECT count(*) AS c FROM orders GROUP BY o_orderkey
        |    ) t WHERE c > 1
        |  UNION ALL
        |  SELECT 'orders_nonpositive_total', CAST(count(*) AS BIGINT)
        |  FROM orders WHERE o_totalprice <= 0
        |  UNION ALL
        |  SELECT 'orders_null_orderdate', CAST(count(*) AS BIGINT)
        |  FROM orders WHERE o_orderdate IS NULL
        |  UNION ALL
        |  SELECT 'orders_orphan_custkey', CAST(count(*) AS BIGINT)
        |  FROM orders WHERE NOT EXISTS (
        |    SELECT 1 FROM customer WHERE c_custkey = o_custkey))
        |ORDER BY dq_check""".stripMargin,
    "rel_data_profile" -> {
      val canonSql: Map[String, String => String] = Map(
        "o_orderkey" -> (e => s"CAST($e AS VARCHAR)"),
        "o_custkey" -> (e => s"CAST($e AS VARCHAR)"),
        "o_totalprice" -> (e => s"CAST(CAST($e AS DECIMAL(18,2)) AS VARCHAR)"),
        "o_orderdate" -> (e => s"CAST($e AS VARCHAR)"),
        "o_orderstatus" -> (e => e),
        "o_orderpriority" -> (e => e))
      canonSql.keys.toSeq.sorted.map { c =>
        val f = canonSql(c)
        s"""SELECT '$c' AS "column",
           |  CAST(sum(CASE WHEN $c IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_null,
           |  CAST(count(DISTINCT $c) AS BIGINT) AS ndv,
           |  ${f(s"min($c)")} AS min_val,
           |  ${f(s"max($c)")} AS max_val
           |FROM orders""".stripMargin
      }.mkString("\nUNION ALL\n") + "\nORDER BY \"column\""
    },
    "rel_exact_median" ->
      """WITH h AS (
        |  SELECT o_orderpriority, o_totalprice, count(*) AS cnt
        |  FROM orders GROUP BY 1, 2),
        |c AS (
        |  SELECT o_orderpriority, o_totalprice, cnt,
        |    sum(cnt) OVER (PARTITION BY o_orderpriority
        |                   ORDER BY o_totalprice) AS cum,
        |    sum(cnt) OVER (PARTITION BY o_orderpriority) AS n
        |  FROM h)
        |SELECT o_orderpriority, o_totalprice AS median_price,
        |  CAST(n AS BIGINT) AS n_orders
        |FROM c
        |WHERE cum - cnt < (n + 1) // 2 AND cum >= (n + 1) // 2
        |ORDER BY o_orderpriority""".stripMargin,
    "rel_q2_min_cost" ->
      s"""WITH ps AS ($partSuppSql),
         |es AS (
         |  SELECT s_suppkey, s_name, s_acctbal, n_name
         |  FROM supplier JOIN nation ON s_nationkey = n_nationkey
         |  JOIN region ON n_regionkey = r_regionkey
         |  WHERE r_name = 'EUROPE'),
         |pp AS (
         |  SELECT p_partkey, p_name FROM part
         |  WHERE p_type = 'STANDARD' AND p_size < 15),
         |j AS (
         |  SELECT * FROM ps
         |  JOIN es ON ps_suppkey = s_suppkey
         |  JOIN pp ON ps_partkey = p_partkey),
         |mc AS (SELECT ps_partkey AS mk, min(ps_cost) AS min_cost
         |       FROM j GROUP BY ps_partkey)
         |SELECT s_acctbal, s_name, n_name, p_partkey, p_name,
         |  CAST(ps_cost AS DOUBLE) AS cost
         |FROM j JOIN mc ON ps_partkey = mk AND ps_cost = min_cost
         |ORDER BY s_acctbal DESC, n_name ASC, s_name ASC, p_partkey ASC
         |LIMIT 100""".stripMargin,
    "rel_q9_profit" ->
      """SELECT n_name AS nation,
        |  CAST(EXTRACT(YEAR FROM o_orderdate) AS INTEGER) AS o_year,
        |  CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2)) * CAST(CAST(1.0 AS DOUBLE) - l_discount AS DECIMAL(8,2))) AS DOUBLE) -
        |  CAST(sum(CAST(l_quantity AS DECIMAL(8,0)) * CAST(p_retailprice AS DECIMAL(18,2)) * CAST(0.1 AS DECIMAL(2,1))) AS DOUBLE) AS profit
        |FROM lineitem
        |JOIN part ON l_partkey = p_partkey
        |JOIN orders ON l_orderkey = o_orderkey
        |JOIN supplier ON l_suppkey = s_suppkey
        |JOIN nation ON s_nationkey = n_nationkey
        |WHERE p_name LIKE '%widget%'
        |GROUP BY 1, 2 ORDER BY nation ASC, o_year DESC""".stripMargin,
    "rel_q16_supplier_cnt" ->
      s"""WITH ps AS ($partSuppSql)
         |SELECT p_brand, p_type, p_size,
         |  CAST(count(DISTINCT ps_suppkey) AS BIGINT) AS supplier_cnt
         |FROM ps JOIN part ON ps_partkey = p_partkey
         |WHERE p_brand <> 'Brand#15' AND p_type <> 'PROMO'
         |  AND p_size IN (1, 4, 9, 14, 19, 24, 29, 34)
         |  AND ps_suppkey NOT IN (SELECT s_suppkey FROM supplier WHERE s_acctbal < 0)
         |GROUP BY 1, 2, 3
         |ORDER BY supplier_cnt DESC, p_brand ASC, p_type ASC, p_size ASC""".stripMargin,
    "rel_q20_excess_stock" ->
      s"""WITH pq AS (
         |  SELECT l_partkey, l_suppkey, sum(l_quantity) AS pair_qty
         |  FROM lineitem JOIN part ON l_partkey = p_partkey
         |  WHERE p_name LIKE 'red%'
         |    AND l_shipdate >= TIMESTAMP '1996-01-01'
         |    AND l_shipdate < TIMESTAMP '1997-01-01'
         |  GROUP BY 1, 2),
         |tq AS (SELECT l_partkey AS tk, sum(pair_qty) AS part_qty
         |       FROM pq GROUP BY 1),
         |dom AS (
         |  SELECT DISTINCT l_suppkey AS dk
         |  FROM pq JOIN tq ON l_partkey = tk
         |  WHERE pair_qty > part_qty * $Q20Share)
         |SELECT s_suppkey, s_name, s_acctbal
         |FROM supplier
         |JOIN nation ON s_nationkey = n_nationkey
         |WHERE n_name = 'NATION_7'
         |  AND EXISTS (SELECT 1 FROM dom WHERE dk = s_suppkey)
         |ORDER BY s_suppkey""".stripMargin,
    "rel_q11_top_parts" ->
      s"""WITH pp AS (
         |  SELECT l_partkey,
         |    sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS part_value
         |  FROM lineitem
         |  JOIN supplier ON l_suppkey = s_suppkey
         |  JOIN nation ON s_nationkey = n_nationkey
         |  WHERE n_name = 'NATION_3'
         |  GROUP BY l_partkey)
         |SELECT l_partkey, CAST(part_value AS DOUBLE) AS part_value
         |FROM pp
         |WHERE CAST(part_value AS DOUBLE) >
         |  (SELECT CAST(sum(part_value) AS DOUBLE) FROM pp) * $Q11Fraction
         |ORDER BY part_value DESC, l_partkey ASC""".stripMargin,
    "rel_q8_market_share" ->
      s"""SELECT CAST(EXTRACT(YEAR FROM o_orderdate) AS INTEGER) AS o_year,
         |  CAST(sum(CASE WHEN n2.n_name = '$Q8Nation'
         |    THEN CAST(l_extendedprice AS DECIMAL(18,2)) * CAST(CAST(1.0 AS DOUBLE) - l_discount AS DECIMAL(8,2))
         |    ELSE CAST(0 AS DECIMAL(18,2)) END) AS DOUBLE) /
         |  CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2)) * CAST(CAST(1.0 AS DOUBLE) - l_discount AS DECIMAL(8,2))) AS DOUBLE) AS mkt_share
         |FROM lineitem
         |JOIN part ON l_partkey = p_partkey
         |JOIN orders ON l_orderkey = o_orderkey
         |JOIN customer ON o_custkey = c_custkey
         |JOIN nation n1 ON c_nationkey = n1.n_nationkey
         |JOIN region ON n1.n_regionkey = r_regionkey
         |JOIN supplier ON l_suppkey = s_suppkey
         |JOIN nation n2 ON s_nationkey = n2.n_nationkey
         |WHERE p_type = 'ECONOMY' AND r_name = 'AMERICA'
         |  AND o_orderdate >= TIMESTAMP '1996-01-01'
         |  AND o_orderdate < TIMESTAMP '1998-01-01'
         |GROUP BY 1 ORDER BY o_year""".stripMargin,
    "rel_q12_priority_class" ->
      """SELECT l_returnflag,
        |  CAST(sum(CASE WHEN o_orderpriority IN ('1-URGENT','2-HIGH') THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
        |  CAST(sum(CASE WHEN o_orderpriority IN ('1-URGENT','2-HIGH') THEN 0 ELSE 1 END) AS BIGINT) AS low_line_count
        |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |WHERE l_shipdate >= TIMESTAMP '1996-01-01'
        |  AND l_shipdate < TIMESTAMP '1997-01-01'
        |GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin,
    "rel_q13_custdist" ->
      """WITH co AS (
        |  SELECT c_custkey, count(o_orderkey) AS c_count
        |  FROM customer
        |  LEFT JOIN orders ON c_custkey = o_custkey
        |    AND o_orderpriority <> '5-LOW'
        |  GROUP BY c_custkey)
        |SELECT c_count, count(*) AS custdist
        |FROM co GROUP BY c_count
        |ORDER BY custdist DESC, c_count DESC""".stripMargin,
    "rel_q15_top_supplier" ->
      """WITH rev AS (
        |  SELECT l_suppkey,
        |    sum(CAST(l_extendedprice AS DECIMAL(18,2)) * CAST(CAST(1.0 AS DOUBLE) - l_discount AS DECIMAL(8,2))) AS total_rev
        |  FROM lineitem
        |  WHERE l_shipdate >= TIMESTAMP '1996-01-01'
        |    AND l_shipdate < TIMESTAMP '1996-04-01'
        |  GROUP BY l_suppkey)
        |SELECT s_suppkey, s_name, CAST(total_rev AS DOUBLE) AS total_rev
        |FROM rev JOIN supplier ON l_suppkey = s_suppkey
        |WHERE total_rev = (SELECT max(total_rev) FROM rev)
        |ORDER BY s_suppkey""".stripMargin,
    "rel_q17_small_qty" ->
      """WITH li AS (
        |  SELECT l_partkey, l_quantity, l_extendedprice
        |  FROM lineitem JOIN part ON l_partkey = p_partkey
        |  WHERE p_brand = 'Brand#11' AND p_size <= 10),
        |a AS (
        |  SELECT l_partkey AS ak,
        |    sum(l_quantity) / count(*) AS avg_qty
        |  FROM li GROUP BY l_partkey)
        |SELECT CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) / 7.0 AS avg_yearly
        |FROM li JOIN a ON l_partkey = ak
        |WHERE l_quantity < 0.2 * avg_qty""".stripMargin,
    "rel_q21_waiting" ->
      s"""WITH li AS (
         |  SELECT l_orderkey, l_suppkey,
         |    l_shipdate > o_orderdate + INTERVAL $Q21LateDays DAY AS late
         |  FROM lineitem JOIN orders ON l_orderkey = o_orderkey
         |  WHERE o_orderstatus = 'F'),
         |po AS (
         |  SELECT l_orderkey AS gk,
         |    count(DISTINCT l_suppkey) AS n_supp,
         |    count(DISTINCT CASE WHEN late THEN l_suppkey END) AS n_late_supp
         |  FROM li GROUP BY l_orderkey)
         |SELECT s_suppkey, s_name, count(DISTINCT l_orderkey) AS numwait
         |FROM li JOIN po ON l_orderkey = gk
         |JOIN supplier ON l_suppkey = s_suppkey
         |WHERE late AND n_supp > 1 AND n_late_supp = 1
         |GROUP BY s_suppkey, s_name
         |ORDER BY numwait DESC, s_suppkey ASC LIMIT 20""".stripMargin,
    "rel_q22_global" ->
      """WITH cust AS (
        |  SELECT c_custkey, c_acctbal, c_nationkey % 5 AS cntrycode
        |  FROM customer WHERE c_nationkey % 5 IN (0, 1, 2)),
        |ab AS (
        |  SELECT CAST(sum(CAST(c_acctbal AS DECIMAL(18,2))) AS DOUBLE) / count(*) AS avg_bal
        |  FROM cust WHERE c_acctbal > 0.0)
        |SELECT cntrycode, count(*) AS numcust,
        |  CAST(sum(CAST(c_acctbal AS DECIMAL(18,2))) AS DOUBLE) AS totacctbal
        |FROM cust, ab
        |WHERE c_acctbal > avg_bal
        |  AND NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)
        |GROUP BY cntrycode ORDER BY cntrycode""".stripMargin,
    "rel_skew_profile" ->
      """WITH c AS (SELECT o_custkey AS custkey, count(*) AS cnt
        |           FROM orders GROUP BY o_custkey)
        |SELECT custkey, CAST(cnt AS BIGINT) AS cnt,
        |  round(CAST(cnt AS DOUBLE) / sum(cnt) OVER (), 6) AS share
        |FROM c ORDER BY cnt DESC, custkey ASC LIMIT 10""".stripMargin,
    "rel_q4_late_orders" ->
      """SELECT o_orderpriority, count(*) AS order_count
        |FROM orders
        |WHERE o_orderdate >= TIMESTAMP '1996-01-01'
        |  AND o_orderdate < TIMESTAMP '1997-01-01'
        |  AND EXISTS (SELECT 1 FROM lineitem
        |              WHERE l_orderkey = o_orderkey
        |                AND l_shipdate > o_orderdate + INTERVAL 60 DAY)
        |GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin,
    "rel_q7_volume" ->
      """SELECT supp_nation, cust_nation, l_year, count(*) AS cnt,
        |  CAST(sum(rev) AS DOUBLE) AS revenue
        |FROM (
        |  SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
        |    CAST(EXTRACT(YEAR FROM l_shipdate) AS INTEGER) AS l_year,
        |    CAST(l_extendedprice AS DECIMAL(18,2)) * CAST(CAST(1.0 AS DOUBLE) - l_discount AS DECIMAL(8,2)) AS rev
        |  FROM lineitem
        |  JOIN orders ON l_orderkey = o_orderkey
        |  JOIN supplier ON l_suppkey = s_suppkey
        |  JOIN customer ON o_custkey = c_custkey
        |  JOIN nation n1 ON s_nationkey = n1.n_nationkey
        |  JOIN nation n2 ON c_nationkey = n2.n_nationkey
        |  WHERE l_shipdate >= TIMESTAMP '1996-01-01'
        |    AND l_shipdate < TIMESTAMP '1998-01-01'
        |    AND n1.n_nationkey < 4 AND n2.n_nationkey < 4
        |    AND n1.n_nationkey <> n2.n_nationkey)
        |GROUP BY supp_nation, cust_nation, l_year
        |ORDER BY supp_nation, cust_nation, l_year""".stripMargin,
    "rel_q10_returned" ->
      """SELECT c_custkey, c_name, c_acctbal, n_name,
        |  CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2)) * CAST(CAST(1.0 AS DOUBLE) - l_discount AS DECIMAL(8,2))) AS DOUBLE) AS revenue
        |FROM lineitem
        |JOIN orders ON l_orderkey = o_orderkey
        |JOIN customer ON o_custkey = c_custkey
        |JOIN nation ON c_nationkey = n_nationkey
        |WHERE l_returnflag = 'R'
        |  AND o_orderdate >= TIMESTAMP '1996-07-01'
        |  AND o_orderdate < TIMESTAMP '1996-10-01'
        |GROUP BY c_custkey, c_name, c_acctbal, n_name
        |ORDER BY revenue DESC, c_custkey ASC LIMIT 20""".stripMargin,
    "rel_q14_promo" ->
      """WITH s AS (
        |  SELECT
        |    CAST(sum(CASE WHEN p_type = 'PROMO'
        |      THEN CAST(l_extendedprice AS DECIMAL(18,2)) * CAST(CAST(1.0 AS DOUBLE) - l_discount AS DECIMAL(8,2))
        |      ELSE CAST(0 AS DECIMAL(18,2)) END) AS DOUBLE) AS promo_revenue,
        |    CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2)) * CAST(CAST(1.0 AS DOUBLE) - l_discount AS DECIMAL(8,2))) AS DOUBLE) AS total_revenue
        |  FROM lineitem JOIN part ON l_partkey = p_partkey
        |  WHERE l_shipdate >= TIMESTAMP '1996-03-01'
        |    AND l_shipdate < TIMESTAMP '1996-04-01')
        |SELECT promo_revenue, total_revenue,
        |  CAST(100.0 AS DOUBLE) * promo_revenue / total_revenue AS promo_pct
        |FROM s""".stripMargin,
    "rel_q19_disjunctive" ->
      """SELECT count(*) AS cnt,
        |  CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2)) * CAST(CAST(1.0 AS DOUBLE) - l_discount AS DECIMAL(8,2))) AS DOUBLE) AS revenue
        |FROM lineitem JOIN part ON l_partkey = p_partkey
        |WHERE (p_brand = 'Brand#11' AND p_size BETWEEN 1 AND 15 AND l_quantity BETWEEN 1 AND 20)
        |   OR (p_brand = 'Brand#12' AND p_size BETWEEN 10 AND 30 AND l_quantity BETWEEN 10 AND 30)
        |   OR (p_brand = 'Brand#13' AND p_size BETWEEN 20 AND 50 AND l_quantity BETWEEN 20 AND 45)""".stripMargin,
    "rel_pagerank_iter" ->
      s"""$prContribSql
         |SELECT supp AS suppkey, count(*) AS in_deg,
         |  CAST(${15L * PrScale / 100} + (85 * sum(c)) // 100 AS BIGINT) AS rank_new
         |FROM c GROUP BY supp ORDER BY suppkey""".stripMargin,
    "rel_pagerank_round2" ->
      s"""$prContribSql,
         |r1 AS (
         |  SELECT supp,
         |    CAST(${15L * PrScale / 100} + (85 * sum(c)) // 100 AS BIGINT) AS rank1
         |  FROM c GROUP BY supp),
         |sd AS (SELECT supp, count(*) AS sdeg FROM e GROUP BY supp),
         |c2 AS (
         |  SELECT e.part, r1.rank1 // sd.sdeg AS c
         |  FROM e JOIN sd USING (supp) JOIN r1 USING (supp))
         |SELECT part AS partkey, count(*) AS in_deg,
         |  CAST(${15L * PrScale / 100} + (85 * sum(c)) // 100 AS BIGINT) AS rank_new
         |FROM c2 GROUP BY part ORDER BY partkey""".stripMargin,
    "rel_pagerank_converged" -> pagerankConvergedSql,
    "rel_copurchase_pairs" ->
      s"""WITH l AS (SELECT DISTINCT l_orderkey AS ok, l_partkey AS pk FROM lineitem),
         |p AS (SELECT a.pk AS p1, b.pk AS p2
         |      FROM l a JOIN l b ON a.ok = b.ok AND a.pk < b.pk)
         |SELECT p1, p2, CAST(count(*) AS BIGINT) AS cnt
         |FROM p GROUP BY p1, p2 HAVING count(*) >= ${CopurchaseSupport}
         |ORDER BY cnt DESC, p1 ASC, p2 ASC LIMIT 20""".stripMargin,
    "rel_copurchase_lift" ->
      s"""WITH l AS (SELECT DISTINCT l_orderkey AS ok, l_partkey AS pk FROM lineitem),
         |p AS (SELECT a.pk AS p1, b.pk AS p2
         |      FROM l a JOIN l b ON a.ok = b.ok AND a.pk < b.pk),
         |e AS (SELECT p1, p2, count(*) AS cnt FROM p GROUP BY p1, p2
         |      HAVING count(*) >= ${CopurchaseSupport}),
         |top AS (SELECT * FROM e ORDER BY cnt DESC, p1 ASC, p2 ASC LIMIT 20),
         |it AS (SELECT pk, count(*) AS n_item FROM l GROUP BY pk),
         |nb AS (SELECT count(DISTINCT ok) AS n_baskets FROM l)
         |SELECT t.p1, t.p2, CAST(t.cnt AS BIGINT) AS cnt,
         |  CAST(i1.n_item AS BIGINT) AS n1, CAST(i2.n_item AS BIGINT) AS n2,
         |  round(CAST(t.cnt AS DOUBLE) / i1.n_item, 6) AS confidence,
         |  round(CAST(nb.n_baskets AS DOUBLE) * t.cnt / (i1.n_item * i2.n_item), 6) AS lift
         |FROM top t JOIN it i1 ON t.p1 = i1.pk JOIN it i2 ON t.p2 = i2.pk, nb
         |ORDER BY cnt DESC, p1 ASC, p2 ASC""".stripMargin,
    "rel_date_dim" ->
      """WITH r AS (
        |  SELECT CAST(min(o_orderdate) AS DATE) AS d0,
        |         CAST(max(o_orderdate) AS DATE) AS d1
        |  FROM orders),
        |s AS (SELECT CAST(gs AS DATE) AS d
        |      FROM r, UNNEST(generate_series(d0, d1, INTERVAL 1 DAY)) t(gs))
        |SELECT d, CAST(EXTRACT(YEAR FROM d) AS INTEGER) AS yr,
        |  CAST(EXTRACT(QUARTER FROM d) AS INTEGER) AS qtr,
        |  CAST(EXTRACT(MONTH FROM d) AS INTEGER) AS mo,
        |  CAST(EXTRACT(DAY FROM d) AS INTEGER) AS dom,
        |  CAST(EXTRACT(WEEK FROM d) AS INTEGER) AS iso_wk,
        |  CAST(EXTRACT(DOW FROM d) + 1 AS INTEGER) AS dow,
        |  CASE WHEN EXTRACT(DOW FROM d) + 1 IN (1, 7) THEN 1 ELSE 0 END
        |    AS is_weekend
        |FROM s ORDER BY d""".stripMargin,
    "rel_abc_analysis" ->
      """WITH p AS (
        |  SELECT l_partkey AS partkey,
        |    CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DECIMAL(38,2)) AS rev
        |  FROM lineitem GROUP BY 1),
        |c AS (
        |  SELECT partkey, rev,
        |    sum(rev) OVER (ORDER BY rev DESC, partkey ASC
        |                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum_rev,
        |    sum(rev) OVER () AS total
        |  FROM p),
        |k AS (
        |  SELECT rev, total,
        |    CASE WHEN cum_rev * 100 <= total * 80 THEN 'A'
        |         WHEN cum_rev * 100 <= total * 95 THEN 'B'
        |         ELSE 'C' END AS abc
        |  FROM c)
        |SELECT abc, CAST(count(*) AS BIGINT) AS n_parts,
        |  CAST(sum(rev) AS DOUBLE) AS revenue,
        |  round(CAST(sum(rev) AS DOUBLE) * 100 / CAST(max(total) AS DOUBLE), 4)
        |    AS rev_share_pct
        |FROM k GROUP BY abc ORDER BY abc""".stripMargin,
    "rel_growth_decomp" ->
      s"""WITH a AS (
         |  SELECT l_returnflag AS flag,
         |    CAST(sum(CAST(CASE WHEN year(l_shipdate) = $DecompY0 THEN l_quantity ELSE 0 END AS DECIMAL(18,2))) AS DECIMAL(38,2)) AS q0,
         |    CAST(sum(CAST(CASE WHEN year(l_shipdate) = $DecompY0 THEN l_extendedprice ELSE 0 END AS DECIMAL(18,2))) AS DECIMAL(38,2)) AS r0,
         |    CAST(sum(CAST(CASE WHEN year(l_shipdate) = $DecompY1 THEN l_quantity ELSE 0 END AS DECIMAL(18,2))) AS DECIMAL(38,2)) AS q1,
         |    CAST(sum(CAST(CASE WHEN year(l_shipdate) = $DecompY1 THEN l_extendedprice ELSE 0 END AS DECIMAL(18,2))) AS DECIMAL(38,2)) AS r1
         |  FROM lineitem GROUP BY 1),
         |b AS (
         |  SELECT flag, CAST(r0 AS DOUBLE) AS rev0, CAST(r1 AS DOUBLE) AS rev1,
         |    CAST(r1 - r0 AS DOUBLE) AS delta,
         |    CASE WHEN q0 = 0 THEN NULL ELSE
         |      round(CAST(q1 - q0 AS DOUBLE) * (CAST(r0 AS DOUBLE) / CAST(q0 AS DOUBLE)), 2)
         |    END AS volume_effect
         |  FROM a)
         |SELECT flag, rev0, rev1, round(delta, 2) AS delta, volume_effect,
         |  round(delta - volume_effect, 2) AS price_effect
         |FROM b ORDER BY flag""".stripMargin,
    "rel_budget_alloc" ->
      s"""WITH c AS (
         |  SELECT o_orderpriority AS priority, count(*) AS n_orders
         |  FROM orders GROUP BY 1),
         |t AS (SELECT c.*, CAST(sum(n_orders) OVER () AS BIGINT) AS n_total FROM c),
         |f AS (
         |  SELECT priority, n_orders,
         |    ($AllocBudget * n_orders) // n_total AS base,
         |    ($AllocBudget * n_orders) % n_total AS rem,
         |    n_total
         |  FROM t),
         |r AS (
         |  SELECT f.*,
         |    row_number() OVER (ORDER BY rem DESC, priority ASC) AS rem_rank,
         |    $AllocBudget - CAST(sum(base) OVER () AS BIGINT) AS residual
         |  FROM f)
         |SELECT priority, CAST(n_orders AS BIGINT) AS n_orders,
         |  CAST(base + CASE WHEN rem_rank <= residual THEN 1 ELSE 0 END AS BIGINT)
         |    AS alloc,
         |  CASE WHEN rem_rank <= residual THEN 1 ELSE 0 END AS got_extra
         |FROM r ORDER BY priority""".stripMargin,
    "rel_locf_fill" ->
      """WITH s AS (
        |  SELECT o_custkey, CAST(o_orderdate AS DATE) AS o_date, o_orderkey,
        |    CASE WHEN o_orderstatus = 'F' THEN o_totalprice END AS observed
        |  FROM orders WHERE o_custkey % 100 = 0)
        |SELECT o_custkey, o_date, o_orderkey, observed,
        |  last_value(observed IGNORE NULLS) OVER (
        |    PARTITION BY o_custkey ORDER BY o_date, o_orderkey
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS filled
        |FROM s ORDER BY o_custkey, o_date, o_orderkey""".stripMargin,
    // the MV's DEFINING query, recomputed in full: the hash gate proves
    // the incremental merge (persisted base partials + delta partials)
    // equals the definition, not merely itself
    "rel_mv_refresh" ->
      """SELECT CAST(date_trunc('month', o_orderdate) AS DATE) AS month,
        |  CAST(count(*) AS BIGINT) AS n_orders,
        |  CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS revenue
        |FROM orders GROUP BY 1 ORDER BY month""".stripMargin,
    "rel_reachability" ->
      s"""WITH RECURSIVE l AS (SELECT DISTINCT l_orderkey AS ok, l_partkey AS pk FROM lineitem),
         |p AS (SELECT a.pk AS p1, b.pk AS p2
         |      FROM l a JOIN l b ON a.ok = b.ok AND a.pk < b.pk),
         |e AS (SELECT p1, p2 FROM p GROUP BY p1, p2
         |      HAVING count(*) >= ${CopurchaseSupport}),
         |u AS (SELECT p1 AS src, p2 AS dst FROM e
         |      UNION ALL SELECT p2 AS src, p1 AS dst FROM e),
         |seed AS (SELECT min(p1) AS node FROM e),
         |bfs(node, hops) AS (
         |  SELECT node, 0 FROM seed
         |  UNION
         |  SELECT u.dst, bfs.hops + 1 FROM bfs JOIN u ON u.src = bfs.node
         |  WHERE bfs.hops < $ReachMaxHops),
         |d AS (SELECT node, min(hops) AS hops FROM bfs GROUP BY node)
         |SELECT CAST(hops AS INTEGER) AS hops, CAST(count(*) AS BIGINT) AS n_nodes,
         |  CAST(min(node) AS BIGINT) AS min_node, CAST(max(node) AS BIGINT) AS max_node
         |FROM d GROUP BY hops ORDER BY hops""".stripMargin,
    // orientation is a counting device, not a semantic: the oracle counts
    // the same triangles with the plain a<b<c join
    "rel_triangles" ->
      s"""WITH l AS (SELECT DISTINCT l_orderkey AS ok, l_partkey AS pk FROM lineitem),
         |p AS (SELECT a.pk AS p1, b.pk AS p2
         |      FROM l a JOIN l b ON a.ok = b.ok AND a.pk < b.pk),
         |e AS (SELECT p1, p2 FROM p GROUP BY p1, p2
         |      HAVING count(*) >= ${CopurchaseSupport}),
         |nn AS (SELECT count(DISTINCT x) AS n_nodes
         |       FROM (SELECT p1 AS x FROM e UNION ALL SELECT p2 FROM e)),
         |ne AS (SELECT count(*) AS n_edges FROM e),
         |nt AS (SELECT count(*) AS n_triangles
         |       FROM e e1 JOIN e e2 ON e2.p1 = e1.p2
         |                 JOIN e e3 ON e3.p1 = e1.p1 AND e3.p2 = e2.p2)
         |SELECT CAST(n_nodes AS BIGINT) AS n_nodes,
         |  CAST(n_edges AS BIGINT) AS n_edges,
         |  CAST(n_triangles AS BIGINT) AS n_triangles
         |FROM nn, ne, nt""".stripMargin,
    "rel_q18_large_orders" ->
      s"""WITH big AS (
         |  SELECT l_orderkey, sum(l_quantity) AS total_qty
         |  FROM lineitem GROUP BY l_orderkey
         |  HAVING sum(l_quantity) > $Q18Threshold)
         |SELECT c_custkey, c_name, o_orderkey, o_orderdate, o_totalprice, total_qty
         |FROM orders
         |JOIN big ON o_orderkey = l_orderkey
         |JOIN customer ON o_custkey = c_custkey
         |ORDER BY o_totalprice DESC, o_orderkey ASC
         |LIMIT 100""".stripMargin,
    "rel_merge_upsert" ->
      """WITH b0 AS (
        |  SELECT o_custkey, o_orderpriority,
        |    row_number() OVER (PARTITION BY o_custkey
        |                       ORDER BY o_orderdate DESC, o_orderkey DESC) AS rk
        |  FROM orders WHERE o_custkey < 300),
        |batch AS (
        |  SELECT o_custkey AS custkey, o_orderpriority AS new_priority
        |  FROM b0 WHERE rk = 1),
        |target AS (
        |  SELECT c_custkey AS custkey, c_mktsegment
        |  FROM customer WHERE c_custkey < 200)
        |SELECT COALESCE(t.custkey, b.custkey) AS custkey,
        |  CASE WHEN t.custkey IS NULL THEN 'insert'
        |       WHEN b.custkey IS NULL THEN 'keep'
        |       ELSE 'update' END AS action,
        |  CASE WHEN b.custkey IS NULL THEN t.c_mktsegment
        |       ELSE 'PRIO:' || b.new_priority END AS merged_val
        |FROM target t FULL OUTER JOIN batch b ON t.custkey = b.custkey
        |ORDER BY custkey""".stripMargin,
    "rel_scd2_runs" ->
      s"""WITH $scd2ChainSql
         |SELECT o_custkey, run_id, priority, eff_from, eff_to, n_orders
         |FROM scd2 ORDER BY o_custkey, run_id""".stripMargin,
    // point-in-time read over the same chain: exactly the validity-range
    // filter, shared CTE body so the read-side can never drift from the
    // registered build
    "rel_scd2_asof" ->
      s"""WITH $scd2ChainSql
         |SELECT o_custkey, priority, eff_from, eff_to
         |FROM scd2
         |WHERE eff_from <= DATE '$Scd2AsOfDate'
         |  AND (eff_to IS NULL OR eff_to > DATE '$Scd2AsOfDate')
         |ORDER BY o_custkey""".stripMargin,
    "rel_window_running" ->
      """SELECT o_custkey, o_orderkey, o_orderdate,
        |  count(*) OVER (PARTITION BY o_custkey
        |                 ORDER BY o_orderdate ASC, o_orderkey ASC
        |                 ROWS UNBOUNDED PRECEDING) AS run_cnt
        |FROM orders WHERE o_custkey < 50
        |ORDER BY o_custkey, o_orderdate, o_orderkey""".stripMargin,
    "rel_union" ->
      """SELECT o_custkey FROM orders
        |WHERE o_orderdate >= TIMESTAMP '1996-01-01' AND o_orderdate < TIMESTAMP '1997-01-01'
        |UNION
        |SELECT o_custkey FROM orders
        |WHERE o_orderdate >= TIMESTAMP '1997-01-01' AND o_orderdate < TIMESTAMP '1998-01-01'
        |ORDER BY o_custkey""".stripMargin,
    "rel_pivot" ->
      """SELECT l_linestatus,
        |  sum(CASE WHEN l_returnflag = 'A' THEN l_quantity END) AS A,
        |  sum(CASE WHEN l_returnflag = 'N' THEN l_quantity END) AS N,
        |  sum(CASE WHEN l_returnflag = 'R' THEN l_quantity END) AS R
        |FROM lineitem GROUP BY l_linestatus ORDER BY l_linestatus""".stripMargin,
    // manual UNION ALL melt (portable across both engines' UNPIVOT quirks)
    "rel_unpivot" ->
      """WITH p AS (
        |  SELECT l_linestatus,
        |    sum(CASE WHEN l_returnflag = 'A' THEN l_quantity END) AS A,
        |    sum(CASE WHEN l_returnflag = 'N' THEN l_quantity END) AS N,
        |    sum(CASE WHEN l_returnflag = 'R' THEN l_quantity END) AS R
        |  FROM lineitem GROUP BY l_linestatus)
        |SELECT l_linestatus, 'A' AS flag, A AS sum_qty FROM p
        |UNION ALL SELECT l_linestatus, 'N', N FROM p
        |UNION ALL SELECT l_linestatus, 'R', R FROM p
        |ORDER BY l_linestatus, flag""".stripMargin,
    "rel_corr_subquery" ->
      """SELECT c_custkey,
        |  (SELECT count(*) FROM orders WHERE o_custkey = c_custkey) AS n_orders
        |FROM customer
        |WHERE c_custkey < 100
        |ORDER BY c_custkey""".stripMargin,
    "rel_window_dist" ->
      """SELECT o_custkey, o_orderkey, o_totalprice,
        |  percent_rank() OVER w AS pr,
        |  cume_dist() OVER w AS cd,
        |  nth_value(o_totalprice, 3) OVER (
        |    PARTITION BY o_custkey ORDER BY o_totalprice ASC, o_orderkey ASC
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING) AS third_price
        |FROM orders WHERE o_custkey < 50
        |WINDOW w AS (PARTITION BY o_custkey ORDER BY o_totalprice ASC, o_orderkey ASC)
        |ORDER BY o_custkey, o_totalprice, o_orderkey""".stripMargin,
    "rel_window_ntile" ->
      """WITH spend AS (
        |  SELECT o_custkey, sum(CAST(o_totalprice AS DECIMAL(18,2))) AS spend
        |  FROM orders GROUP BY 1),
        |tiled AS (
        |  SELECT c_mktsegment, spend,
        |    ntile(4) OVER (PARTITION BY c_mktsegment
        |                   ORDER BY spend DESC, c_custkey ASC) AS tile
        |  FROM spend JOIN customer ON o_custkey = c_custkey)
        |SELECT c_mktsegment, tile, CAST(count(*) AS BIGINT) AS n_cust,
        |  CAST(min(spend) AS DOUBLE) AS min_spend,
        |  CAST(max(spend) AS DOUBLE) AS max_spend,
        |  CAST(sum(spend) AS DOUBLE) AS tile_spend
        |FROM tiled GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,
    "rel_window_range_frame" ->
      """SELECT o_custkey, o_orderkey, CAST(epoch(o_orderdate) AS BIGINT) AS o_epoch,
        |  count(*) OVER (PARTITION BY o_custkey ORDER BY CAST(epoch(o_orderdate) AS BIGINT)
        |                 RANGE BETWEEN 2592000 PRECEDING AND 2592000 FOLLOWING) AS n_near
        |FROM orders WHERE o_custkey < 50
        |ORDER BY o_custkey, o_epoch, o_orderkey""".stripMargin,
    "rel_arg_extremes" ->
      """WITH r AS (
        |  SELECT o_orderpriority, o_orderkey,
        |    CAST(floor(o_totalprice * 100) AS BIGINT) * 10000000000 + o_orderkey AS rk
        |  FROM orders)
        |SELECT o_orderpriority,
        |  min_by(o_orderkey, rk) AS cheapest_order,
        |  max_by(o_orderkey, rk) AS priciest_order
        |FROM r GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin,
    "rel_salted_join" ->
      """SELECT o_orderpriority, count(*) AS cnt,
        |  CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_price
        |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin,
    // identical to rel_salted_join's oracle: hot-key salting is a pure
    // physical rewrite, the logical result must not move
    "rel_salted_join_hot" ->
      """SELECT o_orderpriority, count(*) AS cnt,
        |  CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_price
        |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin,
    // DuckDB's native ASOF JOIN is the oracle for the union+window
    // distributed algorithm; both sides dedupe order-date ties first
    "rel_asof_join" ->
      """WITH o AS (
        |  SELECT o_custkey, o_orderdate, o_orderkey, o_totalprice
        |  FROM orders
        |  QUALIFY row_number() OVER (PARTITION BY o_custkey, o_orderdate
        |                             ORDER BY o_orderkey DESC) = 1)
        |SELECT e.event_id, e.user_id,
        |       o.o_orderkey AS asof_orderkey, o.o_totalprice AS asof_totalprice
        |FROM events e ASOF JOIN o
        |  ON e.user_id = o.o_custkey AND e.ts >= o.o_orderdate
        |ORDER BY e.event_id""".stripMargin,
    // plain inequality join (DuckDB plans IEJoin); the Spark side must
    // reproduce it exactly through the bin-equi-join rewrite
    "rel_range_join_binned" ->
      """SELECT e.event_id, count(o.o_orderkey) AS n_near
        |FROM events e LEFT JOIN orders o
        |  ON o.o_orderdate >= e.ts - INTERVAL 1 DAY
        | AND o.o_orderdate <= e.ts + INTERVAL 1 DAY
        |GROUP BY e.event_id ORDER BY e.event_id""".stripMargin,
    "rel_q1_pricing" -> Q1PricingOracle,
    // IDENTICAL oracle: the SQL-string entry authors the same logical
    // plan as the DSL twin (digest-equality pinned in TpchShapesSpec)
    "rel_q1_sql_entry" -> Q1PricingOracle,
    "rel_q3_topk" ->
      """SELECT l_orderkey, o_orderdate, o_orderpriority,
        |  CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2)) * CAST(CAST(1.0 AS DOUBLE) - l_discount AS DECIMAL(8,2))) AS DOUBLE) AS revenue
        |FROM customer JOIN orders ON c_custkey = o_custkey
        |JOIN lineitem ON o_orderkey = l_orderkey
        |WHERE c_mktsegment = 'BUILDING'
        |  AND o_orderdate < TIMESTAMP '1998-01-01'
        |  AND l_shipdate > TIMESTAMP '1998-01-01'
        |GROUP BY l_orderkey, o_orderdate, o_orderpriority
        |ORDER BY revenue DESC, l_orderkey ASC LIMIT 10""".stripMargin,
    "rel_q5_region_rev" ->
      """SELECT n_name,
        |  CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2)) * CAST(CAST(1.0 AS DOUBLE) - l_discount AS DECIMAL(8,2))) AS DOUBLE) AS revenue
        |FROM lineitem
        |JOIN orders ON l_orderkey = o_orderkey
        |JOIN customer ON o_custkey = c_custkey
        |JOIN supplier ON l_suppkey = s_suppkey AND c_nationkey = s_nationkey
        |JOIN nation ON s_nationkey = n_nationkey
        |JOIN region ON n_regionkey = r_regionkey
        |WHERE r_name = 'ASIA'
        |  AND o_orderdate >= TIMESTAMP '1996-01-01'
        |  AND o_orderdate < TIMESTAMP '1997-01-01'
        |GROUP BY n_name
        |ORDER BY revenue DESC, n_name ASC""".stripMargin,
    "rel_q6_rev_filter" ->
      """SELECT CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2)) * CAST(l_discount AS DECIMAL(8,2))) AS DOUBLE) AS revenue
        |FROM lineitem
        |WHERE l_shipdate >= TIMESTAMP '1996-01-01'
        |  AND l_shipdate < TIMESTAMP '1997-01-01'
        |  AND l_discount >= CAST(0.05 AS DOUBLE) AND l_discount <= CAST(0.07 AS DOUBLE)
        |  AND l_quantity < 24.0""".stripMargin,
    "rel_semi_join" ->
      """SELECT c_custkey, c_name FROM customer
        |WHERE EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)
        |ORDER BY c_custkey""".stripMargin,
    "rel_anti_join" ->
      """SELECT c_custkey, c_name FROM customer
        |WHERE NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)
        |ORDER BY c_custkey""".stripMargin,
    "rel_window_rank" ->
      """SELECT o_custkey, o_orderkey, o_totalprice, rn FROM (
        |  SELECT o_custkey, o_orderkey, o_totalprice,
        |    row_number() OVER (PARTITION BY o_custkey
        |                       ORDER BY o_totalprice DESC, o_orderkey ASC) AS rn
        |  FROM orders)
        |WHERE rn <= 2 ORDER BY o_custkey, rn""".stripMargin,
    // the custom operator must reproduce the window formulation exactly
    "rel_topk_per_group" ->
      """SELECT o_custkey, o_orderkey, o_totalprice, rn FROM (
        |  SELECT o_custkey, o_orderkey, o_totalprice,
        |    row_number() OVER (PARTITION BY o_custkey
        |                       ORDER BY o_totalprice DESC, o_orderkey ASC) AS rn
        |  FROM orders)
        |WHERE rn <= 2 ORDER BY o_custkey, rn""".stripMargin,
    "rel_topk_agg" ->
      """SELECT o_orderpriority, l[1] AS top1, l[2] AS top2, l[3] AS top3
        |FROM (
        |  SELECT o_orderpriority,
        |         (list(o_totalprice ORDER BY o_totalprice DESC))[1:3] AS l
        |  FROM orders GROUP BY o_orderpriority)
        |ORDER BY o_orderpriority""".stripMargin,
    "rel_rollup" ->
      """SELECT coalesce(l_returnflag, 'ALL') AS rf,
        |       coalesce(l_linestatus, 'ALL') AS ls,
        |       count(*) AS cnt, sum(l_quantity) AS sum_qty
        |FROM lineitem GROUP BY ROLLUP(l_returnflag, l_linestatus)
        |ORDER BY rf, ls""".stripMargin,
    "rel_listagg" ->
      """SELECT r_name, string_agg(n_name, ',' ORDER BY n_name) AS nations,
        |       count(*) AS n_nations
        |FROM nation JOIN region ON n_regionkey = r_regionkey
        |GROUP BY r_name ORDER BY r_name""".stripMargin,
    "rel_grouping_sets" ->
      """SELECT coalesce(o_orderstatus, 'ALL') AS status,
        |       coalesce(o_orderpriority, 'ALL') AS priority,
        |       CAST(grouping(o_orderstatus) * 2 + grouping(o_orderpriority) AS BIGINT) AS gid,
        |       count(*) AS cnt,
        |       CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_price
        |FROM orders
        |GROUP BY GROUPING SETS ((o_orderstatus, o_orderpriority), (o_orderstatus), ())
        |ORDER BY gid, status, priority""".stripMargin,
    "rel_cube" ->
      """SELECT coalesce(l_returnflag, 'ALL') AS rf,
        |       coalesce(l_linestatus, 'ALL') AS ls,
        |       count(*) AS cnt, sum(l_quantity) AS sum_qty
        |FROM lineitem GROUP BY CUBE(l_returnflag, l_linestatus)
        |ORDER BY rf, ls""".stripMargin,
    "rel_window_lag" ->
      """SELECT o_custkey, o_orderkey, o_orderdate, o_totalprice,
        |  lag(o_totalprice, 1) OVER w AS prev_price,
        |  lead(o_totalprice, 1) OVER w AS next_price,
        |  ntile(4) OVER w AS quartile
        |FROM orders WHERE o_custkey < 50
        |WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate ASC, o_orderkey ASC)
        |ORDER BY o_custkey, o_orderdate, o_orderkey""".stripMargin,
    "rel_intersect" ->
      """SELECT o_custkey FROM orders
        |WHERE o_orderdate >= TIMESTAMP '1996-01-01' AND o_orderdate < TIMESTAMP '1997-01-01'
        |INTERSECT
        |SELECT o_custkey FROM orders
        |WHERE o_orderdate >= TIMESTAMP '1997-01-01' AND o_orderdate < TIMESTAMP '1998-01-01'
        |ORDER BY o_custkey""".stripMargin,
    "rel_except" ->
      """SELECT o_custkey FROM orders
        |WHERE o_orderdate >= TIMESTAMP '1996-01-01' AND o_orderdate < TIMESTAMP '1997-01-01'
        |EXCEPT
        |SELECT o_custkey FROM orders
        |WHERE o_orderdate >= TIMESTAMP '1997-01-01' AND o_orderdate < TIMESTAMP '1998-01-01'
        |ORDER BY o_custkey""".stripMargin)
}
