package graft.ingest

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** Deterministic BASKET corpus generator with a planted co-purchase
  * graph (round 16 — the [[DocCorpus]] discipline applied to the
  * market-basket family): closed-form arithmetic, no RNG state,
  * generated distributedly from `spark.range` (the driver never holds
  * a row), written as `lineitem.parquet(l_orderkey, l_partkey)` so the
  * registered graph miners (`rel_copurchase_pairs`, `rel_triangles`,
  * `rel_reachability`) run against the directory unchanged.
  *
  * The SUPPORT-PRUNED co-purchase graph (pair count >= 2, the
  * registered [[graft.queries.RelationalQueries.CopurchaseSupport]])
  * is exactly a CHAIN OF K4 CLIQUES: parts 4g..4g+3 form a clique for
  * each group g < G, and a bridge edge joins 4g+3 to 4(g+1). Every
  * intended edge is planted as TWO two-item baskets (count 2 ->
  * survives the prune); every NOISE basket draws 5 globally-fresh part
  * ids (ids >= 4G, never reused), so each of its C(5,2) = 10 raw pairs
  * occurs exactly once and the prune removes it. That makes all three
  * censuses closed-form at ANY scale:
  *  - triangles: (n_nodes, n_edges, n_triangles) = (4G, 7G-1, 4G) —
  *    each K4 contributes 4 triangles and bridges close none (bridge
  *    endpoints share no neighbor);
  *  - BFS from the min node (part 0): clique g's entry node 4g lands
  *    at hop 2g and its other three members at hop 2g+1, capped at
  *    [[graft.queries.RelationalQueries.ReachMaxHops]];
  *  - top pairs: every surviving pair has count exactly 2, so the
  *    (cnt desc, p1, p2) order is the plain (p1, p2) order over the
  *    planted edge list.
  * Raw-pair volume (the stage the support prune exists to bound) is
  * carried by the noise baskets — 10 once-only pairs each — and scales
  * linearly with G, so a super-linear soak trend indicts the engine,
  * not the corpus.
  */
object BasketCorpus {

  /** Noise baskets per clique group — 2 gives noise pairs ~59% of raw
    * pair volume, enough that the prune is load-bearing. */
  val NoisePerGroup = 2L

  /** Writes the G-group corpus as `<out>/lineitem.parquet`; ~38·G rows
    * ((7G-1) edges x 2 baskets x 2 rows + 2G noise baskets x 5 rows).
    * Returns `out`. */
  def write(spark: SparkSession, out: String, groups: Long): String = {
    require(groups >= 2, s"groups=$groups: need at least two cliques for a bridge")
    val g6 = groups * 6
    // clique edges: edge id e < 6G is group e/6's combo e%6 over the
    // K4 pair table; bridge edges: 6G <= e < 7G-1 joins consecutive
    // cliques. Each edge becomes two 2-item baskets (orderkeys 2e, 2e+1).
    val cliqueEdges = spark.range(g6)
      .select(col("id").as("eid"),
        (col("id") / 6).cast("long").as("g"), (col("id") % 6).as("k"))
      .withColumn("p1", col("g") * 4 +
        element_at(array(lit(0), lit(0), lit(0), lit(1), lit(1), lit(2)),
          (col("k") + 1).cast("int")))
      .withColumn("p2", col("g") * 4 +
        element_at(array(lit(1), lit(2), lit(3), lit(2), lit(3), lit(3)),
          (col("k") + 1).cast("int")))
      .select("eid", "p1", "p2")
    val bridgeEdges = spark.range(groups - 1)
      .select((col("id") + g6).as("eid"),
        (col("id") * 4 + 3).as("p1"), (col("id") * 4 + 4).as("p2"))
    val edgeRows = cliqueEdges.unionAll(bridgeEdges)
      .select(col("eid"), explode(array(lit(0L), lit(1L))).as("b"),
        col("p1"), col("p2"))
      .select((col("eid") * 2 + col("b")).as("l_orderkey"),
        explode(array(col("p1"), col("p2"))).as("l_partkey"))
    // noise: 5 fresh part ids per basket (>= 4G, never reused) -> every
    // raw pair count-1, pruned; orderkeys continue past the edge range
    val noiseOffset = (groups * 7 - 1) * 2
    val noiseRows = spark.range(groups * NoisePerGroup)
      .select((col("id") + noiseOffset).as("l_orderkey"),
        explode(sequence(lit(0L), lit(4L))).as("i"),
        col("id").as("j"))
      .select(col("l_orderkey"),
        (lit(groups * 4) + col("j") * 5 + col("i")).as("l_partkey"))
    edgeRows.unionAll(noiseRows)
      .write.mode("overwrite").parquet(s"$out/lineitem.parquet")
    out
  }

  /** The closed-form BFS hop histogram rows (hops, n_nodes, min_node,
    * max_node) for the chain at `groups` cliques under `maxHops` — the
    * gate `basket_decade` ([[graft.Soak]]) REQUIRES before timing counts. */
  def expectedBfs(groups: Long, maxHops: Int): Seq[(Int, Long, Long, Long)] = {
    val rows = Seq.newBuilder[(Int, Long, Long, Long)]
    rows += ((0, 1L, 0L, 0L))
    var g = 0L
    var done = false
    while (!done && g < groups) {
      val entry = 2 * g // hop of clique g's entry node 4g (g=0: node 0 above)
      if (g > 0) {
        if (entry > maxHops) done = true
        else rows += ((entry.toInt, 1L, 4 * g, 4 * g))
      }
      if (!done && entry + 1 <= maxHops)
        rows += (((entry + 1).toInt, 3L, 4 * g + 1, 4 * g + 3))
      g += 1
    }
    rows.result()
  }

  /** The closed-form top-k co-purchase pairs (p1, p2, cnt=2) in the
    * registered (cnt desc, p1, p2) order. */
  def expectedTopPairs(groups: Long, k: Int): Seq[(Long, Long, Long)] = {
    val combos = Seq((0L, 1L), (0L, 2L), (0L, 3L), (1L, 2L), (1L, 3L), (2L, 3L))
    // per-group emission is already (p1, p2)-sorted and every pair of
    // group g precedes every pair of group g+1 (bridge p1 = 4g+3 <
    // 4(g+1)), so the first ceil(k/6)+1 groups suffice — no
    // driver-side sort of the full ~7G edge list for a k-row expectation
    (0L until math.min(groups, k.toLong / 6 + 2)).flatMap { g =>
      val clique = combos.map { case (a, b) => (4 * g + a, 4 * g + b) }
      val bridge = if (g < groups - 1) Seq((4 * g + 3, 4 * g + 4)) else Seq.empty
      clique ++ bridge
    }.take(k).map { case (a, b) => (a, b, 2L) }
  }
}
