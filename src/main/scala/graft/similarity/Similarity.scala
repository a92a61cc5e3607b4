package graft.similarity

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables
import graft.functions.VectorOps

/** Similarity search over the `embeddings` table (array<float> column).
  *
  * Two paths, per the training-data-pipeline brief:
  *  - brute-force cosine top-k — the correctness baseline; O(N·d) per query
  *    vector, embarrassingly parallel, query side broadcast.
  *  - signed-random-projection LSH bucketing — the scale path: bucket once
  *    (one scan), then candidate generation is an equi-join on the bucket
  *    id instead of an all-pairs cross product.
  *
  * Cosine scores are rounded to 4 decimals *before* ordering/thresholding so
  * the comparison with the oracle is deterministic (double summation order
  * may differ across engines by ~1 ulp).
  */
object Similarity {

  /** Exact-integer argmin shared by every nearest-centroid assignment
    * (r17 optimization, guide §2.3 "aggregate before you shuffle"): per
    * `keys` group, the `c_label` minimizing (`distCol`, c_label) — a
    * k=1 [[graft.functions.BottomKLongTuples]] aggregate, which runs as
    * ObjectHashAggregate with MAP-SIDE partial aggregation, so the
    * argmin exchange carries ONE row per group instead of one per
    * (group, centroid) and runs no per-group sort. Replaces the
    * `row_number().over(partitionBy(keys).orderBy(dist, c_label)) = 1`
    * window, whose exchange shipped all |centroids| rows per group and
    * sorted them. NOT `min(struct(dist, c_label))`: a struct-typed agg
    * buffer is immutable, which silently downgrades the whole aggregate
    * to SortAggregate — measured 1.5-5× SLOWER than the window it was
    * meant to replace across the sim family before this landed on the
    * bounded-tuple aggregate. Identical result either way: (dist,
    * c_label) is a total order over exact integers, so the
    * lexicographic minimum IS the argmin with the smallest-label
    * tiebreak. */
  private def argminLabel(dists: DataFrame, keys: Seq[String],
      distCol: String): DataFrame = {
    // the tuple aggregate compares LONGs; a fractional distance would be
    // silently truncated by the cast and could return a wrong argmin, so
    // fail loudly on any non-integral input (ADVICE r17 — the
    // GraftLongLongInputs no-implicit-truncation posture)
    val distType = dists.schema(distCol).dataType
    require(Seq(org.apache.spark.sql.types.LongType,
        org.apache.spark.sql.types.IntegerType,
        org.apache.spark.sql.types.ShortType,
        org.apache.spark.sql.types.ByteType).contains(distType),
      s"argminLabel needs an integral distance column, got $distType for " +
        s"'$distCol' — a fractional distance would truncate, not compare")
    val labelType = dists.schema("c_label").dataType
    val m = org.apache.spark.sql.GraftBridge.column(
      graft.functions.BottomKLongTuples(
        Seq(col(distCol).cast("long"), col("c_label").cast("long"))
          .map(org.apache.spark.sql.GraftBridge.expression), 1)
        .toAggregateExpression())
    dists.groupBy(keys.map(col): _*)
      .agg(m.as("_m"))
      .select(keys.map(col) :+
        col("_m")(0).getField("c1").cast(labelType).as("c_label"): _*)
  }

  /** LSH bucket id per vector: `planes` sign bits of deterministic integer
    * hyperplane projections — one per-row kernel call
    * (functions.LshBucket), no plane-explode, no aggregate shuffle.
    * [[bucketsSpec]] keeps the explode + planeDot spelling, bit-identical
    * (pinned in VectorOpsSpec). */
  def buckets(spark: SparkSession, dir: String, planes: Int): DataFrame = {
    val bucketCol = org.apache.spark.sql.GraftBridge.column(
      graft.functions.LshBucket(
        org.apache.spark.sql.GraftBridge.expression(col("embedding")), planes))
    Tables(spark, dir, "embeddings")
      .select(col("vec_id"), bucketCol.as("bucket"))
  }

  /** Explode + planeDot spelling of [[buckets]] (the portable spec). */
  def bucketsSpec(spark: SparkSession, dir: String, planes: Int): DataFrame = {
    Tables(spark, dir, "embeddings")
      .select(col("vec_id"), col("embedding"))
      .withColumn("j", explode(sequence(lit(0), lit(planes - 1))))
      .withColumn("dotj", VectorOps.planeDot("embedding", "j"))
      .groupBy("vec_id")
      .agg(sum(when(col("dotj") >= 0, expr("cast(pow(2, j) as bigint)"))
        .otherwise(0L)).as("bucket"))
  }

  /** Brute-force cosine top-10 against the vec_id=0 query vector. */
  def cosineTopK(spark: SparkSession, dir: String): DataFrame = {
    val emb = Tables(spark, dir, "embeddings").select(col("vec_id"), col("embedding"))
    val q = emb.filter(col("vec_id") === 0).select(col("embedding").as("qe"))
    emb.crossJoin(broadcast(q))
      .select(col("vec_id"), round(VectorOps.cosine("embedding", "qe"), 4).as("cos_r"))
      .orderBy(desc("cos_r"), asc("vec_id"))
      .limit(10)
  }

  /** LSH bucket histogram (6 planes → up to 64 buckets). */
  def annBuckets(spark: SparkSession, dir: String): DataFrame =
    buckets(spark, dir, 6)
      .groupBy("bucket").agg(count(lit(1)).as("n_vecs"))
      .orderBy("bucket")

  /** ANN top-k: candidates restricted to the query vector's LSH bucket,
    * then exact cosine within the bucket (the IVF-style scale path). */
  def annTopK(spark: SparkSession, dir: String, queryVecId: Long = 0L, k: Int = 10): DataFrame = {
    val b = buckets(spark, dir, 6)
    val emb = Tables(spark, dir, "embeddings").select(col("vec_id"), col("embedding"))
    val bv = b.join(emb, "vec_id")
    val q = bv.filter(col("vec_id") === queryVecId)
      .select(col("bucket").as("qbucket"), col("embedding").as("qe"))
    bv.join(broadcast(q), col("bucket") === col("qbucket"))
      .select(col("vec_id"), round(VectorOps.cosine("embedding", "qe"), 4).as("cos_r"))
      .orderBy(desc("cos_r"), asc("vec_id"))
      .limit(k)
  }

  /** Range search: every corpus vector within cosine >= RangeThreshold of
    * the query vector — the radius-query dual of top-k (what a
    * near-duplicate audit or a "find everything about X" retrieval runs).
    * Same corpus-scan × broadcast-query shape as [[cosineTopK]]; the
    * threshold filter replaces the global top-k, so the result size is
    * data-dependent and the plan needs no sort at all until the final
    * (result-sized) presentation ordering. */
  val RangeThreshold = 0.2

  def rangeSearch(spark: SparkSession, dir: String): DataFrame = {
    val emb = Tables(spark, dir, "embeddings").select(col("vec_id"), col("embedding"))
    val q = emb.filter(col("vec_id") === 0).select(col("embedding").as("qe"))
    emb.crossJoin(broadcast(q))
      .filter(col("vec_id") =!= 0)
      .select(col("vec_id"), round(VectorOps.cosine("embedding", "qe"), 4).as("cos_r"))
      .filter(col("cos_r") >= RangeThreshold)
      .orderBy(desc("cos_r"), asc("vec_id"))
  }

  /** Hybrid retrieval: keyword prefilter on the documents table, then
    * cosine ranking of the survivors' embeddings against the query
    * vector — the filter-then-rank shape of every production hybrid
    * (lexical + vector) search. The keyword filter prunes BEFORE the
    * embedding join, so the expensive side of the join is |matches|,
    * not |corpus|; the embedding side joins on its key and the tiny
    * query vector broadcasts. */
  def hybridSearch(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables(spark, dir, "documents")
      .filter(col("text").contains("shuffle"))
      .select(col("doc_id"))
    val emb = Tables(spark, dir, "embeddings").select(col("vec_id"), col("embedding"))
    val q = emb.filter(col("vec_id") === 0).select(col("embedding").as("qe"))
    docs.join(emb, col("doc_id") === col("vec_id"))
      .crossJoin(broadcast(q))
      .select(col("doc_id"), round(VectorOps.cosine("embedding", "qe"), 4).as("cos_r"))
      .orderBy(desc("cos_r"), asc("doc_id"))
      .limit(10)
  }

  /** RRF fusion constants: list depth, the standard k=60 damping, and
    * the fused cut — single-sourced with the oracle. */
  val RrfDepth = 20
  val RrfK = 60
  val RrfTopK = 10

  /** Hybrid retrieval by reciprocal-rank fusion (Cormack/Clarke/Büttcher
    * SIGIR'09): the lexical BM25 list and the dense cosine list, each
    * cut to [[RrfDepth]], fused by Σ 1/(k + rank) — the standard way a
    * RAG stack merges sparse and dense retrievers without score
    * calibration. Scale shape: each list is produced by its own
    * scale-safe ranking (BM25's pruned postings, the dense side's
    * corpus-scan × 1-vector broadcast + TakeOrdered) and the fusion
    * join touches only 2·depth rows — rank windows run AFTER the cut,
    * over depth-sized frames. Absent ranks contribute 0 (rank reported
    * as 0), so fusion stays a full outer join, not a silent intersect.
    * Determinism: ranks are exact ints, 1/(k+r) a single IEEE divide,
    * the two contributions added in fixed order, rounded to 1e-6. */
  def rrfFusion(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val lex = graft.text.TextAnalysis.bm25(spark, dir)
      .withColumn("lex_rank",
        row_number().over(Window.orderBy(desc("bm25"), asc("doc_id"))).cast("long"))
      .select(col("doc_id"), col("lex_rank"))
    val emb = Tables(spark, dir, "embeddings").select(col("vec_id"), col("embedding"))
    val q = emb.filter(col("vec_id") === 0).select(col("embedding").as("qe"))
    val dense = emb.crossJoin(broadcast(q))
      .select(col("vec_id").as("doc_id"),
        round(VectorOps.cosine("embedding", "qe"), 4).as("cos_r"))
      .orderBy(desc("cos_r"), asc("doc_id")).limit(RrfDepth)
      .withColumn("dense_rank",
        row_number().over(Window.orderBy(desc("cos_r"), asc("doc_id"))).cast("long"))
      .select(col("doc_id"), col("dense_rank"))
    lex.join(dense, Seq("doc_id"), "full_outer")
      .select(col("doc_id"),
        coalesce(col("lex_rank"), lit(0L)).as("lex_rank"),
        coalesce(col("dense_rank"), lit(0L)).as("dense_rank"),
        round(
          coalesce(lit(1.0) / (lit(RrfK) + col("lex_rank")), lit(0.0)) +
            coalesce(lit(1.0) / (lit(RrfK) + col("dense_rank")), lit(0.0)),
          6).as("rrf"))
      .orderBy(desc("rrf"), asc("doc_id"))
      .limit(RrfTopK)
  }

  /** Out-degree of the neighbor graph. */
  val KnnGraphK = 3

  /** All-vectors kNN GRAPH build — every vector's top-[[KnnGraphK]]
    * cosine neighbors, the seed structure graph-based ANN (NN-descent,
    * HNSW layers) and SemDeDup-style cluster pruning start from. Where
    * [[knnBatch]] answers a query SET against the corpus, this builds
    * the corpus×corpus graph — and the brute-force spelling would be
    * the n² product no cluster survives, so candidates come from the
    * IVF coarse quantizer instead: one equi-join of the corpus with
    * itself ON THE CELL ID ([[cellAssignments]], shared with the whole
    * IVF family), cost Σ|cell|², with the cell count retrained to track
    * corpus size in a real deployment (the fixture's label-seeded 10
    * cells are the family's standing posture). Ranking is the bounded-
    * heap TopKPerGroup, never a window sort over all candidates. */
  def knnGraph(spark: SparkSession, dir: String): DataFrame = {
    knnGraphEdges(spark, dir).orderBy("src", "rn")
  }

  /** The graph's edge set (src, dst, cos_r, rn), unordered — shared by
    * the registered graph query, the NN-descent refinement round, and
    * the recall eval. */
  private def knnGraphEdges(spark: SparkSession, dir: String): DataFrame = {
    val corpus = Tables(spark, dir, "embeddings")
      .select(col("vec_id"), col("embedding"))
      .join(cellAssignments(spark, dir), Seq("vec_id"))
    val pairs = corpus
      .select(col("vec_id").as("src"), col("embedding").as("se"), col("cell"))
      .join(corpus.select(col("vec_id").as("dst"),
        col("embedding").as("de"), col("cell")), Seq("cell"))
      .filter(col("src") =!= col("dst"))
      .select(col("src"), col("dst"),
        round(VectorOps.cosine("se", "de"), 4).as("cos_r"))
    graft.plans.TopK.perGroup(pairs, Seq("src"),
      Seq(("cos_r", false), ("dst", true)), KnnGraphK)
  }

  /** IVF index-health report — the diagnostic that justifies (or
    * schedules) retraining: per cell, its member count, corpus share,
    * and skew factor n·|cells|/N (1.0 = perfectly balanced; a hot cell
    * dominates probe latency because every query probing it scans its
    * whole posting list, and a starved cell wastes a centroid). One
    * grouped count over the assignment table plus two 1-row windows
    * over the |cells|-sized frame — the shape of every index-stats
    * endpoint. Shares [[cellAssignments]] with the whole IVF family. */
  def ivfStats(spark: SparkSession, dir: String): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window.partitionBy()
    cellAssignments(spark, dir)
      .groupBy("cell").agg(count(lit(1)).as("n_vecs"))
      .withColumn("n_total", sum("n_vecs").over(w))
      .withColumn("n_cells", count(lit(1)).over(w))
      .select(col("cell"), col("n_vecs"),
        round(expr("cast(n_vecs * 100 as double) / n_total"), 4).as("share_pct"),
        round(expr("cast(n_vecs * n_cells as double) / n_total"), 4).as("skew"))
      .orderBy("cell")
  }

  /** Metadata predicate of the filtered search: label ≡ 0 (mod 3). */
  val FilterLabelMod = 3

  /** FILTERED vector search — top-k restricted to vectors satisfying a
    * metadata predicate (the label filter), the shape every production
    * vector store must serve ("nearest docs in THIS language/tenant").
    * This is PRE-filtering: the predicate lands on the corpus scan
    * (pushed to parquet) BEFORE scoring, so every query returns a full
    * k from the eligible set. Same broadcast-query brute-force core as
    * [[knnBatch]]; at scale the predicate rides the IVF/PQ candidate
    * stream identically. */
  def filteredKnn(spark: SparkSession, dir: String): DataFrame = {
    val emb = Tables(spark, dir, "embeddings")
      .select(col("vec_id"), col("embedding"), col("label"))
    val q = emb.filter(col("vec_id") < 8)
      .select(col("vec_id").as("qid"), col("embedding").as("qe"))
    val eligible = emb.filter(pmod(col("label"), lit(FilterLabelMod)) === 0)
    val scored = eligible.crossJoin(broadcast(q))
      .filter(col("vec_id") =!= col("qid"))
      .select(col("qid"), col("vec_id"),
        round(VectorOps.cosine("embedding", "qe"), 4).as("cos_r"))
    graft.plans.TopK.perGroup(scored, Seq("qid"),
      Seq(("cos_r", false), ("vec_id", true)), 3)
      .orderBy("qid", "rn")
  }

  /** The pre-vs-post filtering pitfall, quantified per query: POST-
    * filtering (rank the unfiltered corpus, then apply the predicate to
    * the top-k — what a naive ANN integration does) keeps only the
    * eligible survivors of the unfiltered top-k and returns FEWER than
    * k whenever ineligible vectors crowd the head, while pre-filtering
    * ([[filteredKnn]]) always fills k from the eligible set. Report:
    * per query, both counts and the deficit — the number that justifies
    * filter-aware index traversal. */
  def prePostFilter(spark: SparkSession, dir: String): DataFrame = {
    val emb = Tables(spark, dir, "embeddings")
      .select(col("vec_id"), col("embedding"), col("label"))
    val q = emb.filter(col("vec_id") < 8)
      .select(col("vec_id").as("qid"), col("embedding").as("qe"))
    val scoredAll = emb.crossJoin(broadcast(q))
      .filter(col("vec_id") =!= col("qid"))
      .select(col("qid"), col("vec_id"), col("label"),
        round(VectorOps.cosine("embedding", "qe"), 4).as("cos_r"))
    val post = graft.plans.TopK.perGroup(scoredAll, Seq("qid"),
        Seq(("cos_r", false), ("vec_id", true)), 3)
      .filter(pmod(col("label"), lit(FilterLabelMod)) === 0)
      .groupBy("qid").agg(count(lit(1)).as("n_post"))
    // pre-filter ranking derived from the SAME scored frame (the oracle's
    // shape too): filtering scoredAll before ranking is score-identical
    // to filteredKnn, without a second corpus scan
    val pre = graft.plans.TopK.perGroup(
        scoredAll.filter(pmod(col("label"), lit(FilterLabelMod)) === 0)
          .select("qid", "vec_id", "cos_r"),
        Seq("qid"), Seq(("cos_r", false), ("vec_id", true)), 3)
      .groupBy("qid").agg(count(lit(1)).as("n_pre"))
    pre.join(post, Seq("qid"), "left_outer")
      .select(col("qid"), col("n_pre"),
        coalesce(col("n_post"), lit(0L)).as("n_post"),
        (col("n_pre") - coalesce(col("n_post"), lit(0L))).as("deficit"))
      .orderBy("qid")
  }

  /** NN-descent improvement rounds run on the loop. */
  val DescentRounds = 2

  /** NN-descent (Dong et al. 2011) — the graph-ANN construction loop:
    * start from a DETERMINISTIC pseudo-random k-edge seed graph
    * (dst = (src·31 + j·607) mod n — NN-descent's random init made
    * engine-reproducible; a gappy id space just shrinks seed degree via
    * the corpus semi-join), then [[DescentRounds]] rounds of "a neighbor
    * of my neighbor is probably my neighbor": candidates = current edges
    * ∪ reverse edges ∪ the 2-hop expansion (one self equi-join of the
    * k-degree edge list on the middle vertex — ≤ n·(2k)² rows,
    * graph-sized, NEVER corpus²), rescored exactly and re-ranked through
    * the bounded heap. Candidates always contain the current edges, so
    * each probe's truth-recall is provably non-decreasing round over
    * round (any displaced truth edge is displaced by a better-ranked
    * truth edge) — measured 0.017 → 0.05 → 0.12 across the two rounds
    * at sf0.01, strict improvement pinned against exact ground truth in
    * KnnGraphSpec. Descent's random seeds reach CROSS-CELL neighbors
    * the cell-seeded [[knnGraph]]'s 2-hop closure structurally cannot
    * (within-cell edges compose to within-cell paths) — the two
    * generators are complementary, and production systems seed descent
    * with both. Per-round state is the n·k edge list, localCheckpoint'd
    * — the k-means/PageRank loop posture; the one driver-side scalar is
    * the corpus count seeding the modulus. */
  def knnDescent(spark: SparkSession, dir: String): DataFrame = {
    descentRanked(spark, dir, DescentRounds).orderBy("src", "rn")
  }

  /** [[knnDescent]]'s loop with the round count exposed — rounds = 0 is
    * the ranked random seed graph; KnnGraphSpec measures recall at
    * 0, 1, 2 rounds to pin the monotone improvement. */
  private[similarity] def descentRanked(
      spark: SparkSession, dir: String, rounds: Int): DataFrame = {
    val emb = Tables(spark, dir, "embeddings")
      .select(col("vec_id"), col("embedding"))
    val n = emb.count() // 1-row scalar probe (documented loop posture)
    def score(cand: DataFrame): DataFrame = cand
      .join(emb.select(col("vec_id").as("src"), col("embedding").as("se")),
        Seq("src"))
      .join(emb.select(col("vec_id").as("dst"), col("embedding").as("de")),
        Seq("dst"))
      .select(col("src"), col("dst"),
        round(VectorOps.cosine("se", "de"), 4).as("cos_r"))
    var edges = emb.select(col("vec_id").as("src"),
        explode(expr(s"transform(sequence(1, $KnnGraphK), " +
          s"j -> (vec_id * 31 + j * 607) % ${n}L)")).as("dst"))
      .filter(col("src") =!= col("dst"))
      .join(emb.select(col("vec_id").as("dst")), Seq("dst"), "left_semi")
      .select("src", "dst") // USING-join moved the key first; unionAll is positional
      .distinct()
      .localCheckpoint(true)
    def rank(scored: DataFrame): DataFrame =
      graft.plans.TopK.perGroup(scored, Seq("src"),
        Seq(("cos_r", false), ("dst", true)), KnnGraphK)
    var ranked = rank(score(edges))
    for (_ <- 1 to rounds) {
      val u = edges.unionAll(
        edges.select(col("dst").as("src"), col("src").as("dst")))
      val hop2 = u.as("a").join(u.as("b"), col("a.dst") === col("b.src"))
        .select(col("a.src").as("src"), col("b.dst").as("dst"))
        .filter(col("src") =!= col("dst"))
      val cand = u.unionAll(hop2).distinct()
      ranked = rank(score(cand))
      edges = ranked.select("src", "dst").localCheckpoint(true)
    }
    ranked
  }

  /** Probe stride of the graph-recall eval (1-in-25 vectors). */
  val GraphProbeMod = 25

  /** Recall eval of the kNN graph against EXACT ground truth — the
    * measurement that justifies (or indicts) the cell-restricted
    * candidate generator: for a 1-in-[[GraphProbeMod]] probe sample,
    * the true top-[[KnnGraphK]] neighbors over the FULL corpus
    * (broadcast-probe brute force, the family's standing eval shape),
    * each truth edge flagged caught iff the graph has it. Misses are
    * exactly the cross-cell neighbors the quantizer hides — the number
    * [[knnGraphRefined]]'s 2-hop expansion exists to recover. */
  def knnGraphRecall(spark: SparkSession, dir: String): DataFrame = {
    val emb = Tables(spark, dir, "embeddings")
      .select(col("vec_id"), col("embedding"))
    val q = emb.filter(col("vec_id") % GraphProbeMod === 0)
      .select(col("vec_id").as("qid"), col("embedding").as("qe"))
    val scored = emb.crossJoin(broadcast(q))
      .filter(col("vec_id") =!= col("qid"))
      .select(col("qid"), col("vec_id"),
        round(VectorOps.cosine("embedding", "qe"), 4).as("cos_r"))
    val truth = graft.plans.TopK.perGroup(scored, Seq("qid"),
      Seq(("cos_r", false), ("vec_id", true)), KnnGraphK)
    val g = knnGraphEdges(spark, dir).select("src", "dst")
    truth.join(g,
        truth("qid") === g("src") && truth("vec_id") === g("dst"), "left")
      .select(truth("qid").as("src"), truth("vec_id").as("dst"),
        truth("cos_r"), truth("rn").as("truth_rn"),
        when(g("src").isNotNull, 1).otherwise(0).as("caught"))
      .orderBy("src", "truth_rn")
  }

  /** Batch k-NN join: top-3 cosine neighbors for EACH of a broadcast query
    * set (vec_id < 8). The shape is the scale path for "embed the eval
    * set, find its neighbors in the corpus": corpus scan × broadcast
    * queries, then per-query top-k via the bounded-heap
    * [[graft.plans.TopKPerGroup]] operator — NOT a window row_number,
    * whose physical plan sorts each query partition's ~|corpus| scored
    * rows before discarding all but k. The operator's two-phase layout
    * (map-side partial heap before the exchange) ships at most
    * queries·k rows per input partition; with few queries and a huge
    * corpus that is the difference between a fixed-size heap and a
    * full sort of the scored frame. */
  def knnBatch(spark: SparkSession, dir: String): DataFrame = {
    val emb = Tables(spark, dir, "embeddings").select(col("vec_id"), col("embedding"))
    val q = emb.filter(col("vec_id") < 8)
      .select(col("vec_id").as("qid"), col("embedding").as("qe"))
    val scored = emb.crossJoin(broadcast(q))
      .filter(col("vec_id") =!= col("qid"))
      .select(col("qid"), col("vec_id"),
        round(VectorOps.cosine("embedding", "qe"), 4).as("cos_r"))
    graft.plans.TopK.perGroup(scored, Seq("qid"),
      Seq(("cos_r", false), ("vec_id", true)), 3)
      .orderBy("qid", "rn")
  }

  /** IVF (inverted-file) ANN: the second canonical ANN structure next to
    * LSH. Coarse quantizer = the per-label centroids (a deterministic
    * stand-in for k-means — same plan shape); every vector is assigned to
    * its NEAREST centroid (not its own label), queries probe their cell,
    * exact cosine ranks within it. At scale this is the classic layout:
    * centroids are tiny and broadcast, assignment is one scan, candidate
    * generation is an equi-join on the cell id.
    *
    * Cross-engine determinism: cell assignment must never hinge on a
    * float comparison — double summation order differs between engines
    * and a 1-ulp drift near a cell boundary would flip the candidate set.
    * So both vectors and centroids are quantized to the exact
    * `floor(x·1024)` integer grid (the [[graft.functions.VectorOps.planeDot]]
    * pattern) and distances are BIGINT sums; ties break by smallest
    * label. The centroid VALUE is the exact-DECIMAL average (identical
    * doubles on both engines, proven by `sim_centroids`), so its
    * quantization is identical too.
    *
    * [[cellAssignments]] is the coarse quantizer on its own —
    * `(vec_id, cell)` — shared with the SemDeDup-style semantic dedup
    * (`graft.dedup.Dedup.semanticDedup`). */
  def cellAssignments(spark: SparkSession, dir: String): DataFrame =
    cellCandidates(spark, dir, 1).select(col("vec_id"), col("cell"))

  /** [[cellAssignments]] as a PUBLISHED artifact (round 16, VERDICT r15
    * #4 — the serve face must never rebuild its index): the label-seeded
    * (vec_id, cell) table resolved through the [[IndexStore]] snapshot
    * pointer, built+published once per sf dir and a pure immutable-
    * version scan ever after. The online serve path
    * ([[graft.streaming.StreamingOps.streamAnnServe]]) loads its serving
    * state through this, so a serve restart pays a pointer resolve, not
    * a quantizer recomputation — the content is byte-identical to the
    * inline recompute (deterministic exact-integer assignment), which is
    * why the batch IVF oracle keeps gating the stream's rankings
    * unchanged. nonPublishing-compatible like every ensure-backed
    * artifact. */
  def cellsServed(spark: SparkSession, dir: String): DataFrame =
    IndexStore.ensure(spark, dir, "ivf_cells")(cellAssignments(spark, dir))

  /** The n nearest centroid cells per vector, rank-tagged — `n = 1` is
    * the storage assignment, `n > 1` is the multi-probe query set. */
  def cellCandidates(spark: SparkSession, dir: String, n: Int): DataFrame = {
    val emb = Tables(spark, dir, "embeddings")
      .select(col("vec_id"), col("embedding"), col("label"))
    // quantized centroid components per (label, dim)
    val cent = emb.select(col("label").as("c_label"), posexplode(col("embedding")))
      .groupBy(col("c_label"), col("pos").as("dim"))
      .agg(floor((sum(col("col").cast("string").cast("decimal(38,30)")).cast("double") /
        count(lit(1))) * 1024).cast("long").as("cq"))
    // quantized vector components
    val vdim = emb.select(col("vec_id"), posexplode(col("embedding")))
      .select(col("vec_id"), col("pos").as("dim"),
        floor(col("col").cast("double") * 1024).cast("long").as("xq"))
    // exact integer distance to every centroid, then the n nearest with
    // label tiebreak — n = 1 is the codegen min(struct) argmin
    // (argminLabel), n > 1 a bounded BottomK collect + local posexplode;
    // both partial-aggregate map-side, so the per-vector exchange carries
    // ≤ n rows instead of all |centroids| rows + a sort (r17, guide §2.3)
    val dists = vdim.join(broadcast(cent), Seq("dim"))
      .groupBy("vec_id", "c_label")
      .agg(sum((col("xq") - col("cq")) * (col("xq") - col("cq"))).as("dist"))
    if (n == 1)
      argminLabel(dists, Seq("vec_id"), "dist")
        .select(col("vec_id"), col("c_label").as("cell"), lit(1).as("rk"))
    else {
      // the aggregate is BIGINT-only; c_label may be INT — cast into the
      // tuple and back out so the output schema is exactly the window
      // spelling's
      val labelType = dists.schema("c_label").dataType
      val ds = org.apache.spark.sql.GraftBridge.column(
        graft.functions.BottomKLongTuples(
          Seq(col("dist").cast("long"), col("c_label").cast("long"))
            .map(org.apache.spark.sql.GraftBridge.expression), n)
          .toAggregateExpression())
      dists.groupBy("vec_id").agg(ds.as("ds"))
        .select(col("vec_id"), posexplode(col("ds")))
        .select(col("vec_id"), col("col.c1").cast(labelType).as("cell"),
          (col("pos") + 1).as("rk"))
    }
  }

  /** INCREMENTAL INDEX APPEND (round 16) — the production answer to
    * "new vectors arrived; do we retrain?": the coarse quantizer is
    * FROZEN from the base corpus (vec_id % 4 ≠ 3 — the build), and the
    * appended quarter is assigned against those SAME centroids with the
    * established exact-integer argmin — one broadcast-centroid scan, no
    * re-clustering, which is how a 100 TB vector store absorbs a daily
    * append (retraining is a scheduled compaction, not an ingest cost).
    * Registered result: the per-cell census split into base vs appended
    * members, so the gate covers both that the quantizer did not move
    * (base counts) and where the new data landed (append counts). */
  def ivfAppend(spark: SparkSession, dir: String): DataFrame = {
    val emb = Tables(spark, dir, "embeddings")
      .select(col("vec_id"), col("embedding"))
    ivfAssignAgainst(ivfBaseCentroids(spark, dir), emb)
      .groupBy("cell")
      .agg(sum(when(col("vec_id") % 4 =!= 3, 1L).otherwise(0L)).as("n_base"),
        sum(when(col("vec_id") % 4 === 3, 1L).otherwise(0L)).as("n_new"))
      .orderBy("cell")
  }

  /** The FROZEN quantizer of [[ivfAppend]]'s split: exact-DECIMAL label
    * means of the BASE corpus (vec_id % 4 ≠ 3) on the proven
    * floor(·1024) grid — (c_label, dim, cq). Shared with the streaming
    * append ([[graft.streaming.StreamingOps.streamIvfAppend]]). */
  private[graft] def ivfBaseCentroids(spark: SparkSession, dir: String): DataFrame =
    Tables(spark, dir, "embeddings")
      .select(col("vec_id"), col("embedding"), col("label"))
      .filter(col("vec_id") % 4 =!= 3)
      .select(col("label").as("c_label"), posexplode(col("embedding")))
      .groupBy(col("c_label"), col("pos").as("dim"))
      .agg(floor((sum(col("col").cast("string").cast("decimal(38,30)")).cast("double") /
        count(lit(1))) * 1024).cast("long").as("cq"))

  /** Exact-integer nearest-centroid assignment of `vecs` (vec_id,
    * embedding, ...) against a broadcast centroid table — (vec_id,
    * cell). The one scan an append pays. */
  private[graft] def ivfAssignAgainst(cent: DataFrame, vecs: DataFrame): DataFrame = {
    val vdim = vecs.select(col("vec_id"), posexplode(col("embedding")))
      .select(col("vec_id"), col("pos").as("dim"),
        floor(col("col").cast("double") * 1024).cast("long").as("xq"))
    val dists = vdim.join(broadcast(cent), Seq("dim"))
      .groupBy("vec_id", "c_label")
      .agg(sum((col("xq") - col("cq")) * (col("xq") - col("cq"))).as("dist"))
    argminLabel(dists, Seq("vec_id"), "dist")
      .select(col("vec_id"), col("c_label").as("cell"))
  }

  def ivfTopK(spark: SparkSession, dir: String, k: Int = 3): DataFrame =
    ivfTopKWith(spark, dir, cellAssignments(spark, dir), k)

  /** IVF retrieval against an arbitrary (vec_id, cell) assignment —
    * the k/cell/ranking machinery shared by the label-seeded index
    * ([[ivfTopK]]) and the trained one ([[ivfTrainedTopK]]). */
  private def ivfTopKWith(spark: SparkSession, dir: String,
      assign: DataFrame, k: Int): DataFrame = {
    val emb = Tables(spark, dir, "embeddings")
      .select(col("vec_id"), col("embedding"), col("label"))
    val corpus = emb.join(assign, Seq("vec_id"))
    val q = corpus.filter(col("vec_id") < 4)
      .select(col("vec_id").as("qid"), col("embedding").as("qe"), col("cell").as("qcell"))
    val scored = corpus.join(broadcast(q), col("cell") === col("qcell"))
      .filter(col("vec_id") =!= col("qid"))
      .select(col("qid"), col("vec_id"),
        round(VectorOps.cosine("embedding", "qe"), 4).as("cos_r"))
    graft.plans.TopK.perGroup(scored, Seq("qid"),
      Seq(("cos_r", false), ("vec_id", true)), k)
      .orderBy("qid", "rn")
  }

  /** The production IVF composition the convergence loop exists FOR:
    * cell assignment against the CONVERGED `sim_kmeans_run` centroids
    * instead of the label-seeded round-0 table, then the identical
    * retrieval machinery ([[ivfTopKWith]] — shared, so index quality is
    * the ONLY degree of freedom between `sim_ivf_topk` and this query).
    * Assignment is the same exact-integer argmin on the floor(·1024)
    * grid, centroids broadcast; the trained index costs the driver loop
    * once at build time and nothing at query time. */
  def ivfTrainedTopK(spark: SparkSession, dir: String): DataFrame =
    ivfTopKWith(spark, dir, ivfTrainedAssign(spark, dir), k = 3)

  /** The trained index TABLE — (vec_id, cell) assignments against the
    * converged `sim_kmeans_run` centroids. This is what a deployment
    * persists: [[ivfTrainedTopK]] computes it inline (train-and-query),
    * [[ivfServedTopK]] reads it back from the parquet artifact. */
  private[similarity] def ivfTrainedAssign(spark: SparkSession, dir: String): DataFrame = {
    val cent = kmeansTrajectory(spark, dir)._1
      .select(col("c_label"), col("dim"), col("cq"))
    val vdim = Tables(spark, dir, "embeddings")
      .select(col("vec_id"), posexplode(col("embedding")))
      .select(col("vec_id"), col("pos").as("dim"),
        floor(col("col").cast("double") * 1024).cast("long").as("xq"))
    val dists = vdim.join(broadcast(cent), Seq("dim"))
      .groupBy("vec_id", "c_label")
      .agg(sum((col("xq") - col("cq")) * (col("xq") - col("cq"))).as("dist"))
    argminLabel(dists, Seq("vec_id"), "dist")
      .select(col("vec_id"), col("c_label").as("cell"))
  }

  /** One Lloyd (k-means) refinement iteration — the training step of the
    * IVF coarse quantizer the ANN family currently seeds from labels:
    * assignment reuses [[cellAssignments]]'s exact-integer nearest-
    * centroid argmin (broadcast centroids, one scan, no float-boundary
    * flips), and the update recomputes each cell's centroid as the
    * exact-DECIMAL mean of its members' components ([[centroidComponents]]'s
    * determinism contract). Emitted per (cell, dim): member count and the
    * refined component — the centroid table the NEXT iteration would
    * broadcast; a full k-means run is a driver loop over exactly this
    * plan. At scale: centroids tiny+broadcast, assignment linear,
    * update one (cell, dim)-key aggregate — the canonical distributed
    * k-means round. Cells that lose every member simply vanish (standard
    * empty-cluster drop).
    *
    * The refined component is emitted on the same `floor(mean·1024)`
    * integer grid the assignment step consumes (the cent table of
    * [[cellCandidates]]) — that IS the next round's broadcast input, and
    * it is the codebase's proven cross-engine form: a raw mean double
    * can drift 1 ulp at a decimal→double boundary between engines
    * (observed at sf0.01), while the established quantized spelling
    * hash-matches everywhere it is used. */
  def kmeansIter(spark: SparkSession, dir: String): DataFrame = {
    val vd = Tables(spark, dir, "embeddings")
      .select(col("vec_id"), posexplode(col("embedding")))
      .select(col("vec_id"), col("pos").as("dim"),
        col("col").cast("string").cast("decimal(38,30)").as("v"))
    cellAssignments(spark, dir).join(vd, Seq("vec_id"))
      .groupBy("cell", "dim")
      .agg(count(lit(1)).as("n_members"),
        floor((sum("v").cast("double") / count(lit(1))) * 1024)
          .cast("long").as("cq"))
      .orderBy("cell", "dim")
  }

  /** K-means convergence metric — the driver loop's stop condition:
    * exact-integer squared L2 shift between the label-seeded round-0
    * centroids (the grid [[cellAssignments]] broadcasts) and the
    * Lloyd-round output ([[kmeansIter]]'s cq), summed per surviving
    * cell. Both operands live on the same floor(·1024) grid, so the
    * shift is a BIGINT sum of squared grid deltas — bit-deterministic,
    * zero iff the round moved nothing, and the single number a driver
    * loop compares against its tolerance to decide another round.
    * Cells that lose every member vanish with the iteration output
    * (standard empty-cluster drop). */
  def centroidShift(spark: SparkSession, dir: String): DataFrame = {
    val init = Tables(spark, dir, "embeddings")
      .select(col("label").as("cell"), posexplode(col("embedding")))
      .groupBy(col("cell"), col("pos").as("dim"))
      .agg(floor((sum(col("col").cast("string").cast("decimal(38,30)")).cast("double") /
        count(lit(1))) * 1024).cast("long").as("cq0"))
    val next = kmeansIter(spark, dir)
      .select(col("cell"), col("dim"), col("cq").as("cq1"))
    init.join(next, Seq("cell", "dim"))
      .groupBy("cell")
      .agg(sum((col("cq1") - col("cq0")) * (col("cq1") - col("cq0"))).as("shift_sq"),
        count(lit(1)).as("n_dims"))
      .orderBy("cell")
  }

  /** Lloyd rounds the full k-means run executes — the fixed iteration
    * budget of the driver loop, single-sourced with the unrolled oracle
    * CTE chain. */
  val KmeansRunRounds = 3

  /** The REAL driver loop over [[kmeansIter]] with [[centroidShift]] as
    * its stop condition — the full k-means training run the two
    * primitives were built for. Per round: assignment is the exact-
    * integer nearest-centroid argmin against the BROADCAST current
    * centroids (one corpus scan), the update is one (cell, dim)-keyed
    * exact-DECIMAL mean, and a driver-side probe (a centroid-sized
    * aggregate — data rows never transit the driver) exits early iff the
    * quantized centroid table is EXACTLY unchanged. The early exit is
    * output-neutral: identical centroids reproduce identical assignments
    * and so identical next centroids, making every later round an
    * identity — the unrolled [[KmeansRunRounds]]-round oracle matches
    * whether or not the loop cut out early. Component tables (quantized
    * and exact-decimal vector components) are materialized ONCE before
    * the loop; each round's centroid table is `localCheckpoint`ed (the
    * `dedup_components` discipline). At 100 TB: loop state is one
    * centroid table (cells × dims rows — broadcastable by construction),
    * per-round cost is one scan + one aggregate; that is textbook
    * distributed Lloyd. KmeansRunSpec pins Lloyd's DESCENT invariant
    * (the quantized clustering objective non-increasing every round) on
    * this loop — exact fixed point is beyond the fixed budget on the
    * fine 1024-grid, so the invariant, not the terminal state, is the
    * honest convergence evidence. */
  private[similarity] def kmeansTrajectory(spark: SparkSession, dir: String,
      maxRounds: Int = KmeansRunRounds): (DataFrame, Seq[Long]) = {
    val emb = Tables(spark, dir, "embeddings")
      .select(col("vec_id"), col("embedding"), col("label"))
    // one materialization carrying both the quantized (assignment) and
    // exact-DECIMAL (update) component views — was two checkpoints over
    // two explodes of the same corpus (r17 optimization)
    val comps = emb.select(col("vec_id"), posexplode(col("embedding")))
      .select(col("vec_id"), col("pos").as("dim"),
        floor(col("col").cast("double") * 1024).cast("long").as("xq"),
        col("col").cast("string").cast("decimal(38,30)").as("v"))
      .localCheckpoint(true)
    val vdim = comps.select(col("vec_id"), col("dim"), col("xq"))
    val vd = comps.select(col("vec_id"), col("dim"), col("v"))
    // round-0 centroids: the label-seeded exact-DECIMAL means on the
    // floor(·1024) grid — exactly the table cellAssignments broadcasts
    var cent = emb.select(col("label").as("c_label"), posexplode(col("embedding")))
      .groupBy(col("c_label"), col("pos").as("dim"))
      .agg(floor((sum(col("col").cast("string").cast("decimal(38,30)")).cast("double") /
        count(lit(1))) * 1024).cast("long").as("cq"))
      .localCheckpoint(true)
    var out = cent.select(col("c_label"), col("dim"),
      lit(-1L).as("n_members"), col("cq")) // overwritten by round 1
    val movedPerRound = scala.collection.mutable.ArrayBuffer.empty[Long]
    var rounds = 0
    var converged = false
    while (rounds < maxRounds && !converged) {
      val dists = vdim.join(broadcast(cent), Seq("dim"))
        .groupBy("vec_id", "c_label")
        .agg(sum((col("xq") - col("cq")) * (col("xq") - col("cq"))).as("dist"))
      val assign = argminLabel(dists, Seq("vec_id"), "dist")
        .select(col("vec_id"), col("c_label").as("cell"))
      // moved = (cell, dim) grid entries whose quantized component
      // changed, a vanished or newborn cell counting as movement (the
      // full-outer null-safe compare). The compare is folded into the
      // checkpoint pipeline and read off as an OBSERVED metric (r18,
      // guide §1.2 step 1): one action per round instead of checkpoint +
      // a separate join-and-count probe job. Cent-only rows (vanished
      // cells, n_members null after the full join) are counted by the
      // metric and then filtered out, so the checkpointed frame is
      // row-identical to the old aggregate output.
      val obs = org.apache.spark.sql.Observation()
      val next = assign.join(vd, Seq("vec_id"))
        .groupBy(col("cell").as("c_label"), col("dim"))
        .agg(count(lit(1)).as("n_members"),
          floor((sum("v").cast("double") / count(lit(1))) * 1024)
            .cast("long").as("cq"))
        .join(cent.select(col("c_label"), col("dim"), col("cq").as("cq0")),
          Seq("c_label", "dim"), "full")
        .observe(obs, sum(when(!(col("cq") <=> col("cq0")), 1L)
          .otherwise(0L)).as("moved"))
        .filter(col("n_members").isNotNull)
        .select(col("c_label"), col("dim"), col("n_members"), col("cq"))
        .localCheckpoint(true)
      val moved = Option(obs.get("moved"))
        .map(_.asInstanceOf[Long]).getOrElse(0L)
      movedPerRound += moved
      converged = moved == 0L
      out = next
      cent = next.select(col("c_label"), col("dim"), col("cq"))
      rounds += 1
    }
    (out, movedPerRound.toSeq)
  }

  /** Converged-run output: the final centroid table (same schema as
    * [[kmeansIter]] — the one-round primitive is literally round 1 of
    * this run). */
  def kmeansRun(spark: SparkSession, dir: String): DataFrame =
    kmeansTrajectory(spark, dir)._1
      .select(col("c_label").as("cell"), col("dim"), col("n_members"), col("cq"))
      .orderBy("cell", "dim")

  /** Power-iteration grid: embeddings and the emitted next vector both
    * live on a 2^10 integer grid (the codebase's kmeans convention). */
  val PowerScale = 1024L

  /** One PCA power-iteration step over the (uncentered) embedding
    * second-moment matrix: with v0 = all-ones, computes
    * `acc = Σ_x x·(x·v0)` — i.e. one multiply of X'X against v0 without
    * ever materializing the d×d matrix — entirely in exact BIGINT on
    * quantized components (`floor(e·1024)`; float→double and ×2^10 are
    * both exact, so the quantization itself is engine-identical). The
    * emitted `v_next` renormalizes `acc` onto the ±[[PowerScale]] grid
    * via sign-split magnitude division (Spark `div` truncates toward
    * zero, DuckDB `//` floors — they agree only on non-negatives, so the
    * division runs on |acc| with the sign re-applied): output IS the
    * next round's input, the same one-training-iteration shape as
    * `sim_kmeans_iter` / `text_bpe_pairs` / `rel_pagerank_iter`. Cost:
    * one per-vector dot (map-side), one (dim)-keyed aggregate of
    * |corpus|·d rows, one 1-row broadcast for the renorm — at 100 TB
    * the d-sized accumulator is the only state that crosses the wire. */
  def pcaPowerIter(spark: SparkSession, dir: String): DataFrame = {
    val xq = Tables(spark, dir, "embeddings")
      .select(col("vec_id"), posexplode(col("embedding")))
      .select(col("vec_id"), col("pos").as("dim"),
        floor(col("col").cast("double") * PowerScale).cast("long").as("q"))
    val dots = xq.groupBy("vec_id").agg(sum("q").as("dv"))
    val acc = xq.join(dots, Seq("vec_id"))
      .groupBy("dim")
      .agg(sum(col("q") * col("dv")).as("acc"))
    val gmax = acc.agg(max(abs(col("acc"))).as("gmax"))
    acc.crossJoin(broadcast(gmax))
      .select(col("dim"), col("acc"),
        (when(col("acc") < 0, -1L).otherwise(1L) *
          expr(s"(abs(acc) * $PowerScale) div gmax")).as("v_next"))
      .orderBy("dim")
  }

  /** Power-iteration rounds the PCA RUN executes — the fixed budget of
    * the driver loop, single-sourced with the unrolled oracle chain. */
  val PcaRunRounds = 4

  /** The REAL power-iteration run over [[pcaPowerIter]]'s one-step plan
    * — the last of the repo's four one-training-iteration primitives
    * (kmeans, PageRank, BPE, PCA) given its driver loop. v₀ is the
    * all-ones vector (so round 1 IS the registered single-step, exactly
    * — spec-pinned); each round joins the quantized component stream
    * against the BROADCAST d-row vector, folds per-vector dots, then the
    * (dim)-keyed accumulator, and renormalizes onto the ±[[PowerScale]]
    * grid by the same sign-split magnitude division. The loop stops
    * early when the grid vector is an exact fixed point of the round map
    * (null-safe full-outer compare, like the k-means stop) — sound
    * against the unrolled fixed-round oracle because a fixed point
    * reproduces itself through every remaining oracle round. Per-round
    * cost at 100 TB: one broadcast hash join on `dim` + two linear
    * aggregates; only the d-sized vector ever crosses a round boundary
    * (`localCheckpoint` truncates lineage, the dedup_components
    * discipline). */
  private[similarity] def pcaTrajectory(spark: SparkSession, dir: String,
      maxRounds: Int = PcaRunRounds): (DataFrame, Int) = {
    val xq = Tables(spark, dir, "embeddings")
      .select(col("vec_id"), posexplode(col("embedding")))
      .select(col("vec_id"), col("pos").as("dim"),
        floor(col("col").cast("double") * PowerScale).cast("long").as("q"))
      .localCheckpoint(true)
    var v = xq.select(col("dim")).distinct()
      .select(col("dim"), lit(1L).as("v"))
      .localCheckpoint(true)
    var rounds = 0
    var converged = false
    while (rounds < maxRounds && !converged) {
      val dots = xq.join(broadcast(v), Seq("dim"))
        .groupBy("vec_id").agg(sum(col("q") * col("v")).as("dv"))
      val acc = xq.join(dots, Seq("vec_id"))
        .groupBy("dim").agg(sum(col("q") * col("dv")).as("acc"))
      val gmax = acc.agg(max(abs(col("acc"))).as("gmax"))
      val vNext = acc.crossJoin(broadcast(gmax))
        .select(col("dim"),
          (when(col("acc") < 0, -1L).otherwise(1L) *
            expr(s"(abs(acc) * $PowerScale) div gmax")).as("v"))
        .localCheckpoint(true)
      val moved = vNext.select(col("dim"), col("v").as("v1"))
        .join(v.select(col("dim"), col("v").as("v0")), Seq("dim"), "full")
        .filter(!(col("v1") <=> col("v0")))
        .count()
      v = vNext
      rounds += 1
      converged = moved == 0L
    }
    (v, rounds)
  }

  def pcaRun(spark: SparkSession, dir: String): DataFrame =
    pcaTrajectory(spark, dir)._1.select(col("dim"), col("v")).orderBy("dim")

  /** Per-label centroid components: the class-centroid computation of a
    * training pipeline, emitted as (label, dim, value) rows. Sums go
    * through exact DECIMAL so the result is independent of partitioning
    * and engine (float additions would drift at 1 ulp per reorder). The
    * float is first cast through its string form: both engines print the
    * shortest round-trip decimal for a float, giving an identical DECIMAL
    * on both sides (a direct float→decimal cast is exact in Spark but
    * 9-digit-lossy in DuckDB). */
  def centroidComponents(spark: SparkSession, dir: String): DataFrame = {
    Tables(spark, dir, "embeddings")
      .select(col("label"), posexplode(col("embedding")))
      .groupBy(col("label"), col("pos").as("dim"))
      .agg((sum(col("col").cast("string").cast("decimal(38,30)")).cast("double") /
        count(lit(1))).as("avg_v"))
      .orderBy("label", "dim")
  }

  /** Multi-probe IVF: each query probes its `probes` nearest cells
    * instead of one — the standard recall fix for a coarse quantizer
    * (measured by [[recallEval]]: single-probe recall on this corpus is
    * low precisely because near neighbors straddle cell boundaries).
    * Storage is unchanged (every vector lives in its ONE nearest cell);
    * only the query side fans out, so candidate cost scales with
    * probes·|cell|, still never a corpus self-join. A corpus vector can
    * match at most one of a query's (distinct) probe cells, so no
    * dedupe step is needed. */
  /** Probe count single-sourced between the Scala default below and the
    * DuckDB oracle's `p.rk <= N` (same pattern as SemTau in Dedup):
    * changing one cannot silently desynchronize the other. */
  val MultiprobeProbes = 2

  def ivfMultiprobe(spark: SparkSession, dir: String,
      probes: Int = MultiprobeProbes, k: Int = 3): DataFrame = {
    val emb = Tables(spark, dir, "embeddings").select(col("vec_id"), col("embedding"))
    ivfMultiprobeFrom(emb.join(cellAssignments(spark, dir), Seq("vec_id")),
      cellCandidates(spark, dir, probes).filter(col("vec_id") < 4), emb, k)
  }

  /** [[ivfMultiprobe]] over explicit corpus/query-candidate frames, so a
    * sweep caller ([[probeSweep]]) can materialize the shared quantizer
    * output ONCE and point every probe level at it instead of re-deriving
    * the full centroid/assignment pipeline per level (r18 optimization,
    * guide §1.2 step 1 — the `pagerankIterFrom` pattern). Single-sourced:
    * the registered [[ivfMultiprobe]] goes through this body verbatim. */
  private def ivfMultiprobeFrom(corpus: DataFrame, qcands: DataFrame,
      emb: DataFrame, k: Int): DataFrame = {
    val q = qcands
      .join(emb, Seq("vec_id"))
      .select(col("vec_id").as("qid"), col("embedding").as("qe"), col("cell").as("qcell"))
    val scored = corpus.join(broadcast(q), col("cell") === col("qcell"))
      .filter(col("vec_id") =!= col("qid"))
      .select(col("qid"), col("vec_id"),
        round(VectorOps.cosine("embedding", "qe"), 4).as("cos_r"))
    graft.plans.TopK.perGroup(scored, Seq("qid"),
      Seq(("cos_r", false), ("vec_id", true)), k)
      .orderBy("qid", "rn")
  }

  /** ANN recall evaluation: IVF top-3 answers joined against the exact
    * brute-force top-3 for the same query set — recall@3 per query, the
    * eval loop every production ANN deployment runs before trusting the
    * index (the coarse quantizer's single-probe recall is exactly what
    * this measures). Ground truth is a corpus-scan × broadcast-queries
    * pass (run on a sample at 100 TB — the harness shape is unchanged);
    * the comparison join is per-(query, candidate), so its cost is
    * |queries|·k. */
  def recallEval(spark: SparkSession, dir: String): DataFrame =
    recallAgainstExact(spark, dir, ivfTopK(spark, dir))

  /** PQ recall@3: the same eval harness pointed at the asymmetric-
    * distance index — quantization error (codebook coarseness) is what
    * this measures, the number a deployment watches when trading the
    * 64× compression for recall. */
  def pqRecallEval(spark: SparkSession, dir: String): DataFrame =
    recallAgainstExact(spark, dir, pqTopK(spark, dir))

  /** Shared recall@3 harness: `answers(qid, vec_id, …)` vs the exact
    * brute-force top-3 for the standard query set. */
  private def recallAgainstExact(spark: SparkSession, dir: String,
      answers: DataFrame): DataFrame = {
    val (q, bf) = exactTruth(spark, dir, 4,
      (e, qe) => round(VectorOps.cosine(e, qe), 4))
    recallVsTruth(q, bf, answers)
  }

  /** Exact ground-truth top-3 under `score` for the first `nQueries`
    * vectors: the corpus-scan × broadcast-queries pass every recall eval
    * anchors on (sampled at 100 TB — the harness shape is unchanged). */
  private def exactTruth(spark: SparkSession, dir: String, nQueries: Int,
      score: (String, String) => org.apache.spark.sql.Column): (DataFrame, DataFrame) = {
    val emb = Tables(spark, dir, "embeddings").select(col("vec_id"), col("embedding"))
    val q = emb.filter(col("vec_id") < nQueries)
      .select(col("vec_id").as("qid"), col("embedding").as("qe"))
    val scored = emb.crossJoin(broadcast(q))
      .filter(col("vec_id") =!= col("qid"))
      .select(col("qid"), col("vec_id"), score("embedding", "qe").as("s"))
    val bf = graft.plans.TopK.perGroup(scored, Seq("qid"),
      Seq(("s", false), ("vec_id", true)), 3)
    (q, bf)
  }

  /** answers(qid, vec_id, …) scored against truth(qid, vec_id), anchored
    * on the QUERY set, not the index answers: a query whose index cell
    * yields no candidates must report recall 0, not vanish — the worst
    * case is exactly what the eval exists to surface. */
  private def recallVsTruth(q: DataFrame, truth: DataFrame,
      answers: DataFrame): DataFrame = {
    val hits = answers.select(col("qid"), col("vec_id"))
      .join(truth.select(col("qid"), col("vec_id"), lit(1).as("hit")),
        Seq("qid", "vec_id"), "left")
      .groupBy("qid")
      .agg(sum(coalesce(col("hit"), lit(0))).cast("long").as("h"))
    q.select(col("qid")).join(hits, Seq("qid"), "left")
      .select(col("qid"), coalesce(col("h"), lit(0L)).as("n_hits"),
        (coalesce(col("h"), lit(0L)) / lit(3.0)).as("recall_at_3"))
      .orderBy("qid")
  }

  /** Prefix length for the truncated-dimension index: the
    * Matryoshka-representation question — how much recall do the first
    * [[TruncDims]] of 64 dims retain? Single-sourced with the oracle's
    * `range(1, TruncDims + 1)`. */
  val TruncDims = 8

  /** Top-3 by cosine over the first [[TruncDims]] dims only — the
    * dimension-truncated index (MRL-style): score cost drops 8×, storage
    * for the scoring pass drops 8×, and [[truncRecallEval]] prices the
    * recall that buys. Same corpus-scan × broadcast-queries shape as the
    * exact baseline; the truncation is a `slice` at scan time, so the
    * full vectors never reach the join. Per-query ranking goes through
    * the bounded-heap [[graft.plans.TopKPerGroup]] operator (like
    * [[knnBatch]]), not a window row_number whose plan would sort each
    * qid partition's ~|corpus| scored rows before discarding all but
    * k. */
  def truncTopK(spark: SparkSession, dir: String, k: Int = 3): DataFrame = {
    val emb = Tables(spark, dir, "embeddings")
      .select(col("vec_id"), slice(col("embedding"), 1, TruncDims).as("te"))
    val q = emb.filter(col("vec_id") < 4)
      .select(col("vec_id").as("qid"), col("te").as("qe"))
    val scored = emb.crossJoin(broadcast(q))
      .filter(col("vec_id") =!= col("qid"))
      .select(col("qid"), col("vec_id"),
        round(VectorOps.cosine("te", "qe"), 4).as("cos_r"))
    graft.plans.TopK.perGroup(scored, Seq("qid"),
      Seq(("cos_r", false), ("vec_id", true)), k)
      .orderBy("qid", "rn")
  }

  /** Truncation depths the dimension sweep prices. */
  val DimSweepDs = Seq(4, 8, 16)

  /** Truncation-depth decision table — the Matryoshka sibling of
    * [[probeSweep]]: recall@3 at each candidate prefix length, each
    * depth running the registered [[truncTopK]] machinery (same slice,
    * same bounded-heap ranking) against the ONE shared exact ground
    * truth. The table a deployment reads before fixing [[TruncDims]]:
    * scoring cost scales linearly with the prefix, recall is what that
    * buys. */
  def dimSweep(spark: SparkSession, dir: String): DataFrame = {
    val emb = Tables(spark, dir, "embeddings").select(col("vec_id"), col("embedding"))
    val (q, truth) = exactTruth(spark, dir, 4,
      (e, qe) => round(VectorOps.cosine(e, qe), 4))
    val frames = DimSweepDs.map { d =>
      val te = emb.select(col("vec_id"), slice(col("embedding"), 1, d).as("te"))
      val tq = te.filter(col("vec_id") < 4)
        .select(col("vec_id").as("qid"), col("te").as("qe"))
      val scored = te.crossJoin(broadcast(tq))
        .filter(col("vec_id") =!= col("qid"))
        .select(col("qid"), col("vec_id"),
          round(VectorOps.cosine("te", "qe"), 4).as("cos_r"))
      val answers = graft.plans.TopK.perGroup(scored, Seq("qid"),
        Seq(("cos_r", false), ("vec_id", true)), 3)
      recallVsTruth(q, truth, answers)
        .agg(sum("n_hits").as("hits"))
        .select(lit(d).as("dims"),
          round(col("hits") / lit(12.0), 6).as("mean_recall_at_3"))
    }
    frames.reduce(_ unionByName _).orderBy("dims")
  }

  /** Candidate count the cheap stage hands the expensive stage. */
  val RerankCandidates = 10

  /** Two-stage retrieval (retrieve-then-rerank) — the production ANN
    * architecture: stage 1 scores the corpus with the cheap
    * [[TruncDims]]-dim cosine and keeps [[RerankCandidates]] per query;
    * stage 2 re-scores ONLY those candidates with the exact full-dim
    * cosine and emits the top-3. The expensive metric touches
    * |queries|·candidates rows, never the corpus — at 100 TB the full
    * vectors load for a few dozen ids per query. Dominance over the
    * truncated-only index is structural (both pick from the same
    * candidate set; rerank orders it by the true score) and
    * spec-asserted against exact ground truth. */
  def rerankTopK(spark: SparkSession, dir: String, k: Int = 3): DataFrame = {
    val emb = Tables(spark, dir, "embeddings").select(col("vec_id"), col("embedding"))
    val cand = truncTopK(spark, dir, RerankCandidates)
      .select(col("qid"), col("vec_id"))
    val q = emb.filter(col("vec_id") < 4)
      .select(col("vec_id").as("qid"), col("embedding").as("qe"))
    val rescored = cand.join(emb, Seq("vec_id"))
      .join(broadcast(q), Seq("qid"))
      .select(col("qid"), col("vec_id"),
        round(VectorOps.cosine("embedding", "qe"), 4).as("cos_r"))
    graft.plans.TopK.perGroup(rescored, Seq("qid"),
      Seq(("cos_r", false), ("vec_id", true)), k)
      .orderBy("qid", "rn")
  }

  /** Rerank recall@3 — what the exact second stage recovers of the
    * recall the truncated first stage loses (the number that justifies
    * the two-stage architecture). */
  def rerankRecallEval(spark: SparkSession, dir: String): DataFrame =
    recallAgainstExact(spark, dir, rerankTopK(spark, dir))

  /** Truncation recall@3: the [[TruncDims]]-dim answers against the exact
    * full-dim cosine truth — what the first 8 of 64 dims preserve. The
    * third recall column next to PQ (codebook error) and SQ (int8
    * error): here the "quantization" is dimension dropping. */
  def truncRecallEval(spark: SparkSession, dir: String): DataFrame =
    recallAgainstExact(spark, dir, truncTopK(spark, dir))

  /** SQ recall@3 — against exact MAX-INNER-PRODUCT ground truth (the
    * metric [[sqTopK]] ranks in), not the cosine truth the normalized
    * indexes use: mixing the two would "measure" the metric gap, not the
    * int8 quantization error this eval exists to watch. */
  def sqRecallEval(spark: SparkSession, dir: String): DataFrame = {
    val (q, bf) = exactTruth(spark, dir, SqQueries,
      (e, qe) => round(VectorOps.dot(e, qe), 4))
    recallVsTruth(q, bf, sqTopK(spark, dir))
  }

  /** Subspace count for product quantization, single-sourced between the
    * Scala default and the oracle (must divide the embedding dim). */
  val PqSubspaces = 4

  /** Product-quantization ANN (IVF-PQ's compression half): each corpus
    * vector is encoded as `m` small codes — the nearest per-label
    * sub-centroid in each of `m` dim-range subspaces — and queries rank
    * candidates by ASYMMETRIC distance: the query stays uncompressed,
    * its exact integer distance to every codeword is a tiny per-query
    * lookup table (m × |codebook| entries), and a candidate's score is
    * just m LUT additions over its codes. The scale story: the corpus is
    * encoded ONCE (m codes ≈ m bytes vs 4·d bytes raw — 64× smaller at
    * d=64, m=4), rankings never touch the raw corpus vectors, and the
    * LUT join broadcasts; at 100 TB this is the memory-resident index
    * layout that brute-force cosine cannot be (Jégou et al., "Product
    * Quantization for Nearest Neighbor Search", TPAMI 2011).
    *
    * Cross-engine determinism: the same floor(x·1024) integer grid and
    * BIGINT sums as the IVF family (see [[cellCandidates]]) — codeword
    * assignment and ADC scores are exact integers on both engines, ties
    * break by smallest label / vec_id. */
  /** Exact integer sub-distance of every vector to every codeword in
    * every subspace — the corpus rows feed [[pqCodes]] encoding; a
    * query's rows ARE its asymmetric-distance lookup table. */
  private[similarity] def pqSubDists(spark: SparkSession, dir: String, m: Int): DataFrame = {
    val emb = Tables(spark, dir, "embeddings")
      .select(col("vec_id"), col("embedding"), col("label"))
    // quantized components, tagged with their subspace (dim-range block)
    val vdim = emb.select(col("vec_id"),
        (size(col("embedding")) / m).cast("long").as("sl"),
        posexplode(col("embedding")))
      .select(col("vec_id"),
        floor(col("pos") / col("sl")).cast("long").as("sub"),
        col("pos").cast("long").as("dim"),
        floor(col("col").cast("double") * 1024).cast("long").as("xq"))
    // codebook: quantized per-label centroid components (shared spec
    // with the IVF coarse quantizer); tiny — broadcast everywhere
    val cent = emb.select(col("label").as("c_label"), posexplode(col("embedding")))
      .groupBy(col("c_label"), col("pos").cast("long").as("dim"))
      .agg(floor((sum(col("col").cast("string").cast("decimal(38,30)")).cast("double") /
        count(lit(1))) * 1024).cast("long").as("cq"))
    vdim.join(broadcast(cent), Seq("dim"))
      .groupBy("vec_id", "sub", "c_label")
      .agg(sum((col("xq") - col("cq")) * (col("xq") - col("cq"))).as("sdist"))
  }

  /** The compressed index: `(vec_id, sub, code)` — each vector's nearest
    * codeword per subspace. m codes ≈ m bytes per vector; this is the
    * table a deployment materializes once and stores in place of the
    * raw embeddings for ranking. */
  def pqCodes(spark: SparkSession, dir: String, m: Int = PqSubspaces): DataFrame = {
    argminLabel(pqSubDists(spark, dir, m), Seq("vec_id", "sub"), "sdist")
      .select(col("vec_id"), col("sub"), col("c_label").as("code"))
  }

  def pqTopK(spark: SparkSession, dir: String,
      m: Int = PqSubspaces, k: Int = 3): DataFrame = {
    val subDists = pqSubDists(spark, dir, m)
    val codes = pqCodes(spark, dir, m)
      .select(col("vec_id"), col("sub").as("c_sub"), col("code"))
    val lut = subDists.filter(col("vec_id") < 4)
      .select(col("vec_id").as("qid"), col("sub").as("q_sub"),
        col("c_label").as("q_code"), col("sdist"))
    val adc = codes.join(broadcast(lut),
        col("c_sub") === col("q_sub") && col("code") === col("q_code"))
      .filter(col("vec_id") =!= col("qid"))
      .groupBy("qid", "vec_id")
      .agg(sum(col("sdist")).as("adist"))
    graft.plans.TopK.perGroup(adc, Seq("qid"),
      Seq(("adist", true), ("vec_id", true)), k)
      .orderBy("qid", "rn")
  }

  /** Trained product quantization: the [[kmeansTrajectory]] Lloyd loop
    * run on every subspace AT ONCE — (sub, c_label) is the centroid key,
    * (vec_id, sub) the assignment key, so all m per-subspace k-means
    * trainings ride ONE driver loop and one shuffle per round instead of
    * m sequential jobs (the batched-training layout a 100 TB codebook
    * build wants). Same discipline as the full-vector run: exact-DECIMAL
    * means floor-quantized to the ·1024 grid, per-round localCheckpoint,
    * stop on zero moved grid entries or [[KmeansRunRounds]]. */
  private[similarity] def pqTrainedCodebooks(spark: SparkSession, dir: String,
      m: Int = PqSubspaces, maxRounds: Int = KmeansRunRounds): DataFrame = {
    val base = Tables(spark, dir, "embeddings")
      .select(col("vec_id"), col("label"),
        (size(col("embedding")) / m).cast("long").as("sl"),
        posexplode(col("embedding")))
    // ONE materialization of the exploded component stream carrying both
    // the quantized (assignment) and exact-DECIMAL (update) views — the
    // previous two separate localCheckpoints scanned and exploded the
    // corpus twice to store two near-identical frames (r17 optimization,
    // guide §1.2 step 1: don't compute things twice)
    val comps = base.select(col("vec_id"),
        floor(col("pos") / col("sl")).cast("long").as("sub"),
        col("pos").cast("long").as("dim"),
        floor(col("col").cast("double") * 1024).cast("long").as("xq"),
        col("col").cast("string").cast("decimal(38,30)").as("v"))
      .localCheckpoint(true)
    val vdim = comps.select(col("vec_id"), col("sub"), col("dim"), col("xq"))
    val vd = comps.select(col("vec_id"), col("sub"), col("dim"), col("v"))
    var cent = base.groupBy(col("label").as("c_label"),
        floor(col("pos") / col("sl")).cast("long").as("sub"),
        col("pos").cast("long").as("dim"))
      .agg(floor((sum(col("col").cast("string").cast("decimal(38,30)")).cast("double") /
        count(lit(1))) * 1024).cast("long").as("cq"))
      .localCheckpoint(true)
    var rounds = 0
    var converged = false
    while (rounds < maxRounds && !converged) {
      val dists = vdim.join(broadcast(cent), Seq("sub", "dim"))
        .groupBy("vec_id", "sub", "c_label")
        .agg(sum((col("xq") - col("cq")) * (col("xq") - col("cq"))).as("dist"))
      val assign = argminLabel(dists, Seq("vec_id", "sub"), "dist")
        .select(col("vec_id"), col("sub"), col("c_label").as("cell"))
      // moved-probe folded into the checkpoint as an observed metric —
      // same one-action-per-round discipline as kmeansTrajectory (r18);
      // `_p` marks next-side rows so vanished codewords are counted by
      // the metric but never enter the checkpointed codebook
      val obs = org.apache.spark.sql.Observation()
      val next = assign.join(vd, Seq("vec_id", "sub"))
        .groupBy(col("cell").as("c_label"), col("sub"), col("dim"))
        .agg(floor((sum("v").cast("double") / count(lit(1))) * 1024)
          .cast("long").as("cq"))
        .withColumn("_p", lit(1))
        .join(cent.select(col("c_label"), col("sub"), col("dim"), col("cq").as("cq0")),
          Seq("c_label", "sub", "dim"), "full")
        .observe(obs, sum(when(!(col("cq") <=> col("cq0")), 1L)
          .otherwise(0L)).as("moved"))
        .filter(col("_p").isNotNull)
        .select(col("c_label"), col("sub"), col("dim"), col("cq"))
        .localCheckpoint(true)
      val moved = Option(obs.get("moved"))
        .map(_.asInstanceOf[Long]).getOrElse(0L)
      converged = moved == 0L
      cent = next
      rounds += 1
    }
    cent
  }

  /** PQ retrieval through the TRAINED sub-codebooks — the composition
    * the batched per-subspace training exists for, and the trained
    * sibling of `sim_pq_topk` exactly as `sim_ivf_trained` is of
    * `sim_ivf_topk`: encode = per-(vector, subspace) argmin against the
    * converged codewords, queries rank candidates by the same
    * asymmetric-distance LUT sum, ranking through the bounded heap.
    * Index quality is the ONLY degree of freedom vs the label-seeded
    * query — the encode/LUT/ADC machinery is identical. */
  def pqTrainedTopK(spark: SparkSession, dir: String,
      m: Int = PqSubspaces, k: Int = 3): DataFrame = {
    val cent = pqTrainedCodebooks(spark, dir, m)
    val subDists = pqSubDists(pqVdim(spark, dir, m), cent)
    val codes = pqEncode(subDists)
    val lut = subDists.filter(col("vec_id") < 4)
      .select(col("vec_id").as("qid"), col("sub").as("q_sub"),
        col("c_label").as("q_code"), col("sdist"))
    pqAdcTopK(codes, lut, k)
  }

  /** Quantized per-(vector, subspace, dim) component stream — the encode
    * input shared by the trained (inline) and served (persisted-index)
    * PQ queries. */
  private def pqVdim(spark: SparkSession, dir: String, m: Int): DataFrame =
    Tables(spark, dir, "embeddings")
      .select(col("vec_id"), (size(col("embedding")) / m).cast("long").as("sl"),
        posexplode(col("embedding")))
      .select(col("vec_id"),
        floor(col("pos") / col("sl")).cast("long").as("sub"),
        col("pos").cast("long").as("dim"),
        floor(col("col").cast("double") * 1024).cast("long").as("xq"))

  /** Per-(vector, subspace, codeword) squared distance against an
    * arbitrary codebook — codebook broadcast, one component scan. */
  private def pqSubDists(vdim: DataFrame, cent: DataFrame): DataFrame =
    vdim.join(broadcast(cent), Seq("sub", "dim"))
      .groupBy("vec_id", "sub", "c_label")
      .agg(sum((col("xq") - col("cq")) * (col("xq") - col("cq"))).as("sdist"))

  /** PQ encode: per-(vector, subspace) nearest codeword. */
  private def pqEncode(subDists: DataFrame): DataFrame = {
    argminLabel(subDists, Seq("vec_id", "sub"), "sdist")
      .select(col("vec_id"), col("sub").as("c_sub"), col("c_label").as("code"))
  }

  /** ADC ranking: LUT-sum per (query, candidate), bounded-heap top-k. */
  private[similarity] def pqAdcTopK(codes: DataFrame, lut: DataFrame, k: Int): DataFrame = {
    val adc = codes.join(broadcast(lut),
        col("c_sub") === col("q_sub") && col("code") === col("q_code"))
      .filter(col("vec_id") =!= col("qid"))
      .groupBy("qid", "vec_id")
      .agg(sum(col("sdist")).as("adist"))
    graft.plans.TopK.perGroup(adc, Seq("qid"),
      Seq(("adist", true), ("vec_id", true)), k)
      .orderBy("qid", "rn")
  }

  /** IVF retrieval against the PERSISTED trained index — the serve half
    * of the build/serve split ([[IndexStore]]): the (vec_id, cell)
    * assignment table is read from the parquet artifact (built once per
    * sf dir by [[ivfTrainedAssign]]) and the query only pays the
    * candidate scan + ranking. Output is row-for-row [[ivfTrainedTopK]]
    * (pinned in SimilaritySpec) — index content is identical, only WHERE
    * it comes from differs. The oracle reads the SAME artifact via
    * read_parquet, so the cross-engine gate covers the persisted bytes,
    * not a retrain. */
  def ivfServedTopK(spark: SparkSession, dir: String): DataFrame = {
    val assign = IndexStore.ensure(spark, dir, "ivf_assign")(
      ivfTrainedAssign(spark, dir))
    ivfTopKWith(spark, dir, assign, k = 3)
  }

  /** Forgotten-key predicate of [[ivfForget]]: vec_id ≡ 7 (mod 10) — a
    * deterministic tenth of the corpus, disjoint from the query set
    * (vec_id < 4), shared verbatim with the oracle. */
  val ForgetVecModulus = 10L
  val ForgetVecRemainder = 7L

  /** GDPR delete PROPAGATED INTO the served ANN artifact (round 17,
    * VERDICT r16 #4 — the inverse of `sim_ivf_append`): `src_forget_*`
    * reclaims table rows and old versions, but a published index version
    * would keep SERVING deleted users' vectors. This query anti-joins
    * the forgotten keys out of the published `ivf_assign` index and
    * publishes the scrubbed assignment as a NEW index version through
    * the same SnapshotPointer protocol; retrieval then runs purely over
    * the surviving index. Cost is one scan of the assignment table
    * against a broadcast key set — O(cells containing the keys) rows
    * ever rewritten, the quantizer untouched (no retrain). The oracle
    * re-derives retrieval from the PERSISTED scrubbed artifact, so a
    * surviving forgotten vector in the index bytes (or a lost innocent
    * one) breaks the hash; IvfForgetSpec pins the version lifecycle
    * (old version serves until the pointer swap; GC unlinks it after
    * grace). */
  def ivfForget(spark: SparkSession, dir: String): DataFrame = {
    val scrubbed = IndexStore.ensure(spark, dir, "ivf_assign_forget") {
      val base = IndexStore.ensure(spark, dir, "ivf_assign")(
        ivfTrainedAssign(spark, dir))
      val forgotten = Tables(spark, dir, "embeddings")
        .select(col("vec_id"))
        .filter(col("vec_id") % ForgetVecModulus === ForgetVecRemainder)
      base.join(broadcast(forgotten), Seq("vec_id"), "left_anti")
    }
    ivfTopKWith(spark, dir, scrubbed, k = 3)
  }

  /** PQ retrieval against the PERSISTED codebooks + codes — the serve
    * half for PQ: the corpus is never re-encoded at query time (codes are
    * part of the index artifact); only the 4 query vectors are scored
    * against the broadcast codebook to build the ADC LUT, then the
    * LUT-join ranks the stored codes. Row-for-row [[pqTrainedTopK]]
    * (pinned in SimilaritySpec). */
  def pqServedTopK(spark: SparkSession, dir: String,
      m: Int = PqSubspaces, k: Int = 3): DataFrame = {
    val cent = IndexStore.ensure(spark, dir, "pq_codebooks")(
      pqTrainedCodebooks(spark, dir, m))
    val codes = IndexStore.ensure(spark, dir, "pq_codes")(
      pqEncode(pqSubDists(pqVdim(spark, dir, m), cent)))
    val lut = pqSubDists(pqVdim(spark, dir, m).filter(col("vec_id") < 4), cent)
      .select(col("vec_id").as("qid"), col("sub").as("q_sub"),
        col("c_label").as("q_code"), col("sdist"))
    pqAdcTopK(codes, lut, k)
  }

  /** Trained-PQ recall@3: the eval harness pointed at the trained
    * codebooks — together with `sim_pq_recall` this prices exactly what
    * the per-subspace training bought (same harness, same truth; the
    * codebook is the only degree of freedom). */
  def pqTrainedRecallEval(spark: SparkSession, dir: String): DataFrame =
    recallAgainstExact(spark, dir, pqTrainedTopK(spark, dir))

  /** Probe counts the sweep prices, single-sourced with the oracle. */
  val ProbeSweepNs = Seq(1, 2, 3)

  /** nprobe tuning sweep — the decision table an IVF deployment reads
    * before fixing its probe count (the ANN sibling of
    * `dedup_banding_sweep`): for each candidate probe count, the
    * candidate volume the query side would scan and the recall@3 it
    * buys against the exact ground truth. Cost is |sweep| linear probes
    * of the SAME registered index machinery ([[cellCandidates]] /
    * [[ivfMultiprobe]] — shared, so the sweep prices exactly what the
    * registered query runs), never an all-pairs pass; the ground-truth
    * pass is computed once and reused across the sweep. */
  def probeSweep(spark: SparkSession, dir: String): DataFrame = {
    val emb = Tables(spark, dir, "embeddings").select(col("vec_id"), col("embedding"))
    // r18 optimization (guide §1.2 step 1): ONE quantizer materialization
    // serves every probe level. cellCandidates at max(Ns) is checkpointed
    // once; level p's candidate set is exactly its `rk <= p` prefix (the
    // bottom-k aggregate is a deterministic lexicographic (dist, label)
    // order, so the k=p table IS the k=max prefix), and the assignment
    // (rk = 1) + corpus join and the exact ground truth are shared too.
    // The old spelling re-derived the full centroid pipeline ~10× (3
    // probe levels × (assignment + query candidates + multiprobe) + the
    // sweep's own corpus + truth — 84 FileScans in the before-plan).
    val cands = cellCandidates(spark, dir, ProbeSweepNs.max).localCheckpoint(true)
    val corpus = emb
      .join(cands.filter(col("rk") === 1).select(col("vec_id"), col("cell")),
        Seq("vec_id"))
      .localCheckpoint(true)
    val (q, truthRaw) = exactTruth(spark, dir, 4,
      (e, qe) => round(VectorOps.cosine(e, qe), 4))
    val truth = truthRaw.localCheckpoint(true)
    val frames = ProbeSweepNs.map { p =>
      val pcands = cands.filter(col("rk") <= p && col("vec_id") < 4)
      val qcells = pcands
        .select(col("vec_id").as("qid"), col("cell").as("qcell"))
      val nCand = corpus.join(broadcast(qcells), col("cell") === col("qcell"))
        .filter(col("vec_id") =!= col("qid"))
        .agg(count(lit(1)).as("n_candidates"))
      val hits = recallVsTruth(q, truth,
          ivfMultiprobeFrom(corpus, pcands, emb, k = 3))
        .agg(sum("n_hits").as("hits"))
      nCand.crossJoin(broadcast(hits))
        .select(lit(p).as("probes"), col("n_candidates"),
          round(col("hits") / lit(12.0), 6).as("mean_recall_at_3"))
    }
    frames.reduce(_ unionByName _).orderBy("probes")
  }

  /** Query-set size and level count for the scalar quantizer, single-
    * sourced between the Scala plan and the oracle. */
  val SqQueries = 4
  val SqLevels = 255

  /** Per-component (vec_id, dim, x) frame + per-dim (min, max) stats —
    * the two inputs every scalar-quantization step shares. */
  private def sqDims(spark: SparkSession, dir: String): (DataFrame, DataFrame) = {
    val dims = Tables(spark, dir, "embeddings")
      .select(col("vec_id"), posexplode(col("embedding")))
      .select(col("vec_id"), col("pos").cast("long").as("dim"),
        col("col").cast("double").as("x"))
    (dims, dims.groupBy("dim").agg(min("x").as("mn"), max("x").as("mx")))
  }

  /** The int8 code per component: x affinely mapped to 0..[[SqLevels]]
    * by its dimension's global (min, max). */
  private def sqCode = when(col("mx") > col("mn"),
    floor((col("x") - col("mn")) / (col("mx") - col("mn")) * SqLevels)
      .cast("long")).otherwise(0L)

  /** int8 scalar quantization: each dimension is affinely mapped to
    * 0..[[SqLevels]] by its global (min, max) — the simplest compressed
    * index (4× smaller than float32) and the usual first rung below PQ.
    * Unlike the PQ/IVF grids there is NO libm call anywhere: min/max are
    * exact selections, and the map is one IEEE subtract/divide/multiply/
    * floor per component, bit-identical across engines by construction.
    * Two passes over the corpus: a dim-sized stats aggregate (broadcast
    * back), then the encode — at 100 TB the stats frame is |dims| rows. */
  def sqQuantized(spark: SparkSession, dir: String): DataFrame = {
    val (dims, stats) = sqDims(spark, dir)
    dims.join(broadcast(stats), Seq("dim"))
      .select(col("vec_id"), col("dim"), sqCode.as("xq"))
  }

  /** SQ ANN top-k — MAXIMUM-INNER-PRODUCT search (MIPS): deliberately
    * unnormalized ranking (the retrieval mode recommender systems use;
    * the cosine family above is the normalized alternative). Scoring
    * uses integer RECONSTRUCTIONS, not raw codes: a code alone drops the
    * per-dim offset mn_d, which varies by dimension, so code·code is NOT
    * monotone in the true dot product (the classic SQ-for-MIPS trap —
    * caught by this operator's recall spec). Instead each component
    * dequantizes to `vq = floor(mn·1024)·255 + floor((mx−mn)·1024)·xq`
    * (the value in 1/(1024·255) units — a stored SQ index is exactly
    * this: int8 codes + per-dim scale/offset constants), and vq·vq sums
    * are exact BIGINTs: order-independent, engine-identical, no libm.
    * Corpus scanned once in encoded form, the [[SqQueries]]-vector query
    * block broadcast, per-query top-k through the bounded-heap
    * TopKPerGroup operator (same rationale as [[knnBatch]]). */
  def sqTopK(spark: SparkSession, dir: String, k: Int = 3): DataFrame = {
    val (dims, stats) = sqDims(spark, dir)
    val rec = dims.join(broadcast(stats), Seq("dim"))
      .select(col("vec_id"), col("dim"),
        (floor(col("mn") * 1024).cast("long") * SqLevels +
          floor((col("mx") - col("mn")) * 1024).cast("long") * sqCode).as("vq"))
    val q = rec.filter(col("vec_id") < SqQueries)
      .select(col("vec_id").as("qid"), col("dim").as("qdim"), col("vq").as("qvq"))
    val dot = rec.join(broadcast(q), col("dim") === col("qdim"))
      .filter(col("vec_id") =!= col("qid"))
      .groupBy("qid", "vec_id")
      .agg(sum(col("vq") * col("qvq")).as("dot"))
    graft.plans.TopK.perGroup(dot, Seq("qid"),
      Seq(("dot", false), ("vec_id", true)), k)
      .orderBy("qid", "rn")
  }

  /** IVF-PQ: the production ANN composition — the IVF coarse quantizer
    * bounds WHERE to look (each query probes its [[MultiprobeProbes]]
    * nearest cells; candidates are the vectors STORED in those cells),
    * and PQ bounds WHAT each candidate costs (m LUT additions over its
    * codes — asymmetric distance, raw corpus vectors never touched).
    * This is the layout a billion-vector deployment actually runs
    * (Jégou et al. 2011, §IV): candidate count ≈ probes·|cell| instead
    * of |corpus|, candidate cost ≈ m adds instead of d multiplies, and
    * both index tables (assignments, codes) are materializable-once.
    * All-BIGINT scoring, top-k via the bounded-heap operator. With
    * probes ≥ |cells| the candidate set is the whole corpus and the
    * ranking degenerates to [[pqTopK]] exactly (spec-pinned — ties the
    * composition to its two verified halves). */
  def ivfPqTopK(spark: SparkSession, dir: String,
      probes: Int = MultiprobeProbes, m: Int = PqSubspaces, k: Int = 3): DataFrame = {
    val assign = cellAssignments(spark, dir)
    val codes = pqCodes(spark, dir, m)
      .select(col("vec_id"), col("sub").as("c_sub"), col("code"))
    val lut = pqSubDists(spark, dir, m).filter(col("vec_id") < 4)
      .select(col("vec_id").as("l_qid"), col("sub").as("q_sub"),
        col("c_label").as("q_code"), col("sdist"))
    val qprobe = cellCandidates(spark, dir, probes).filter(col("vec_id") < 4)
      .select(col("vec_id").as("qid"), col("cell").as("qcell"))
    // a vector is stored in exactly ONE cell and a query's probe cells
    // are distinct, so the candidate join cannot duplicate a pair
    val cand = assign.join(broadcast(qprobe), col("cell") === col("qcell"))
      .filter(col("vec_id") =!= col("qid"))
      .select(col("qid"), col("vec_id"))
    val adc = cand.join(codes, Seq("vec_id"))
      .join(broadcast(lut),
        col("qid") === col("l_qid") && col("c_sub") === col("q_sub") &&
          col("code") === col("q_code"))
      .groupBy("qid", "vec_id")
      .agg(sum(col("sdist")).as("adist"))
    graft.plans.TopK.perGroup(adc, Seq("qid"),
      Seq(("adist", true), ("vec_id", true)), k)
      .orderBy("qid", "rn")
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "sim_ivf_pq" -> ((s: SparkSession, d: String) => ivfPqTopK(s, d)),
    "sim_sq_topk" -> ((s: SparkSession, d: String) => sqTopK(s, d)),
    "sim_sq_recall" -> (sqRecallEval _),
    "sim_pq_topk" -> ((s: SparkSession, d: String) => pqTopK(s, d)),
    "sim_pq_recall" -> (pqRecallEval _),
    "sim_cosine_topk" -> (cosineTopK _),
    "sim_ann_buckets" -> (annBuckets _),
    "sim_ann_topk" -> ((s: SparkSession, d: String) => annTopK(s, d)),
    "sim_knn_batch" -> (knnBatch _),
    "sim_filtered_knn" -> (filteredKnn _),
    "sim_ivf_stats" -> (ivfStats _),
    "sim_prepost_filter" -> (prePostFilter _),
    "sim_knn_graph" -> (knnGraph _),
    "sim_knn_descent" -> (knnDescent _),
    "sim_knn_graph_recall" -> (knnGraphRecall _),
    "sim_range_search" -> (rangeSearch _),
    "sim_hybrid_search" -> (hybridSearch _),
    "sim_ivf_topk" -> ((s: SparkSession, d: String) => ivfTopK(s, d)),
    "sim_ivf_trained" -> (ivfTrainedTopK _),
    "sim_ivf_append" -> (ivfAppend _),
    "sim_ivf_multiprobe" -> ((s: SparkSession, d: String) => ivfMultiprobe(s, d)),
    "sim_recall_eval" -> (recallEval _),
    "sim_trunc_topk" -> ((s: SparkSession, d: String) => truncTopK(s, d)),
    "sim_rerank" -> ((s: SparkSession, d: String) => rerankTopK(s, d)),
    "sim_rerank_recall" -> (rerankRecallEval _),
    "sim_trunc_recall" -> (truncRecallEval _),
    "sim_kmeans_iter" -> (kmeansIter _),
    "sim_kmeans_run" -> (kmeansRun _),
    "sim_centroid_shift" -> (centroidShift _),
    "sim_pca_power" -> (pcaPowerIter _),
    "sim_pca_run" -> (pcaRun _),
    "sim_rrf_fusion" -> (rrfFusion _),
    "sim_pq_trained" -> ((s: SparkSession, d: String) => pqTrainedTopK(s, d)),
    "sim_ivf_served" -> (ivfServedTopK _),
    "sim_ivf_forget" -> (ivfForget _),
    "sim_pq_served" -> ((s: SparkSession, d: String) => pqServedTopK(s, d)),
    "sim_probe_sweep" -> (probeSweep _),
    "sim_pq_trained_recall" -> (pqTrainedRecallEval _),
    "sim_dim_sweep" -> (dimSweep _),
    "sim_centroids" -> (centroidComponents _))

  /** DuckDB spelling of the quantized centroid-distance table as a CTE
    * prefix ending in `dists(vec_id, c_label, dist)`. */
  private[graft] val cellDistSql: String =
    """WITH cent AS (
      |  SELECT label AS c_label, CAST(i - 1 AS BIGINT) AS dim,
      |    CAST(floor((CAST(sum(CAST(CAST(embedding[i] AS VARCHAR) AS DECIMAL(38,30))) AS DOUBLE) / count(*)) * 1024) AS BIGINT) AS cq
      |  FROM embeddings, UNNEST(range(1, len(embedding) + 1)) t(i)
      |  GROUP BY label, i),
      |vdim AS (
      |  SELECT vec_id, CAST(i - 1 AS BIGINT) AS dim,
      |    CAST(floor(CAST(embedding[i] AS DOUBLE) * 1024) AS BIGINT) AS xq
      |  FROM embeddings, UNNEST(range(1, len(embedding) + 1)) t(i)),
      |dists AS (
      |  SELECT vec_id, c_label, CAST(sum((xq - cq) * (xq - cq)) AS BIGINT) AS dist
      |  FROM vdim JOIN cent USING (dim) GROUP BY vec_id, c_label)""".stripMargin

  /** The nprobe-sweep oracle: shared dists/assign/corpus/probe/truth
    * CTEs, then one (candidates, recall) block per probe count in
    * [[ProbeSweepNs]] — generated from the same constant the Spark
    * sweep iterates, UNION ALL'd. */
  private[graft] def probeSweepSql: String = {
    val blocks = ProbeSweepNs.map { p =>
      s"""qc$p AS (
         |  SELECT pr.vec_id AS qid, pr.cell, qs.qe
         |  FROM probe pr JOIN qs ON pr.vec_id = qs.qid WHERE pr.rk <= $p),
         |cand$p AS (
         |  SELECT qc.qid, c.vec_id, c.embedding, qc.qe
         |  FROM corpus c JOIN qc$p qc ON c.cell = qc.cell AND c.vec_id <> qc.qid),
         |nc$p AS (SELECT CAST(count(*) AS BIGINT) AS n_candidates FROM cand$p),
         |s$p AS (
         |  SELECT qid, vec_id,
         |    sum(CAST(embedding[i] AS DOUBLE) * CAST(qe[i] AS DOUBLE)) AS dot,
         |    sum(CAST(embedding[i] AS DOUBLE) * CAST(embedding[i] AS DOUBLE)) AS n2a,
         |    sum(CAST(qe[i] AS DOUBLE) * CAST(qe[i] AS DOUBLE)) AS n2b
         |  FROM cand$p, UNNEST(range(1, len(embedding) + 1)) t(i)
         |  GROUP BY qid, vec_id),
         |a$p AS (
         |  SELECT qid, vec_id FROM (
         |    SELECT qid, vec_id,
         |      row_number() OVER (PARTITION BY qid
         |                         ORDER BY round(dot / (sqrt(n2a) * sqrt(n2b)), 4) DESC,
         |                                  vec_id ASC) AS rn
         |    FROM s$p) WHERE rn <= 3),
         |h$p AS (
         |  SELECT CAST(sum(CASE WHEN b.vec_id IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS hits
         |  FROM a$p i LEFT JOIN bf b ON i.qid = b.qid AND i.vec_id = b.vec_id)""".stripMargin
    }.mkString(",\n")
    val rows = ProbeSweepNs.map { p =>
      s"""SELECT $p AS probes, n_candidates,
         |  round(hits / CAST(12.0 AS DOUBLE), 6) AS mean_recall_at_3
         |FROM nc$p, h$p""".stripMargin
    }.mkString("\nUNION ALL\n")
    s"""$cellDistSql,
       |mind AS (SELECT vec_id, min(dist) AS md FROM dists GROUP BY vec_id),
       |assign AS (
       |  SELECT d.vec_id, min(d.c_label) AS cell
       |  FROM dists d JOIN mind m ON d.vec_id = m.vec_id AND d.dist = m.md
       |  GROUP BY d.vec_id),
       |corpus AS (
       |  SELECT e.vec_id, e.embedding, a.cell
       |  FROM embeddings e JOIN assign a USING (vec_id)),
       |probe AS (
       |  SELECT vec_id, c_label AS cell,
       |    row_number() OVER (PARTITION BY vec_id ORDER BY dist ASC, c_label ASC) AS rk
       |  FROM dists),
       |qs AS (SELECT vec_id AS qid, embedding AS qe FROM embeddings WHERE vec_id < 4),
       |bs AS (
       |  SELECT qs.qid, e.vec_id,
       |    sum(CAST(e.embedding[i] AS DOUBLE) * CAST(qs.qe[i] AS DOUBLE)) AS dot,
       |    sum(CAST(e.embedding[i] AS DOUBLE) * CAST(e.embedding[i] AS DOUBLE)) AS n2a,
       |    sum(CAST(qs.qe[i] AS DOUBLE) * CAST(qs.qe[i] AS DOUBLE)) AS n2b
       |  FROM embeddings e, qs, UNNEST(range(1, len(e.embedding) + 1)) t(i)
       |  WHERE e.vec_id <> qs.qid
       |  GROUP BY qs.qid, e.vec_id),
       |bf AS (
       |  SELECT qid, vec_id FROM (
       |    SELECT qid, vec_id,
       |      row_number() OVER (PARTITION BY qid
       |                         ORDER BY round(dot / (sqrt(n2a) * sqrt(n2b)), 4) DESC,
       |                                  vec_id ASC) AS rn
       |    FROM bs) WHERE rn <= 3),
       |$blocks
       |$rows
       |ORDER BY probes""".stripMargin
  }

  /** DuckDB spelling of the Lloyd-round refined centroids as a CTE
    * prefix ending in `knext(cell, dim, n_members, cq)` — single-sourced
    * between the sim_kmeans_iter and sim_centroid_shift oracles (the
    * `cent` table of the embedded [[cellAssignSql]] doubles as the
    * round-0 side of the shift). */
  private[graft] def kmeansNextCtes: String =
    s"""$cellAssignSql,
       |vd AS (
       |  SELECT vec_id, CAST(i - 1 AS INTEGER) AS dim,
       |    CAST(CAST(embedding[i] AS VARCHAR) AS DECIMAL(38,30)) AS v
       |  FROM embeddings, UNNEST(range(1, len(embedding) + 1)) t(i)),
       |knext AS (
       |  SELECT a.cell, vd.dim, count(*) AS n_members,
       |    CAST(floor((CAST(sum(vd.v) AS DOUBLE) / count(*)) * 1024) AS BIGINT) AS cq
       |  FROM assign a JOIN vd USING (vec_id)
       |  GROUP BY a.cell, vd.dim)""".stripMargin

  /** DuckDB spelling of [[cellAssignments]] as a CTE prefix ending in
    * `assign(vec_id, cell)` — shared with `graft.dedup.Dedup`'s
    * `dedup_semantic` oracle. */
  private[graft] val cellAssignSql: String =
    s"""$cellDistSql,
      |mind AS (SELECT vec_id, min(dist) AS md FROM dists GROUP BY vec_id),
      |assign AS (
      |  SELECT d.vec_id, min(d.c_label) AS cell
      |  FROM dists d JOIN mind m ON d.vec_id = m.vec_id AND d.dist = m.md
      |  GROUP BY d.vec_id)""".stripMargin

  /** One unrolled Lloyd round of the k-means-run oracle: distances to
    * the previous round's centroids, argmin assignment (min-label
    * tiebreak), exact-DECIMAL mean update on the floor(·1024) grid —
    * the [[kmeansNextCtes]] spelling iterated. */
  private def kmeansRoundCtes(i: Int): String =
    s"""d$i AS (
       |  SELECT v.vec_id, c.c_label, CAST(sum((v.xq - c.cq) * (v.xq - c.cq)) AS BIGINT) AS dist
       |  FROM kvdim v JOIN cent${i - 1} c USING (dim) GROUP BY v.vec_id, c.c_label),
       |m$i AS (SELECT vec_id, min(dist) AS md FROM d$i GROUP BY vec_id),
       |a$i AS (
       |  SELECT d.vec_id, min(d.c_label) AS cell
       |  FROM d$i d JOIN m$i m ON d.vec_id = m.vec_id AND d.dist = m.md
       |  GROUP BY d.vec_id),
       |cent$i AS (
       |  SELECT a.cell AS c_label, kvd.dim, count(*) AS n_members,
       |    CAST(floor((CAST(sum(kvd.v) AS DOUBLE) / count(*)) * 1024) AS BIGINT) AS cq
       |  FROM a$i a JOIN kvd USING (vec_id)
       |  GROUP BY a.cell, kvd.dim)""".stripMargin

  /** The unrolled [[KmeansRunRounds]]-round k-means oracle — generated
    * by mapping over the same constant the Spark driver loop iterates,
    * so kernel and oracle can never silently desync. */
  /** One unrolled power-iteration oracle round: per-vector dots against
    * the previous round's vector, the (dim)-keyed accumulator, and the
    * sign-split grid renormalization — the Spark loop body in DuckDB
    * (`//` floors like Spark's `div` on the non-negative magnitudes). */
  private def pcaRoundCtes(i: Int): String =
    s"""pdots$i AS (
       |  SELECT vec_id, CAST(sum(q * v) AS BIGINT) AS dv
       |  FROM xq JOIN pv${i - 1} USING (dim) GROUP BY vec_id),
       |pacc$i AS (
       |  SELECT dim, CAST(sum(q * dv) AS BIGINT) AS acc
       |  FROM xq JOIN pdots$i USING (vec_id) GROUP BY dim),
       |pg$i AS (SELECT max(abs(acc)) AS gmax FROM pacc$i),
       |pv$i AS (
       |  SELECT dim, CAST((CASE WHEN acc < 0 THEN -1 ELSE 1 END) *
       |    ((abs(acc) * $PowerScale) // gmax) AS BIGINT) AS v
       |  FROM pacc$i, pg$i)""".stripMargin

  private[graft] def pcaRunSql: String = {
    val rounds = (1 to PcaRunRounds).map(pcaRoundCtes).mkString(",\n")
    s"""WITH xq AS (
       |  SELECT vec_id, CAST(i - 1 AS INTEGER) AS dim,
       |    CAST(floor(CAST(embedding[i] AS DOUBLE) * $PowerScale) AS BIGINT) AS q
       |  FROM embeddings, UNNEST(range(1, len(embedding) + 1)) t(i)),
       |pv0 AS (SELECT DISTINCT dim, CAST(1 AS BIGINT) AS v FROM xq),
       |$rounds
       |SELECT dim, v FROM pv$PcaRunRounds ORDER BY dim""".stripMargin
  }

  /** The k-means RUN's full CTE chain (round-0 seed, quantized and
    * exact-DECIMAL component streams, the unrolled Lloyd rounds) —
    * shared verbatim between [[kmeansRunSql]] and the trained-IVF
    * oracle, so the trained index can never drift from the registered
    * convergence run. */
  private def kmeansChainCtes: String = {
    val rounds = (1 to KmeansRunRounds).map(kmeansRoundCtes).mkString(",\n")
    s"""cent0 AS (
       |  SELECT label AS c_label, CAST(i - 1 AS BIGINT) AS dim,
       |    CAST(floor((CAST(sum(CAST(CAST(embedding[i] AS VARCHAR) AS DECIMAL(38,30))) AS DOUBLE) / count(*)) * 1024) AS BIGINT) AS cq
       |  FROM embeddings, UNNEST(range(1, len(embedding) + 1)) t(i)
       |  GROUP BY label, i),
       |kvdim AS (
       |  SELECT vec_id, CAST(i - 1 AS BIGINT) AS dim,
       |    CAST(floor(CAST(embedding[i] AS DOUBLE) * 1024) AS BIGINT) AS xq
       |  FROM embeddings, UNNEST(range(1, len(embedding) + 1)) t(i)),
       |kvd AS (
       |  SELECT vec_id, CAST(i - 1 AS INTEGER) AS dim,
       |    CAST(CAST(embedding[i] AS VARCHAR) AS DECIMAL(38,30)) AS v
       |  FROM embeddings, UNNEST(range(1, len(embedding) + 1)) t(i)),
       |$rounds""".stripMargin
  }

  /** One unrolled per-subspace Lloyd round: the kmeansRoundCtes shape
    * with (sub) added to every key — distances join on (sub, dim),
    * assignment is per (vec_id, sub), means per (c_label, sub, dim). */
  private def pqRoundCtes(i: Int): String =
    s"""pd$i AS (
       |  SELECT v.vec_id, v.sub, c.c_label,
       |    CAST(sum((v.xq - c.cq) * (v.xq - c.cq)) AS BIGINT) AS dist
       |  FROM pqv v JOIN pc${i - 1} c USING (sub, dim)
       |  GROUP BY v.vec_id, v.sub, c.c_label),
       |pm$i AS (SELECT vec_id, sub, min(dist) AS md FROM pd$i GROUP BY vec_id, sub),
       |pa$i AS (
       |  SELECT d.vec_id, d.sub, min(d.c_label) AS cell
       |  FROM pd$i d JOIN pm$i m ON d.vec_id = m.vec_id AND d.sub = m.sub AND d.dist = m.md
       |  GROUP BY d.vec_id, d.sub),
       |pc$i AS (
       |  SELECT a.cell AS c_label, q.sub, q.dim,
       |    CAST(floor((CAST(sum(q.v) AS DOUBLE) / count(*)) * 1024) AS BIGINT) AS cq
       |  FROM pa$i a JOIN pqd q ON a.vec_id = q.vec_id AND a.sub = q.sub
       |  GROUP BY a.cell, q.sub, q.dim)""".stripMargin

  /** The trained-PQ oracle: the unrolled per-subspace training chain
    * (generated over the SAME constants the Spark loop iterates), then
    * encode + LUT + ADC + ranking — the sim_pq_topk retrieval body
    * pointed at the converged codebooks. */
  private[graft] def pqTrainedSql: String = {
    val m = PqSubspaces
    val r = KmeansRunRounds
    val rounds = (1 to r).map(pqRoundCtes).mkString(",\n")
    s"""WITH pqv AS (
       |  SELECT vec_id,
       |    CAST((i - 1) // (len(embedding) // $m) AS BIGINT) AS sub,
       |    CAST(i - 1 AS BIGINT) AS dim,
       |    CAST(floor(CAST(embedding[i] AS DOUBLE) * 1024) AS BIGINT) AS xq
       |  FROM embeddings, UNNEST(range(1, len(embedding) + 1)) t(i)),
       |pqd AS (
       |  SELECT vec_id,
       |    CAST((i - 1) // (len(embedding) // $m) AS BIGINT) AS sub,
       |    CAST(i - 1 AS BIGINT) AS dim,
       |    CAST(CAST(embedding[i] AS VARCHAR) AS DECIMAL(38,30)) AS v
       |  FROM embeddings, UNNEST(range(1, len(embedding) + 1)) t(i)),
       |pc0 AS (
       |  SELECT label AS c_label,
       |    CAST((i - 1) // (len(embedding) // $m) AS BIGINT) AS sub,
       |    CAST(i - 1 AS BIGINT) AS dim,
       |    CAST(floor((CAST(sum(CAST(CAST(embedding[i] AS VARCHAR) AS DECIMAL(38,30))) AS DOUBLE) / count(*)) * 1024) AS BIGINT) AS cq
       |  FROM embeddings, UNNEST(range(1, len(embedding) + 1)) t(i)
       |  GROUP BY 1, 2, 3),
       |$rounds,
       |sd AS (
       |  SELECT v.vec_id, v.sub, c.c_label,
       |    CAST(sum((v.xq - c.cq) * (v.xq - c.cq)) AS BIGINT) AS sdist
       |  FROM pqv v JOIN pc$r c USING (sub, dim)
       |  GROUP BY v.vec_id, v.sub, c.c_label),
       |sm AS (SELECT vec_id, sub, min(sdist) AS md FROM sd GROUP BY vec_id, sub),
       |codes AS (
       |  SELECT d.vec_id, d.sub AS c_sub, min(d.c_label) AS code
       |  FROM sd d JOIN sm m ON d.vec_id = m.vec_id AND d.sub = m.sub AND d.sdist = m.md
       |  GROUP BY d.vec_id, d.sub),
       |lut AS (
       |  SELECT vec_id AS qid, sub AS q_sub, c_label AS q_code, sdist
       |  FROM sd WHERE vec_id < 4),
       |adc AS (
       |  SELECT l.qid, c.vec_id, CAST(sum(l.sdist) AS BIGINT) AS adist
       |  FROM codes c JOIN lut l ON c.c_sub = l.q_sub AND c.code = l.q_code
       |  WHERE c.vec_id <> l.qid
       |  GROUP BY l.qid, c.vec_id),
       |rk AS (
       |  SELECT qid, vec_id, adist,
       |    row_number() OVER (PARTITION BY qid ORDER BY adist ASC, vec_id ASC) AS rn
       |  FROM adc)
       |SELECT qid, vec_id, adist, rn FROM rk WHERE rn <= 3 ORDER BY qid, rn""".stripMargin
  }

  private[graft] def kmeansRunSql: String =
    s"""WITH $kmeansChainCtes
       |SELECT c_label AS cell, dim, CAST(n_members AS BIGINT) AS n_members, cq
       |FROM cent$KmeansRunRounds ORDER BY cell, dim""".stripMargin

  /** Trained-IVF oracle: the SAME kmeans chain, assignment against the
    * converged centroids, then the sim_ivf_topk retrieval body. */
  private[graft] def ivfTrainedSql: String =
    s"""WITH $kmeansChainCtes,
       |tdist AS (
       |  SELECT v.vec_id, c.c_label,
       |    CAST(sum((v.xq - c.cq) * (v.xq - c.cq)) AS BIGINT) AS dist
       |  FROM kvdim v JOIN cent$KmeansRunRounds c USING (dim)
       |  GROUP BY v.vec_id, c.c_label),
       |tassign AS (
       |  SELECT vec_id, c_label AS cell FROM (
       |    SELECT vec_id, c_label,
       |      row_number() OVER (PARTITION BY vec_id ORDER BY dist ASC, c_label ASC) AS rk
       |    FROM tdist) WHERE rk = 1),
       |corpus AS (
       |  SELECT e.vec_id, e.embedding, a.cell
       |  FROM embeddings e JOIN tassign a USING (vec_id)),
       |q AS (SELECT vec_id AS qid, embedding AS qe, cell AS qcell
       |      FROM corpus WHERE vec_id < 4),
       |s AS (
       |  SELECT q.qid, c.vec_id,
       |    sum(CAST(c.embedding[i] AS DOUBLE) * CAST(q.qe[i] AS DOUBLE)) AS dot,
       |    sum(CAST(c.embedding[i] AS DOUBLE) * CAST(c.embedding[i] AS DOUBLE)) AS n2a,
       |    sum(CAST(q.qe[i] AS DOUBLE) * CAST(q.qe[i] AS DOUBLE)) AS n2b
       |  FROM corpus c JOIN q ON c.cell = q.qcell AND c.vec_id <> q.qid,
       |       UNNEST(range(1, len(c.embedding) + 1)) t(i)
       |  GROUP BY q.qid, c.vec_id),
       |r AS (
       |  SELECT qid, vec_id, round(dot / (sqrt(n2a) * sqrt(n2b)), 4) AS cos_r,
       |    row_number() OVER (PARTITION BY qid
       |                       ORDER BY round(dot / (sqrt(n2a) * sqrt(n2b)), 4) DESC,
       |                                vec_id ASC) AS rn
       |  FROM s)
       |SELECT qid, vec_id, cos_r, rn FROM r WHERE rn <= 3 ORDER BY qid, rn""".stripMargin

  /** Served-IVF oracle: the ivfTrainedSql retrieval body with the
    * assignment read from the PERSISTED parquet artifact instead of the
    * unrolled training chain — the cross-engine gate covers the stored
    * index bytes themselves. */
  private[graft] def ivfServedSql: String =
    s"""WITH tassign AS (
       |  SELECT vec_id, cell FROM ${IndexStore.duckdbScan("ivf_assign")}),
       |corpus AS (
       |  SELECT e.vec_id, e.embedding, a.cell
       |  FROM embeddings e JOIN tassign a USING (vec_id)),
       |q AS (SELECT vec_id AS qid, embedding AS qe, cell AS qcell
       |      FROM corpus WHERE vec_id < 4),
       |s AS (
       |  SELECT q.qid, c.vec_id,
       |    sum(CAST(c.embedding[i] AS DOUBLE) * CAST(q.qe[i] AS DOUBLE)) AS dot,
       |    sum(CAST(c.embedding[i] AS DOUBLE) * CAST(c.embedding[i] AS DOUBLE)) AS n2a,
       |    sum(CAST(q.qe[i] AS DOUBLE) * CAST(q.qe[i] AS DOUBLE)) AS n2b
       |  FROM corpus c JOIN q ON c.cell = q.qcell AND c.vec_id <> q.qid,
       |       UNNEST(range(1, len(c.embedding) + 1)) t(i)
       |  GROUP BY q.qid, c.vec_id),
       |r AS (
       |  SELECT qid, vec_id, round(dot / (sqrt(n2a) * sqrt(n2b)), 4) AS cos_r,
       |    row_number() OVER (PARTITION BY qid
       |                       ORDER BY round(dot / (sqrt(n2a) * sqrt(n2b)), 4) DESC,
       |                                vec_id ASC) AS rn
       |  FROM s)
       |SELECT qid, vec_id, cos_r, rn FROM r WHERE rn <= 3 ORDER BY qid, rn""".stripMargin

  /** Forget oracle: the served-retrieval body over the SCRUBBED
    * persisted artifact — DuckDB reads the post-delete index bytes, so
    * the gate covers both the anti-join (no forgotten vector survives
    * as index content) and retrieval over the survivors. */
  private[graft] def ivfForgetSql: String =
    s"""WITH tassign AS (
       |  SELECT vec_id, cell FROM ${IndexStore.duckdbScan("ivf_assign_forget")}),
       |corpus AS (
       |  SELECT e.vec_id, e.embedding, a.cell
       |  FROM embeddings e JOIN tassign a USING (vec_id)),
       |q AS (SELECT vec_id AS qid, embedding AS qe, cell AS qcell
       |      FROM corpus WHERE vec_id < 4),
       |s AS (
       |  SELECT q.qid, c.vec_id,
       |    sum(CAST(c.embedding[i] AS DOUBLE) * CAST(q.qe[i] AS DOUBLE)) AS dot,
       |    sum(CAST(c.embedding[i] AS DOUBLE) * CAST(c.embedding[i] AS DOUBLE)) AS n2a,
       |    sum(CAST(q.qe[i] AS DOUBLE) * CAST(q.qe[i] AS DOUBLE)) AS n2b
       |  FROM corpus c JOIN q ON c.cell = q.qcell AND c.vec_id <> q.qid,
       |       UNNEST(range(1, len(c.embedding) + 1)) t(i)
       |  GROUP BY q.qid, c.vec_id),
       |r AS (
       |  SELECT qid, vec_id, round(dot / (sqrt(n2a) * sqrt(n2b)), 4) AS cos_r,
       |    row_number() OVER (PARTITION BY qid
       |                       ORDER BY round(dot / (sqrt(n2a) * sqrt(n2b)), 4) DESC,
       |                                vec_id ASC) AS rn
       |  FROM s)
       |SELECT qid, vec_id, cos_r, rn FROM r WHERE rn <= 3 ORDER BY qid, rn""".stripMargin

  /** Served-PQ oracle: codebooks AND codes scanned from the persisted
    * artifacts; only the query vectors' LUT is computed (against the
    * stored codebook), then the pqTrainedSql ADC/ranking tail. */
  private[graft] def pqServedSql: String = {
    val m = PqSubspaces
    s"""WITH cb AS (
       |  SELECT c_label, sub, dim, cq FROM ${IndexStore.duckdbScan("pq_codebooks")}),
       |codes AS (
       |  SELECT vec_id, c_sub, code FROM ${IndexStore.duckdbScan("pq_codes")}),
       |qv AS (
       |  SELECT vec_id,
       |    CAST((i - 1) // (len(embedding) // $m) AS BIGINT) AS sub,
       |    CAST(i - 1 AS BIGINT) AS dim,
       |    CAST(floor(CAST(embedding[i] AS DOUBLE) * 1024) AS BIGINT) AS xq
       |  FROM embeddings, UNNEST(range(1, len(embedding) + 1)) t(i)
       |  WHERE vec_id < 4),
       |lut AS (
       |  SELECT v.vec_id AS qid, v.sub AS q_sub, c.c_label AS q_code,
       |    CAST(sum((v.xq - c.cq) * (v.xq - c.cq)) AS BIGINT) AS sdist
       |  FROM qv v JOIN cb c USING (sub, dim)
       |  GROUP BY v.vec_id, v.sub, c.c_label),
       |adc AS (
       |  SELECT l.qid, c.vec_id, CAST(sum(l.sdist) AS BIGINT) AS adist
       |  FROM codes c JOIN lut l ON c.c_sub = l.q_sub AND c.code = l.q_code
       |  WHERE c.vec_id <> l.qid
       |  GROUP BY l.qid, c.vec_id),
       |rk AS (
       |  SELECT qid, vec_id, adist,
       |    row_number() OVER (PARTITION BY qid ORDER BY adist ASC, vec_id ASC) AS rn
       |  FROM adc)
       |SELECT qid, vec_id, adist, rn FROM rk WHERE rn <= 3 ORDER BY qid, rn""".stripMargin
  }

  /** The complete sim_ivf_topk SELECT — also embedded (as a nested-WITH
    * CTE body) in the recall-eval oracle, so the two stay identical by
    * construction. */
  /** kNN-graph CTE prefix ending in `gk(src, dst, cos_r, rn)` — the
    * within-cell top-[[KnnGraphK]] neighbor graph, shared by the graph,
    * refinement, and recall oracles. */
  private val knnGraphCtes: String =
    s"""$cellAssignSql,
       |corpus AS (
       |  SELECT e.vec_id, e.embedding, a.cell
       |  FROM embeddings e JOIN assign a USING (vec_id)),
       |gs AS (
       |  SELECT x.vec_id AS src, y.vec_id AS dst,
       |    sum(CAST(x.embedding[i] AS DOUBLE) * CAST(y.embedding[i] AS DOUBLE)) AS dot,
       |    sum(CAST(x.embedding[i] AS DOUBLE) * CAST(x.embedding[i] AS DOUBLE)) AS n2a,
       |    sum(CAST(y.embedding[i] AS DOUBLE) * CAST(y.embedding[i] AS DOUBLE)) AS n2b
       |  FROM corpus x JOIN corpus y ON x.cell = y.cell AND x.vec_id <> y.vec_id,
       |       UNNEST(range(1, len(x.embedding) + 1)) t(i)
       |  GROUP BY x.vec_id, y.vec_id),
       |gr AS (
       |  SELECT src, dst, round(dot / (sqrt(n2a) * sqrt(n2b)), 4) AS cos_r,
       |    row_number() OVER (PARTITION BY src
       |                       ORDER BY round(dot / (sqrt(n2a) * sqrt(n2b)), 4) DESC,
       |                                dst ASC) AS rn
       |  FROM gs),
       |gk AS (SELECT src, dst, cos_r, rn FROM gr WHERE rn <= $KnnGraphK)""".stripMargin

  private val ivfTopKSql: String = ivfTopKSqlFor("vec_id < 4")

  /** The IVF retrieval oracle, parameterized by the QUERY predicate —
    * shared by the batch `sim_ivf_topk` (`vec_id < 4`) and the
    * streaming serve `stream_ann_serve` (round 15; the modulus query
    * set, so every trigger of the id-range feed carries queries). */
  private[graft] def ivfTopKSqlFor(queryPred: String): String =
    s"""$cellAssignSql,
       |corpus AS (
       |  SELECT e.vec_id, e.embedding, a.cell
       |  FROM embeddings e JOIN assign a USING (vec_id)),
       |q AS (SELECT vec_id AS qid, embedding AS qe, cell AS qcell
       |      FROM corpus WHERE $queryPred),
       |s AS (
       |  SELECT q.qid, c.vec_id,
       |    sum(CAST(c.embedding[i] AS DOUBLE) * CAST(q.qe[i] AS DOUBLE)) AS dot,
       |    sum(CAST(c.embedding[i] AS DOUBLE) * CAST(c.embedding[i] AS DOUBLE)) AS n2a,
       |    sum(CAST(q.qe[i] AS DOUBLE) * CAST(q.qe[i] AS DOUBLE)) AS n2b
       |  FROM corpus c JOIN q ON c.cell = q.qcell AND c.vec_id <> q.qid,
       |       UNNEST(range(1, len(c.embedding) + 1)) t(i)
       |  GROUP BY q.qid, c.vec_id),
       |r AS (
       |  SELECT qid, vec_id, round(dot / (sqrt(n2a) * sqrt(n2b)), 4) AS cos_r,
       |    row_number() OVER (PARTITION BY qid
       |                       ORDER BY round(dot / (sqrt(n2a) * sqrt(n2b)), 4) DESC,
       |                                vec_id ASC) AS rn
       |  FROM s)
       |SELECT qid, vec_id, cos_r, rn FROM r WHERE rn <= 3 ORDER BY qid, rn""".stripMargin

  private val bucketsSql =
    """WITH d AS (
      |  SELECT vec_id, j,
      |    sum(CAST(floor(CAST(embedding[i+1] AS DOUBLE) * 1024) AS BIGINT)
      |        * ((i*73 + i*i*31 + j*179 + j*j*97 + i*j*53) % 101 - 50)) AS dotj
      |  FROM embeddings, UNNEST(range(0, 6)) jj(j),
      |       UNNEST(range(0, len(embedding))) tt(i)
      |  GROUP BY vec_id, j),
      |b AS (
      |  SELECT vec_id,
      |    CAST(sum(CASE WHEN dotj >= 0 THEN CAST(pow(2, j) AS BIGINT) ELSE 0 END) AS BIGINT) AS bucket
      |  FROM d GROUP BY vec_id)""".stripMargin

  /** The complete sim_trunc_topk SELECT — also embedded (as a nested-WITH
    * CTE body) in the truncation-recall oracle, so the two stay identical
    * by construction (the ivfTopKSql pattern). Only the range bound
    * differs from the exact brute force: the first [[TruncDims]]
    * components score, the rest never load. */
  private def truncCandSql(k: Int): String =
    s"""WITH tq AS (SELECT vec_id AS qid, embedding AS qe FROM embeddings WHERE vec_id < 4),
       |ts AS (
       |  SELECT tq.qid, e.vec_id,
       |    sum(CAST(e.embedding[i] AS DOUBLE) * CAST(tq.qe[i] AS DOUBLE)) AS dot,
       |    sum(CAST(e.embedding[i] AS DOUBLE) * CAST(e.embedding[i] AS DOUBLE)) AS n2a,
       |    sum(CAST(tq.qe[i] AS DOUBLE) * CAST(tq.qe[i] AS DOUBLE)) AS n2b
       |  FROM embeddings e, tq, UNNEST(range(1, ${TruncDims + 1})) t(i)
       |  WHERE e.vec_id <> tq.qid
       |  GROUP BY tq.qid, e.vec_id),
       |tr AS (
       |  SELECT qid, vec_id, round(dot / (sqrt(n2a) * sqrt(n2b)), 4) AS cos_r,
       |    row_number() OVER (PARTITION BY qid
       |                       ORDER BY round(dot / (sqrt(n2a) * sqrt(n2b)), 4) DESC,
       |                                vec_id ASC) AS rn
       |  FROM ts)
       |SELECT qid, vec_id, cos_r, rn FROM tr WHERE rn <= $k ORDER BY qid, rn""".stripMargin

  private val truncTopKSql: String = truncCandSql(3)

  /** The complete sim_rerank SELECT — stage-1 candidates embedded as a
    * nested CTE (the shared truncCandSql body at k=RerankCandidates),
    * stage-2 exact rescoring confined to the candidate pairs. */
  private val rerankTopKSql: String =
    s"""WITH cand AS (${truncCandSql(RerankCandidates)}),
       |fq AS (SELECT vec_id AS qid, embedding AS qe FROM embeddings WHERE vec_id < 4),
       |fs AS (
       |  SELECT c.qid, c.vec_id,
       |    sum(CAST(e.embedding[i] AS DOUBLE) * CAST(fq.qe[i] AS DOUBLE)) AS dot,
       |    sum(CAST(e.embedding[i] AS DOUBLE) * CAST(e.embedding[i] AS DOUBLE)) AS n2a,
       |    sum(CAST(fq.qe[i] AS DOUBLE) * CAST(fq.qe[i] AS DOUBLE)) AS n2b
       |  FROM cand c
       |  JOIN embeddings e ON e.vec_id = c.vec_id
       |  JOIN fq ON fq.qid = c.qid,
       |       UNNEST(range(1, len(e.embedding) + 1)) t(i)
       |  GROUP BY c.qid, c.vec_id),
       |rr AS (
       |  SELECT qid, vec_id, round(dot / (sqrt(n2a) * sqrt(n2b)), 4) AS cos_r,
       |    row_number() OVER (PARTITION BY qid
       |                       ORDER BY round(dot / (sqrt(n2a) * sqrt(n2b)), 4) DESC,
       |                                vec_id ASC) AS rn
       |  FROM fs)
       |SELECT qid, vec_id, cos_r, rn FROM rr WHERE rn <= 3 ORDER BY qid, rn""".stripMargin

  /** The complete sim_pq_topk SELECT — also embedded (as a nested-WITH
    * CTE body) in the PQ recall oracle, so the two stay identical by
    * construction (the ivfTopKSql pattern). `//` is DuckDB's integer
    * division (plain `/` floats); codebook is the same quantized-integer
    * grid as the IVF oracles. */
  private val pqTopKSql: String =
    s"""$cellDistSql,
       |sl AS (SELECT CAST(len(embedding) // $PqSubspaces AS BIGINT) AS sl
       |       FROM embeddings LIMIT 1),
       |sd AS (
       |  SELECT v.vec_id, CAST(v.dim // s.sl AS BIGINT) AS sub, c.c_label,
       |    CAST(sum((v.xq - c.cq) * (v.xq - c.cq)) AS BIGINT) AS sdist
       |  FROM vdim v JOIN cent c USING (dim) CROSS JOIN sl s
       |  GROUP BY 1, 2, 3),
       |codes AS (
       |  SELECT vec_id, sub, c_label AS code FROM (
       |    SELECT vec_id, sub, c_label,
       |      row_number() OVER (PARTITION BY vec_id, sub
       |                         ORDER BY sdist ASC, c_label ASC) AS rk
       |    FROM sd) WHERE rk = 1),
       |lut AS (SELECT vec_id AS qid, sub, c_label, sdist FROM sd WHERE vec_id < 4),
       |adc AS (
       |  SELECT l.qid, c.vec_id, CAST(sum(l.sdist) AS BIGINT) AS adist
       |  FROM codes c JOIN lut l ON c.sub = l.sub AND c.code = l.c_label
       |  WHERE c.vec_id <> l.qid
       |  GROUP BY 1, 2),
       |r AS (
       |  SELECT qid, vec_id, adist,
       |    row_number() OVER (PARTITION BY qid
       |                       ORDER BY adist ASC, vec_id ASC) AS rn
       |  FROM adc)
       |SELECT qid, vec_id, adist, rn FROM r WHERE rn <= 3 ORDER BY qid, rn""".stripMargin

  /** The complete sim_sq_topk SELECT — also embedded (as a nested-WITH
    * CTE body) in the SQ recall oracle, so the two stay identical by
    * construction (the ivfTopKSql/pqTopKSql pattern). */
  private val sqTopKSql: String =
    s"""WITH dims AS (
         |  SELECT vec_id, CAST(i - 1 AS BIGINT) AS dim,
         |         CAST(embedding[i] AS DOUBLE) AS x
         |  FROM embeddings, UNNEST(range(1, len(embedding) + 1)) t(i)),
         |st AS (SELECT dim, min(x) AS mn, max(x) AS mx FROM dims GROUP BY dim),
         |rec AS (
         |  SELECT d.vec_id, d.dim,
         |    CAST(floor(s.mn * 1024) AS BIGINT) * $SqLevels +
         |    CAST(floor((s.mx - s.mn) * 1024) AS BIGINT) *
         |      (CASE WHEN s.mx > s.mn
         |        THEN CAST(floor((d.x - s.mn) / (s.mx - s.mn) * $SqLevels) AS BIGINT)
         |        ELSE CAST(0 AS BIGINT) END) AS vq
         |  FROM dims d JOIN st s USING (dim)),
         |adc AS (
         |  SELECT q.vec_id AS qid, c.vec_id, CAST(sum(c.vq * q.vq) AS BIGINT) AS dot
         |  FROM rec c JOIN rec q ON c.dim = q.dim
         |  WHERE q.vec_id < $SqQueries AND c.vec_id <> q.vec_id
         |  GROUP BY 1, 2),
         |r AS (
         |  SELECT qid, vec_id, dot,
         |    row_number() OVER (PARTITION BY qid ORDER BY dot DESC, vec_id ASC) AS rn
         |  FROM adc)
         |SELECT qid, vec_id, dot, rn FROM r WHERE rn <= 3 ORDER BY qid, rn""".stripMargin

  // a DEF, not a val: serve-query oracles embed IndexStore.duckdbScan,
  // which resolves the artifact symlink to its current immutable version.
  // That resolution must happen when oracle_sql.json is WRITTEN (after
  // every build/republish in the run), not at object-init time -- a val
  // freezes the pre-rebuild version, which the GC grace window still
  // keeps on disk, and the oracle silently compares a stale artifact.
  def oracles: Map[String, String] = Map(
    "sim_ivf_pq" ->
      s"""$cellAssignSql,
         |probe AS (
         |  SELECT vec_id, c_label AS cell,
         |    row_number() OVER (PARTITION BY vec_id
         |                       ORDER BY dist ASC, c_label ASC) AS rk
         |  FROM dists),
         |sl AS (SELECT CAST(len(embedding) // $PqSubspaces AS BIGINT) AS sl
         |       FROM embeddings LIMIT 1),
         |sd AS (
         |  SELECT v.vec_id, CAST(v.dim // s.sl AS BIGINT) AS sub, c.c_label,
         |    CAST(sum((v.xq - c.cq) * (v.xq - c.cq)) AS BIGINT) AS sdist
         |  FROM vdim v JOIN cent c USING (dim) CROSS JOIN sl s
         |  GROUP BY 1, 2, 3),
         |codes AS (
         |  SELECT vec_id, sub, c_label AS code FROM (
         |    SELECT vec_id, sub, c_label,
         |      row_number() OVER (PARTITION BY vec_id, sub
         |                         ORDER BY sdist ASC, c_label ASC) AS rk
         |    FROM sd) WHERE rk = 1),
         |lut AS (SELECT vec_id AS qid, sub, c_label, sdist FROM sd WHERE vec_id < 4),
         |cand AS (
         |  SELECT p.vec_id AS qid, a.vec_id
         |  FROM probe p JOIN assign a ON a.cell = p.cell
         |  WHERE p.vec_id < 4 AND p.rk <= $MultiprobeProbes
         |    AND a.vec_id <> p.vec_id),
         |adc AS (
         |  SELECT n.qid, n.vec_id, CAST(sum(l.sdist) AS BIGINT) AS adist
         |  FROM cand n
         |  JOIN codes c ON c.vec_id = n.vec_id
         |  JOIN lut l ON l.qid = n.qid AND l.sub = c.sub AND l.c_label = c.code
         |  GROUP BY 1, 2),
         |r AS (
         |  SELECT qid, vec_id, adist,
         |    row_number() OVER (PARTITION BY qid
         |                       ORDER BY adist ASC, vec_id ASC) AS rn
         |  FROM adc)
         |SELECT qid, vec_id, adist, rn FROM r WHERE rn <= 3 ORDER BY qid, rn""".stripMargin,
    "sim_sq_topk" -> sqTopKSql,
    "sim_sq_recall" ->
      s"""WITH sq AS ($sqTopKSql),
         |qs AS (SELECT vec_id AS qid, embedding AS qe FROM embeddings
         |       WHERE vec_id < $SqQueries),
         |bs AS (
         |  SELECT qs.qid, e.vec_id,
         |    round(sum(CAST(e.embedding[i] AS DOUBLE) * CAST(qs.qe[i] AS DOUBLE)), 4) AS dot_r
         |  FROM embeddings e, qs, UNNEST(range(1, len(e.embedding) + 1)) t(i)
         |  WHERE e.vec_id <> qs.qid
         |  GROUP BY qs.qid, e.vec_id),
         |bf AS (
         |  SELECT qid, vec_id FROM (
         |    SELECT qid, vec_id,
         |      row_number() OVER (PARTITION BY qid
         |                         ORDER BY dot_r DESC, vec_id ASC) AS rn
         |    FROM bs)
         |  WHERE rn <= 3),
         |h AS (
         |  SELECT s.qid,
         |    CAST(sum(CASE WHEN b.vec_id IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS h
         |  FROM sq s LEFT JOIN bf b ON s.qid = b.qid AND s.vec_id = b.vec_id
         |  GROUP BY s.qid)
         |SELECT q.qid, COALESCE(h.h, CAST(0 AS BIGINT)) AS n_hits,
         |       COALESCE(h.h, CAST(0 AS BIGINT)) / 3.0 AS recall_at_3
         |FROM (SELECT vec_id AS qid FROM embeddings WHERE vec_id < $SqQueries) q
         |LEFT JOIN h ON q.qid = h.qid
         |ORDER BY q.qid""".stripMargin,
    "sim_pq_topk" -> pqTopKSql,
    "sim_pq_recall" ->
      s"""WITH pq AS ($pqTopKSql),
         |qs AS (SELECT vec_id AS qid, embedding AS qe FROM embeddings WHERE vec_id < 4),
         |bs AS (
         |  SELECT qs.qid, e.vec_id,
         |    sum(CAST(e.embedding[i] AS DOUBLE) * CAST(qs.qe[i] AS DOUBLE)) AS dot,
         |    sum(CAST(e.embedding[i] AS DOUBLE) * CAST(e.embedding[i] AS DOUBLE)) AS n2a,
         |    sum(CAST(qs.qe[i] AS DOUBLE) * CAST(qs.qe[i] AS DOUBLE)) AS n2b
         |  FROM embeddings e, qs, UNNEST(range(1, len(e.embedding) + 1)) t(i)
         |  WHERE e.vec_id <> qs.qid
         |  GROUP BY qs.qid, e.vec_id),
         |bf AS (
         |  SELECT qid, vec_id FROM (
         |    SELECT qid, vec_id,
         |      row_number() OVER (PARTITION BY qid
         |                         ORDER BY round(dot / (sqrt(n2a) * sqrt(n2b)), 4) DESC,
         |                                  vec_id ASC) AS rn
         |    FROM bs)
         |  WHERE rn <= 3),
         |h AS (
         |  SELECT p.qid,
         |    CAST(sum(CASE WHEN b.vec_id IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS h
         |  FROM pq p LEFT JOIN bf b ON p.qid = b.qid AND p.vec_id = b.vec_id
         |  GROUP BY p.qid)
         |SELECT q.qid, COALESCE(h.h, CAST(0 AS BIGINT)) AS n_hits,
         |       COALESCE(h.h, CAST(0 AS BIGINT)) / 3.0 AS recall_at_3
         |FROM (SELECT vec_id AS qid FROM embeddings WHERE vec_id < 4) q
         |LEFT JOIN h ON q.qid = h.qid
         |ORDER BY q.qid""".stripMargin,
    "sim_rrf_fusion" ->
      s"""WITH lex AS (
         |  SELECT doc_id,
         |    row_number() OVER (ORDER BY bm25 DESC, doc_id ASC) AS lex_rank
         |  FROM (${graft.text.TextAnalysis.bm25OracleSql})),
         |q AS (SELECT embedding AS qe FROM embeddings WHERE vec_id = 0),
         |s AS (
         |  SELECT e.vec_id AS doc_id,
         |    round(sum(CAST(e.embedding[i] AS DOUBLE) * CAST(q.qe[i] AS DOUBLE)) /
         |      (sqrt(sum(CAST(e.embedding[i] AS DOUBLE) * CAST(e.embedding[i] AS DOUBLE))) *
         |       sqrt(sum(CAST(q.qe[i] AS DOUBLE) * CAST(q.qe[i] AS DOUBLE)))), 4) AS cos_r
         |  FROM embeddings e, q, UNNEST(range(1, len(e.embedding) + 1)) t(i)
         |  GROUP BY e.vec_id),
         |dense AS (
         |  SELECT doc_id,
         |    row_number() OVER (ORDER BY cos_r DESC, doc_id ASC) AS dense_rank
         |  FROM (SELECT * FROM s ORDER BY cos_r DESC, doc_id ASC LIMIT $RrfDepth)),
         |f AS (
         |  SELECT doc_id,
         |    COALESCE(lex_rank, 0) AS lex_rank,
         |    COALESCE(dense_rank, 0) AS dense_rank,
         |    round(
         |      COALESCE(CAST(1.0 AS DOUBLE) / ($RrfK + lex_rank), CAST(0 AS DOUBLE)) +
         |      COALESCE(CAST(1.0 AS DOUBLE) / ($RrfK + dense_rank), CAST(0 AS DOUBLE)),
         |      6) AS rrf
         |  FROM lex FULL OUTER JOIN dense USING (doc_id))
         |SELECT doc_id, CAST(lex_rank AS BIGINT) AS lex_rank,
         |  CAST(dense_rank AS BIGINT) AS dense_rank, rrf
         |FROM f ORDER BY rrf DESC, doc_id ASC LIMIT $RrfTopK""".stripMargin,
    "sim_cosine_topk" ->
      """WITH q AS (SELECT embedding AS qe FROM embeddings WHERE vec_id = 0),
        |s AS (
        |  SELECT e.vec_id,
        |    sum(CAST(e.embedding[i] AS DOUBLE) * CAST(q.qe[i] AS DOUBLE)) AS dot,
        |    sum(CAST(e.embedding[i] AS DOUBLE) * CAST(e.embedding[i] AS DOUBLE)) AS n2a,
        |    sum(CAST(q.qe[i] AS DOUBLE) * CAST(q.qe[i] AS DOUBLE)) AS n2b
        |  FROM embeddings e, q, UNNEST(range(1, len(e.embedding) + 1)) t(i)
        |  GROUP BY e.vec_id)
        |SELECT vec_id, round(dot / (sqrt(n2a) * sqrt(n2b)), 4) AS cos_r
        |FROM s ORDER BY cos_r DESC, vec_id ASC LIMIT 10""".stripMargin,
    "sim_ann_buckets" ->
      s"""$bucketsSql
         |SELECT bucket, count(*) AS n_vecs FROM b GROUP BY bucket ORDER BY bucket""".stripMargin,
    "sim_ann_topk" ->
      s"""$bucketsSql,
         |e AS (SELECT b.vec_id, b.bucket, em.embedding FROM b JOIN embeddings em USING (vec_id)),
         |q AS (SELECT bucket AS qbucket, embedding AS qe FROM e WHERE vec_id = 0),
         |s AS (
         |  SELECT e.vec_id,
         |    sum(CAST(e.embedding[i] AS DOUBLE) * CAST(q.qe[i] AS DOUBLE)) AS dot,
         |    sum(CAST(e.embedding[i] AS DOUBLE) * CAST(e.embedding[i] AS DOUBLE)) AS n2a,
         |    sum(CAST(q.qe[i] AS DOUBLE) * CAST(q.qe[i] AS DOUBLE)) AS n2b
         |  FROM e, q, UNNEST(range(1, len(e.embedding) + 1)) t(i)
         |  WHERE e.bucket = q.qbucket
         |  GROUP BY e.vec_id)
         |SELECT vec_id, round(dot / (sqrt(n2a) * sqrt(n2b)), 4) AS cos_r
         |FROM s ORDER BY cos_r DESC, vec_id ASC LIMIT 10""".stripMargin,
    "sim_hybrid_search" ->
      """WITH d AS (SELECT doc_id FROM documents WHERE contains(text, 'shuffle')),
        |q AS (SELECT embedding AS qe FROM embeddings WHERE vec_id = 0),
        |s AS (
        |  SELECT d.doc_id,
        |    sum(CAST(e.embedding[i] AS DOUBLE) * CAST(q.qe[i] AS DOUBLE)) AS dot,
        |    sum(CAST(e.embedding[i] AS DOUBLE) * CAST(e.embedding[i] AS DOUBLE)) AS n2a,
        |    sum(CAST(q.qe[i] AS DOUBLE) * CAST(q.qe[i] AS DOUBLE)) AS n2b
        |  FROM d JOIN embeddings e ON d.doc_id = e.vec_id, q,
        |       UNNEST(range(1, len(e.embedding) + 1)) t(i)
        |  GROUP BY d.doc_id)
        |SELECT doc_id, round(dot / (sqrt(n2a) * sqrt(n2b)), 4) AS cos_r
        |FROM s ORDER BY cos_r DESC, doc_id ASC LIMIT 10""".stripMargin,
    "sim_range_search" ->
      s"""WITH q AS (SELECT embedding AS qe FROM embeddings WHERE vec_id = 0),
         |s AS (
         |  SELECT e.vec_id,
         |    sum(CAST(e.embedding[i] AS DOUBLE) * CAST(q.qe[i] AS DOUBLE)) AS dot,
         |    sum(CAST(e.embedding[i] AS DOUBLE) * CAST(e.embedding[i] AS DOUBLE)) AS n2a,
         |    sum(CAST(q.qe[i] AS DOUBLE) * CAST(q.qe[i] AS DOUBLE)) AS n2b
         |  FROM embeddings e, q, UNNEST(range(1, len(e.embedding) + 1)) t(i)
         |  WHERE e.vec_id <> 0
         |  GROUP BY e.vec_id)
         |SELECT vec_id, round(dot / (sqrt(n2a) * sqrt(n2b)), 4) AS cos_r
         |FROM s WHERE round(dot / (sqrt(n2a) * sqrt(n2b)), 4) >= ${RangeThreshold}
         |ORDER BY cos_r DESC, vec_id ASC""".stripMargin,
    "sim_knn_graph" ->
      s"""$knnGraphCtes
         |SELECT src, dst, cos_r, rn FROM gk
         |ORDER BY src, rn""".stripMargin,
    "sim_ivf_stats" ->
      s"""$cellAssignSql,
         |g AS (SELECT cell, CAST(count(*) AS BIGINT) AS n_vecs
         |      FROM assign GROUP BY cell),
         |tot AS (SELECT CAST(sum(n_vecs) AS BIGINT) AS n_total,
         |               CAST(count(*) AS BIGINT) AS n_cells FROM g)
         |SELECT cell, n_vecs,
         |  round(CAST(n_vecs * 100 AS DOUBLE) / n_total, 4) AS share_pct,
         |  round(CAST(n_vecs * n_cells AS DOUBLE) / n_total, 4) AS skew
         |FROM g, tot ORDER BY cell""".stripMargin,
    "sim_filtered_knn" ->
      s"""WITH q AS (SELECT vec_id AS qid, embedding AS qe FROM embeddings WHERE vec_id < 8),
         |s AS (
         |  SELECT q.qid, e.vec_id,
         |    sum(CAST(e.embedding[i] AS DOUBLE) * CAST(q.qe[i] AS DOUBLE)) AS dot,
         |    sum(CAST(e.embedding[i] AS DOUBLE) * CAST(e.embedding[i] AS DOUBLE)) AS n2a,
         |    sum(CAST(q.qe[i] AS DOUBLE) * CAST(q.qe[i] AS DOUBLE)) AS n2b
         |  FROM embeddings e, q, UNNEST(range(1, len(e.embedding) + 1)) t(i)
         |  WHERE e.vec_id <> q.qid AND e.label % $FilterLabelMod = 0
         |  GROUP BY q.qid, e.vec_id),
         |r AS (
         |  SELECT qid, vec_id, round(dot / (sqrt(n2a) * sqrt(n2b)), 4) AS cos_r,
         |    row_number() OVER (PARTITION BY qid
         |                       ORDER BY round(dot / (sqrt(n2a) * sqrt(n2b)), 4) DESC,
         |                                vec_id ASC) AS rn
         |  FROM s)
         |SELECT qid, vec_id, cos_r, rn FROM r WHERE rn <= 3
         |ORDER BY qid, rn""".stripMargin,
    "sim_prepost_filter" ->
      s"""WITH q AS (SELECT vec_id AS qid, embedding AS qe FROM embeddings WHERE vec_id < 8),
         |s AS (
         |  SELECT q.qid, e.vec_id, e.label,
         |    sum(CAST(e.embedding[i] AS DOUBLE) * CAST(q.qe[i] AS DOUBLE)) AS dot,
         |    sum(CAST(e.embedding[i] AS DOUBLE) * CAST(e.embedding[i] AS DOUBLE)) AS n2a,
         |    sum(CAST(q.qe[i] AS DOUBLE) * CAST(q.qe[i] AS DOUBLE)) AS n2b
         |  FROM embeddings e, q, UNNEST(range(1, len(e.embedding) + 1)) t(i)
         |  WHERE e.vec_id <> q.qid
         |  GROUP BY q.qid, e.vec_id, e.label),
         |r AS (
         |  SELECT qid, vec_id, label,
         |    row_number() OVER (PARTITION BY qid
         |                       ORDER BY round(dot / (sqrt(n2a) * sqrt(n2b)), 4) DESC,
         |                                vec_id ASC) AS rn
         |  FROM s),
         |post AS (SELECT qid, count(*) AS n_post FROM r
         |         WHERE rn <= 3 AND label % $FilterLabelMod = 0 GROUP BY qid),
         |rf AS (
         |  SELECT qid, vec_id,
         |    row_number() OVER (PARTITION BY qid
         |                       ORDER BY round(dot / (sqrt(n2a) * sqrt(n2b)), 4) DESC,
         |                                vec_id ASC) AS rn
         |  FROM s WHERE label % $FilterLabelMod = 0),
         |pre AS (SELECT qid, count(*) AS n_pre FROM rf WHERE rn <= 3 GROUP BY qid)
         |SELECT pre.qid, CAST(n_pre AS BIGINT) AS n_pre,
         |  CAST(COALESCE(n_post, 0) AS BIGINT) AS n_post,
         |  CAST(n_pre - COALESCE(n_post, 0) AS BIGINT) AS deficit
         |FROM pre LEFT JOIN post ON pre.qid = post.qid
         |ORDER BY pre.qid""".stripMargin,
    "sim_knn_descent" -> {
      // one unrolled NN-descent round: candidates from e{r-1}, exact
      // rescoring, heap-rank back to k — the Spark loop's round verbatim
      def round(r: Int): String =
        s"""u$r AS (SELECT src, dst FROM e${r - 1}
           |        UNION SELECT dst, src FROM e${r - 1}),
           |h$r AS (SELECT a.src, b.dst FROM u$r a JOIN u$r b ON a.dst = b.src
           |        WHERE a.src <> b.dst),
           |c$r AS (SELECT DISTINCT src, dst FROM (
           |          SELECT * FROM u$r UNION ALL SELECT * FROM h$r)),
           |s$r AS (
           |  SELECT c.src, c.dst,
           |    sum(CAST(ex.embedding[ii] AS DOUBLE) * CAST(ey.embedding[ii] AS DOUBLE)) AS dot,
           |    sum(CAST(ex.embedding[ii] AS DOUBLE) * CAST(ex.embedding[ii] AS DOUBLE)) AS n2a,
           |    sum(CAST(ey.embedding[ii] AS DOUBLE) * CAST(ey.embedding[ii] AS DOUBLE)) AS n2b
           |  FROM c$r c JOIN embeddings ex ON ex.vec_id = c.src
           |             JOIN embeddings ey ON ey.vec_id = c.dst,
           |       UNNEST(range(1, len(ex.embedding) + 1)) t(ii)
           |  GROUP BY c.src, c.dst),
           |r$r AS (
           |  SELECT src, dst, round(dot / (sqrt(n2a) * sqrt(n2b)), 4) AS cos_r,
           |    row_number() OVER (PARTITION BY src
           |                       ORDER BY round(dot / (sqrt(n2a) * sqrt(n2b)), 4) DESC,
           |                                dst ASC) AS rn
           |  FROM s$r),
           |e$r AS (SELECT src, dst, cos_r, rn FROM r$r WHERE rn <= $KnnGraphK)""".stripMargin
      s"""WITH nn0 AS (SELECT count(*) AS n FROM embeddings),
         |e0 AS (
         |  SELECT DISTINCT e.vec_id AS src,
         |    (e.vec_id * 31 + j * 607) % nn0.n AS dst
         |  FROM embeddings e, nn0, UNNEST(range(1, $KnnGraphK + 1)) t(j)
         |  WHERE (e.vec_id * 31 + j * 607) % nn0.n <> e.vec_id
         |    AND (e.vec_id * 31 + j * 607) % nn0.n IN (SELECT vec_id FROM embeddings)),
         |${(1 to DescentRounds).map(round).mkString(",\n")}
         |SELECT src, dst, cos_r, rn FROM e$DescentRounds
         |ORDER BY src, rn""".stripMargin
    },
    "sim_knn_graph_recall" ->
      s"""$knnGraphCtes,
         |tq AS (SELECT vec_id AS qid, embedding AS qe FROM embeddings
         |       WHERE vec_id % $GraphProbeMod = 0),
         |ts AS (
         |  SELECT tq.qid, e.vec_id,
         |    sum(CAST(e.embedding[i] AS DOUBLE) * CAST(tq.qe[i] AS DOUBLE)) AS dot,
         |    sum(CAST(e.embedding[i] AS DOUBLE) * CAST(e.embedding[i] AS DOUBLE)) AS n2a,
         |    sum(CAST(tq.qe[i] AS DOUBLE) * CAST(tq.qe[i] AS DOUBLE)) AS n2b
         |  FROM embeddings e, tq, UNNEST(range(1, len(e.embedding) + 1)) t(i)
         |  WHERE e.vec_id <> tq.qid
         |  GROUP BY tq.qid, e.vec_id),
         |tr AS (
         |  SELECT qid, vec_id, round(dot / (sqrt(n2a) * sqrt(n2b)), 4) AS cos_r,
         |    row_number() OVER (PARTITION BY qid
         |                       ORDER BY round(dot / (sqrt(n2a) * sqrt(n2b)), 4) DESC,
         |                                vec_id ASC) AS rn
         |  FROM ts),
         |tt AS (SELECT qid, vec_id, cos_r, rn FROM tr WHERE rn <= $KnnGraphK)
         |SELECT tt.qid AS src, tt.vec_id AS dst, tt.cos_r,
         |  CAST(tt.rn AS BIGINT) AS truth_rn,
         |  CASE WHEN gk.src IS NOT NULL THEN 1 ELSE 0 END AS caught
         |FROM tt LEFT JOIN gk ON tt.qid = gk.src AND tt.vec_id = gk.dst
         |ORDER BY src, truth_rn""".stripMargin,
    "sim_knn_batch" ->
      """WITH q AS (SELECT vec_id AS qid, embedding AS qe FROM embeddings WHERE vec_id < 8),
        |s AS (
        |  SELECT q.qid, e.vec_id,
        |    sum(CAST(e.embedding[i] AS DOUBLE) * CAST(q.qe[i] AS DOUBLE)) AS dot,
        |    sum(CAST(e.embedding[i] AS DOUBLE) * CAST(e.embedding[i] AS DOUBLE)) AS n2a,
        |    sum(CAST(q.qe[i] AS DOUBLE) * CAST(q.qe[i] AS DOUBLE)) AS n2b
        |  FROM embeddings e, q, UNNEST(range(1, len(e.embedding) + 1)) t(i)
        |  WHERE e.vec_id <> q.qid
        |  GROUP BY q.qid, e.vec_id),
        |r AS (
        |  SELECT qid, vec_id, round(dot / (sqrt(n2a) * sqrt(n2b)), 4) AS cos_r,
        |    row_number() OVER (PARTITION BY qid
        |                       ORDER BY round(dot / (sqrt(n2a) * sqrt(n2b)), 4) DESC,
        |                                vec_id ASC) AS rn
        |  FROM s)
        |SELECT qid, vec_id, cos_r, rn FROM r WHERE rn <= 3 ORDER BY qid, rn""".stripMargin,
    // quantized-integer cell assignment (floor(x*1024) grid, BIGINT
    // distances, min-label tiebreak) mirrors the Spark side exactly
    "sim_ivf_topk" -> ivfTopKSql,
    "sim_ivf_trained" -> ivfTrainedSql,
    "sim_ivf_append" ->
      """WITH cent AS (
        |  SELECT label AS c_label, CAST(i - 1 AS BIGINT) AS dim,
        |    CAST(floor((CAST(sum(CAST(CAST(embedding[i] AS VARCHAR) AS DECIMAL(38,30))) AS DOUBLE) / count(*)) * 1024) AS BIGINT) AS cq
        |  FROM embeddings, UNNEST(range(1, len(embedding) + 1)) t(i)
        |  WHERE vec_id % 4 <> 3
        |  GROUP BY label, i),
        |vdim AS (
        |  SELECT vec_id, CAST(i - 1 AS BIGINT) AS dim,
        |    CAST(floor(CAST(embedding[i] AS DOUBLE) * 1024) AS BIGINT) AS xq
        |  FROM embeddings, UNNEST(range(1, len(embedding) + 1)) t(i)),
        |dists AS (
        |  SELECT vec_id, c_label, CAST(sum((xq - cq) * (xq - cq)) AS BIGINT) AS dist
        |  FROM vdim JOIN cent USING (dim) GROUP BY vec_id, c_label),
        |assign AS (
        |  SELECT vec_id, c_label AS cell FROM (
        |    SELECT vec_id, c_label,
        |      row_number() OVER (PARTITION BY vec_id ORDER BY dist ASC, c_label ASC) AS rk
        |    FROM dists) WHERE rk = 1)
        |SELECT cell,
        |  CAST(sum(CASE WHEN vec_id % 4 <> 3 THEN 1 ELSE 0 END) AS BIGINT) AS n_base,
        |  CAST(sum(CASE WHEN vec_id % 4 = 3 THEN 1 ELSE 0 END) AS BIGINT) AS n_new
        |FROM assign GROUP BY cell ORDER BY cell""".stripMargin,
    "sim_pq_trained" -> pqTrainedSql,
    "sim_ivf_served" -> ivfServedSql,
    "sim_ivf_forget" -> ivfForgetSql,
    "sim_pq_served" -> pqServedSql,
    "sim_probe_sweep" -> probeSweepSql,
    "sim_dim_sweep" -> {
      val blocks = DimSweepDs.map { d =>
        s"""ts$d AS (
           |  SELECT e.vec_id AS cid, q.vec_id AS qid,
           |    sum(CAST(e.embedding[i] AS DOUBLE) * CAST(q.embedding[i] AS DOUBLE)) AS dot,
           |    sum(CAST(e.embedding[i] AS DOUBLE) * CAST(e.embedding[i] AS DOUBLE)) AS n2a,
           |    sum(CAST(q.embedding[i] AS DOUBLE) * CAST(q.embedding[i] AS DOUBLE)) AS n2b
           |  FROM embeddings e, embeddings q,
           |       UNNEST(range(1, $d + 1)) t(i)
           |  WHERE q.vec_id < 4 AND e.vec_id <> q.vec_id
           |  GROUP BY e.vec_id, q.vec_id),
           |ta$d AS (
           |  SELECT qid, cid FROM (
           |    SELECT qid, cid,
           |      row_number() OVER (PARTITION BY qid
           |                         ORDER BY round(dot / (sqrt(n2a) * sqrt(n2b)), 4) DESC,
           |                                  cid ASC) AS rn
           |    FROM ts$d) WHERE rn <= 3),
           |th$d AS (
           |  SELECT CAST(sum(CASE WHEN b.vec_id IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS hits
           |  FROM ta$d a LEFT JOIN bf b ON a.qid = b.qid AND a.cid = b.vec_id)""".stripMargin
      }.mkString(",\n")
      val rows = DimSweepDs.map { d =>
        s"""SELECT $d AS dims,
           |  round(hits / CAST(12.0 AS DOUBLE), 6) AS mean_recall_at_3
           |FROM th$d""".stripMargin
      }.mkString("\nUNION ALL\n")
      s"""WITH qs AS (SELECT vec_id AS qid, embedding AS qe FROM embeddings WHERE vec_id < 4),
         |bs AS (
         |  SELECT qs.qid, e.vec_id,
         |    sum(CAST(e.embedding[i] AS DOUBLE) * CAST(qs.qe[i] AS DOUBLE)) AS dot,
         |    sum(CAST(e.embedding[i] AS DOUBLE) * CAST(e.embedding[i] AS DOUBLE)) AS n2a,
         |    sum(CAST(qs.qe[i] AS DOUBLE) * CAST(qs.qe[i] AS DOUBLE)) AS n2b
         |  FROM embeddings e, qs, UNNEST(range(1, len(e.embedding) + 1)) t(i)
         |  WHERE e.vec_id <> qs.qid
         |  GROUP BY qs.qid, e.vec_id),
         |bf AS (
         |  SELECT qid, vec_id FROM (
         |    SELECT qid, vec_id,
         |      row_number() OVER (PARTITION BY qid
         |                         ORDER BY round(dot / (sqrt(n2a) * sqrt(n2b)), 4) DESC,
         |                                  vec_id ASC) AS rn
         |    FROM bs) WHERE rn <= 3),
         |$blocks
         |$rows
         |ORDER BY dims""".stripMargin
    },
    "sim_pq_trained_recall" ->
      s"""WITH ans AS (SELECT qid, vec_id FROM ($pqTrainedSql)),
         |qs AS (SELECT vec_id AS qid, embedding AS qe FROM embeddings WHERE vec_id < 4),
         |bs AS (
         |  SELECT qs.qid, e.vec_id,
         |    sum(CAST(e.embedding[i] AS DOUBLE) * CAST(qs.qe[i] AS DOUBLE)) AS dot,
         |    sum(CAST(e.embedding[i] AS DOUBLE) * CAST(e.embedding[i] AS DOUBLE)) AS n2a,
         |    sum(CAST(qs.qe[i] AS DOUBLE) * CAST(qs.qe[i] AS DOUBLE)) AS n2b
         |  FROM embeddings e, qs, UNNEST(range(1, len(e.embedding) + 1)) t(i)
         |  WHERE e.vec_id <> qs.qid
         |  GROUP BY qs.qid, e.vec_id),
         |bf AS (
         |  SELECT qid, vec_id FROM (
         |    SELECT qid, vec_id,
         |      row_number() OVER (PARTITION BY qid
         |                         ORDER BY round(dot / (sqrt(n2a) * sqrt(n2b)), 4) DESC,
         |                                  vec_id ASC) AS rn
         |    FROM bs) WHERE rn <= 3),
         |h AS (
         |  SELECT a.qid,
         |    CAST(sum(CASE WHEN b.vec_id IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS h
         |  FROM ans a LEFT JOIN bf b ON a.qid = b.qid AND a.vec_id = b.vec_id
         |  GROUP BY a.qid)
         |SELECT q.qid, COALESCE(h.h, CAST(0 AS BIGINT)) AS n_hits,
         |       COALESCE(h.h, CAST(0 AS BIGINT)) / 3.0 AS recall_at_3
         |FROM (SELECT vec_id AS qid FROM embeddings WHERE vec_id < 4) q
         |LEFT JOIN h ON q.qid = h.qid
         |ORDER BY q.qid""".stripMargin,
    "sim_trunc_topk" -> truncTopKSql,
    "sim_rerank" -> rerankTopKSql,
    "sim_rerank_recall" ->
      s"""WITH ans AS ($rerankTopKSql),
         |qs AS (SELECT vec_id AS qid, embedding AS qe FROM embeddings WHERE vec_id < 4),
         |bs AS (
         |  SELECT qs.qid, e.vec_id,
         |    sum(CAST(e.embedding[i] AS DOUBLE) * CAST(qs.qe[i] AS DOUBLE)) AS dot,
         |    sum(CAST(e.embedding[i] AS DOUBLE) * CAST(e.embedding[i] AS DOUBLE)) AS n2a,
         |    sum(CAST(qs.qe[i] AS DOUBLE) * CAST(qs.qe[i] AS DOUBLE)) AS n2b
         |  FROM embeddings e, qs, UNNEST(range(1, len(e.embedding) + 1)) t(i)
         |  WHERE e.vec_id <> qs.qid
         |  GROUP BY qs.qid, e.vec_id),
         |bf AS (
         |  SELECT qid, vec_id FROM (
         |    SELECT qid, vec_id,
         |      row_number() OVER (PARTITION BY qid
         |                         ORDER BY round(dot / (sqrt(n2a) * sqrt(n2b)), 4) DESC,
         |                                  vec_id ASC) AS rn
         |    FROM bs)
         |  WHERE rn <= 3),
         |h AS (
         |  SELECT a.qid,
         |    CAST(sum(CASE WHEN b.vec_id IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS h
         |  FROM ans a LEFT JOIN bf b ON a.qid = b.qid AND a.vec_id = b.vec_id
         |  GROUP BY a.qid)
         |SELECT q.qid, COALESCE(h.h, CAST(0 AS BIGINT)) AS n_hits,
         |       COALESCE(h.h, CAST(0 AS BIGINT)) / 3.0 AS recall_at_3
         |FROM (SELECT vec_id AS qid FROM embeddings WHERE vec_id < 4) q
         |LEFT JOIN h ON q.qid = h.qid
         |ORDER BY q.qid""".stripMargin,
    "sim_trunc_recall" ->
      s"""WITH ans AS ($truncTopKSql),
         |qs AS (SELECT vec_id AS qid, embedding AS qe FROM embeddings WHERE vec_id < 4),
         |bs AS (
         |  SELECT qs.qid, e.vec_id,
         |    sum(CAST(e.embedding[i] AS DOUBLE) * CAST(qs.qe[i] AS DOUBLE)) AS dot,
         |    sum(CAST(e.embedding[i] AS DOUBLE) * CAST(e.embedding[i] AS DOUBLE)) AS n2a,
         |    sum(CAST(qs.qe[i] AS DOUBLE) * CAST(qs.qe[i] AS DOUBLE)) AS n2b
         |  FROM embeddings e, qs, UNNEST(range(1, len(e.embedding) + 1)) t(i)
         |  WHERE e.vec_id <> qs.qid
         |  GROUP BY qs.qid, e.vec_id),
         |bf AS (
         |  SELECT qid, vec_id FROM (
         |    SELECT qid, vec_id,
         |      row_number() OVER (PARTITION BY qid
         |                         ORDER BY round(dot / (sqrt(n2a) * sqrt(n2b)), 4) DESC,
         |                                  vec_id ASC) AS rn
         |    FROM bs)
         |  WHERE rn <= 3),
         |h AS (
         |  SELECT a.qid,
         |    CAST(sum(CASE WHEN b.vec_id IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS h
         |  FROM ans a LEFT JOIN bf b ON a.qid = b.qid AND a.vec_id = b.vec_id
         |  GROUP BY a.qid)
         |SELECT q.qid, COALESCE(h.h, CAST(0 AS BIGINT)) AS n_hits,
         |       COALESCE(h.h, CAST(0 AS BIGINT)) / 3.0 AS recall_at_3
         |FROM (SELECT vec_id AS qid FROM embeddings WHERE vec_id < 4) q
         |LEFT JOIN h ON q.qid = h.qid
         |ORDER BY q.qid""".stripMargin,
    "sim_ivf_multiprobe" ->
      s"""$cellDistSql,
         |mind AS (SELECT vec_id, min(dist) AS md FROM dists GROUP BY vec_id),
         |assign AS (
         |  SELECT d.vec_id, min(d.c_label) AS cell
         |  FROM dists d JOIN mind m ON d.vec_id = m.vec_id AND d.dist = m.md
         |  GROUP BY d.vec_id),
         |probe AS (
         |  SELECT vec_id, c_label AS cell,
         |    row_number() OVER (PARTITION BY vec_id ORDER BY dist ASC, c_label ASC) AS rk
         |  FROM dists),
         |corpus AS (
         |  SELECT e.vec_id, e.embedding, a.cell
         |  FROM embeddings e JOIN assign a USING (vec_id)),
         |q AS (SELECT p.vec_id AS qid, e.embedding AS qe, p.cell AS qcell
         |      FROM probe p JOIN embeddings e USING (vec_id)
         |      WHERE p.vec_id < 4 AND p.rk <= $MultiprobeProbes),
         |s AS (
         |  SELECT q.qid, c.vec_id,
         |    sum(CAST(c.embedding[i] AS DOUBLE) * CAST(q.qe[i] AS DOUBLE)) AS dot,
         |    sum(CAST(c.embedding[i] AS DOUBLE) * CAST(c.embedding[i] AS DOUBLE)) AS n2a,
         |    sum(CAST(q.qe[i] AS DOUBLE) * CAST(q.qe[i] AS DOUBLE)) AS n2b
         |  FROM corpus c JOIN q ON c.cell = q.qcell AND c.vec_id <> q.qid,
         |       UNNEST(range(1, len(c.embedding) + 1)) t(i)
         |  GROUP BY q.qid, c.vec_id),
         |r AS (
         |  SELECT qid, vec_id, round(dot / (sqrt(n2a) * sqrt(n2b)), 4) AS cos_r,
         |    row_number() OVER (PARTITION BY qid
         |                       ORDER BY round(dot / (sqrt(n2a) * sqrt(n2b)), 4) DESC,
         |                                vec_id ASC) AS rn
         |  FROM s)
         |SELECT qid, vec_id, cos_r, rn FROM r WHERE rn <= 3 ORDER BY qid, rn""".stripMargin,
    "sim_recall_eval" ->
      s"""WITH ivf AS ($ivfTopKSql),
         |qs AS (SELECT vec_id AS qid, embedding AS qe FROM embeddings WHERE vec_id < 4),
         |bs AS (
         |  SELECT qs.qid, e.vec_id,
         |    sum(CAST(e.embedding[i] AS DOUBLE) * CAST(qs.qe[i] AS DOUBLE)) AS dot,
         |    sum(CAST(e.embedding[i] AS DOUBLE) * CAST(e.embedding[i] AS DOUBLE)) AS n2a,
         |    sum(CAST(qs.qe[i] AS DOUBLE) * CAST(qs.qe[i] AS DOUBLE)) AS n2b
         |  FROM embeddings e, qs, UNNEST(range(1, len(e.embedding) + 1)) t(i)
         |  WHERE e.vec_id <> qs.qid
         |  GROUP BY qs.qid, e.vec_id),
         |bf AS (
         |  SELECT qid, vec_id FROM (
         |    SELECT qid, vec_id,
         |      row_number() OVER (PARTITION BY qid
         |                         ORDER BY round(dot / (sqrt(n2a) * sqrt(n2b)), 4) DESC,
         |                                  vec_id ASC) AS rn
         |    FROM bs)
         |  WHERE rn <= 3),
         |h AS (
         |  SELECT i.qid,
         |    CAST(sum(CASE WHEN b.vec_id IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS h
         |  FROM ivf i LEFT JOIN bf b ON i.qid = b.qid AND i.vec_id = b.vec_id
         |  GROUP BY i.qid)
         |SELECT q.qid, COALESCE(h.h, CAST(0 AS BIGINT)) AS n_hits,
         |       COALESCE(h.h, CAST(0 AS BIGINT)) / 3.0 AS recall_at_3
         |FROM (SELECT vec_id AS qid FROM embeddings WHERE vec_id < 4) q
         |LEFT JOIN h ON q.qid = h.qid
         |ORDER BY q.qid""".stripMargin,
    "sim_centroids" ->
      """SELECT label, CAST(i - 1 AS INTEGER) AS dim,
        |  CAST(sum(CAST(CAST(embedding[i] AS VARCHAR) AS DECIMAL(38,30))) AS DOUBLE) / count(*) AS avg_v
        |FROM embeddings, UNNEST(range(1, len(embedding) + 1)) t(i)
        |GROUP BY label, i ORDER BY label, dim""".stripMargin,
    "sim_kmeans_iter" ->
      s"""$kmeansNextCtes
         |SELECT cell, dim, n_members, cq FROM knext
         |ORDER BY cell, dim""".stripMargin,
    "sim_kmeans_run" -> kmeansRunSql,
    "sim_centroid_shift" ->
      s"""$kmeansNextCtes
         |SELECT knext.cell,
         |  CAST(sum((knext.cq - cent.cq) * (knext.cq - cent.cq)) AS BIGINT) AS shift_sq,
         |  count(*) AS n_dims
         |FROM knext JOIN cent ON cent.c_label = knext.cell AND cent.dim = knext.dim
         |GROUP BY knext.cell ORDER BY knext.cell""".stripMargin,
    "sim_pca_run" -> pcaRunSql,
    "sim_pca_power" ->
      s"""WITH xq AS (
         |  SELECT vec_id, CAST(i - 1 AS INTEGER) AS dim,
         |    CAST(floor(CAST(embedding[i] AS DOUBLE) * $PowerScale) AS BIGINT) AS q
         |  FROM embeddings, UNNEST(range(1, len(embedding) + 1)) t(i)),
         |dots AS (SELECT vec_id, CAST(sum(q) AS BIGINT) AS dv FROM xq GROUP BY vec_id),
         |acc AS (
         |  SELECT dim, CAST(sum(q * dv) AS BIGINT) AS acc
         |  FROM xq JOIN dots USING (vec_id) GROUP BY dim),
         |g AS (SELECT max(abs(acc)) AS gmax FROM acc)
         |SELECT dim, acc,
         |  CAST((CASE WHEN acc < 0 THEN -1 ELSE 1 END) *
         |    ((abs(acc) * $PowerScale) // gmax) AS BIGINT) AS v_next
         |FROM acc, g ORDER BY dim""".stripMargin)
}
