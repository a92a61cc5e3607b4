package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Scale soaks: each probe runs registered bodies a decade or more past
  * the largest driver fixture, and every scale's result is REQUIRED to
  * match a closed form before its timing counts — a soak that silently
  * drops work would otherwise report a flattering trend.
  *
  * `runMain graft.Soak [probe…]` runs the named probes (all, in table
  * order, when none is named) on one `local[SPARK_GRAFT_CPUS]` session.
  * Each timed body is a warm min-of-2 through the shared
  * [[TaskBytesListener.measure]] bracket. Each probe prints one JSON line:
  * a cell `"<query>_<scale>":{"sec","shuffle","input","spill","cpu_ms",…}`
  * per timed query and scale, plus `"ratio_<query>"`, the last scale's
  * seconds over the first's — the number a linear-scaling engine keeps
  * near the scale ratio. Corpora are built once under
  * SPARK_GRAFT_SOAK_DIR (default /tmp/graft_soak); `topk_spill` reads the
  * scale-factor dir SPARK_GRAFT_SF_DIR (default: the sf0.1 test data).
  */
object Soak {

  /** One timed query at one scale: min-of-2 seconds, that run's task
    * counters, and the probe's own per-cell fields. */
  final case class Cell(query: String, sec: Double, io: IoBytes,
      fields: Seq[(String, Any)] = Nil)

  /** One scale of one probe run: the session, the scale `n`, the probe's
    * base directory, and the shared bracket its timed bodies go through. */
  final class At private[Soak] (val spark: SparkSession, val n: Long,
      val base: String, bytes: TaskBytesListener) {

    /** `base/name`, built once by `write(tmp)` and published atomically
      * ([[graft.similarity.IndexStore.buildOnce]]); corpus generation is
      * deterministic, so a completed build is reused. */
    def corpus(name: String)(write: String => Unit): String =
      graft.similarity.IndexStore.buildOnce(s"$base/$name")(write)

    /** One run of `body` through the bracket. */
    def once(query: String, fields: (String, Any)*)(body: => Any): Cell = {
      val (_, sec, io) = bytes.measure(body)
      Cell(query, sec, io, fields)
    }

    /** Warm min-of-2 of `body`: the faster run's seconds and counters. */
    def timed(query: String, fields: (String, Any)*)(body: => Any): Cell =
      Seq(once(query, fields: _*)(body), once(query, fields: _*)(body)).minBy(_.sec)
  }

  /** A probe: its scales, the base directory its corpora live under, the
    * label a scale carries in a cell key, and its body — the gates and
    * timed bodies of one scale. */
  final case class Probe(name: String, scales: Seq[Long], base: String = SoakDir,
      label: Long => String = n => s"n$n")(val body: At => Seq[Cell])

  private val SoakDir = sys.env.getOrElse("SPARK_GRAFT_SOAK_DIR", "/tmp/graft_soak")

  /** Generous bound on `stream_decade`'s end-state rows: open windows (≤ 2
    * hours × 4 types) plus per-partition watermark/metadata slack — far
    * under the thousands a non-evicting regression would leave. */
  val StateCap = 64L

  private def noop(df: DataFrame): Unit =
    df.write.format("noop").mode("overwrite").save()

  val probes: Seq[Probe] = Seq(

    /** The full fuzzy-dedup pipeline — MinHash signatures → banded LSH
      * buckets → capped candidate self-join → iterative min-label
      * propagation with pointer jumping ([[graft.dedup.Dedup.components]])
      * — on [[graft.ingest.DocCorpus]] corpora at 1×/3×/10× the sf0.1
      * document count, rounded up to the planted-cluster period (32). */
    Probe("graph_decade", Seq(5120L, 15360L, 51200L)) { at =>
      import at._
      val dir = corpus(s"docs_$n")(graft.ingest.DocCorpus.write(spark, _, n))
      // census gate: n/32 clusters, all of size 4, covering n/8 docs
      val census = graft.dedup.Dedup.components(spark, dir)
        .selectExpr("count(*) AS clusters",
          "CAST(sum(n_docs) AS BIGINT) AS docs",
          "min(n_docs) AS lo", "max(n_docs) AS hi")
        .head()
      require(census.getLong(0) == n / 32 && census.getLong(1) == n / 8 &&
          census.getLong(2) == 4 && census.getLong(3) == 4,
        s"n=$n planted census violated: $census (want ${n / 32} clusters of 4)")
      Seq(timed("dedup_components")(noop(graft.dedup.Dedup.components(spark, dir))))
    },

    /** The full train-and-query IVF pipeline — exact-DECIMAL k-means to
      * convergence, quantized cell assignment of every vector,
      * cell-bucketed cosine retrieval through the bounded-heap
      * [[graft.plans.TopKPerGroup]] — on [[graft.ingest.HighDimCorpus]]
      * corpora at 1×/10×/100× the sf0.1 embedding count (64-dim), TWO
      * decades past the largest driver fixture. */
    Probe("ann_decades", Seq(2000L, 20000L, 200000L)) { at =>
      import at._
      import graft.similarity.Similarity
      val dir = corpus(s"ann_$n")(
        graft.ingest.HighDimCorpus.write(spark, _, n, d = 64, labels = 8))
      // the planted-label gate: HighDimCorpus clusters are separable by an
      // aggregate margin, so every retrieved neighbor must carry its
      // query's label (vec_id ≡ qid mod labels) — a closed-form census
      val got = Similarity.ivfTrainedTopK(spark, dir)
        .select("qid", "vec_id").collect()
        .map(r => (r.getLong(0), r.getLong(1)))
      require(got.length == 12, s"n=$n: want 4 queries x top-3, got ${got.length}")
      require(got.forall { case (q, v) => q % 8 == v % 8 },
        s"n=$n: planted-label gate violated: ${got.filter(p => p._1 % 8 != p._2 % 8).toSeq}")

      // brute-force recall@3 for the same 4 queries over the FULL corpus
      // (4×n broadcast scores — cheap at any n), required not to regress
      // below 2/3: the planted geometry puts the true neighbors in the
      // query's cell, so a trained quantizer that loses them has diverged
      val emb = Tables(spark, dir, "embeddings").select(col("vec_id"), col("embedding"))
      val q = emb.filter(col("vec_id") < 4)
        .select(col("vec_id").as("qid"), col("embedding").as("qe"))
      val scored = emb.crossJoin(broadcast(q))
        .filter(col("vec_id") =!= col("qid"))
        .select(col("qid"), col("vec_id"),
          round(graft.functions.VectorOps.cosine("embedding", "qe"), 4).as("cos_r"))
      val truth = graft.plans.TopK.perGroup(scored, Seq("qid"),
          Seq(("cos_r", false), ("vec_id", true)), 3)
        .select("qid", "vec_id").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
      val recall = got.count(truth.contains).toDouble / truth.size
      require(recall >= 2.0 / 3.0, s"n=$n: recall@3 $recall below 2/3")
      Seq(timed("sim_ivf_trained", "recall" -> recall)(
        noop(Similarity.ivfTrainedTopK(spark, dir))))
    },

    /** The custom join tiers — the as-of merge ([[graft.plans.AsOf]]) and
      * the interval plane sweep ([[graft.plans.Interval]]) — TWO DECADES
      * past the sf0.1 event count, n rows per side, on closed-form frames
      * generated from `spark.range` (no files, no RNG), next to the same
      * as-of in the built-in union+window spelling.
      *
      * Construction (U = n/100 users, k = row div U):
      *  - as-of: purchases at t = 100k + 10, clicks at t = 100k per user —
      *    every left matches its own k's click, gap exactly 10, so the
      *    gate is `count = n AND sum(gap) = 10n` (any dropped row,
      *    wrong-side match, or tie mishandling breaks an exact integer).
      *  - interval: left windows [100k, 100k+50], right [100k+40, 100k+90]
      *    — exactly one overlap per left of width exactly 10; same gate.
      *
      * Both operators are O(rows) per partition past their one shuffle,
      * so the 100× ratio is the number that would expose any accidental
      * per-key quadratic term (the failure mode these execs exist to
      * avoid); the built-in spelling, gated by the identical closed form,
      * makes the merge exec's O(|L|+|R|) claim a measured line against
      * the composition it replaces. */
    Probe("join_decades", Seq(100000L, 1000000L, 10000000L)) { at =>
      import at._
      val u = n / 100
      def leftAsof = spark.range(n).select(
        (col("id") % u).as("lu"), col("id").as("lid"),
        (expr(s"id div $u") * 100 + 10).as("lt"))
      def rightAsof = spark.range(n).select(
        (col("id") % u).as("ru"), col("id").as("rid"),
        (expr(s"id div $u") * 100).as("rt"))
      def asof = graft.plans.AsOf.join(leftAsof, rightAsof,
        Seq("lu" -> "ru"), "lt", "rt")
      // the BUILT-IN spelling of the same as-of (rel_asof_join's shape):
      // tag + union both sides, per-key window sort by (t, side) with
      // rights first on ties, carry the last right forward, keep lefts
      def builtinAsof = {
        import org.apache.spark.sql.expressions.Window
        val tagged = rightAsof.select(col("ru").as("u"), col("rt").as("t"),
            lit(0).as("is_l"), lit(null).cast("long").as("lid"),
            col("rid"), col("rt").as("r_t"))
          .unionAll(leftAsof.select(col("lu").as("u"), col("lt").as("t"),
            lit(1).as("is_l"), col("lid"),
            lit(null).cast("long").as("rid"),
            lit(null).cast("long").as("r_t")))
        val carry = Window.partitionBy("u")
          .orderBy(asc("t"), asc("is_l"), asc("lid"))
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        tagged
          .withColumn("m_rid", last(col("rid"), ignoreNulls = true).over(carry))
          .withColumn("m_rt", last(col("r_t"), ignoreNulls = true).over(carry))
          .filter(col("is_l") === 1)
          .select(col("u"), col("lid"), col("t").as("lt"),
            col("m_rid").as("rid"), col("m_rt").as("rt"))
      }
      def leftIvl = spark.range(n).select(
        (col("id") % u).as("lu"), col("id").as("lid"),
        (expr(s"id div $u") * 100).as("ls"),
        (expr(s"id div $u") * 100 + 50).as("le"))
      def rightIvl = spark.range(n).select(
        (col("id") % u).as("ru"), col("id").as("rid"),
        (expr(s"id div $u") * 100 + 40).as("rs"),
        (expr(s"id div $u") * 100 + 90).as("re"))
      def ivl = graft.plans.Interval.join(leftIvl, rightIvl,
        Seq("lu" -> "ru"), ("ls", "le"), ("rs", "re"))
      // ---- closed-form gates BEFORE timing counts (all three spellings) ----
      def gateAsof(df: DataFrame, what: String): Unit = {
        val g = df.agg(count(lit(1)).as("c"),
          count(col("rid")).as("m"), sum(col("lt") - col("rt")).as("g")).head()
        require(g.getLong(0) == n && g.getLong(1) == n && g.getLong(2) == 10L * n,
          s"$what gate violated at n=$n: $g (want $n, $n, ${10L * n})")
      }
      gateAsof(asof, "asof")
      gateAsof(builtinAsof, "builtin asof")
      val iGate = ivl.agg(count(lit(1)).as("c"),
        sum(least(col("le"), col("re")) - greatest(col("ls"), col("rs"))).as("g")).head()
      require(iGate.getLong(0) == n && iGate.getLong(1) == 10L * n,
        s"interval gate violated at n=$n: $iGate (want $n, ${10L * n})")
      Seq(timed("asof")(noop(asof)), timed("builtin_asof")(noop(builtinAsof)),
        timed("ivl")(noop(ivl)))
    },

    /** The top-shuffle market-basket graph miners — `rel_copurchase_pairs`,
      * `rel_triangles`, `rel_reachability`, the three largest shuffle
      * movers of the sf0.1 bench — at 1×/3×/10× the sf0.1 lineitem row
      * count on [[graft.ingest.BasketCorpus]] corpora with a PLANTED
      * chain-of-K4-cliques co-purchase graph. The growth of wedge and pair
      * volume is the super-linearity this probe exists to expose, and the
      * cells' bytes name it load-invariantly. Scales are clique groups:
      * BasketCorpus emits ~38 lineitem rows per group, so ~0.6M / 1.8M /
      * 6.1M rows against sf0.1's ~600k. */
    Probe("basket_decade", Seq(16000L, 48000L, 160000L)) { at =>
      import at._
      import graft.queries.RelationalQueries
      val dir = corpus(s"baskets_$n")(graft.ingest.BasketCorpus.write(spark, _, n))
      // ---- closed-form gates BEFORE timing counts ----
      val tri = RelationalQueries.triangles(spark, dir).head()
      require(tri.getLong(0) == 4 * n && tri.getLong(1) == 7 * n - 1 &&
          tri.getLong(2) == 4 * n,
        s"groups=$n triangle census violated: $tri " +
          s"(want ${4 * n}, ${7 * n - 1}, ${4 * n})")
      val bfs = RelationalQueries.reachability(spark, dir).collect()
        .map(r => (r.getInt(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSeq
      val wantBfs = graft.ingest.BasketCorpus.expectedBfs(n, RelationalQueries.ReachMaxHops)
      require(bfs == wantBfs, s"groups=$n BFS histogram violated: got $bfs want $wantBfs")
      val pairs = RelationalQueries.copurchasePairs(spark, dir).collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
      val wantPairs = graft.ingest.BasketCorpus.expectedTopPairs(n, 20)
      require(pairs == wantPairs,
        s"groups=$n top pairs violated: got $pairs want $wantPairs")
      Seq(
        timed("rel_copurchase_pairs")(noop(RelationalQueries.copurchasePairs(spark, dir))),
        timed("rel_triangles")(noop(RelationalQueries.triangles(spark, dir))),
        timed("rel_reachability")(noop(RelationalQueries.reachability(spark, dir))))
    },

    /** The registered watermarked append aggregate (`stream_hourly_append`
      * — [[graft.streaming.StreamingOps.hourlyAppend]], the canonical
      * bounded-state shape) at 1×/3×/10× the sf0.1 event count (100k),
      * rounded to whole hours (30 / 90 / 300), on
      * [[graft.ingest.EventCorpus]] corpora. */
    Probe("stream_decade", Seq(108000L, 324000L, 1080000L)) { at =>
      import at._
      import graft.streaming.StreamingOps
      val dir = corpus(s"events_$n")(graft.ingest.EventCorpus.write(spark, _, n))
      val hours = n / 3600
      // CORRECTNESS: exactly 4·(H−1) emitted window rows, every one with
      // cnt = 900 and sum_val = 900.0 (the planted census)
      val gate = StreamingOps.hourlyAppend(spark, dir).collect()
      require(gate.length == 4 * (hours - 1),
        s"n=$n emitted ${gate.length} rows, want ${4 * (hours - 1)}")
      gate.foreach { r =>
        require(r.getAs[Long]("cnt") == 900L && r.getAs[Double]("sum_val") == 900.0,
          s"n=$n planted census violated: $r")
      }
      // BOUNDED STATE: the final progress entry's total state rows must NOT
      // grow with the input — it is the open-window set, the property that
      // makes a 100 TB stream runnable at all; a watermark regression that
      // stops evicting closed windows fails here long before it fails a
      // cluster
      val stateRows = StreamingOps.lastRun.stateRows
      require(stateRows >= 0 && stateRows <= StateCap,
        s"n=$n end-state rows $stateRows exceed the bounded-state cap $StateCap " +
          "(closed windows are not being evicted)")
      Seq(timed("stream_hourly_append", "rows" -> gate.length, "state_rows" -> stateRows)(
        StreamingOps.hourlyAppend(spark, dir).collect()))
    },

    /** The TEXT family's two scale stories: the suite's top wall-cost query
      * (`text_bpe_encode` — driver-loop merge rounds × a full-stream
      * literal rewrite per round) and its top shuffle movers
      * (`text_dup_spans` / `text_dup_coverage` — explode-to-grams, grouped
      * distinct-doc census, bounded equi-join back), on closed-form
      * corpora generated from `spark.range` (no files, no RNG). The
      * frames drive the SAME bodies the registered queries run
      * ([[graft.text.TextAnalysis.dupSpansFrom]] /
      * [[graft.text.TextAnalysis.dupCoverageFrom]] /
      * [[graft.text.TextAnalysis.bpeEncodeFrom]]), so the probe prices the
      * registered plans, not a stand-in. The scale is the span corpus's
      * doc count, ~1×/3×/10× sf0.1's gram volume; the BPE corpus has 8n/5
      * docs of 5 tokens each. */
    Probe("text_decade", Seq(25000L, 75000L, 250000L)) { at =>
      import at._
      import graft.text.TextAnalysis
      // SPAN corpus: every doc is 40 words, globally unique per doc, except
      // an 8-word span planted word-aligned in every 10th doc
      val W = 40
      val spanAt = 16
      val n8 = TextAnalysis.DupSpanN
      def spans: DataFrame = spark.range(n).select(
        col("id").as("doc_id"),
        concat_ws(" ", (0 until W).map { j =>
          if (j >= spanAt && j < spanAt + n8)
            when(col("id") % 10 === 0, lit(s"p${j - spanAt}"))
              .otherwise(concat(lit("u"), col("id"), lit(s"_$j")))
          else concat(lit("u"), col("id"), lit(s"_$j"))
        }: _*).as("text"))
      val plantedGram = (0 until n8).map(j => s"p$j").mkString(" ")
      val gramsPerDoc = W - n8 + 1 // 33
      // ---- closed-form gates BEFORE timing counts ----
      // the census must return EXACTLY one duplicated gram with reach
      // n/10, and coverage must count exactly one duplicated gram per
      // planted doc over 33 grams each (any off-by-one in the window
      // transform, a lost doc in the distinct count, or a phantom pair
      // breaks an exact integer)
      val census = TextAnalysis.dupSpansFrom(spans).collect()
      require(census.length == 1, s"n=$n: want exactly 1 duplicated gram, " +
        s"got ${census.length}")
      val c = census.head
      require(c.getString(0) == plantedGram && c.getLong(1) == n / 10 &&
          c.getLong(2) == n / 10,
        s"n=$n census violated: $c (want reach ${n / 10})")
      val cov = TextAnalysis.dupCoverageFrom(spans)
        .agg(count(lit(1)), sum("n_grams"), sum("n_dup")).head()
      require(cov.getLong(0) == n && cov.getLong(1) == gramsPerDoc * n &&
          cov.getLong(2) == n / 10,
        s"n=$n coverage violated: $cov (want $n, ${gramsPerDoc * n}, ${n / 10})")
      // BPE corpus: five "abab" tokens per doc — round 1 merges (a,b)
      // (count 10m vs (b,a) 5m), round 2 merges (ab,ab), round 3 finds NO
      // pairs and exits through the exhaustion path with a round to spare,
      // so every doc encodes to exactly 5 BPE tokens over 20 chars
      val BpeRounds = 4
      val m = n * 8 / 5
      def bpe: DataFrame = spark.range(m * 5).select(
        (col("id") % m).as("doc_id"), lit("abab").as("token"))
      val enc = TextAnalysis.bpeEncodeFrom(bpe, BpeRounds)
        .agg(count(lit(1)), sum("n_chars"), sum("n_bpe")).head()
      require(enc.getLong(0) == m && enc.getLong(1) == 20L * m &&
          enc.getLong(2) == 5L * m,
        s"m=$m bpe trajectory violated: $enc (want $m, ${20L * m}, ${5L * m})")
      Seq(timed("text_dup_spans")(noop(TextAnalysis.dupSpansFrom(spans))),
        timed("text_dup_coverage")(noop(TextAnalysis.dupCoverageFrom(spans))),
        timed("text_bpe_encode")(noop(TextAnalysis.bpeEncodeFrom(bpe, BpeRounds))))
    },

    /** The CATALOG TABLE's maintenance claims: every DML face promises cost
      * proportional to the FILES IT TOUCHES, never to table size — the
      * difference between a usable and an unusable table format at 100 TB.
      * Tables of 1×/3×/10× rows (2/6/20 commits, ~32 task files each) run
      * the same fixed-size operations at every scale:
      *
      *  - `cat_append`: INSERT INTO of a fixed 100k batch — staged files +
      *    one manifest commit; table size must not matter;
      *  - `cat_update_tail`: SQL UPDATE of the fixed 50k-id tail — the COW
      *    scan's pushed range prunes every earlier commit's files by
      *    manifest stats, so input bytes stay FLAT across the decade;
      *  - `cat_merge_tail`: MERGE with a fixed 50k-row source overlapping
      *    the tail — no static predicate exists, so flatness here is the
      *    RUNTIME GROUP FILTER working (matching `_file`s computed at run
      *    time, match-free files carried by reference);
      *  - `cat_changes_tail`: net CHANGE FEED of the fixed 50k-row tail
      *    update ([[graft.sources.GraftChangeFeed]]) — a manifest diff
      *    read at O(files the commit rewrote);
      *  - `cat_scan_slice`: aggregate over the fixed first-100k-id slice —
      *    planning-time file skipping; input bytes flat;
      *  - `cat_full_scan`: the deliberate linear CONTRAST — if this didn't
      *    grow ~10× per decade while the others stay flat, the probe would
      *    be measuring noise, not design;
      *  - `cat_delete_{cow,dv}`: the COW-vs-DV delete head-to-head, with
      *    pool bytes written per mode and `wDv < wCow` gated. */
    Probe("catalog_decade", Seq(200000L, 600000L, 2000000L)) { at =>
      import at._
      val root = TempDirs.create("graft-soak-cat")
      val cat = s"soak_cat_n$n"
      spark.conf.set(s"spark.sql.catalog.$cat", "graft.sources.GraftCatalog")
      spark.conf.set(s"spark.sql.catalog.$cat.root", root.toString)
      val t = s"$cat.t"
      def rowsSql(lo: Long, hi: Long): String =
        s"""SELECT id, CAST(id % 16 AS INT) AS bucket,
           |  CAST(id % 1000 AS DOUBLE) / 1000.0 AS score
           |FROM range($lo, $hi)""".stripMargin
      val Batch = 100000L
      spark.sql(s"CREATE TABLE $t (id BIGINT, bucket INT, score DOUBLE)")
      var lo = 0L
      while (lo < n) {
        spark.sql(s"INSERT INTO $t ${rowsSql(lo, lo + Batch)}")
        lo += Batch
      }
      // ---- closed-form gates BEFORE timing counts ----
      val initial = spark.sql(
        s"SELECT count(*) AS n, CAST(sum(id) AS BIGINT) AS s FROM $t").head()
      require(initial.getLong(0) == n && initial.getLong(1) == n * (n - 1) / 2,
        s"n=$n base gate violated: $initial")
      val files = graft.sources.GraftCatalog.currentManifest(root.resolve("t")).size
      // fixed-size slice gate (skipping must not lose a row)
      val slice = spark.sql(
        s"SELECT count(*) AS n FROM $t WHERE id < $Batch").head().getLong(0)
      require(slice == Batch, s"n=$n slice gate violated: $slice")

      // ---- warm min-of-2 timed ops, each run's effect scale-fixed (the
      // state drift is accounted in the end-state gate) ----
      val upd = timed("cat_update_tail", "files" -> files) {
        spark.sql(
          s"UPDATE $t SET score = score + 1.0 WHERE id >= ${n - 50000} AND id < $n")
      }
      // seq of the LAST timed update commit — the change-feed leg reads
      // exactly that commit's net changes
      val updSeq = graft.sources.GraftChangeFeed.currentSeq(root.resolve("t"))
      // ON is pure key equality: only the RUNTIME group filter can save
      // the match-free files here (run 1 matches the 25k tail + inserts
      // 25k; run 2 matches all 50k)
      val mrg = timed("cat_merge_tail", "files" -> files) {
        spark.sql(
          s"""MERGE INTO $t x
             |USING (${rowsSql(n - 25000, n + 25000)}) s
             |ON x.id = s.id
             |WHEN MATCHED THEN UPDATE SET score = s.score
             |WHEN NOT MATCHED THEN INSERT (id, bucket, score) VALUES (s.id, s.bucket, s.score)
             |""".stripMargin)
      }
      var appendAt = n + 25000L // disjoint ids per timed append run
      val app = timed("cat_append", "files" -> files) {
        spark.sql(s"INSERT INTO $t ${rowsSql(appendAt, appendAt + Batch)}")
        appendAt += Batch
      }
      val sli = timed("cat_scan_slice", "files" -> files) {
        spark.sql(
          s"""SELECT CAST(sum(id) AS BIGINT) AS s, count(*) AS n
             |FROM $t WHERE id < $Batch""".stripMargin).collect()
      }
      val ful = timed("cat_full_scan", "files" -> files) {
        spark.sql(s"SELECT CAST(sum(id) AS BIGINT) AS s, count(*) AS n FROM $t")
          .collect()
      }
      // CHANGE FEED of the fixed 50k-row tail update: closed-form gate
      // first — exactly 50k preimages + 50k postimages net (the rewritten
      // files' carried rows cancel)
      val netUpd = graft.sources.GraftChangeFeed.net(
        spark, root.resolve("t").toString, updSeq - 1, updSeq)
      require(netUpd.count() == 100000L,
        s"n=$n change-feed gate violated (want 50k pre + 50k post)")
      val cdc = timed("cat_changes_tail", "files" -> files) {
        netUpd.groupBy("_change_type").count().collect()
      }
      // ---- exact end-state gate: base + 2 timed appends + the merge's
      // 25k inserted ids (second merge run matched them — no doubles) ----
      val end = spark.sql(s"SELECT count(*) AS n FROM $t").head().getLong(0)
      require(end == n + 2 * Batch + 25000L,
        s"n=$n end-state violated: $end vs ${n + 2 * Batch + 25000L}")
      // COW vs DV delete HEAD-TO-HEAD: the same SCATTERED delete
      // (`bucket = 3` — every file holds ~1/16 matches, the shape DVs
      // exist for; a tail delete would just drop whole files in both
      // modes) on two fresh n-row side tables, one per delete mode.
      // Deletes are not idempotent, so these time ONE run (no warm
      // min-of-2); the decisive number is POOL BYTES WRITTEN — COW pays
      // a rewrite of EVERY file (~15/16 of the table), DV pays only the
      // 8-bytes-per-masked-row vectors.
      def poolBytes(name: String): Long = {
        val d = root.resolve(name).resolve("data")
        if (!java.nio.file.Files.isDirectory(d)) 0L
        else {
          val l = java.nio.file.Files.list(d)
          try {
            val it = l.iterator()
            var s = 0L
            while (it.hasNext) s += java.nio.file.Files.size(it.next())
            s
          } finally l.close()
        }
      }
      def deleteProbe(mode: String): (Cell, Long) = {
        val t2 = s"$cat.del_$mode"
        val props =
          if (mode == "dv") " TBLPROPERTIES ('graft.delete.mode' = 'dv')"
          else ""
        spark.sql(s"CREATE TABLE $t2 (id BIGINT, bucket INT, score DOUBLE)$props")
        spark.sql(s"INSERT INTO $t2 ${rowsSql(0L, n)}")
        val matches = spark.sql(
          s"SELECT count(*) AS c FROM $t2 WHERE bucket = 3").head().getLong(0)
        val bytesBefore = poolBytes(s"del_$mode")
        val cell = once(s"cat_delete_$mode")(spark.sql(s"DELETE FROM $t2 WHERE bucket = 3"))
        val written = poolBytes(s"del_$mode") - bytesBefore
        val left = spark.sql(s"SELECT count(*) AS c FROM $t2").head().getLong(0)
        require(left == n - matches, s"delete probe $mode lost rows: $left")
        spark.sql(s"DROP TABLE $t2")
        (cell.copy(fields = Seq("pool_bytes_written" -> written)), written)
      }
      val (cow, wCow) = deleteProbe("cow")
      val (dv, wDv) = deleteProbe("dv")
      require(wDv < wCow, s"dv delete must write less than cow: $wDv vs $wCow bytes")
      Seq(app, upd, mrg, cdc, sli, ful, cow, dv)
    },

    /** The TopKPerGroup DEGRADED path (plans/TopKPerGroup.scala): when
      * per-partition group cardinality exceeds `spark.graft.topk
      * .hashGroupLimit`, the exec abandons the bounded-heap map and hands
      * the partition to the task-memory-managed external sort
      * (GraftSpill). The degradation must be graceful (a bounded constant
      * factor, the cost of sorting what the heap would have filtered), not
      * a cliff. The scale is that budget: the registered
      * `rel_topk_per_group` plan (orders, top-2 per custkey — ~10k
      * distinct keys per state partition at sf0.1, far above any forced
      * budget below) on the heap path (1M), the sort path (64) and the
      * sort path's worst case (2). */
    Probe("topk_spill", Seq(1L << 20, 64L, 2L),
        base = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1"),
        label = b => s"budget$b") { at =>
      import at._
      import graft.queries.RelationalQueries
      val limitKey = "spark.graft.topk.hashGroupLimit"
      def fingerprint(budget: Long): (Long, Long) = {
        spark.conf.set(limitKey, budget.toString)
        val rows = RelationalQueries.topKPerGroup(spark, base)
          .selectExpr("count(*) AS n",
            "CAST(sum(hash(o_custkey, o_orderkey, rn)) AS BIGINT) AS h")
          .head()
        (rows.getLong(0), rows.getLong(1))
      }
      // the heap and sort paths must produce identical results
      val heap = fingerprint(1L << 20)
      val fp = fingerprint(n)
      require(fp == heap, s"budget $n disagrees with the heap path: $fp vs $heap")
      Seq(timed("rel_topk_per_group", "rows" -> fp._1)(
        noop(RelationalQueries.topKPerGroup(spark, base))))
    })

  /** The probes named, in the order named; every probe when none is. */
  def select(names: Seq[String]): Seq[Probe] = {
    val unknown = names.filterNot(n => probes.exists(_.name == n))
    require(unknown.isEmpty, s"unknown probe ${unknown.mkString(", ")}; " +
      s"valid probes: ${probes.map(_.name).mkString(", ")}")
    if (names.isEmpty) probes else names.distinct.map(n => probes.find(_.name == n).get)
  }

  private def num(v: Any): String = v match {
    case d: Double => String.format(java.util.Locale.ROOT, "%.3f", d)
    case other => other.toString
  }

  /** Run probe `name` at `scales` with its corpora (or, for `topk_spill`,
    * its scale-factor dir) under `base`; prints and returns its JSON line.
    * The session's conf is restored afterwards, whatever the probe set. */
  def run(spark: SparkSession, name: String, scales: Seq[Long], base: String): String = {
    val p = select(Seq(name)).head
    val conf = spark.conf.getAll
    val bytes = new TaskBytesListener(spark.sparkContext)
    val results =
      try scales.map(n => p.label(n) -> p.body(new At(spark, n, base, bytes)))
      finally {
        spark.sparkContext.removeSparkListener(bytes)
        spark.conf.getAll.keys.filterNot(conf.contains).foreach(spark.conf.unset)
        conf.foreach { case (k, v) => if (!spark.conf.getOption(k).contains(v)) spark.conf.set(k, v) }
      }
    val cells = results.flatMap { case (label, cs) =>
      cs.map { c =>
        val fields = Seq("sec" -> c.sec, "shuffle" -> c.io.shuffle, "input" -> c.io.input,
          "spill" -> c.io.spill, "cpu_ms" -> c.io.cpuMs) ++ c.fields
        s""""${c.query}_$label":""" +
          fields.map { case (k, v) => s""""$k":${num(v)}""" }.mkString("{", ",", "}")
      }
    }
    val queries = results.flatMap(_._2.map(_.query)).distinct
    val ratios = queries.map { q =>
      val secs = results.flatMap(_._2.filter(_.query == q).map(_.sec))
      s""""ratio_$q":${num(secs.last / secs.head)}"""
    }
    val line = (s""""probe":"$name"""" +: (cells ++ ratios)).mkString("{", ",", "}")
    println(line)
    line
  }

  def main(args: Array[String]): Unit = {
    val chosen =
      try select(args.toSeq)
      catch { case e: IllegalArgumentException =>
        System.err.println(e.getMessage)
        sys.exit(2)
      }
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = Sessions.local(s"local[$cpus]")
    try chosen.foreach(p => run(spark, p.name, p.scales, p.base))
    finally spark.stop()
  }
}
