package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Decade-scale soak for the TEXT family's two scale stories (round 17,
  * VERDICT r16 #5): the suite's top wall-cost query (`text_bpe_encode` —
  * driver-loop merge rounds × a full-stream literal rewrite per round)
  * and its top shuffle movers (`text_dup_spans` / `text_dup_coverage`,
  * ~15 MB at sf0.1 — explode-to-grams, grouped distinct-doc census,
  * bounded equi-join back). Both run at 1×/3×/10× past the sf0.1 volume
  * on closed-form synthetic corpora generated distributedly from
  * `spark.range` (no files, no RNG):
  *
  *  - SPAN corpora: every doc is 40 words, globally unique per doc,
  *    except an 8-word span planted word-aligned in every 10th doc — the
  *    census must return EXACTLY one duplicated gram with reach n/10,
  *    and coverage must count exactly one duplicated gram per planted
  *    doc over 33 grams each (any off-by-one in the window transform,
  *    a lost doc in the distinct count, or a phantom pair breaks an
  *    exact integer);
  *  - BPE corpora: five "abab" tokens per doc — the merge trajectory is
  *    hand-computed ((a,b) then (ab,ab), then EXHAUSTION with rounds
  *    left over, exercising the no-pairs exit), so every doc must
  *    encode to exactly 5 BPE tokens over 20 chars at any scale.
  *
  * Gates run BEFORE timing counts (the SoakBasket discipline); warm
  * min-of-2 seconds plus load-invariant shuffle/input bytes per query
  * per scale ride one JSON line, with each query's 10×/1× ratio
  * (`decade_*`). The frames drive the SAME bodies the registered
  * queries run ([[graft.text.TextAnalysis.dupSpansFrom]] /
  * [[graft.text.TextAnalysis.dupCoverageFrom]] /
  * [[graft.text.TextAnalysis.bpeEncodeFrom]]), so the soak prices the
  * registered plans, not a stand-in. */
object SoakText {
  def main(args: Array[String]): Unit = {
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = Sessions.local(s"local[$cpus]")
    val bytes = new TaskBytesListener
    spark.sparkContext.addSparkListener(bytes)

    import graft.text.TextAnalysis

    def timed(df: => DataFrame): (Double, IoBytes) = {
      def run(): (Double, IoBytes) = {
        Bench.drainListenerBus(spark.sparkContext)
        val before = bytes.snapshot()
        val t0 = System.nanoTime()
        df.write.format("noop").mode("overwrite").save()
        val sec = (System.nanoTime() - t0) / 1e9
        Bench.drainListenerBus(spark.sparkContext)
        val after = bytes.snapshot()
        (sec, IoBytes(after.shuffle - before.shuffle,
          after.spill - before.spill, after.input - before.input,
          after.cpuMs - before.cpuMs))
      }
      val a = run(); val b = run()
      if (a._1 <= b._1) a else b
    }

    // ---- planted dup-span corpora ----
    val W = 40
    val spanAt = 16
    val n8 = TextAnalysis.DupSpanN
    def spanCorpus(n: Long): DataFrame = spark.range(n).select(
      col("id").as("doc_id"),
      concat_ws(" ", (0 until W).map { j =>
        if (j >= spanAt && j < spanAt + n8)
          when(col("id") % 10 === 0, lit(s"p${j - spanAt}"))
            .otherwise(concat(lit("u"), col("id"), lit(s"_$j")))
        else concat(lit("u"), col("id"), lit(s"_$j"))
      }: _*).as("text"))
    val plantedGram = (0 until n8).map(j => s"p$j").mkString(" ")
    val gramsPerDoc = W - n8 + 1 // 33

    // sf0.1 documents ≈ 660k grams' worth of span stream; these are
    // ~1×/3×/10× that gram volume
    val spanScales = Seq(25000L, 75000L, 250000L)
    val spanResults = spanScales.flatMap { n =>
      val docs = spanCorpus(n)
      // ---- closed-form gates BEFORE timing counts ----
      val census = TextAnalysis.dupSpansFrom(docs).collect()
      require(census.length == 1, s"n=$n: want exactly 1 duplicated gram, " +
        s"got ${census.length}")
      val c = census.head
      require(c.getString(0) == plantedGram && c.getLong(1) == n / 10 &&
          c.getLong(2) == n / 10,
        s"n=$n census violated: $c (want reach ${n / 10})")
      val cov = TextAnalysis.dupCoverageFrom(docs)
        .agg(count(lit(1)), sum("n_grams"), sum("n_dup")).head()
      require(cov.getLong(0) == n && cov.getLong(1) == gramsPerDoc * n &&
          cov.getLong(2) == n / 10,
        s"n=$n coverage violated: $cov (want $n, ${gramsPerDoc * n}, ${n / 10})")
      // ---- warm min-of-2 timing + bytes ----
      val (ts, bs) = timed(TextAnalysis.dupSpansFrom(spanCorpus(n)))
      val (tc, bc) = timed(TextAnalysis.dupCoverageFrom(spanCorpus(n)))
      Seq(("text_dup_spans", n, ts, bs), ("text_dup_coverage", n, tc, bc))
    }

    // ---- hand-computed BPE corpora ----
    // five "abab" tokens per doc: round 1 merges (a,b) (count 10n vs
    // (b,a) 5n), round 2 merges (ab,ab), round 3 finds NO pairs and
    // exits through the exhaustion path with a round to spare
    val BpeRounds = 4
    def bpeBase(n: Long): DataFrame = spark.range(n * 5).select(
      (col("id") % n).as("doc_id"), lit("abab").as("token"))
    val bpeScales = Seq(40000L, 120000L, 400000L) // 200k / 600k / 2M tokens
    val bpeResults = bpeScales.map { n =>
      val enc = TextAnalysis.bpeEncodeFrom(bpeBase(n), BpeRounds)
        .agg(count(lit(1)), sum("n_chars"), sum("n_bpe")).head()
      require(enc.getLong(0) == n && enc.getLong(1) == 20L * n &&
          enc.getLong(2) == 5L * n,
        s"n=$n bpe trajectory violated: $enc (want $n, ${20L * n}, ${5L * n})")
      val (t, b) = timed(TextAnalysis.bpeEncodeFrom(bpeBase(n), BpeRounds))
      ("text_bpe_encode", n, t, b)
    }

    def fmt(v: Double): String = String.format(java.util.Locale.ROOT, "%.3f", v)
    val flat = spanResults ++ bpeResults
    val cells = flat.map { case (q, n, t, b) =>
      s""""${q}_n$n":{"sec":${fmt(t)},"shuffle":${b.shuffle},"input":${b.input},"spill":${b.spill},"cpu_ms":${b.cpuMs}}"""
    }.mkString(",")
    val decades = flat.map(_._1).distinct.map { q =>
      val ts = flat.filter(_._1 == q).sortBy(_._2).map(_._3)
      s""""decade_$q":${fmt(ts.last / ts.head)}"""
    }.mkString(",")
    println(s"""{"probe":"text_decade",$cells,$decades}""")
    spark.stop()
  }
}
