package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Scale soak for the CUSTOM JOIN tiers (round 16): the as-of merge
  * ([[graft.plans.AsOf]]) and the interval plane sweep
  * ([[graft.plans.Interval]]) measured TWO DECADES past the sf0.1 event
  * count — 100k / 1M / 10M rows per side — on closed-form synthetic
  * frames generated distributedly from `spark.range` (no files, no RNG).
  *
  * Construction (U = n/100 users, k = row div U):
  *  - as-of: purchases at t = 100k + 10, clicks at t = 100k per user —
  *    every left matches its own k's click, gap exactly 10, so the gate
  *    is `count = n AND sum(gap) = 10n` (any dropped row, wrong-side
  *    match, or tie mishandling breaks an exact integer).
  *  - interval: left windows [100k, 100k+50], right [100k+40, 100k+90]
  *    — exactly one overlap per left of width exactly 10; same gate.
  *
  * Both operators are O(rows) per partition past their one shuffle, so
  * the 100× time ratio is the number that would expose any accidental
  * per-key quadratic term (the failure mode these execs exist to
  * avoid).
  *
  * Round 17 (VERDICT r16 #7) adds the HEAD-TO-HEAD: the same as-of
  * answered by the built-in union+window spelling (`rel_asof_join`'s
  * shape — interleave both sides, one window sort per key, carry the
  * last right row forward), gated by the identical closed form and
  * measured next to the custom exec with load-invariant shuffle/input
  * bytes per run — so the merge exec's O(|L|+|R|) claim is a measured
  * line against the composition it replaces, not an argument. */
object SoakJoins {
  def main(args: Array[String]): Unit = {
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = Sessions.local(s"local[$cpus]")
    val bytes = new TaskBytesListener
    spark.sparkContext.addSparkListener(bytes)

    val scales = Seq(100000L, 1000000L, 10000000L)

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

    val results = scales.map { n =>
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
      // ---- closed-form gates BEFORE timing counts (both spellings) ----
      def gateAsof(df: DataFrame, what: String): Unit = {
        val g = df.agg(count(lit(1)).as("c"),
          count(col("rid")).as("m"), sum(col("lt") - col("rt")).as("g")).head()
        require(g.getLong(0) == n && g.getLong(1) == n && g.getLong(2) == 10L * n,
          s"$what gate violated at n=$n: $g (want $n, $n, ${10L * n})")
      }
      gateAsof(asof, "asof")
      gateAsof(builtinAsof, "builtin asof")
      val (tAsof, bAsof) = timed(asof)
      val (tBi, bBi) = timed(builtinAsof)

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
      val iGate = ivl.agg(count(lit(1)).as("c"),
        sum(least(col("le"), col("re")) - greatest(col("ls"), col("rs"))).as("g")).head()
      require(iGate.getLong(0) == n && iGate.getLong(1) == 10L * n,
        s"interval gate violated at n=$n: $iGate (want $n, ${10L * n})")
      val (tIvl, bIvl) = timed(ivl)
      (n, Seq(("asof", tAsof, bAsof), ("builtin_asof", tBi, bBi),
        ("ivl", tIvl, bIvl)))
    }

    def fmt(v: Double): String = String.format(java.util.Locale.ROOT, "%.3f", v)
    val cells = results.flatMap { case (n, qs) =>
      qs.map { case (q, t, b) =>
        s""""${q}$n":{"sec":${fmt(t)},"shuffle":${b.shuffle},"input":${b.input},"spill":${b.spill},"cpu_ms":${b.cpuMs}}"""
      }
    }.mkString(",")
    val names = results.head._2.map(_._1)
    val ratios = names.map { q =>
      val ts = results.map { case (_, qs) => qs.find(_._1 == q).get._2 }
      s""""${q}_x100":${fmt(ts.last / ts.head)}"""
    }.mkString(",")
    println(s"""{"probe":"join_decades",$cells,$ratios}""")
    spark.stop()
  }
}
