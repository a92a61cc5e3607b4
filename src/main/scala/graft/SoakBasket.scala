package graft

import org.apache.spark.sql.SparkSession

/** Decade-scale soak for the TOP-SHUFFLE market-basket graph miners
  * (round 16, VERDICT r15 #6): `rel_copurchase_pairs`,
  * `rel_triangles`, `rel_reachability` — the three largest shuffle
  * movers of the sf0.1 bench (26.7 / 19.1 / 18.8 MB) — run at 1×/3×/10×
  * the sf0.1 lineitem row count on [[graft.ingest.BasketCorpus]]
  * corpora with a PLANTED chain-of-K4-cliques co-purchase graph.
  *
  * Every scale's result is REQUIRED to match the closed-form census
  * (triangle triple, BFS hop histogram, top-pair list) before its
  * timing counts, and the per-query shuffle/input bytes are recorded
  * next to the times via [[TaskBytesListener]] — the growth of wedge
  * and pair volume is the super-linearity the soak exists to expose,
  * and bytes name it load-invariantly. Prints one JSON line with
  * per-scale warm seconds + bytes per query and each query's 10×/1×
  * time ratio (`decade_*`).
  */
object SoakBasket {
  def main(args: Array[String]): Unit = {
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val base = sys.env.getOrElse("SPARK_GRAFT_SOAK_DIR", "/tmp/graft_soak")
    val spark = Sessions.local(s"local[$cpus]")
    val bytes = new TaskBytesListener
    spark.sparkContext.addSparkListener(bytes)

    import graft.queries.RelationalQueries
    // sf0.1 lineitem is ~600k rows; BasketCorpus emits ~38 rows/group
    val scales = Seq(16000L, 48000L, 160000L) // groups: ~0.6M / 1.8M / 6.1M rows
    val queries = Seq[(String, (SparkSession, String) => org.apache.spark.sql.DataFrame)](
      ("rel_copurchase_pairs", RelationalQueries.copurchasePairs),
      ("rel_triangles", RelationalQueries.triangles),
      ("rel_reachability", RelationalQueries.reachability))

    val results = scales.map { groups =>
      val dir = s"$base/baskets_$groups"
      if (!new java.io.File(s"$dir/lineitem.parquet/_SUCCESS").exists())
        graft.ingest.BasketCorpus.write(spark, dir, groups)

      // ---- closed-form gates BEFORE timing counts ----
      val tri = RelationalQueries.triangles(spark, dir).head()
      require(tri.getLong(0) == 4 * groups && tri.getLong(1) == 7 * groups - 1 &&
          tri.getLong(2) == 4 * groups,
        s"groups=$groups triangle census violated: $tri " +
          s"(want ${4 * groups}, ${7 * groups - 1}, ${4 * groups})")
      val bfs = RelationalQueries.reachability(spark, dir).collect()
        .map(r => (r.getInt(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSeq
      val wantBfs = graft.ingest.BasketCorpus.expectedBfs(
        groups, RelationalQueries.ReachMaxHops)
      require(bfs == wantBfs,
        s"groups=$groups BFS histogram violated: got $bfs want $wantBfs")
      val pairs = RelationalQueries.copurchasePairs(spark, dir).collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
      val wantPairs = graft.ingest.BasketCorpus.expectedTopPairs(groups, 20)
      require(pairs == wantPairs,
        s"groups=$groups top pairs violated: got $pairs want $wantPairs")

      // ---- warm min-of-2 timing + load-invariant bytes per query ----
      queries.map { case (name, fn) =>
        def run(): (Double, IoBytes) = {
          // drain the async listener bus on both sides (the Bench.main
          // discipline): a straggling task-end from the gate queries or
          // the previous run must not bleed into this delta
          Bench.drainListenerBus(spark.sparkContext)
          val before = bytes.snapshot()
          val t0 = System.nanoTime()
          fn(spark, dir).write.format("noop").mode("overwrite").save()
          val sec = (System.nanoTime() - t0) / 1e9
          Bench.drainListenerBus(spark.sparkContext)
          val after = bytes.snapshot()
          (sec, IoBytes(after.shuffle - before.shuffle,
            after.spill - before.spill, after.input - before.input,
            after.cpuMs - before.cpuMs))
        }
        val (t1, b1) = run(); val (t2, b2) = run()
        val (t, b) = if (t1 <= t2) (t1, b1) else (t2, b2)
        (name, groups, t, b)
      }
    }

    def fmt(v: Double): String = String.format(java.util.Locale.ROOT, "%.3f", v)
    val flat = results.flatten
    val cells = flat.map { case (q, n, t, b) =>
      s""""${q}_n$n":{"sec":${fmt(t)},"shuffle":${b.shuffle},"input":${b.input},"spill":${b.spill},"cpu_ms":${b.cpuMs}}"""
    }.mkString(",")
    val decades = queries.map(_._1).map { q =>
      val ts = flat.filter(_._1 == q).sortBy(_._2).map(_._3)
      s""""decade_$q":${fmt(ts.last / ts.head)}"""
    }.mkString(",")
    println(s"""{"probe":"basket_decade",$cells,$decades}""")
    spark.stop()
  }
}
