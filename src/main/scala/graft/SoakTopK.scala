package graft

/** Soak probe for the TopKPerGroup DEGRADED path (plans/TopKPerGroup.scala):
  * when per-partition group cardinality exceeds `spark.graft.topk
  * .hashGroupLimit`, the exec abandons the bounded-heap map and hands the
  * partition to the task-memory-managed external sort (GraftSpill). The
  * spec suite proves correctness of that path; this main measures it —
  * the degradation must be graceful (a bounded constant factor, the cost
  * of sorting what the heap would have filtered), not a cliff.
  *
  * Runs the registered `rel_topk_per_group` plan (orders, top-2 per
  * custkey — ~10k distinct keys per state partition at sf0.1, far above
  * any forced budget below) three ways: heap path (default 1M budget),
  * sort path (budget 64), sort path worst-case (budget 2), and asserts
  * all three produce identical results before printing one JSON line of
  * min-of-2 warm timings.
  */
object SoakTopK {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = Sessions.local(s"local[$cpus]")

    def run(): Double = {
      val t0 = System.nanoTime()
      graft.queries.RelationalQueries.topKPerGroup(spark, sfDir)
        .write.format("noop").mode("overwrite").save()
      (System.nanoTime() - t0) / 1e9
    }
    def fingerprint(): (Long, Long) = {
      val rows = graft.queries.RelationalQueries.topKPerGroup(spark, sfDir)
        .selectExpr("count(*) AS n",
          "CAST(sum(hash(o_custkey, o_orderkey, rn)) AS BIGINT) AS h")
        .head()
      (rows.getLong(0), rows.getLong(1))
    }
    val limitKey = "spark.graft.topk.hashGroupLimit"
    val out = Seq("default" -> (1 << 20), "budget64" -> 64, "budget2" -> 2).map {
      case (label, budget) =>
        spark.conf.set(limitKey, budget.toString)
        val fp = fingerprint()
        val t = math.min(run(), run())
        (label, t, fp)
    }
    val fps = out.map(_._3).distinct
    require(fps.size == 1,
      s"heap and sort paths disagree: ${out.map(o => o._1 -> o._3)}")
    val times = out.map { case (l, t, _) =>
      s""""$l":${String.format(java.util.Locale.ROOT, "%.3f", t)}"""
    }.mkString(",")
    println(s"""{"probe":"topk_spill","sf":"$sfDir",$times,""" +
      s""""rows":${fps.head._1},"degradation":${String.format(
        java.util.Locale.ROOT, "%.2f", out(2)._2 / out(0)._2)}}""")
    spark.stop()
  }
}
