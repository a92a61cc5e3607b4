package graft.sources

import graft.SparkSpec

/** The runtime bloom-filter join must inject under the cluster posture.
  *
  * InjectRuntimeFilter declines joins it can plan as broadcast, and at
  * fixture scale every dimension broadcasts — so this spec re-plans the
  * registered query under the sizes a 100 TB fact table forces (broadcast
  * off, zero application-side scan floor) and asserts the mechanism:
  * a bloom filter of the dim's surviving join keys is built
  * (`bloom_filter_agg`) and probed in the fact scan's filter
  * (`might_contain`), dropping fact rows BEFORE the join exchange.
  * Results must be identical in both postures.
  */
class RuntimeFilterSpec extends SparkSpec {

  private val sf = "/root/testdata/sf0.001"

  test("cluster posture injects might_contain into the fact side and preserves results") {
    // default posture first: the rule declines because the dim is
    // broadcastable by size (the merge hint changes the executed
    // strategy, not that size judgement) — so no injection
    val defaultDf = Formats.runtimeFilterJoin(spark, sf)
    assert(!defaultDf.queryExecution.executedPlan.toString.contains("might_contain"))
    val defaultRows = defaultDf.collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSeq
    assert(defaultRows.map(_._1) == Seq("1-URGENT", "2-HIGH"))

    // build the SAME DataFrame, then flip to cluster posture BEFORE the
    // first action (optimization reads conf at action time)
    val df = Formats.runtimeFilterJoin(spark, sf)
    val conf = spark.conf
    val prevBroadcast = conf.get("spark.sql.autoBroadcastJoinThreshold")
    val prevBloom = conf.get("spark.sql.optimizer.runtime.bloomFilter.enabled")
    conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    conf.set("spark.sql.optimizer.runtime.bloomFilter.enabled", "true")
    conf.set("spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold", "0")
    try {
      val plan = df.queryExecution.executedPlan.toString
      assert(plan.contains("might_contain"),
        s"no runtime bloom filter probe in the fact scan:\n$plan")
      assert(plan.contains("bloom_filter_agg"),
        s"no bloom filter build on the dim side:\n$plan")
      val clusterRows = df.collect()
        .map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSeq
      assert(clusterRows == defaultRows)
    } finally {
      conf.set("spark.sql.autoBroadcastJoinThreshold", prevBroadcast)
      conf.set("spark.sql.optimizer.runtime.bloomFilter.enabled", prevBloom)
      conf.unset("spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold")
    }
  }
}
