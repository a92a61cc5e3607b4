package graft

/** Scale soak for the TOP-SHUFFLE graph-mining family (round 16, VERDICT
  * r15 #5): the full fuzzy-dedup pipeline — MinHash signatures → banded
  * LSH buckets → capped candidate self-join → iterative min-label
  * propagation with pointer jumping ([[graft.dedup.Dedup.components]]) —
  * measured a DECADE past the largest driver fixture, on
  * [[graft.ingest.DocCorpus]] corpora at 1×/3×/10× the sf0.1 document
  * count (5,120 / 15,360 / 51,200 docs).
  *
  * Every scale's result is REQUIRED to match the planted closed-form
  * census (exactly n/32 clusters of exactly 4 docs) before its timing
  * counts — a soak that silently drops work would otherwise report a
  * flattering trend. Prints one JSON line: per-scale min-of-2 warm
  * seconds plus the 10×/1× time ratio (`decade`), the number a linear-
  * scaling engine keeps near 10.
  */
object SoakGraph {
  def main(args: Array[String]): Unit = {
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val base = sys.env.getOrElse("SPARK_GRAFT_SOAK_DIR", "/tmp/graft_soak")
    val spark = Sessions.local(s"local[$cpus]")

    // 1×/3×/10× of the sf0.1 document count, rounded up to the planted-
    // cluster period (32)
    val scales = Seq(5120L, 15360L, 51200L)
    val results = scales.map { n =>
      val dir = s"$base/docs_$n"
      // corpus generation is deterministic; reuse a completed build
      if (!new java.io.File(s"$dir/documents.parquet/_SUCCESS").exists())
        graft.ingest.DocCorpus.write(spark, dir, n)

      def run(): Double = {
        val t0 = System.nanoTime()
        graft.dedup.Dedup.components(spark, dir)
          .write.format("noop").mode("overwrite").save()
        (System.nanoTime() - t0) / 1e9
      }
      // census gate: n/32 clusters, all of size 4, covering n/8 docs
      val census = graft.dedup.Dedup.components(spark, dir)
        .selectExpr("count(*) AS clusters",
          "CAST(sum(n_docs) AS BIGINT) AS docs",
          "min(n_docs) AS lo", "max(n_docs) AS hi")
        .head()
      require(census.getLong(0) == n / 32 && census.getLong(1) == n / 8 &&
          census.getLong(2) == 4 && census.getLong(3) == 4,
        s"n=$n planted census violated: $census (want ${n / 32} clusters of 4)")
      val t = math.min(run(), run())
      (n, t)
    }
    val times = results.map { case (n, t) =>
      s""""n$n":${String.format(java.util.Locale.ROOT, "%.3f", t)}"""
    }.mkString(",")
    val decade = results.last._2 / results.head._2
    println(s"""{"probe":"graph_decade","query":"dedup_components",$times,""" +
      s""""decade":${String.format(java.util.Locale.ROOT, "%.2f", decade)}}""")
    spark.stop()
  }
}
