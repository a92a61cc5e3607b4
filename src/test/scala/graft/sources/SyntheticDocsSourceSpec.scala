package graft.sources

import org.apache.spark.sql.functions._
import graft.SparkSpec

/** DataSource V2 contracts of the custom connector: split planning
  * drives parallelism, and required-column pushdown reaches the scan. */
class SyntheticDocsSourceSpec extends SparkSpec {

  private def read(rows: Long, parts: Int) =
    spark.read.format("graft.sources.SyntheticDocsSource")
      .option("rows", rows.toString).option("parts", parts.toString).load()

  test("planInputPartitions drives reader parallelism and covers every id once") {
    val df = read(1000, 7)
    assert(df.rdd.getNumPartitions == 7)
    assert(df.count() == 1000)
    assert(df.agg(countDistinct(col("id"))).head().getLong(0) == 1000)
    // one short partition (1000 = 6*143 + 142): ranges cover exactly [0, 1000)
    assert(df.agg(min("id"), max("id")).head() ==
      org.apache.spark.sql.Row(0L, 999L))
  }

  test("required-column pushdown prunes the scan to referenced columns") {
    val q = read(100, 2).select(col("bucket"))
    val scan = q.queryExecution.executedPlan.toString
    assert(scan.contains("cols=bucket"), s"expected pruned scan description:\n$scan")
    assert(!scan.contains("cols=id,bucket,score"), s"scan not pruned:\n$scan")
  }

  test("pushed id-range filters narrow the generated splits (connector-side pruning)") {
    val q = read(1000000, 4).filter(col("id") >= 500 && col("id") < 700)
    val scan = q.queryExecution.executedPlan.toString
    assert(scan.contains("idrange=[500,700)"), s"expected narrowed range:\n$scan")
    // pruned ids are never produced: partition row counts sum to the range
    assert(q.count() == 200)
    assert(q.agg(min("id"), max("id")).head() ==
      org.apache.spark.sql.Row(500L, 699L))
    // a non-range predicate stays residual and still evaluates correctly
    val mixed = read(1000, 2).filter(col("id") < 100 && col("bucket") === 3)
    val expected = read(1000, 2).collect()
      .count(r => r.getLong(0) < 100 && r.getInt(1) == 3)
    assert(mixed.count() == expected)
  }

  test("streaming face honors pushed id-range filters (no silent un-filtering)") {
    // Spark removes accepted filters from the residual, so the stream
    // MUST apply the pushed range in its own offset planning
    val stream = spark.readStream.format("graft.sources.SyntheticDocsSource")
      .option("rows", "1000").option("parts", "2").option("rowsPerBatch", "250")
      .load()
      .filter(col("id") >= 100 && col("id") < 300)
    val out = graft.streaming.StreamingOps.runToMemory(
      spark, stream.groupBy().agg(count(lit(1)).as("cnt"),
        min("id").as("lo"), max("id").as("hi")))
    assert(out.head() == org.apache.spark.sql.Row(200L, 100L, 299L))
  }

  test("row arithmetic matches the documented hash") {
    val r = read(10, 1).orderBy("id").collect()
    r.foreach { row =>
      val h = SyntheticDocsSource.h(row.getLong(0))
      assert(row.getInt(1) == (h % 16L).toInt)
      assert(row.getDouble(2) == (h % 1000L).toDouble / 1000.0)
    }
  }

  // ---- Trigger.AvailableNow on the custom source (r17, VERDICT r16 #2) ----

  private def growingStream() =
    spark.readStream.format("graft.sources.SyntheticDocsSource")
      .option("rows", "1000").option("parts", "2")
      .option("rowsPerBatch", "250").option("lateRows", "1500")
      .load()
      .groupBy().agg(count(lit(1)).as("cnt"),
        min("id").as("lo"), max("id").as("hi"))

  test("AvailableNow latches the backlog before the first batch") {
    import graft.streaming.StreamingOps
    // the latch: ids [1000, 1500) "arrive" mid-run but were not part of
    // the prepare-time snapshot — never admitted; the run spans >= 2
    // admission-bounded batches (250/trigger) and terminates ITSELF
    val out = StreamingOps.runToMemory(spark, growingStream(),
      minDataBatches = 2, availableNow = true)
    assert(out.head() == org.apache.spark.sql.Row(1000L, 0L, 999L))
    assert(StreamingOps.lastRun.selfTerminated)
    assert(StreamingOps.lastRun.dataBatches >= 2)
  }

  test("a default-trigger drain keeps consuming the grown backlog") {
    import graft.streaming.StreamingOps
    // control for the latch test: the SAME growing source under the
    // default trigger drains to the grown 1500 — proving the AvailableNow
    // stop above is the latch's doing, not a source inability
    val out = StreamingOps.runToMemory(spark, growingStream(),
      minDataBatches = 2)
    assert(out.head() == org.apache.spark.sql.Row(1500L, 0L, 1499L))
  }
}
