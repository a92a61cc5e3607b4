package graft

/** Decade-scale soak for the STREAMING family (round 16): the
  * registered watermarked append aggregate (`stream_hourly_append` —
  * [[graft.streaming.StreamingOps.hourlyAppend]], the canonical
  * bounded-state shape) run at 1×/3×/10× the sf0.1 event count on
  * [[graft.ingest.EventCorpus]] corpora with a closed-form hourly
  * census.
  *
  * Two gates before any timing counts:
  *  - CORRECTNESS: exactly 4·(H−1) emitted window rows, every one with
  *    cnt = 900 and sum_val = 900.0 (the planted census);
  *  - BOUNDED STATE: the final progress entry's total state rows
  *    (`stateRows` of [[graft.streaming.StreamingOps.lastRun]]) must NOT grow
  *    with the input — it is the open-window set (≤ 2 hours × 4 types
  *    plus watermark bookkeeping), the property that makes a 100 TB
  *    stream runnable at all. The soak REQUIRES state ≤ [[StateCap]]
  *    at every scale; a watermark regression that stops evicting
  *    closed windows fails the gate long before it fails a cluster.
  *
  * Prints one JSON line: per-scale min-of-2 warm seconds, emitted
  * rows, end-state rows, and the 10×/1× time ratio. */
object SoakStream {

  /** Generous bound on end-state rows: open windows (≤ 2 hours × 4
    * types) plus per-partition watermark/metadata slack — far under
    * the thousands a non-evicting regression would leave. */
  val StateCap = 64L

  def main(args: Array[String]): Unit = {
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val base = sys.env.getOrElse("SPARK_GRAFT_SOAK_DIR", "/tmp/graft_soak")
    val spark = Sessions.local(s"local[$cpus]")

    // 1x/3x/10x the sf0.1 event count (100k), rounded to whole hours
    val scales = Seq(108000L, 324000L, 1080000L) // 30 / 90 / 300 hours
    val results = scales.map { n =>
      val dir = s"$base/events_$n"
      if (!new java.io.File(s"$dir/events.parquet/_SUCCESS").exists())
        graft.ingest.EventCorpus.write(spark, dir, n)
      val hours = n / 3600

      def run(): (Double, Long, Long) = {
        val t0 = System.nanoTime()
        val rows = graft.streaming.StreamingOps.hourlyAppend(spark, dir).collect()
        val sec = (System.nanoTime() - t0) / 1e9
        (sec, rows.length.toLong, graft.streaming.StreamingOps.lastRun.stateRows)
      }

      // gate run: closed-form census + bounded state, BEFORE timing counts
      val gate = graft.streaming.StreamingOps.hourlyAppend(spark, dir).collect()
      require(gate.length == 4 * (hours - 1),
        s"n=$n emitted ${gate.length} rows, want ${4 * (hours - 1)}")
      gate.foreach { r =>
        require(r.getAs[Long]("cnt") == 900L && r.getAs[Double]("sum_val") == 900.0,
          s"n=$n planted census violated: $r")
      }
      val stateRows = graft.streaming.StreamingOps.lastRun.stateRows
      require(stateRows >= 0 && stateRows <= StateCap,
        s"n=$n end-state rows $stateRows exceed the bounded-state cap $StateCap " +
          "(closed windows are not being evicted)")

      val (t1, _, _) = run(); val (t2, _, _) = run()
      (n, math.min(t1, t2), 4 * (hours - 1), stateRows)
    }

    def fmt(v: Double): String = String.format(java.util.Locale.ROOT, "%.3f", v)
    val cells = results.map { case (n, t, rows, st) =>
      s""""n$n":{"sec":${fmt(t)},"rows":$rows,"state_rows":$st}"""
    }.mkString(",")
    val decade = results.last._2 / results.head._2
    println(s"""{"probe":"stream_decade","query":"stream_hourly_append",$cells,""" +
      s""""decade":${fmt(decade)}}""")
    spark.stop()
  }
}
