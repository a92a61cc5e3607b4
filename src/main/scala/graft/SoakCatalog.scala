package graft

/** Decade-scale soak for the CATALOG TABLE's maintenance claims (round
  * 17 continuation): every DML face promises cost proportional to the
  * FILES IT TOUCHES, never to table size — the difference between a
  * usable and an unusable table format at 100 TB. Tables of 1×/3×/10×
  * rows (200k/600k/2M across 2/6/20 commits, ~32 task files each) run
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
  *    update ([[graft.sources.GraftChangeFeed]]) — the feed is a
  *    manifest diff read at O(files the commit rewrote), so following a
  *    mutating table costs the consumer the change volume, never the
  *    table;
  *  - `cat_scan_slice`: aggregate over the fixed first-100k-id slice —
  *    planning-time file skipping; input bytes flat;
  *  - `cat_full_scan`: the deliberate linear CONTRAST — if this didn't
  *    grow ~10× per decade while the others stay flat, the soak would
  *    be measuring noise, not design.
  *
  * Plus the COW-vs-DV delete HEAD-TO-HEAD (`cat_delete_{cow,dv}_n*`):
  * the same scattered `bucket = 3` delete on fresh side tables per
  * mode — copy-on-write rewrites ~15/16 of the table, deletion vectors
  * write 8 bytes per masked row; pool-bytes-written and wall recorded,
  * `wDv < wCow` gated in-soak.
  *
  * Closed-form gates run BEFORE timing counts (the SoakBasket
  * discipline): exact row counts and id sums from range() arithmetic at
  * every scale, plus an exact end-state count after all timed DML
  * (2 timed appends × 100k + 25k merge-inserts over the base). Warm
  * min-of-2 seconds + load-invariant shuffle/input bytes ride one JSON
  * line with each op's 10×/1× ratio (`decade_*`). */
object SoakCatalog {
  def main(args: Array[String]): Unit = {
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = Sessions.local(s"local[$cpus]")
    val bytes = new TaskBytesListener
    spark.sparkContext.addSparkListener(bytes)

    val root = TempDirs.create("graft-soak-cat")
    spark.conf.set("spark.sql.catalog.soak_cat", "graft.sources.GraftCatalog")
    spark.conf.set("spark.sql.catalog.soak_cat.root", root.toString)
    val t = "soak_cat.t"

    /** Warm min-of-2 over a side-effecting block; each run's effect must
      * be scale-fixed (the state drift is accounted in the final gate). */
    def timed(block: => Unit): (Double, IoBytes) = {
      def run(): (Double, IoBytes) = {
        Bench.drainListenerBus(spark.sparkContext)
        val before = bytes.snapshot()
        val t0 = System.nanoTime()
        block
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

    def rowsSql(lo: Long, hi: Long): String =
      s"""SELECT id, CAST(id % 16 AS INT) AS bucket,
         |  CAST(id % 1000 AS DOUBLE) / 1000.0 AS score
         |FROM range($lo, $hi)""".stripMargin

    val Batch = 100000L
    val scales = Seq(200000L, 600000L, 2000000L)
    // (mode, n, wall sec, pool bytes written) of the delete head-to-head
    val delRows = scala.collection.mutable.ArrayBuffer.empty[(String, Long, Double, Long)]
    val results = scales.flatMap { n =>
      spark.sql(s"DROP TABLE IF EXISTS $t")
      spark.sql(s"CREATE TABLE $t (id BIGINT, bucket INT, score DOUBLE)")
      var lo = 0L
      while (lo < n) {
        spark.sql(s"INSERT INTO $t ${rowsSql(lo, lo + Batch)}")
        lo += Batch
      }
      // ---- closed-form gates BEFORE timing counts ----
      val base = spark.sql(
        s"SELECT count(*) AS n, CAST(sum(id) AS BIGINT) AS s FROM $t").head()
      require(base.getLong(0) == n && base.getLong(1) == n * (n - 1) / 2,
        s"n=$n base gate violated: $base")
      val files = graft.sources.GraftCatalog.currentManifest(
        root.resolve("t")).size
      // fixed-size slice gate (skipping must not lose a row)
      val slice = spark.sql(
        s"SELECT count(*) AS n FROM $t WHERE id < $Batch").head().getLong(0)
      require(slice == Batch, s"n=$n slice gate violated: $slice")

      // ---- warm min-of-2 timed ops, all scale-fixed ----
      val (tUpd, bUpd) = timed {
        spark.sql(
          s"UPDATE $t SET score = score + 1.0 WHERE id >= ${n - 50000} AND id < $n")
      }
      // seq of the LAST timed update commit — the change-feed leg reads
      // exactly that commit's net changes
      val updSeq = graft.sources.GraftChangeFeed.currentSeq(root.resolve("t"))
      // ON is pure key equality: only the RUNTIME group filter can save
      // the match-free files here (run 1 matches the 25k tail + inserts
      // 25k; run 2 matches all 50k)
      val (tMrg, bMrg) = timed {
        spark.sql(
          s"""MERGE INTO $t x
             |USING (${rowsSql(n - 25000, n + 25000)}) s
             |ON x.id = s.id
             |WHEN MATCHED THEN UPDATE SET score = s.score
             |WHEN NOT MATCHED THEN INSERT (id, bucket, score) VALUES (s.id, s.bucket, s.score)
             |""".stripMargin)
      }
      var appendAt = n + 25000L // disjoint ids per timed append run
      val (tApp, bApp) = timed {
        spark.sql(s"INSERT INTO $t ${rowsSql(appendAt, appendAt + Batch)}")
        appendAt += Batch
      }
      val (tSli, bSli) = timed {
        spark.sql(
          s"""SELECT CAST(sum(id) AS BIGINT) AS s, count(*) AS n
             |FROM $t WHERE id < $Batch""".stripMargin).collect()
      }
      val (tFul, bFul) = timed {
        spark.sql(
          s"SELECT CAST(sum(id) AS BIGINT) AS s, count(*) AS n FROM $t")
          .collect()
      }
      // CHANGE FEED of the fixed 50k-row tail update: the feed is a
      // manifest diff read at O(files the commit rewrote) — table size
      // must not matter. Closed-form gate first: exactly 50k preimages
      // + 50k postimages net (the rewritten files' carried rows cancel).
      val netUpd = graft.sources.GraftChangeFeed.net(
        spark, root.resolve("t").toString, updSeq - 1, updSeq)
      require(netUpd.count() == 100000L,
        s"n=$n change-feed gate violated (want 50k pre + 50k post)")
      val (tCdc, bCdc) = timed {
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
      def deleteProbe(mode: String): (Double, Long) = {
        val t2 = s"soak_cat.del_$mode"
        spark.sql(s"DROP TABLE IF EXISTS $t2")
        val props =
          if (mode == "dv") " TBLPROPERTIES ('graft.delete.mode' = 'dv')"
          else ""
        spark.sql(s"CREATE TABLE $t2 (id BIGINT, bucket INT, score DOUBLE)$props")
        spark.sql(s"INSERT INTO $t2 ${rowsSql(0L, n)}")
        val matches = spark.sql(
          s"SELECT count(*) AS c FROM $t2 WHERE bucket = 3").head().getLong(0)
        val bytesBefore = poolBytes(s"del_$mode")
        val t0 = System.nanoTime()
        spark.sql(s"DELETE FROM $t2 WHERE bucket = 3")
        val sec = (System.nanoTime() - t0) / 1e9
        val written = poolBytes(s"del_$mode") - bytesBefore
        val left = spark.sql(s"SELECT count(*) AS c FROM $t2").head().getLong(0)
        require(left == n - matches, s"delete probe $mode lost rows: $left")
        spark.sql(s"DROP TABLE $t2")
        (sec, written)
      }
      val (tDelCow, wCow) = deleteProbe("cow")
      val (tDelDv, wDv) = deleteProbe("dv")
      require(wDv < wCow,
        s"dv delete must write less than cow: $wDv vs $wCow bytes")
      delRows += (("cow", n, tDelCow, wCow))
      delRows += (("dv", n, tDelDv, wDv))

      Seq(("cat_append", n, files, tApp, bApp),
        ("cat_update_tail", n, files, tUpd, bUpd),
        ("cat_merge_tail", n, files, tMrg, bMrg),
        ("cat_changes_tail", n, files, tCdc, bCdc),
        ("cat_scan_slice", n, files, tSli, bSli),
        ("cat_full_scan", n, files, tFul, bFul))
    }

    def fmt(v: Double): String =
      String.format(java.util.Locale.ROOT, "%.3f", v)
    val cells = results.map { case (q, n, files, t, b) =>
      s""""${q}_n$n":{"sec":${fmt(t)},"files":$files,"shuffle":${b.shuffle},"input":${b.input},"spill":${b.spill},"cpu_ms":${b.cpuMs}}"""
    }.mkString(",")
    val decades = results.map(_._1).distinct.map { q =>
      val ts = results.filter(_._1 == q).sortBy(_._2).map(_._4)
      s""""decade_$q":${fmt(ts.last / ts.head)}"""
    }.mkString(",")
    val dels = delRows.map { case (mode, n, t, w) =>
      s""""cat_delete_${mode}_n$n":{"sec":${fmt(t)},"pool_bytes_written":$w}"""
    }.mkString(",")
    println(s"""{"probe":"catalog_decade",$cells,$decades,$dels}""")
    spark.stop()
  }
}
