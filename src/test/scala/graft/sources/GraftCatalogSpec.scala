package graft.sources

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.Row
import graft.SparkSpec
import graft.similarity.IndexStore

/** The DSv2 WRITE face (GraftCatalog): staged-commit atomicity — a
  * failed write leaves NO visible version and no visible row — plus the
  * manifest-versioned append/truncate lifecycle, orphan sweep, codec
  * round-trip over every supported type, and projection pruning. */
class GraftCatalogSpec extends SparkSpec {

  private var n = 0
  /** Fresh catalog (own root) per test — catalog instances are cached by
    * name in the session, so each test registers a new name. */
  private def freshCatalog(): (String, Path) = {
    n += 1
    val cat = s"gcspec$n"
    val root = graft.TempDirs.create("gcat-spec")
    spark.conf.set(s"spark.sql.catalog.$cat", "graft.sources.GraftCatalog")
    spark.conf.set(s"spark.sql.catalog.$cat.root", root.toString)
    (cat, root)
  }

  private def versions(tableDir: Path): Seq[String] = {
    val v = tableDir.resolve(GraftCatalog.VersionsDir)
    if (!Files.isDirectory(v)) Nil
    else {
      val l = Files.list(v)
      try l.iterator().asScala.map(_.getFileName.toString).toSeq
      finally l.close()
    }
  }

  private def dataFiles(tableDir: Path): Set[String] = {
    val d = tableDir.resolve(GraftCatalog.DataDir)
    if (!Files.isDirectory(d)) Set.empty
    else {
      val l = Files.list(d)
      try l.iterator().asScala.map(_.getFileName.toString).toSet
      finally l.close()
    }
  }

  test("create / insert / read round-trips every supported type incl. nulls") {
    val (cat, _) = freshCatalog()
    spark.sql(s"""CREATE TABLE $cat.allt (
      b BOOLEAN, i INT, l BIGINT, f FLOAT, d DOUBLE,
      s STRING, bin BINARY, dt DATE, ts TIMESTAMP_NTZ)""")
    spark.sql(s"""INSERT INTO $cat.allt VALUES
      (true, 1, 10, CAST(1.5 AS FLOAT), 2.5, 'héllo', X'CAFE',
       DATE'2020-06-01', TIMESTAMP_NTZ'2020-06-01 12:34:56.789'),
      (NULL, NULL, NULL, NULL, NULL, NULL, NULL, NULL, NULL)""")
    val rows = spark.sql(s"SELECT * FROM $cat.allt ORDER BY l NULLS LAST").collect()
    assert(rows.length == 2)
    val r0 = rows(0)
    assert(r0.getBoolean(0) && r0.getInt(1) == 1 && r0.getLong(2) == 10L)
    assert(r0.getFloat(3) == 1.5f && r0.getDouble(4) == 2.5)
    assert(r0.getString(5) == "héllo")
    assert(r0.getAs[Array[Byte]](6).toSeq == Seq(0xCA.toByte, 0xFE.toByte))
    assert(r0.getDate(7).toString == "2020-06-01")
    assert(rows(1).toSeq.forall(_ == null))
  }

  test("a failed INSERT leaves no visible version, no visible row") {
    val (cat, root) = freshCatalog()
    spark.sql(s"CREATE TABLE $cat.t (id BIGINT, v DOUBLE)")
    spark.sql(s"INSERT INTO $cat.t SELECT id, 0.5 FROM range(0, 100)")
    val dir = root.resolve("t")
    val before = IndexStore.pointer.resolve(dir, GraftCatalog.PointerName).get
    val versionsBefore = versions(dir).toSet
    intercept[Exception] {
      spark.sql(
        s"""INSERT INTO $cat.t SELECT id,
           |  CASE WHEN id = 50 THEN CAST(raise_error('boom') AS DOUBLE)
           |       ELSE 0.5 END
           |FROM range(0, 100)""".stripMargin)
    }
    // atomicity: pointer untouched, no new version dir, contents unchanged
    assert(IndexStore.pointer.resolve(dir, GraftCatalog.PointerName).get == before)
    assert(versions(dir).toSet == versionsBefore)
    assert(spark.sql(s"SELECT count(*) AS n FROM $cat.t").head().getLong(0) == 100)
  }

  test("orphans of failed writes are swept after grace at the next commit") {
    val (cat, root) = freshCatalog()
    spark.sql(s"CREATE TABLE $cat.t (id BIGINT, v DOUBLE)")
    spark.sql(s"INSERT INTO $cat.t SELECT id, 0.5 FROM range(0, 10)")
    val dir = root.resolve("t")
    // plant an orphan the way a crashed (never-aborted) writer would:
    // a pool file no manifest references
    val orphan = dir.resolve(GraftCatalog.DataDir).resolve("part-crashed.gbin")
    Files.writeString(orphan, "torn")
    val prevGrace = GraftCatalog.GraceMs
    GraftCatalog.GraceMs = 0L
    try {
      spark.sql(s"INSERT INTO $cat.t SELECT id, 0.5 FROM range(10, 20)")
      assert(!Files.exists(orphan), "grace-expired orphan must be swept")
      // every surviving pool file is referenced by a surviving manifest
      val referenced = versions(dir)
        .flatMap(v => GraftCatalog.readManifest(
          dir.resolve(GraftCatalog.VersionsDir).resolve(v)).map(_.file)).toSet
      assert(dataFiles(dir).subsetOf(referenced))
    } finally GraftCatalog.GraceMs = prevGrace
    assert(spark.sql(s"SELECT count(*) AS n FROM $cat.t").head().getLong(0) == 20)
  }

  test("overwrite truncates logically; version GC keeps current + previous") {
    val (cat, root) = freshCatalog()
    spark.sql(s"CREATE TABLE $cat.t (id BIGINT, v DOUBLE)")
    val dir = root.resolve("t")
    spark.sql(s"INSERT INTO $cat.t SELECT id, 0.5 FROM range(0, 100)")   // v1
    spark.sql(s"INSERT OVERWRITE TABLE $cat.t SELECT id, 0.5 FROM range(0, 10)") // v2
    assert(spark.sql(s"SELECT count(*) AS n FROM $cat.t").head().getLong(0) == 10)
    // within grace: the superseded version (and its 100-row files) survive
    assert(versions(dir).size == 2)
    val prevGrace = GraftCatalog.GraceMs
    GraftCatalog.GraceMs = 0L
    try {
      spark.sql(s"INSERT INTO $cat.t SELECT id, 0.5 FROM range(10, 15)") // v3
      // grace 0: only v3 (current) + v2 (immediate predecessor) remain,
      // and v1's now-unreferenced 100-row files are swept from the pool
      assert(versions(dir).size == 2, versions(dir).toString)
      val referenced = versions(dir)
        .flatMap(v => GraftCatalog.readManifest(
          dir.resolve(GraftCatalog.VersionsDir).resolve(v)).map(_.file)).toSet
      assert(dataFiles(dir) == referenced)
      assert(spark.sql(s"SELECT count(*) AS n FROM $cat.t").head().getLong(0) == 15)
    } finally GraftCatalog.GraceMs = prevGrace
  }

  test("projection pruning reaches the scan; reads snapshot the manifest") {
    val (cat, root) = freshCatalog()
    spark.sql(s"CREATE TABLE $cat.t (id BIGINT, a DOUBLE, b STRING)")
    spark.sql(s"INSERT INTO $cat.t SELECT id, 0.5, 'x' FROM range(0, 50)")
    val q = spark.sql(s"SELECT id FROM $cat.t")
    val plan = q.queryExecution.executedPlan.toString
    assert(plan.contains("cols=id"), s"expected pruned scan description:\n$plan")
    assert(!plan.contains("cols=id,a,b"), s"scan not pruned:\n$plan")
    assert(q.count() == 50)
    // snapshot stability for an in-flight reader: a reader resolves the
    // pointer ONCE at scan build (GraftScanBuilder.build); after a
    // concurrent commit swaps the pointer, the resolved version dir and
    // every data file its manifest references still exist (grace GC
    // keeps the immediate predecessor unconditionally), so that reader
    // finishes against its immutable snapshot
    val dir = root.resolve("t")
    val resolved = IndexStore.pointer.resolve(dir, GraftCatalog.PointerName).get
    val beforeFiles = GraftCatalog.readManifest(resolved).map(_.file)
    assert(beforeFiles.nonEmpty)
    spark.sql(s"INSERT INTO $cat.t SELECT id, 0.5, 'y' FROM range(50, 80)")
    assert(IndexStore.pointer.resolve(dir, GraftCatalog.PointerName).get != resolved)
    assert(Files.isDirectory(resolved), "superseded version must survive grace")
    assert(beforeFiles.forall(f =>
      Files.exists(dir.resolve(GraftCatalog.DataDir).resolve(f))))
    assert(spark.sql(s"SELECT count(*) AS n FROM $cat.t").head().getLong(0) == 80)
  }

  // ---- row-level DELETE, time travel, replay idempotency (r17 cont.) ----

  test("DELETE rewrites only matched files; survivors carry by reference") {
    val (cat, root) = freshCatalog()
    spark.sql(s"CREATE TABLE $cat.t (id BIGINT, grp STRING, v DOUBLE)")
    val dir = root.resolve("t")
    // two separate commits -> at least two pool files with disjoint ids
    spark.sql(s"INSERT INTO $cat.t SELECT id, 'a', 0.5 FROM range(0, 100)")
    spark.sql(s"INSERT INTO $cat.t SELECT id, 'b', 0.5 FROM range(100, 200)")
    val before = GraftCatalog.currentManifest(dir).map(_.file).toSet
    spark.sql(s"DELETE FROM $cat.t WHERE grp = 'b' AND id >= 150")
    val after = GraftCatalog.currentManifest(dir)
    // the 'a' files contained no match: carried over BY REFERENCE
    val aFiles = before.filter(f => after.exists(_.file == f))
    assert(aFiles.nonEmpty, "untouched files must carry over by name")
    assert(after.map(_.rows).sum == 150)
    val rows = spark.sql(
      s"SELECT grp, count(*) AS n FROM $cat.t GROUP BY grp ORDER BY grp").collect()
    assert(rows.map(r => (r.getString(0), r.getLong(1))).toSeq ==
      Seq(("a", 100L), ("b", 50L)))
    // a delete matching EVERYTHING in a file drops it from the manifest
    spark.sql(s"DELETE FROM $cat.t WHERE grp = 'b'")
    assert(spark.sql(s"SELECT count(*) AS n FROM $cat.t").head().getLong(0) == 100)
    // null semantics: rows with NULL in the predicate column are KEPT
    spark.sql(s"INSERT INTO $cat.t VALUES (999, NULL, 1.0)")
    spark.sql(s"DELETE FROM $cat.t WHERE grp = 'a' AND id < 10")
    val n = spark.sql(s"SELECT count(*) AS n FROM $cat.t").head().getLong(0)
    assert(n == 91, s"90 a-rows + the null-grp row, got $n")
    // a NOT predicate is beyond the metadata path (two-valued eval would
    // silently delete NULL rows) — it now routes through the group-based
    // COW rewrite, where Spark's own three-valued logic keeps UNKNOWN
    // rows: nothing here is provably <> 'a', so nothing is deleted
    spark.sql(s"DELETE FROM $cat.t WHERE grp <> 'a'")
    assert(spark.sql(s"SELECT count(*) AS n FROM $cat.t").head().getLong(0) == 91)
    // and with a provably-matching row present, ONLY that row goes
    spark.sql(s"INSERT INTO $cat.t VALUES (1000, 'b', 1.0)")
    spark.sql(s"DELETE FROM $cat.t WHERE grp <> 'a'")
    val postNot = spark.sql(
      s"SELECT count(*) AS n, count(grp) AS ng FROM $cat.t").head()
    assert(postNot.getLong(0) == 91 && postNot.getLong(1) == 90,
      s"the b row deleted, the NULL row kept: $postNot")
  }

  test("VERSION AS OF reads the pinned snapshot; writes to it are refused") {
    val (cat, root) = freshCatalog()
    spark.sql(s"CREATE TABLE $cat.t (id BIGINT, v DOUBLE)")
    spark.sql(s"INSERT INTO $cat.t SELECT id, 0.5 FROM range(0, 10)")   // seq 1
    spark.sql(s"INSERT INTO $cat.t SELECT id, 0.5 FROM range(10, 30)") // seq 2
    spark.sql(s"DELETE FROM $cat.t WHERE id >= 25")                     // seq 3
    val dir = root.resolve("t")
    val cur = GraftCatalog.seqOf(
      graft.similarity.IndexStore.pointer.resolve(dir, GraftCatalog.PointerName).get)
    assert(cur == 3L)
    def countAt(seq: Long): Long = spark.sql(
      s"SELECT count(*) AS n FROM $cat.t VERSION AS OF '$seq'").head().getLong(0)
    assert(countAt(1) == 10 && countAt(2) == 30 && countAt(3) == 25)
    assert(spark.sql(s"SELECT count(*) AS n FROM $cat.t").head().getLong(0) == 25)
    // a GC'd (or never-existing) version fails loudly
    intercept[Exception] { countAt(99) }
    // historical snapshots are read-only
    intercept[Exception] {
      spark.sql(s"INSERT INTO $cat.t VERSION AS OF '1' VALUES (1, 1.0)")
    }
  }

  test("TIMESTAMP AS OF resolves by publish instant; bounds fail loudly") {
    val (cat, root) = freshCatalog()
    spark.sql(s"CREATE TABLE $cat.t (id BIGINT)")
    spark.sql(s"INSERT INTO $cat.t SELECT id FROM range(0, 10)")  // seq 1
    spark.sql(s"INSERT INTO $cat.t SELECT id FROM range(10, 30)") // seq 2
    val dir = root.resolve("t")
    val hist = GraftCatalog.describeHistory(dir)
    assert(hist.map(_.seq) == Seq(2L, 1L))
    // publish stamps are strictly monotone (same-ms commits disambiguated)
    assert(hist.head.modifiedMs > hist.last.modifiedMs)
    def countAt(ms: Long): Long = spark.sql(
      s"""SELECT count(*) AS n FROM $cat.t TIMESTAMP AS OF
         |'${java.time.Instant.ofEpochMilli(ms)}'""".stripMargin)
      .head().getLong(0)
    assert(countAt(hist.last.modifiedMs) == 10L)      // at seq 1's instant
    assert(countAt(hist.head.modifiedMs - 1) == 10L)  // just before seq 2
    assert(countAt(hist.head.modifiedMs) == 30L)      // at seq 2's instant
    assert(countAt(hist.head.modifiedMs + 60000) == 30L) // future → current
    // before the first commit: no version existed — loud, not empty
    intercept[Exception] { countAt(hist.last.modifiedMs - 60000) }
  }

  test("a crashed pre-swap version dir never serves through the history faces") {
    val (cat, root) = freshCatalog()
    spark.sql(s"CREATE TABLE $cat.t (id BIGINT)")
    spark.sql(s"INSERT INTO $cat.t SELECT id FROM range(0, 10)") // seq 1
    val dir = root.resolve("t")
    // plant what a writer crashing BETWEEN manifest write and pointer
    // swap leaves behind: a version dir with manifest + seq + ts but NO
    // committed marker (it was never current); give it a duplicate seq
    // and the newest stamp to make it the most attractive candidate
    val zombie = dir.resolve(GraftCatalog.VersionsDir).resolve("zombie123")
    Files.createDirectories(zombie)
    Files.writeString(zombie.resolve(GraftCatalog.ManifestFile),
      "part-phantom.gbin\t999\t1\t1\t-")
    Files.writeString(zombie.resolve(GraftCatalog.SeqFile), "1")
    Files.writeString(zombie.resolve(GraftCatalog.TsFile),
      (System.currentTimeMillis() + 1000L).toString)
    // VERSION AS OF 1 resolves the COMMITTED seq-1 dir, not the zombie
    assert(spark.sql(s"SELECT count(*) AS n FROM $cat.t VERSION AS OF '1'")
      .head().getLong(0) == 10L)
    // DESCRIBE HISTORY hides it
    val hist = GraftCatalog.describeHistory(dir)
    assert(hist.map(_.seq) == Seq(1L) && hist.head.rows == 10L)
    // TIMESTAMP AS OF anything resolves committed versions only
    assert(GraftCatalog.findVersionByTime(dir, Long.MaxValue)
      .exists(_.getFileName.toString != "zombie123"))
  }

  test("a tagged commit replayed against the same current version is a no-op") {
    import org.apache.spark.sql.functions.lit
    val (cat, root) = freshCatalog()
    spark.sql(s"CREATE TABLE $cat.t (id BIGINT, v DOUBLE)")
    val dir = root.resolve("t")
    def batch(lo: Int, hi: Int) = {
      import spark.implicits._
      (lo until hi).map(i => (i.toLong, 0.5)).toDF("id", "v")
    }
    batch(0, 10).writeTo(s"$cat.t").option("commitTag", "b0").overwrite(lit(true))
    batch(10, 20).writeTo(s"$cat.t").option("commitTag", "b1").append()
    val seqAfterB1 = GraftCatalog.seqOf(
      graft.similarity.IndexStore.pointer.resolve(dir, GraftCatalog.PointerName).get)
    // the foreachBatch replay scenario: the SAME batch lands again with
    // the SAME tag — the catalog must not double-append
    batch(10, 20).writeTo(s"$cat.t").option("commitTag", "b1").append()
    val seqAfterReplay = GraftCatalog.seqOf(
      graft.similarity.IndexStore.pointer.resolve(dir, GraftCatalog.PointerName).get)
    assert(seqAfterReplay == seqAfterB1, "replay must not publish a version")
    assert(spark.sql(s"SELECT count(*) AS n FROM $cat.t").head().getLong(0) == 20)
    // a NEW tag appends normally
    batch(20, 25).writeTo(s"$cat.t").option("commitTag", "b2").append()
    assert(spark.sql(s"SELECT count(*) AS n FROM $cat.t").head().getLong(0) == 25)
  }

  test("table-as-stream: one version per trigger; non-append history fails loudly") {
    import graft.streaming.StreamingOps
    import org.apache.spark.sql.functions._
    val (cat, _) = freshCatalog()
    spark.sql(s"CREATE TABLE $cat.t (id BIGINT, v DOUBLE)")
    for (b <- 0 until 3)
      spark.sql(s"INSERT INTO $cat.t SELECT id, 0.5 FROM range(${b * 10}, ${b * 10 + 10})")
    val agg = spark.readStream.table(s"$cat.t")
      .groupBy().agg(count(lit(1)).as("n"), min("id").as("lo"), max("id").as("hi"))
    // three committed versions -> three data-carrying triggers
    val out = StreamingOps.runToMemory(spark, agg, minDataBatches = 3)
    assert(out.head() == org.apache.spark.sql.Row(30L, 0L, 29L))
    // a DELETE rewrites history: the version range is no longer
    // append-only and a fresh stream must fail loudly, not misreplay
    spark.sql(s"DELETE FROM $cat.t WHERE id < 5")
    val e = intercept[Exception] {
      StreamingOps.runToMemory(spark, agg, minDataBatches = 1)
    }
    def chain(t: Throwable): Seq[String] =
      if (t == null) Nil else Option(t.getMessage).toSeq ++ chain(t.getCause)
    assert(chain(e).exists(_.contains("append-only")), chain(e).mkString(" | "))
  }

  test("table-as-stream under AvailableNow: drain to the latch, resume incrementally") {
    import org.apache.spark.sql.streaming.Trigger
    val (cat, _) = freshCatalog()
    spark.sql(s"CREATE TABLE $cat.t (id BIGINT, v DOUBLE)")
    for (b <- 0 until 3)
      spark.sql(s"INSERT INTO $cat.t SELECT id, 0.5 FROM range(${b * 10}, ${b * 10 + 10})")
    val ckpt = graft.TempDirs.create("gcat-an-ckpt").toString
    val outDir = graft.TempDirs.create("gcat-an-out").toString
    def drain(): Unit = {
      // file sink: the one built-in sink that RECOVERS from a checkpoint,
      // which is the whole point of the resumed-backfill contract
      val q = spark.readStream.table(s"$cat.t")
        .writeStream.format("parquet")
        .option("path", outDir)
        .option("checkpointLocation", ckpt)
        .trigger(Trigger.AvailableNow())
        .start()
      assert(q.awaitTermination(60000), "AvailableNow must self-terminate")
    }
    drain() // backfill: three latched versions, then stop
    assert(spark.read.parquet(outDir).count() == 30L)
    // new commits land AFTER the first drain; a resumed AvailableNow run
    // picks up exactly the delta from the checkpointed seq
    spark.sql(s"INSERT INTO $cat.t SELECT id, 0.5 FROM range(30, 45)")
    drain()
    assert(spark.read.parquet(outDir).count() == 45L)
    // nothing new: a third run terminates having admitted nothing
    drain()
    assert(spark.read.parquet(outDir).count() == 45L)
  }

  test("racing concurrent appends serialize losslessly with dense seqs") {
    val (cat, root) = freshCatalog()
    spark.sql(s"CREATE TABLE $cat.race (id BIGINT)")
    val pool = java.util.concurrent.Executors.newFixedThreadPool(8)
    try {
      val futs = (0 until 8).map { t =>
        pool.submit(new java.util.concurrent.Callable[Unit] {
          override def call(): Unit =
            for (b <- 0 until 3) {
              val lo = (t * 3 + b) * 1000
              spark.sql(
                s"INSERT INTO $cat.race SELECT id FROM range($lo, ${lo + 1000})")
            }
        })
      }
      futs.foreach(_.get(180, java.util.concurrent.TimeUnit.SECONDS))
    } finally pool.shutdown()
    // every commit landed exactly once: count, content, and the commit
    // seqs are DENSE 1..24 (the per-table lock serializes publishes —
    // no lost update, no gap, no double-publish)
    val r = spark.sql(
      s"SELECT count(*) AS n, CAST(sum(id) AS BIGINT) AS s FROM $cat.race")
      .head()
    assert(r.getLong(0) == 24000L && r.getLong(1) == (0L until 24000L).sum)
    val seqs = GraftCatalog.describeHistory(root.resolve("race"))
      .map(_.seq).sorted
    assert(seqs == (1L to 24L), s"commit seqs must be dense 1..24: $seqs")
  }

  test("compaction coalesces to one file, conserves rows, keeps history") {
    val (cat, root) = freshCatalog()
    spark.sql(s"CREATE TABLE $cat.t (id BIGINT, v DOUBLE)")
    spark.sql(s"INSERT INTO $cat.t SELECT id, 0.5 FROM range(0, 100)")
    spark.sql(s"INSERT INTO $cat.t SELECT id, 0.5 FROM range(100, 150)")
    val dir = root.resolve("t")
    val preCompactSeq = GraftCatalog.seqOf(
      IndexStore.pointer.resolve(dir, GraftCatalog.PointerName).get)
    val preFiles = GraftCatalog.currentManifest(dir)
    assert(preFiles.size >= 2)
    val seq = GraftCatalog.compact(dir)
    assert(seq == preCompactSeq + 1)
    val post = GraftCatalog.currentManifest(dir)
    assert(post.size == 1 && post.head.rows == 150)
    assert(spark.sql(s"SELECT count(*) AS n, min(id) AS lo, max(id) AS hi FROM $cat.t")
      .head() == Row(150L, 0L, 149L))
    // time travel to the pre-compact version still sees the small files
    assert(spark.sql(
      s"SELECT count(*) AS n FROM $cat.t VERSION AS OF '$preCompactSeq'")
      .head().getLong(0) == 150)
    // compacting a single-file table is a no-op (same seq, no new version)
    assert(GraftCatalog.compact(dir) == seq)
  }

  test("DDL guard rails: duplicate create, unsupported types, namespaces") {
    val (cat, _) = freshCatalog()
    spark.sql(s"CREATE TABLE $cat.t (id BIGINT)")
    intercept[Exception] { spark.sql(s"CREATE TABLE $cat.t (id BIGINT)") }
    spark.sql(s"CREATE TABLE IF NOT EXISTS $cat.t (id BIGINT)") // no throw
    intercept[Exception] {
      spark.sql(s"CREATE TABLE $cat.arr (xs ARRAY<INT>)")
    }
    intercept[Exception] {
      spark.sql(s"CREATE TABLE $cat.ns.t2 (id BIGINT)")
    }
    // empty table reads as empty, not an error
    spark.sql(s"CREATE TABLE $cat.empty (id BIGINT)")
    assert(spark.sql(s"SELECT * FROM $cat.empty").collect().isEmpty)
    // drop removes; re-create works
    spark.sql(s"DROP TABLE $cat.t")
    spark.sql(s"CREATE TABLE $cat.t (id BIGINT, v DOUBLE)")
    spark.sql(s"INSERT INTO $cat.t VALUES (1, 1.0)")
    assert(spark.sql(s"SELECT * FROM $cat.t").collect().toSeq ==
      Seq(Row(1L, 1.0)))
    // RENAME re-points the absolute current-version pointer: the renamed
    // table must read its data, not silently resolve empty
    spark.sql(s"ALTER TABLE $cat.t RENAME TO t2")
    assert(spark.sql(s"SELECT * FROM $cat.t2").collect().toSeq ==
      Seq(Row(1L, 1.0)))
    spark.sql(s"INSERT INTO $cat.t2 VALUES (2, 2.0)")
    assert(spark.sql(s"SELECT count(*) AS n FROM $cat.t2").head().getLong(0) == 2)
    intercept[Exception] { spark.sql(s"SELECT * FROM $cat.t").collect() }
  }

  test("pool-file bytes are read and written only through GraftPool") {
    // main source with the GraftPool object cut out of GraftCatalog.scala
    // (the codec, DV and stats objects call their own members unqualified)
    val outside = graft.MainSources.files.map { p =>
      val code = graft.MainSources.code(p)
      val at = code.indexOf("object GraftPool {")
      p.getFileName.toString ->
        (if (at < 0) code
         else code.substring(0, at) + code.substring(code.indexOf("\n}\n", at)))
    }
    assert(outside.exists(_._2.contains("GraftPool.Reader")),
      "no caller of GraftPool found; the scan is void")
    for (needle <- Seq("GraftRowCodec.read(", "GraftRowCodec.write(",
        "GraftDv.cursor(", "GraftDv.read(", "GraftDv.write(",
        "new GraftStats.Collector(")) {
      val offenders = outside.collect { case (f, c) if c.contains(needle) => f }
      assert(offenders.isEmpty,
        s"$needle outside GraftPool: ${offenders.mkString(", ")}")
    }
  }
}
