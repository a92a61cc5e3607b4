package graft.sources

import java.nio.file.{Files, Paths}
import java.util.concurrent.{Executors, TimeUnit}
import java.util.concurrent.atomic.{AtomicBoolean, AtomicReference}

import graft.SparkSpec
import graft.similarity.IndexStore
import org.apache.spark.sql.functions._

/** The generalized snapshot protocol (round 13, VERDICT r12 #7):
  * `IndexStore.commit` must give concurrent readers one complete version
  * per read — across many commits, across racing committers, and across
  * a reader that defers its scan two commits behind (the GC grace). */
class SnapshotCommitSpec extends SparkSpec
    with org.scalatest.BeforeAndAfterAll {

  /** Pointer impl under test (round 14 seam) — overridden by the
    * manifest-pointer run below. */
  protected def pointerImpl: graft.similarity.SnapshotPointer =
    graft.similarity.PosixSymlinkPointer

  override def beforeAll(): Unit = { IndexStore.pointer = pointerImpl }
  override def afterAll(): Unit =
    IndexStore.pointer = graft.similarity.PosixSymlinkPointer

  private def wipe(name: String): Unit = {
    Files.deleteIfExists(Paths.get(IndexStore.Root, name))
    Files.deleteIfExists(Paths.get(IndexStore.Root, s"$name.ptr"))
    val v = Paths.get(IndexStore.Root, ".v", name)
    if (Files.exists(v)) IndexStore.deleteRecursively(v)
  }

  private def tagged(n: Int, tag: Long) = {
    import spark.implicits._
    (0 until n).map(i => (i.toLong, tag)).toDF("id", "tag")
  }

  test("a hammering reader never sees a torn or mixed commit") {
    val name = "snapcommit_swap"
    wipe(name)
    IndexStore.commit(name, "t1")(tagged(300, 1L))
    val stop = new AtomicBoolean(false)
    val torn = new AtomicReference[String](null)
    val reader = new Thread(() => {
      while (!stop.get() && torn.get() == null) {
        try {
          val got = IndexStore.readCurrent(spark, name)
            .groupBy("tag").agg(count(lit(1)).as("n")).collect()
          if (got.length != 1 || got(0).getLong(1) != 300L)
            torn.set(s"torn read: ${got.mkString(", ")}")
        } catch { case e: Throwable => torn.set(s"reader threw: $e") }
      }
    })
    reader.start()
    try (2 to 7).foreach(t => IndexStore.commit(name, s"t$t")(tagged(300, t.toLong)))
    finally { stop.set(true); reader.join(120000) }
    assert(torn.get() == null, String.valueOf(torn.get()))
  }

  test("racing committers serialize; the final snapshot is one complete commit") {
    val name = "snapcommit_race"
    wipe(name)
    val pool = Executors.newFixedThreadPool(4)
    val futures = (1 to 4).map { t =>
      pool.submit(new Runnable {
        def run(): Unit = IndexStore.commit(name, s"t$t")(tagged(100, t.toLong))
      })
    }
    futures.foreach(_.get(120, TimeUnit.SECONDS))
    pool.shutdown()
    val rows = IndexStore.readCurrent(spark, name).collect()
    val tags = rows.map(_.getLong(1)).distinct
    assert(rows.length == 100 && tags.length == 1 &&
      (1L to 4L).contains(tags(0)),
      s"final snapshot must be one complete commit: n=${rows.length}, tags=${tags.toSeq}")
  }

  test("a deferred reader two commits behind keeps its files (grace)") {
    val name = "snapcommit_grace"
    wipe(name)
    IndexStore.commit(name, "t1")(tagged(50, 1L))
    val deferred = IndexStore.readCurrent(spark, name) // resolves v1, scans later
    IndexStore.commit(name, "t2")(tagged(50, 2L))
    IndexStore.commit(name, "t3")(tagged(50, 3L))
    val got = deferred.collect()
    assert(got.length == 50 && got.forall(_.getLong(1) == 1L),
      "the deferred v1 scan must still see all of v1, untouched by GC")
  }

  test("previousVersion time-travels exactly one commit back") {
    val name = "snapcommit_tt"
    wipe(name)
    assert(IndexStore.previousVersion(name).isEmpty, "no versions yet")
    IndexStore.commit(name, "t1")(tagged(10, 1L))
    assert(IndexStore.previousVersion(name).isEmpty, "one version has no predecessor")
    IndexStore.commit(name, "t2")(tagged(10, 2L))
    IndexStore.commit(name, "t3")(tagged(10, 3L))
    // an unpublished orphan (a build that died mid-write) must be
    // invisible to time travel — lineage is explicit, never inferred
    // from directory listings or mtimes
    val orphan = Paths.get(IndexStore.Root, ".v", name, "zzzz-orphan")
    Files.createDirectories(orphan)
    Files.writeString(orphan.resolve("part-00000.parquet"), "torn garbage")
    val prev = IndexStore.previousVersion(name).get
    assert(prev.getFileName.toString != "zzzz-orphan",
      "previousVersion followed a directory heuristic into an orphan")
    val tags = spark.read.parquet(prev.toString)
      .select("tag").distinct().collect().map(_.getLong(0)).toSeq
    assert(tags == Seq(2L), s"previous must be exactly t2, got tags=$tags")
    // and the current read is untouched by the time travel
    val cur = IndexStore.readCurrent(spark, name)
      .select("tag").distinct().collect().map(_.getLong(0)).toSeq
    assert(cur == Seq(3L))
  }

  test("schema evolution across commits: each version keeps its own schema, " +
      "and the evolved read unions them with null back-fill") {
    val name = "snapcommit_schema"
    wipe(name)
    IndexStore.commit(name, "t1")(tagged(10, 1L))
    IndexStore.commit(name, "t2")(
      tagged(10, 2L).withColumn("extra", col("id") * 2))
    // the current snapshot carries the widened schema; time travel hands
    // back the predecessor under ITS schema — a table format never
    // rewrites history to evolve it
    val cur = IndexStore.readCurrent(spark, name)
    assert(cur.columns.toSeq == Seq("id", "tag", "extra"), cur.columns.toSeq)
    val prev = spark.read.parquet(IndexStore.previousVersion(name).get.toString)
    assert(prev.columns.toSeq == Seq("id", "tag"), prev.columns.toSeq)
    // the evolution read: union by NAME with missing columns null-filled
    // (exactly what a format's schema-merge read does)
    val both = cur.unionByName(prev, allowMissingColumns = true)
    assert(both.count() == 20)
    assert(both.filter(col("extra").isNull).count() == 10,
      "pre-evolution rows must surface the new column as null")
    assert(both.filter(col("tag") === 2L && col("extra") =!= col("id") * 2)
      .count() == 0)
  }

  test("switching pointer implementations never serves a stale version: " +
      "each swap drops the other spelling's pointer, so the abandoned " +
      "form resolves None (cold start), not old data") {
    import graft.similarity.{ManifestFilePointer, PosixSymlinkPointer}
    val name = "snapcommit_ptrswitch"
    wipe(name)
    try {
      // v1 published under POSIX; then the deployment switches to the
      // manifest pointer and publishes v2
      IndexStore.pointer = PosixSymlinkPointer
      IndexStore.commit(name, "t1")(tagged(10, 1L))
      IndexStore.pointer = ManifestFilePointer
      IndexStore.commit(name, "t2")(tagged(10, 2L))
      // switching BACK to POSIX must not resolve the stale symlink to v1
      // — the manifest swap deleted it; the reader cold-starts instead
      // of silently serving the superseded version
      IndexStore.pointer = PosixSymlinkPointer
      assert(IndexStore.currentVersion(name).isEmpty,
        "stale symlink survived the manifest swap — a pointer-impl " +
          "switch would silently serve the old version")
      // and the reverse: a POSIX publish drops the stale .ptr
      IndexStore.commit(name, "t3")(tagged(10, 3L))
      IndexStore.pointer = ManifestFilePointer
      assert(IndexStore.currentVersion(name).isEmpty,
        "stale .ptr survived the POSIX swap")
    } finally IndexStore.pointer = pointerImpl
  }

  test("a reader racing compaction always sees one complete layout, " +
      "pre- or post-rewrite (r15, VERDICT r14 #5)") {
    val dir = "/root/testdata/sf0.001"
    val (table, tdir) = Formats.srcTable(spark, "race_compaction", dir)
    spark.sql(s"DROP TABLE IF EXISTS $table")
    val expected = graft.Tables(spark, dir, "documents").count()
    val stop = new AtomicBoolean(false)
    val torn = new AtomicReference[String](null)
    val reader = new Thread(() => {
      while (!stop.get() && torn.get() == null) {
        // before the first commit there is no table, or an empty one —
        // not a tear; once a version is committed every read is complete
        val committed = GraftCatalog.describeHistory(tdir).nonEmpty
        try {
          val n = spark.table(table).count()
          if (n != expected && (committed || n != 0L))
            torn.set(s"torn compaction read: $n of $expected rows")
        } catch {
          case e: org.apache.spark.sql.AnalysisException
            if !committed && String.valueOf(e.getMessage)
              .contains("TABLE_OR_VIEW_NOT_FOUND") => ()
          case e: Throwable => torn.set(s"reader threw: $e")
        }
      }
    })
    reader.start()
    try Formats.landCompaction(spark, dir, table, tdir)
    finally { stop.set(true); reader.join(120000) }
    assert(torn.get() == null, String.valueOf(torn.get()))
    // the rewrite is a snapshot commit: current = compacted, the
    // fragmented load it replaced stays readable by VERSION AS OF
    val hist = GraftCatalog.describeHistory(tdir).sortBy(_.seq)
    assert(hist.flatMap(_.kind) ==
      Seq(GraftCatalog.Kind.Append, GraftCatalog.Kind.Compact))
    assert(hist.map(_.files) == Seq(64, 1), s"files per version: ${hist.map(_.files)}")
    assert(spark.sql(s"SELECT * FROM $table VERSION AS OF '${hist.head.seq}'")
      .count() == expected)
    spark.sql(s"DROP TABLE $table")
  }

  test("src_snapshot_reader: final snapshot equals the direct full-table census") {
    val dir = "/root/testdata/sf0.001"
    val got = Formats.snapshotReader(spark, dir)
    val want = graft.Tables(spark, dir, "events")
      .groupBy("user_id").agg(count(lit(1)).as("n_events"))
      .withColumn("version", lit(3L))
    assert(got.exceptAll(want).isEmpty && want.exceptAll(got).isEmpty)
    assert(got.count() > 0)
  }
}

/** The commit-protocol suite re-run over the object-store pointer
  * spelling (round 14, VERDICT r13 #8) — including the registered
  * src_snapshot_reader stress, which exercises commit + readCurrent +
  * deferred-scan + GC grace end-to-end under the manifest pointer. */
class SnapshotCommitManifestPointerSpec extends SnapshotCommitSpec {
  override protected def pointerImpl: graft.similarity.SnapshotPointer =
    graft.similarity.ManifestFilePointer
}
