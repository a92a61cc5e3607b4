package graft.sources

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** The raw-text round-trip's 1:1 line↔document contract. */
class FormatsSpec extends SparkSpec {

  private val sf = "/root/testdata/sf0.001"

  test("fixture texts carry no embedded newlines, so lines round-trip 1:1") {
    val docs = graft.Tables(spark, sf, "documents")
    assert(docs.filter(col("text").contains("\n") || col("text").contains("\r"))
      .count() == 0L)
    val nDocs = docs.count()
    val nLines = Formats.textRoundtrip(spark, sf)
      .agg(sum("n_lines")).collect().head.getLong(0)
    assert(nLines == nDocs, s"text dump has $nLines lines for $nDocs docs")
  }

  test("zstd round-trip really writes zstd part files") {
    // run the registered query first so the artifact exists
    assert(Formats.zstdRoundtrip(spark, sf).count() > 0)
    val tag = sf.replaceAll("[^A-Za-z0-9.]", "_") // Formats.sfTag's spelling
    val parts = Option(new java.io.File(s"/tmp/graft-src-zstd-$tag")
      .listFiles()).getOrElse(Array.empty)
      .filter(_.getName.startsWith("part-"))
    assert(parts.nonEmpty, "no part files written")
    assert(parts.forall(_.getName.endsWith(".zstd.parquet")),
      s"codec option silently ignored: ${parts.map(_.getName).toSeq}")
  }

  test("z-order layout bounds BOTH dims per file; the linear layout does not") {
    import org.apache.spark.sql.functions._
    val rows = Formats.zorderCluster(spark, sf).collect()
    val (zf, lf) = rows.partition(_.getString(0) == "zorder")
    assert(zf.nonEmpty && lf.nonEmpty)
    val ext = graft.Tables(spark, sf, "lineitem")
      .agg(max("l_partkey"), max("l_suppkey")).collect()(0)
    val (maxp, maxs) = (ext.getLong(0), ext.getLong(1))
    // a z file fixes the top 2 bucket bits of each dim → its span is ≤ ~¼
    // of the range on BOTH dims simultaneously (plus bucket-width slack);
    // this is the data-skipping guarantee the layout exists to provide
    // columns: layout(0), file_id(1), n_rows(2), min_p(3), max_p(4),
    //          min_s(5), max_s(6)
    val (pBound, sBound) =
      ((maxp + 1) / 4 + (maxp + 1) / 16 + 2, (maxs + 1) / 4 + (maxs + 1) / 16 + 2)
    zf.foreach { r =>
      assert(r.getLong(4) - r.getLong(3) <= pBound,
        s"z file ${r.getInt(1)} partkey span ${r.getLong(4) - r.getLong(3)} > $pBound")
      assert(r.getLong(6) - r.getLong(5) <= sBound,
        s"z file ${r.getInt(1)} suppkey span ${r.getLong(6) - r.getLong(5)} > $sBound")
    }
    // the linear layout pays for it: partkeys land ~uniformly in every
    // orderkey chunk, so the average partkey span stays near-full-range
    val lSpans = lf.map(r => r.getLong(4) - r.getLong(3))
    assert(lSpans.sum / lSpans.length > maxp / 2,
      s"linear layout partkey spans unexpectedly tight: ${lSpans.toSeq}")
    // row conservation: both layouts chunk the same table
    val (zRows, lRows) = (zf.map(_.getLong(2)).sum, lf.map(_.getLong(2)).sum)
    assert(zRows == lRows && zRows > 0,
      s"layouts disagree on row count: $zRows vs $lRows")
  }

  test("hilbert chunks stay edge-connected where z chunks jump: at the " +
      "UNALIGNED 24-cell file size, hilbert bounding boxes are tighter") {
    val rows = Formats.hilbertCluster(spark, sf).collect()
    val ext = graft.Tables(spark, sf, "lineitem")
      .agg(max("l_partkey"), max("l_suppkey")).collect()(0)
    val (maxp, maxs) = (ext.getLong(0), ext.getLong(1))
    def bucket(v: Long, maxv: Long): Long = v * 16 / (maxv + 1)
    // columns: layout(0), file_id(1), n_rows(2), min_p(3), max_p(4),
    //          min_s(5), max_s(6) — box area in GRID CELLS per file
    def areas(layout: String): Seq[Long] =
      rows.filter(_.getString(0) == layout).map { r =>
        (bucket(r.getLong(4), maxp) - bucket(r.getLong(3), maxp) + 1) *
          (bucket(r.getLong(6), maxs) - bucket(r.getLong(5), maxs) + 1)
      }.toSeq
    val (h, z) = (areas("hilbert"), areas("zorder24"))
    assert(h.nonEmpty && z.nonEmpty)
    // the z-jump: a 24-cell z chunk can straddle quadrant boundaries and
    // box out to 96 cells; the jump-free hilbert curve stays <= 32
    assert(h.max * 2 <= z.max,
      s"hilbert max box ${h.max} cells vs z ${z.max} — the locality " +
        "advantage this layout exists for is gone")
    assert(h.sum.toDouble / h.size < z.sum.toDouble / z.size,
      s"hilbert avg box ${h.sum.toDouble / h.size} not tighter than " +
        s"z ${z.sum.toDouble / z.size}")
    // row conservation: both layouts chunk the same table
    val n = (l: String) => rows.filter(_.getString(0) == l).map(_.getLong(2)).sum
    assert(n("hilbert") == n("zorder24") && n("hilbert") > 0)
  }

  test("manifest-driven skipping: z-order opens a strict subset of files, " +
      "linear opens all of them, and the prune loses no rows") {
    val rows = Formats.zorderSkipping(spark, sf).collect()
    val z = rows.find(_.getString(0) == "zorder").get
    val l = rows.find(_.getString(0) == "linear").get
    // columns: layout(0), files_total(1), files_read(2), n_rows(3), sum_qty(4)
    assert(z.getLong(2) < z.getLong(1),
      s"z-order read ${z.getLong(2)} of ${z.getLong(1)} files — no skipping")
    assert(z.getLong(2) * 4 <= z.getLong(1),
      s"z-order skipping too weak: ${z.getLong(2)} of ${z.getLong(1)} files")
    assert(l.getLong(2) == l.getLong(1),
      s"linear layout skipped files (${l.getLong(2)} of ${l.getLong(1)}): " +
        "an orderkey chunk should span both full key ranges")
    // both layouts must return the SAME query answer, and it must equal
    // the unpruned recompute from the base table — pruning lost nothing
    assert(z.getLong(3) == l.getLong(3) && z.getLong(4) == l.getLong(4))
    val ext = graft.Tables(spark, sf, "lineitem")
      .agg(max("l_partkey"), max("l_suppkey")).collect()(0)
    val (maxp, maxs) = (ext.getLong(0), ext.getLong(1))
    val full = graft.Tables(spark, sf, "lineitem")
      .filter(expr(s"((l_partkey * 16) div (${maxp + 1}L)) < 4") &&
        expr(s"((l_suppkey * 16) div (${maxs + 1}L)) < 4"))
      .agg(count(lit(1)), sum(col("l_quantity")).cast("long")).collect()(0)
    assert(z.getLong(3) == full.getLong(0),
      s"pruned read saw ${z.getLong(3)} rows, unpruned ${full.getLong(0)}")
    assert(z.getLong(4) == full.getLong(1))
  }

  /** The compaction table's (fragmented, compacted) history entries,
    * after asserting their kinds: one append, then one compact. */
  private def compactionHistory() = {
    Formats.compaction(spark, sf).collect()
    val (_, tdir) = Formats.srcTable(spark, "compaction", sf)
    val hist = GraftCatalog.describeHistory(tdir).sortBy(_.seq)
    assert(hist.flatMap(_.kind) ==
      Seq(GraftCatalog.Kind.Append, GraftCatalog.Kind.Compact),
      s"compaction history kinds: ${hist.map(_.kind)}")
    (hist(0), hist(1))
  }

  test("compaction collapses the 64-file fragment layout by >=8x, keeping rows") {
    val (frag, out) = compactionHistory()
    assert(frag.files == 64, s"fragment layout has ${frag.files} files")
    assert(out.files * 8 <= frag.files, s"compacted to ${out.files} files from ${frag.files}")
    assert(out.rows == frag.rows)
  }

  test("hilbert skipping opens strictly fewer files than the 24-cell z " +
      "layout for the center window, losing no rows (r15)") {
    val rows = Formats.hilbertSkipping(spark, sf).collect()
      .map(r => r.getString(0) -> r).toMap
    val h = rows("hilbert24"); val z = rows("zorder24")
    assert(h.getLong(1) == z.getLong(1), "same chunk count per layout")
    assert(h.getLong(2) < z.getLong(2),
      s"hilbert must open fewer files: ${h.getLong(2)} vs ${z.getLong(2)}")
    assert(h.getLong(2) < h.getLong(1), "hilbert must actually skip files")
    // identical aggregate either way: the prune lost nothing on either side
    assert(h.getLong(3) == z.getLong(3) && h.getLong(4) == z.getLong(4))
  }

  test("delete propagation (r15): the current snapshot holds zero " +
      "forgotten users; the pre-delete version stays on the lineage for audit") {
    Formats.forgetUser(spark, sf).collect() // lands load + delete
    val (t, tdir) = Formats.srcTable(spark, "forget_user", sf)
    val hist = GraftCatalog.describeHistory(tdir).sortBy(_.seq)
    assert(hist.flatMap(_.kind) ==
      Seq(GraftCatalog.Kind.Append, GraftCatalog.Kind.Delete),
      s"forget history kinds: ${hist.map(_.kind)}")
    val cur = spark.table(t)
    assert(cur.filter(col("user_id") % Formats.ForgetModulus === 0).count() == 0,
      "a forgotten user's rows survived the delete")
    // audit read: the predecessor still carries the deleted rows (until
    // a VACUUM past its retention collects it)
    val prev = spark.sql(s"SELECT * FROM $t VERSION AS OF '${hist(0).seq}'")
    val forgotten = prev.filter(col("user_id") % Formats.ForgetModulus === 0).count()
    assert(forgotten > 0, "the fixture must actually exercise the delete")
    assert(prev.count() == cur.count() + forgotten,
      "the rewrite must remove exactly the forget-set rows, nothing else")
  }

  test("physical GDPR reclaim (r16): post-GC the predecessor's directory " +
      "is unlinked from disk while the current version reads unchanged") {
    import graft.similarity.IndexStore
    val name = "forget_gc_events_" + sf.replaceAll("[^A-Za-z0-9.]", "_")
    // stage the lifecycle by hand so the pre-GC predecessor path is in
    // hand BEFORE the query's zero-grace gc destroys it: land full →
    // forgotten exactly as the query does, then capture the lineage
    def events = graft.Tables(spark, sf, "events")
      .select(col("event_id"), col("user_id"), col("event_type"), col("value"))
    val full = IndexStore.commit(name, "full")(events)
    val forget = events.select(col("user_id"))
      .filter(col("user_id") % Formats.ForgetModulus === 0).distinct()
    IndexStore.commit(name, "forgotten")(
      spark.read.parquet(full.toString)
        .join(broadcast(forget), Seq("user_id"), "left_anti"))
    assert(IndexStore.previousVersion(name).contains(full),
      "the staged lineage must point at the full version pre-GC")
    val curPath = IndexStore.currentVersion(name).get
    val censusBefore = spark.read.parquet(curPath.toString).count()
    // the registered query finds tag=forgotten, runs the zero-grace gc
    val row = Formats.forgetGc(spark, sf).collect()(0)
    assert(row.getLong(0) == 1L, s"versions_remaining=${row.getLong(0)}")
    assert(row.getLong(1) == 1L, "predecessor must be gone from the lineage")
    assert(row.getLong(2) == 0L, "forgotten rows readable in current")
    // the physical claim the oracle can't see: the full version's
    // directory no longer exists — the deletion is physical
    assert(!java.nio.file.Files.exists(full),
      s"pre-delete version still on disk after the compliance GC: $full")
    // ...while the current version is untouched by the reclaim
    assert(IndexStore.currentVersion(name).contains(curPath))
    assert(spark.read.parquet(curPath.toString).count() == censusBefore)
  }

  test("pruned delete (r15): untouched bucket files are carried by " +
      "REFERENCE, only the overlapping bucket is rewritten") {
    val row = Formats.forgetPruned(spark, sf).collect()(0)
    assert(row.getLong(1) == 1L,
      s"exactly one bucket overlaps the forget range, got ${row.getLong(1)}")
    assert(row.getLong(0) >= 14L, "the fixture must populate (nearly) all buckets")
    val maxu = graft.Tables(spark, sf, "events")
      .agg(max("user_id")).collect()(0).getLong(0)
    val fb32 = Formats.forgetBucket32(maxu)
    val forgetRange = expr(s"(user_id * 32) div (${maxu + 1}L) = $fb32")
    val (t, tdir) = Formats.srcTable(spark, "forget_pruned", sf)
    val before = GraftCatalog.findVersionBySeq(tdir, "1")
      .map(GraftCatalog.readManifest).get
    val after = GraftCatalog.currentManifest(tdir)
    // untouched entries: the SAME pool files in both manifests (the
    // delete never copied them)
    val carried = before.map(_.file).toSet.intersect(after.map(_.file).toSet)
    assert(carried.size == before.size - 1,
      s"${carried.size} of ${before.size} files carried over by reference")
    // the rewritten bucket: one fresh file (none when every row of the
    // bucket was forgotten) holding zero forget-range rows
    val fresh = after.map(_.file).filterNot(carried)
    assert(fresh.size <= 1, s"more than one fresh file: $fresh")
    assert(spark.table(t).filter(col("_file").isin(fresh: _*) && forgetRange)
      .count() == 0, "forget-range rows survived the rewrite")
    assert(spark.table(t).filter(forgetRange).count() == 0)
    assert(spark.sql(s"SELECT * FROM $t VERSION AS OF '1'").filter(forgetRange)
      .count() > 0, "the fixture must actually exercise the delete")
  }

  test("one pool file per chunk: each layout table holds as many files as " +
      "its census has chunks") {
    val chunks = (Formats.zorderCluster(spark, sf).collect() ++
      Formats.hilbertCluster(spark, sf).collect())
      .groupBy(_.getString(0)).map { case (l, rs) => l -> rs.length.toLong }
    def files(q: String, rows: Array[org.apache.spark.sql.Row]): Unit =
      rows.foreach { r =>
        val layout = r.getString(0)
        val census = chunks(if (layout == "hilbert24") "hilbert" else layout)
        assert(r.getLong(1) == census,
          s"$q: layout $layout has ${r.getLong(1)} files for $census chunks")
      }
    files("src_zorder_skipping", Formats.zorderSkipping(spark, sf).collect())
    files("src_hilbert_skipping", Formats.hilbertSkipping(spark, sf).collect())
    val maxu = graft.Tables(spark, sf, "events")
      .agg(max("user_id")).collect()(0).getLong(0)
    val buckets = graft.Tables(spark, sf, "events")
      .select(expr(s"(user_id * 16) div (${maxu + 1}L)")).distinct().count()
    val pruned = Formats.forgetPruned(spark, sf).collect()(0).getLong(0)
    assert(pruned == buckets,
      s"src_forget_pruned: $pruned files for $buckets user buckets")
  }

  test("the scattered inserts stripe 4 files on a 2-core session too " +
      "(src_dsv2_cluster, src_dsv2_zorder)") {
    val s = spark.newSession()
    s.conf.set("spark.sql.leafNodeDefaultParallelism", "2")
    // dsv2Zorder runs on the shared extensions session: pin it there too
    val ext = graft.Sessions.withExtensions(s)
    val prior = ext.conf.getOption("spark.sql.leafNodeDefaultParallelism")
    ext.conf.set("spark.sql.leafNodeDefaultParallelism", "2")
    try {
      assert(Formats.dsv2Cluster(s, sf).count() > 0, "src_dsv2_cluster")
      assert(Formats.dsv2Zorder(s, sf).count() > 0, "src_dsv2_zorder")
    } finally prior match {
      case Some(v) => ext.conf.set("spark.sql.leafNodeDefaultParallelism", v)
      case None => ext.conf.unset("spark.sql.leafNodeDefaultParallelism")
    }
  }

  test("the seven catalog-backed src_* queries commit no index-store " +
      "version and hardlink nothing: only forgetGc may") {
    val code = graft.MainSources.code(
      java.nio.file.Paths.get("src/main/scala/graft/sources/Formats.scala"))
    val at = code.indexOf("def forgetGc(")
    val end = code.indexOf("\n  }\n", at)
    assert(at >= 0 && end > at, "forgetGc not found in Formats.scala")
    val (inside, outside) =
      (code.substring(at, end), code.substring(0, at) + code.substring(end))
    assert(inside.contains("IndexStore.commit("), "the guard is void")
    for (needle <- Seq("IndexStore.commit(", "Files.createLink(")) {
      assert(!outside.contains(needle),
        s"$needle in Formats.scala outside forgetGc")
    }
  }

  test("compaction rides the snapshot lineage: time travel reads the " +
      "pre-compaction layout (r15)") {
    val (frag, out) = compactionHistory()
    assert(out.isCurrent && !frag.isCurrent)
    // the audit read: VERSION AS OF pre-compaction holds the same rows
    val (t, _) = Formats.srcTable(spark, "compaction", sf)
    val prev = spark.sql(s"SELECT * FROM $t VERSION AS OF '${frag.seq}'")
    val cur = spark.table(t)
    assert(prev.exceptAll(cur).isEmpty && cur.exceptAll(prev).isEmpty,
      "the pre-compaction snapshot must hold the same rows")
  }
}
