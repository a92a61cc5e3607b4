package graft.streaming

import java.nio.file.Files

import org.apache.spark.sql.functions._
import graft.SparkSpec
import graft.emoji.EmojiOps
import graft.ingest.FileFeeder

/** The reference's static/stream duality (SURVEY.md §5.4, q2:95-97) as an
  * executable assertion: NDJSON rotated into a directory by FileFeeder
  * (tmp-file + atomic rename, reference S4 protocol), aggregated once via
  * the file-stream source in complete mode into a memory sink, once via a
  * plain batch read — identical results required. */
class StreamingDualitySpec extends SparkSpec {

  test("complete-mode streaming aggregate equals batch recomputation over the same files") {
    val dir = graft.TempDirs.create("graft-duality")
    val lines = Seq(
      Seq("""{"text": "hello 😀 world"}""",
          """{"text": "😀😀 glued 🔥"}"""),
      Seq("""{"text": "no emoji"}""",
          """{"text": "🔥 and 🙏"}"""),
      Seq("""{"text": "😀 again"}"""))
    val written = FileFeeder.feed(dir, lines)
    assert(written.size == 3)
    assert(written.forall(p => p.getFileName.toString.matches("feed-\\d{5}\\.json")))

    val static = spark.read.json(dir.toString)
    def agg(df: org.apache.spark.sql.DataFrame) = df
      .select(explode(EmojiOps.extractEmojis(col("text"))).as("emoji"))
      .groupBy("emoji").agg(count(lit(1)).as("cnt"))

    val stream = spark.readStream.schema(static.schema).json(dir.toString)
    val q = agg(stream).writeStream
      .outputMode("complete").format("memory").queryName("duality_t").start()
    try q.processAllAvailable()
    finally q.stop()

    val streamed = spark.table("duality_t").orderBy("emoji").collect().toSeq
    val batch = agg(static).orderBy("emoji").collect().toSeq
    assert(streamed == batch)
    assert(streamed.nonEmpty)
    // 😀: 4 occurrences across files (incl. inside the glued run)
    assert(streamed.map(r => r.getString(0) -> r.getLong(1)).toMap.apply("😀") == 4L)
  }

  test("online CMS sketch equals the batch sketch and its cells sum to d x corpus") {
    val sf = "/root/testdata/sf0.001"
    val streamed = StreamingOps.cmsSketch(spark, sf).collect()
      .map(r => (r.getInt(0), r.getLong(1), r.getLong(2))).toSeq
    // batch recomputation of the identical sketch over the static table
    val d = graft.text.TextAnalysis.CmsDepth
    val w = graft.text.TextAnalysis.CmsWidth
    val events = graft.Tables(spark, sf, "events")
    val batch = events
      .select(col("event_type"), explode(expr(s"sequence(0, ${d - 1})")).as("i"))
      .select(col("i"),
        (expr("conv(substring(md5(concat(i, ':', event_type)), 1, 4), 16, 10)")
          .cast("long") % w).as("b"))
      .groupBy("i", "b").agg(count(lit(1)).as("c"))
      .orderBy("i", "b").collect()
      .map(r => (r.getInt(0), r.getLong(1), r.getLong(2))).toSeq
    assert(streamed == batch && streamed.nonEmpty)
    // every row of the sketch sees the whole stream: per-row cell sums
    // all equal the corpus size (the CMS invariant that makes the
    // min-over-rows estimate one-sided)
    val n = events.count()
    streamed.groupBy(_._1).values.foreach(cells => assert(cells.map(_._3).sum == n))
    // fixed-memory bound: at most d*w cells ever exist
    assert(streamed.size <= d * w)
  }

  test("carried-state streaming transition matrix equals the batch lead() window") {
    val sf = "/root/testdata/sf0.001"
    val streamed = StreamingOps.streamPaths(spark, sf).collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2))).toSeq
    val batch = graft.queries.EventQueries.paths(spark, sf).collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2))).toSeq
    // the fold's cross-trigger carry must reproduce the batch window
    // exactly — any dropped or doubled boundary transition shifts a count
    assert(streamed == batch && streamed.nonEmpty)
  }

  test("carried-state streaming lateness histogram equals the batch running-max window") {
    val sf = "/root/testdata/sf0.001"
    val streamed = StreamingOps.streamLateness(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSeq
    val batch = graft.queries.EventQueries.lateness(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSeq
    // the per-user hwm carry across triggers over the id-split feed must
    // reproduce the batch per-user running max over event_id exactly —
    // a slice boundary that reset or skipped the hwm would shift mass
    // between buckets
    assert(streamed == batch && streamed.nonEmpty)
    // every event lands in exactly one bucket
    val total = graft.Tables(spark, sf, "events").count()
    assert(streamed.map(_._2).sum == total)
    // on THIS fixture per-user event time is monotone in event_id, so the
    // whole profile sits in bucket 0 — the well-ordered-feed baseline a
    // deployment wants to see; disorder semantics (hwm > current ts) are
    // pinned synthetically below
    assert(streamed == Seq((0L, total)))
  }

  test("lateness hwm carry measures disorder on a crafted out-of-order feed") {
    import spark.implicits._
    import org.apache.spark.sql.expressions.Window
    // user 1: arrival order (event_id) 1,2,3 with times 10:00, 10:05,
    // 10:02 → the third event is 3 minutes behind the high-water mark
    val crafted = Seq(
      (1L, 1L, "2026-08-13 10:00:00"),
      (1L, 2L, "2026-08-13 10:05:00"),
      (1L, 3L, "2026-08-13 10:02:00"),
      (2L, 4L, "2026-08-13 11:00:00"))
      .toDF("user_id", "event_id", "s")
      .selectExpr("user_id", "event_id", "unix_micros(CAST(s AS TIMESTAMP)) AS t_us")
    val run = Window.partitionBy("user_id").orderBy("event_id")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val buckets = crafted
      .withColumn("hwm", max("t_us").over(run))
      .select(least(expr("(hwm - t_us) div 60000000"),
        lit(graft.queries.EventQueries.LatenessCapMin)).as("late_min"))
      .groupBy("late_min").agg(count(lit(1)).as("cnt"))
      .orderBy("late_min")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    assert(buckets == Seq((0L, 3L), (3L, 1L)))
  }

  test("streaming merge-upsert final state equals the batch per-user argmax") {
    val sf = "/root/testdata/sf0.001"
    val got = StreamingOps.mergeUpsertStream(spark, sf)
      .collect()
      .map(r => (r.getLong(0), r.getString(1), r.getDouble(2),
        r.getTimestamp(3), r.getLong(4))).toSeq
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("user_id").orderBy(desc("ts"), desc("event_id"))
    val want = graft.Tables(spark, sf, "events")
      .withColumn("rn", row_number().over(w)).filter(col("rn") === 1)
      .select(col("user_id"), col("event_type"), col("value"),
        col("ts"), col("event_id"))
      .orderBy("user_id")
      .collect()
      .map(r => (r.getLong(0), r.getString(1), r.getDouble(2),
        r.getTimestamp(3), r.getLong(4))).toSeq
    assert(got == want, "per-trigger conditional upsert must fold to the batch argmax")
    // every user key survived the merge (keeps + updates + inserts cover
    // the key space; nothing was dropped by the full-outer classification)
    assert(got.map(_._1) == got.map(_._1).sorted && got.map(_._1).distinct == got.map(_._1))
  }

  test("merge-upsert conditional apply is order-independent (stale batch never clobbers)") {
    import spark.implicits._
    // target already holds user 1 at t=10:05 (event 7); a LATE-arriving
    // batch carries an OLDER row for user 1 (t=10:02, event 5) plus a new
    // user 2 — the apply must keep the target's newer row and insert the
    // new key. This is the CDC property the registered query's
    // struct-compare implements; replicated here on a crafted pair.
    def ts(s: String) = java.sql.Timestamp.valueOf(s)
    val target = Seq((1L, "purchase", 5.0, ts("2026-08-13 10:05:00"), 7L))
      .toDF("user_id", "event_type", "value", "ts", "event_id")
    val batch = Seq(
      (1L, "view", 1.0, ts("2026-08-13 10:02:00"), 5L),
      (2L, "signup", 2.0, ts("2026-08-13 10:04:00"), 6L))
      .toDF("user_id", "event_type", "value", "ts", "event_id")
    val t = target.select(target.columns.map(c => col(c).as("t_" + c)).toSeq: _*)
    val b = batch.select(batch.columns.map(c => col(c).as("b_" + c)).toSeq: _*)
    val takeB = col("t_user_id").isNull ||
      (struct(col("b_ts"), col("b_event_id")) > struct(col("t_ts"), col("t_event_id")))
    val merged = t.join(b, col("t_user_id") === col("b_user_id"), "full_outer")
      .select(coalesce(col("b_user_id"), col("t_user_id")).as("user_id"),
        when(takeB, col("b_event_type")).otherwise(col("t_event_type")).as("last_type"),
        when(takeB, col("b_event_id")).otherwise(col("t_event_id")).as("last_event_id"))
      .orderBy("user_id")
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2))).toSeq
    assert(merged == Seq((1L, "purchase", 7L), (2L, "signup", 6L)),
      "older batch row must not overwrite newer target state; new key must insert")
  }

  test("CDC delete: a late-replayed older upsert cannot RESURRECT a " +
      "tombstoned key (r15) — the tombstone's ordering info stays in state") {
    import spark.implicits._
    def evs(rows: (Long, String, Double, String, Long)*) =
      rows.toDF("user_id", "event_type", "value", "tss", "event_id")
        .select(col("user_id"), col("event_type"), col("value"),
          col("tss").cast("timestamp").as("ts"), col("event_id"))
    // state after the tombstone batch: user 1's newest row IS the tombstone
    val afterTombstone = StreamingOps.mergeClassify(
      evs((1L, "view", 1.0, "2024-01-01 10:00:00", 1L)),
      StreamingOps.latestPerKey(
        evs((1L, StreamingOps.CdcTombstoneType, 0.0, "2024-01-01 12:00:00", 5L))))
    // a LATE batch replays an OLDER upsert (at-least-once delivery);
    // the strictly-newer rule must keep the tombstone, not the replay
    val afterReplay = StreamingOps.mergeClassify(
      StreamingOps.targetAsEvents(afterTombstone),
      StreamingOps.latestPerKey(
        evs((1L, "purchase", 9.0, "2024-01-01 11:00:00", 3L))))
    val row = afterReplay.collect()
    assert(row.length == 1 &&
      row(0).getString(1) == StreamingOps.CdcTombstoneType,
      s"older replay resurrected a tombstoned key: ${row.toSeq}")
    // and the read view serves nothing for that user
    assert(afterReplay
      .filter(col("last_type") =!= StreamingOps.CdcTombstoneType)
      .count() == 0)
  }

  test("streaming ANN serve equals the batch retrieval over the same " +
      "query set (r15): arrival order changes no ranking") {
    val dir = "/root/testdata/sf0.001"
    val streamed = StreamingOps.streamAnnServe(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getInt(3))).toSeq
    // batch twin from the same building blocks: corpus + assignment,
    // the same query predicate, same probe join, same bounded-heap rank
    val corpus = graft.Tables(spark, dir, "embeddings")
      .select(col("vec_id"), col("embedding"))
      .join(graft.similarity.Similarity.cellAssignments(spark, dir), Seq("vec_id"))
    val q = corpus.filter(col("vec_id") % 100 === 7)
      .select(col("vec_id").as("qid"), col("embedding").as("qe"), col("cell").as("qcell"))
    val scored = corpus.join(broadcast(q), col("cell") === col("qcell"))
      .filter(col("vec_id") =!= col("qid"))
      .select(col("qid"), col("vec_id"),
        round(graft.functions.VectorOps.cosine("embedding", "qe"), 4).as("cos_r"))
    val batch = graft.plans.TopK.perGroup(scored, Seq("qid"),
        Seq(("cos_r", false), ("vec_id", true)), 3)
      .orderBy("qid", "rn").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getInt(3))).toSeq
    assert(streamed == batch,
      s"streamed rankings diverged from batch (${streamed.size} vs ${batch.size} rows)")
    assert(streamed.nonEmpty && streamed.map(_._1).distinct.size >= 3,
      "the query set must span several queries across the feed")
  }

  test("the ANN serve path resolves the PUBLISHED index — a pure artifact " +
      "scan, no quantizer recomputation in the serve path (r16)") {
    val dir = "/root/testdata/sf0.001"
    graft.similarity.Similarity.cellsServed(spark, dir).count() // publish once
    val served = graft.similarity.Similarity.cellsServed(spark, dir)
    val plan = served.queryExecution.executedPlan.toString
    assert(plan.contains("graft_index"),
      s"serve must scan the published artifact, got:\n$plan")
    assert(!plan.contains("Window") && !plan.contains("Generate") &&
        !plan.contains("Exchange"),
      s"the serve path must not recompute the assignment (argmin window / " +
        s"posexplode / shuffle found):\n$plan")
    // content identity with the inline recompute — the reason the batch
    // IVF oracle keeps gating the streamed rankings unchanged
    val got = served.orderBy("vec_id").collect()
      .map(r => (r.getLong(0), r.get(1))).toSeq
    val inline = graft.similarity.Similarity.cellAssignments(spark, dir)
      .orderBy("vec_id").collect().map(r => (r.getLong(0), r.get(1))).toSeq
    assert(got == inline && got.nonEmpty)
  }

  test("compaction handoff: the stream's landed survivors, re-read as a " +
      "batch and fuzzy-deduped, publish a ledger equal to the batch " +
      "funnel's LSH stage (r16)") {
    val dir = "/root/testdata/sf0.001"
    val handoff = StreamingOps.compactionHandoff(spark, dir)
      .collect().map(_.getLong(0)).toSeq
    // published as a snapshot version downstream jobs resolve
    import graft.similarity.IndexStore
    val name = "curation_ledger_" + dir.replaceAll("[^A-Za-z0-9.]", "_")
    assert(IndexStore.currentTag(name).contains("fuzzy"))
    // the batch funnel's own s3 (quality -> exact dedup -> LSH drop)
    val docs = graft.Tables(spark, dir, "documents")
    val q1 = graft.text.TextAnalysis.quality(spark, dir)
      .filter(col("quality") === 1).select("doc_id")
    val s2 = docs.join(q1, "doc_id")
      .groupBy(md5(col("text")).as("h")).agg(min("doc_id").as("doc_id"))
      .select("doc_id")
    val dropB = graft.dedup.Dedup.minhashLsh(spark, dir)
      .select(col("doc_b").as("doc_id")).distinct()
    val s3 = s2.join(dropB, Seq("doc_id"), "left_anti")
      .orderBy("doc_id").collect().map(_.getLong(0)).toSeq
    assert(handoff == s3 && handoff.nonEmpty,
      s"handoff ledger (${handoff.size} docs) diverged from the batch " +
        s"funnel's fuzzy stage (${s3.size} docs)")
  }

  test("streaming curation funnel equals the batch funnel's shared stages " +
      "on the same corpus (r15)") {
    val dir = "/root/testdata/sf0.001"
    val streamed = StreamingOps.streamCuration(spark, dir).collect()
      .map(r => (r.getInt(0), r.getString(1), r.getLong(2))).toSeq
    // the batch funnel's raw/quality/exact_dedup rows are the ground
    // truth — duality by construction, not by re-derivation
    val batch = graft.dedup.Dedup.curationFunnel(spark, dir).collect()
      .filter(_.getInt(0) <= 2)
      .map(r => (r.getInt(0), r.getString(1), r.getLong(2))).toSeq
    assert(streamed == batch,
      s"stream funnel $streamed diverged from batch funnel $batch")
    // and the funnel actually filters: each stage retains no more than
    // its predecessor, and the gate/dedup each did real work at this sf
    val n = streamed.map(_._3)
    assert(n(0) >= n(1) && n(1) >= n(2))
  }

  test("observed single-stream curation funnel: same rows as the batch " +
      "funnel, stage 0/1 sourced from the observe node's metrics (r16)") {
    val dir = "/root/testdata/sf0.001"
    val observed = StreamingOps.streamCurationObserved(spark, dir).collect()
      .map(r => (r.getInt(0), r.getString(1), r.getLong(2))).toSeq
    val batch = graft.dedup.Dedup.curationFunnel(spark, dir).collect()
      .filter(_.getInt(0) <= 2)
      .map(r => (r.getInt(0), r.getString(1), r.getLong(2))).toSeq
    assert(observed == batch,
      s"observed funnel $observed diverged from batch funnel $batch")
    // the observe node reported from EVERY micro-batch: the drained sums
    // (>= 3 data batches by the runToFiles contract) must cover the whole
    // corpus — any batch failing to report would undercount n_raw below
    // the raw stage row the assertion above already proved correct
    val sums = StreamingOps.lastRun.observedSums("curation_gate")
    assert(sums("n_raw") == batch.head._3, sums.toString)
    assert(sums("n_quality") == batch(1)._3, sums.toString)
  }
}
