package graft.queries

import java.nio.file.Files

import org.apache.spark.sql.functions._
import graft.SparkSpec
import graft.emoji.EmojiOps
import graft.ingest.FileFeeder

/** Pins the double-explode multiplicity contract (SURVEY.md §7.4 risk 4,
  * reference q4:116-117): an emoji in a tweet with N mentions counts N
  * times — one row per (mention, emoji) pair, mention-major order. */
class TweetQueriesSpec extends SparkSpec {

  test("double explode yields |mentions| x |emojis| rows per tweet") {
    val dir = graft.TempDirs.create("graft-mult")
    FileFeeder.feed(dir, Seq(Seq(
      """{"data": {"text": "a 😀 b 🔥😀", "entities": {"mentions": [{"username": "u1"}, {"username": "u2"}]}}, "includes": {"places": [{"country": "X"}]}}""")))
    val rows = spark.read.json(dir.toString)
      .select(col("data.text").as("text"),
        col("data.entities.mentions.username").as("mentions"))
      .filter(col("includes").isNotNull)
      .select(explode(col("mentions")).as("username"), col("text"))
      .select(col("username"), explode(EmojiOps.extractEmojis(col("text"))).as("emoji"))
      .collect().toSeq.map(r => (r.getString(0), r.getString(1)))
    // 2 mentions x 3 emojis (😀, 🔥, 😀 — glued run decomposed, dup kept)
    assert(rows == Seq(
      ("u1", "😀"), ("u1", "🔥"), ("u1", "😀"),
      ("u2", "😀"), ("u2", "🔥"), ("u2", "😀")))
  }

  test("q7 schema polymorphism: same pipeline, parameterized text column") {
    val h2009 = TweetQueries.histTopEmoji("hist2009", "full_text")(spark, "")
    val h2015 = TweetQueries.histTopEmoji("hist2015", "text")(spark, "")
    // 2006-2009 corpus carries emoticons only -> empty emoji census
    assert(h2009.count() == 0)
    assert(h2015.count() > 0)
  }

  test("O4: the dead pre-orderBy sort is deleted by EliminateSorts") {
    // mentionEmoji replicates the reference's `.sort(...)` immediately
    // overridden by `.orderBy(...)` (q4/Runner.scala:122-123). The
    // analyzed plan must carry BOTH Sort nodes (call-sequence fidelity);
    // the optimized plan exactly ONE (the no-op is provably deleted, so
    // the dead sort costs nothing at any scale).
    val df = TweetQueries.mentionEmoji(spark, "/root/testdata/sf0.001")
    def countSorts(p: org.apache.spark.sql.catalyst.plans.logical.LogicalPlan): Int =
      p.collect { case s: org.apache.spark.sql.catalyst.plans.logical.Sort => s }.size
    assert(countSorts(df.queryExecution.analyzed) == 2,
      df.queryExecution.analyzed.toString.take(1500))
    assert(countSorts(df.queryExecution.optimizedPlan) == 1,
      df.queryExecution.optimizedPlan.toString.take(1500))
  }

  test("O7: sort column resolution is case-insensitive (reference sorts 'Count')") {
    import org.apache.spark.sql.functions.{asc, desc}
    import spark.implicits._
    // the default the reference silently relies on, pinned explicitly:
    // a changed session conf would flip this to an analysis error
    assert(spark.conf.get("spark.sql.caseSensitive") == "false")
    // the exact reference shape (q1/Runner.scala:110-112): groupBy.count()
    // emits a column named lowercase "count"; the sort names it "Count"
    // and the caseSensitive=false analyzer resolves it anyway
    val rows = Seq("x", "y", "y", "y", "x", "z").toDF("Emoji")
      .groupBy($"Emoji").count()
      .orderBy(desc("Count"), asc("Emoji"))
      .collect().map(r => (r.getString(0), r.getLong(1))).toSeq
    assert(rows == Seq(("y", 3L), ("x", 2L), ("z", 1L)))
    // generic alias direction too: differently-cased reference to a
    // lowercase data column
    val sorted = Seq(("b", 2L), ("a", 1L)).toDF("emoji", "cnt")
      .orderBy(desc("CNT"))
      .collect().map(_.getString(0)).toSeq
    assert(sorted == Seq("b", "a"))
  }

  test("SQL-string entry path: the parsed census carries the identical " +
      "plan digest as its DSL twin (round 14, VERDICT r13 #4)") {
    val dir = "/root/testdata/sf0.001"
    val dsl = graft.plans.PlanDigest.of(TweetQueries.topEmoji(spark, dir))
    val sql = graft.plans.PlanDigest.of(TweetQueries.topEmojiViaSql(spark, dir))
    assert(sql == dsl,
      s"SQL-authored plan diverged from the DSL plan:\n  dsl: $dsl\n  sql: $sql")
    // and the catalog surface really resolved through a temp view
    assert(spark.catalog.tableExists("graft_tweets"))
  }

  test("one JSON schema inference per corpus snapshot; a new or touched " +
      "file infers again; rows equal a plain spark.read.json") {
    import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
    val root = graft.TempDirs.create("graft-snapshot")
    val corpus = root.resolve("tweets")
    FileFeeder.feed(corpus, Seq(
      Seq("""{"data": {"text": "a 😀 b 🔥😀"}}""", """{"data": {"text": "none"}}"""),
      Seq("""{"data": {"text": "🔥", "lang": "en"}}""")))
    val jobs = new java.util.concurrent.atomic.AtomicInteger
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = { jobs.incrementAndGet(); () }
    }
    // building a census (no action) runs only its schema inference
    def inferenceJobs(build: => Any): Int = {
      graft.Bench.drainListenerBus(spark.sparkContext)
      val before = jobs.get
      build
      graft.Bench.drainListenerBus(spark.sparkContext)
      jobs.get - before
    }
    spark.sparkContext.addSparkListener(listener)
    try {
      assert(inferenceJobs(TweetQueries.topEmoji(spark, root.toString)) == 1)
      assert(inferenceJobs(TweetQueries.leastEmoji(spark, root.toString)) == 0)
      val first = corpus.resolve("feed-00000.json")
      Files.setLastModifiedTime(first, java.nio.file.attribute.FileTime.fromMillis(
        Files.getLastModifiedTime(first).toMillis + 5000L))
      assert(inferenceJobs(TweetQueries.topEmoji(spark, root.toString)) == 1)
      assert(inferenceJobs(TweetQueries.topEmoji(spark, root.toString)) == 0)
      FileFeeder.feed(corpus, Seq(Seq("""{"data": {"text": "😀"}, "extra": 1}""")),
        prefix = "more")
      assert(inferenceJobs(TweetQueries.topEmoji(spark, root.toString)) == 1)
    } finally spark.sparkContext.removeSparkListener(listener)
    val plain = spark.read.json(corpus.toString)
    val cached = TweetQueries.corpusSchema(spark, corpus.toString)
    assert(cached == plain.schema && cached.fieldNames.contains("extra"))
    assert(spark.read.schema(cached).json(corpus.toString).collect().toSeq.map(_.toString).sorted ==
      plain.collect().toSeq.map(_.toString).sorted)
    val census = TweetQueries.topEmoji(spark, root.toString).collect().toSeq
    assert(census.map(r => (r.getString(0), r.getLong(1))) == Seq(("😀", 3L), ("🔥", 2L)))
  }
}
