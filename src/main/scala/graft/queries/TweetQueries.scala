package graft.queries

import java.nio.file.{Files, Paths}
import java.nio.file.attribute.FileTime

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType
import graft.Tables
import graft.emoji.EmojiOps

/** The reference's seven questions at full semantic fidelity, over an
  * A.1-shaped NDJSON tweet corpus (FIXTURES.md §A — committed, deterministic,
  * emoji-bearing: glued runs, ZWJ sequences, skin tones, artifact chars,
  * missing fields). This module is the true reference-parity surface:
  *
  *  - S1: `spark.read.json` directory batch scan with schema inference
  *    (reference q1/Runner.scala:93), inferred once per corpus snapshot
  *    ([[corpusSchema]]).
  *  - S2/S3: static-then-stream schema bootstrap + JSON file-stream source
  *    (q2/Runner.scala:95-97) — [[streamTopEmoji]].
  *  - P1/P2: nested-field and array-of-struct path projection
  *    (`data.text`, `data.entities.mentions.username`,
  *    `data.context_annotations.domain.name`, `includes.places.country` —
  *    q4:110, q5:99, q6:109; Catalyst `GetArrayStructFields`).
  *  - F1 regex prefilter, F3 parameterized filter (two entries differing
  *    only by parameter, q1:204), F5 negative substring (q6:219), F6
  *    `isNotNull` (q4:111).
  *  - T1–T3 tokenization via the strict single-pass emoji extractor
  *    (EmojiOps; quirk-parity pipeline exercised in unit tests), T4/T5 word
  *    pipeline for the q3 ratio.
  *  - G1/G2 explode and double explode (dimension × emoji cross product,
  *    q4:116-117 — an emoji in a tweet mentioning 3 users counts 3×).
  *  - A1/A2/A4 grouped and global counts; O1/O2/O3 orderings.
  *
  * Scale: identical shape to the §2.9 normal form — scan → narrow
  * projections/generators → one hash-aggregate shuffle → sort of the small
  * aggregated side. JSON scans at 100 TB benefit from Spark's nested-schema
  * pruning (only `data.text` + the dimension path are parsed).
  */
object TweetQueries {

  /** Committed fixture corpus (see fixtures/tweets/). Absolute so the
    * DuckDB oracle reads the identical files. */
  val FixtureDir = "/root/repo/fixtures/tweets"

  private val fixtureGlob = s"$FixtureDir/*.json"

  /** Parent of every committed corpus (`fixtures/<subdir>/`). */
  private val FixturesRoot = new java.io.File(FixtureDir).getParent

  /** DuckDB options on every NDJSON scan: `field_appearance_threshold=0`
    * keeps a sparse field (`includes` rides under 1 % of tweets at real geo
    * coverage) a STRUCT instead of collapsing it to JSON, which the q6
    * country unnest cannot bind. On the committed fixtures the inferred
    * schema is the same with and without it. */
  private val JsonOpts = "format='newline_delimited', field_appearance_threshold=0"

  /** DuckDB-side scan of the same NDJSON files. */
  private val tweetsSql = s"read_json_auto('$fixtureGlob', $JsonOpts)"

  /** Corpus resolution honoring the driver contract's `dir` parameter: a
    * `tweets/` subdirectory under the scale-factor dir wins; the committed
    * fixture is the fallback. The driver's testdata carries no tweets
    * table, so its Verify/Bench runs resolve to the fixture — which is
    * what the static oracle SQL reads; a user pointing the library at
    * their own corpus gets it honored. Bench-scale measurement of the
    * tokenizer lives in `tw_q1_top_emoji_scaled` (TweetCorpus). */
  def tweetsDir(dir: String): String = {
    val candidate = new java.io.File(dir, "tweets")
    if (candidate.isDirectory) candidate.getPath else FixtureDir
  }

  /** Word-pipeline spec (T4/T5, SURVEY.md §2.3) — single source of truth
    * in [[EmojiOps.WordNoiseSpec]]/[[EmojiOps.WordValidSpec]]. */
  private val WordNoiseSpec = EmojiOps.WordNoiseSpec
  private val WordValidSpec = EmojiOps.WordValidSpec

  private def tweets(spark: SparkSession, dir: String): DataFrame =
    readCorpus(spark, tweetsDir(dir))

  /** Confs that JSON schema inference reads: a change re-infers. */
  private val InferenceConfs = Seq("spark.sql.caseSensitive",
    "spark.sql.columnNameOfCorruptRecord", "spark.sql.session.timeZone",
    "spark.sql.timestampType", "spark.sql.legacy.timeParserPolicy",
    "spark.sql.files.ignoreCorruptFiles", "spark.sql.files.ignoreMissingFiles",
    "spark.sql.legacy.json.allowEmptyString.enabled")

  /** A corpus snapshot: (path, size, mtime) of every file, and the
    * [[InferenceConfs]] values. */
  private type Snapshot = (Vector[(String, Long, FileTime)], Seq[Option[String]])

  /** Corpus directory -> (snapshot, schema) of its last inference. */
  private val schemas = scala.collection.concurrent.TrieMap.empty[String, (Snapshot, StructType)]

  /** The schema `spark.read.json(dir)` infers, inferred once per snapshot
    * of `dir`: its file listing (path, size, mtime, every file under it)
    * and the [[InferenceConfs]]. A new, removed or touched file or a
    * changed conf infers again; S1/S3 semantics are those of a fresh
    * inference. A path that does not exist is left to Spark's own error. */
  private[queries] def corpusSchema(spark: SparkSession, dir: String): StructType = {
    val root = Paths.get(dir).toAbsolutePath
    if (!Files.exists(root)) return spark.read.json(dir).schema
    val walk = Files.walk(root)
    val listing =
      try walk.iterator.asScala.filter(Files.isRegularFile(_))
        .map(f => (root.relativize(f).toString, Files.size(f), Files.getLastModifiedTime(f)))
        .toVector.sortBy(_._1)
      finally walk.close()
    val snapshot: Snapshot = (listing, InferenceConfs.map(spark.conf.getOption))
    schemas.get(root.toString).collect { case (s, schema) if s == snapshot => schema }
      .getOrElse {
        val inferred = spark.read.json(dir).schema
        schemas.put(root.toString, (snapshot, inferred))
        inferred
      }
  }

  /** Every corpus read: one scan with the snapshot's [[corpusSchema]]
    * instead of an inference scan before each query. */
  private def readCorpus(spark: SparkSession, dir: String): DataFrame =
    spark.read.schema(corpusSchema(spark, dir)).json(dir)

  /** A corpus's text → exploded individual emoji code points (T1–T3+F2
    * in one pass); batch or streaming. */
  private def emojiRows(corpus: DataFrame): DataFrame =
    corpus
      .select(col("data.text").as("text"))
      .filter(col("text").isNotNull && col("text").rlike(EmojiOps.EmojiClass))
      .select(explode(EmojiOps.extractEmojis(col("text"))).as("emoji"))

  /** A corpus's text → the quirk pipeline's tokens (T1–T3 + F2/F4, see
    * [[topEmojiQuirk]]); batch or streaming. */
  private def quirkTokens(corpus: DataFrame): DataFrame =
    corpus
      .select(col("data.text").as("text"))
      .filter(col("text").isNotNull)
      .select(explode(EmojiOps.referenceTokenize(col("text"))).as("token"))
      .filter(EmojiOps.isEmojiToken(col("token")))

  /** The census tail: one `cnt` per `keys` group, in `order`. */
  private def census(rows: DataFrame, keys: String*)(order: Column*): DataFrame =
    rows.groupBy(keys.head, keys.tail: _*).agg(count(lit(1)).as("cnt")).orderBy(order: _*)

  private val emojiRowsSql =
    s"""SELECT unnest(regexp_extract_all(data.text, '${EmojiOps.EmojiClass}')) AS emoji
       |FROM $tweetsSql""".stripMargin

  // ---- q1 family: most / least / parameterized emoji (q1:93-113,142-162,191-205)

  def topEmoji(spark: SparkSession, dir: String): DataFrame =
    census(emojiRows(tweets(spark, dir)), "emoji")(desc("cnt"), asc("emoji"))

  def leastEmoji(spark: SparkSession, dir: String): DataFrame =
    census(emojiRows(tweets(spark, dir)), "emoji")(asc("cnt"), asc("emoji"))

  /** Quirk-parity census (reference q1:104-109 VERBATIM semantics, as
    * observed on the JVM): T1 deletes every char outside the quirk class
    * — including spaces — T2's lone-surrogate RegexSpace never matches a
    * well-formed string under code-point semantics (no-op), so T3's split
    * yields ONE glued token per tweet; F2/F4 then drop empties and
    * anything carrying an artifact `()|`. The census therefore counts
    * glued emoji RUNS, not individual emojis — the reference's actual
    * output, distinct from the strict census above, now under the hash
    * gate rather than unit tests only. The observed pipeline is portable
    * SQL (T2 removed as the no-op it is), so DuckDB's RE2 oracle agrees
    * with Spark's Java regex exactly. */
  def topEmojiQuirk(spark: SparkSession, dir: String): DataFrame =
    census(quirkTokens(tweets(spark, dir)), "token")(desc("cnt"), asc("token"))

  /** Grapheme-cluster census (round 13, SURVEY §2.3 upgrade): maximal
    * emoji clusters — ZWJ families, skin-tone/VS-16 runs, flag RI pairs —
    * counted WHOLE, next to the code-point census ([[topEmoji]]) that
    * decomposes them. 👨‍👩‍👧 is one row here, three rows there; the
    * fixture corpus carries both ZWJ families and bare modifiers, so the
    * two censuses provably diverge. Same plan shape as every census:
    * scan → extract-all → explode → one hash-agg shuffle → small sort. */
  def topEmojiGrapheme(spark: SparkSession, dir: String): DataFrame =
    census(tweets(spark, dir)
      .select(col("data.text").as("text"))
      .filter(col("text").isNotNull)
      .select(explode(EmojiOps.extractEmojiClusters(col("text"))).as("cluster")),
      "cluster")(desc("cnt"), asc("cluster"))

  /** The q1 census authored as a SQL STRING over a registered temp view
    * (round 14, VERDICT r13 #4): a real user's first contact with the
    * library is `spark.sql(...)` against a catalog name, not the
    * DataFrame DSL — this query exercises parser → analyzer → catalog
    * resolution end-to-end on a §2 shape and shares [[topEmoji]]'s
    * oracle. TweetQueriesSpec pins plan-DIGEST equality with the DSL
    * twin: both author the same logical plan, so the SQL surface costs
    * nothing at any scale. The emoji class doubles its backslashes — the
    * SQL parser's default string-literal escaping would otherwise eat
    * `\x{...}`. */
  def topEmojiViaSql(spark: SparkSession, dir: String): DataFrame = {
    val cls = EmojiOps.EmojiClass.replace("\\", "\\\\")
    tweets(spark, dir).createOrReplaceTempView("graft_tweets")
    spark.sql(
      s"""SELECT emoji, count(1) AS cnt
         |FROM (SELECT explode(regexp_extract_all(data.text, '$cls', 0)) AS emoji
         |      FROM graft_tweets
         |      WHERE data.text IS NOT NULL AND data.text RLIKE '$cls')
         |GROUP BY emoji
         |ORDER BY cnt DESC, emoji ASC""".stripMargin)
  }

  /** The strict census at bench scale: same plan as [[topEmoji]], over the
    * deterministic 100k-tweet generated corpus (TweetCorpus) — the entry
    * that actually measures the tokenizer instead of session overhead. */
  def topEmojiScaled(spark: SparkSession, dir: String): DataFrame =
    census(emojiRows(readCorpus(spark, graft.ingest.TweetCorpus.ensureScaled())),
      "emoji")(desc("cnt"), asc("emoji"))

  /** F3: the user-supplied regex reaches the filter as a parameter
    * (q1:204 `rlike userEmoji`); registered twice with different params. */
  def specificEmoji(pattern: String)(spark: SparkSession, dir: String): DataFrame =
    census(emojiRows(tweets(spark, dir)).filter(col("emoji").rlike(pattern)),
      "emoji")(desc("cnt"), asc("emoji"))

  // ---- q3: emoji count / word count ratio (q3:104-113,161-176; A4 global aggs)

  def emojiWordRatio(spark: SparkSession, dir: String): DataFrame = {
    val words = filter(
      transform(split(col("text"), " "),
        w => regexp_replace(w, WordNoiseSpec, "")),
      w => w.rlike(WordValidSpec))
    tweets(spark, dir)
      .select(col("data.text").as("text"))
      .select(
        size(EmojiOps.extractEmojis(col("text"))).as("ec"),
        size(words).as("wc"))
      .agg(sum("ec").as("emoji_cnt"), sum("wc").as("word_cnt"))
      .withColumn("ratio", col("emoji_cnt") * lit(1.0) / col("word_cnt"))
  }

  // ---- q4: most-mentioned user × emoji (q4:110-123; P2, F6, G2, A2, O3)

  def mentionEmoji(spark: SparkSession, dir: String): DataFrame =
    tweets(spark, dir)
      .select(col("data.text").as("text"),
        col("data.entities.mentions.username").as("mentions"))
      .filter(col("includes").isNotNull)         // F6/F7: resolved below the projection
      .filter(col("mentions").isNotNull && col("text").isNotNull)
      .select(explode(col("mentions")).as("username"), col("text"))
      .select(col("username"), explode(EmojiOps.extractEmojis(col("text"))).as("emoji"))
      .groupBy("username", "emoji").agg(count(lit(1)).as("cnt"))
      // O4: the reference's DEAD `.sort` immediately overridden by the
      // `.orderBy` on the next line (q4:122-123), replicated at
      // call-sequence fidelity. It is a semantic no-op — Catalyst's
      // EliminateSorts deletes it, and TweetQueriesSpec pins exactly one
      // Sort in the optimized plan — so the oracle is unchanged.
      .sort(asc("username"), asc("emoji"))
      .orderBy(asc("username"), desc("cnt"), asc("emoji"))

  // ---- q5: emoji per context-annotation category (q5:99-112)

  def categoryEmoji(spark: SparkSession, dir: String): DataFrame =
    tweets(spark, dir)
      .select(col("data.text").as("text"),
        col("data.context_annotations.domain.name").as("cats"))
      .filter(col("cats").isNotNull && col("text").isNotNull)
      .select(explode(col("cats")).as("category"), col("text"))
      .select(col("category"), explode(EmojiOps.extractEmojis(col("text"))).as("emoji"))
      .groupBy("category", "emoji").agg(count(lit(1)).as("cnt"))
      .orderBy(asc("category"), desc("cnt"), asc("emoji"))

  // ---- q6: emoji per country, include / exclude variants (q6:108-228; F3/F5)

  private def countryEmoji(spark: SparkSession, dir: String): DataFrame =
    tweets(spark, dir)
      .select(col("data.text").as("text"),
        col("includes.places.country").as("countries"))
      .filter(col("countries").isNotNull && col("text").isNotNull)
      .select(explode(col("countries")).as("country"), col("text"))
      .select(col("country"), explode(EmojiOps.extractEmojis(col("text"))).as("emoji"))

  def countryEmojiIncl(pattern: String)(spark: SparkSession, dir: String): DataFrame =
    census(countryEmoji(spark, dir).filter(col("country").rlike(pattern)),
      "country", "emoji")(asc("country"), desc("cnt"), asc("emoji"))

  /** F5: negative substring filter (q6:219 `!contains`). */
  def countryEmojiExcl(substr: String)(spark: SparkSession, dir: String): DataFrame =
    census(countryEmoji(spark, dir).filter(!col("country").contains(substr)),
      "country", "emoji")(asc("country"), desc("cnt"), asc("emoji"))

  // ---- q7: historical corpora, schema-polymorphic (q7:62-108). The same
  //      pipeline runs over the v1.1 schema (`full_text`, A.2) and the 2015
  //      dump schema (`text`, A.3) — the text column name is a parameter
  //      (SURVEY.md §7.4 risk 5), not a duplicated pipeline. The 2006-2009
  //      corpus carries text emoticons but no Unicode emoji, so its emoji
  //      census is empty — the reference's own documented finding
  //      (pptx slide 19) reproduced as a verifiable result.

  def histTopEmoji(subdir: String, textCol: String)(spark: SparkSession, dir: String): DataFrame =
    census(readCorpus(spark, s"$FixturesRoot/$subdir")
      .select(col(textCol).as("text"))
      .filter(col("text").isNotNull)
      .select(explode(EmojiOps.extractEmojis(col("text"))).as("emoji")),
      "emoji")(desc("cnt"), asc("emoji"))

  private def histSql(subdir: String, textCol: String): String =
    s"""SELECT emoji, count(*) AS cnt FROM (
       |  SELECT unnest(regexp_extract_all($textCol, '${EmojiOps.EmojiClass}')) AS emoji
       |  FROM read_json_auto('$FixturesRoot/$subdir/*.json', $JsonOpts))
       |GROUP BY emoji ORDER BY cnt DESC, emoji""".stripMargin

  // ---- q2 analog: the same top-emoji aggregation through Structured
  //      Streaming (S2/S3 file-stream source, A6 complete-mode state, O5
  //      sort-on-streaming-aggregate, memory sink standing in for console).

  /** The census of `tokens(stream)` by `key` through Structured Streaming.
    * The O5 sort runs on one partition: a sort over the aggregate's state
    * partitions plans a range exchange whose sampling job runs the
    * stateful stage a second time per trigger, and the memory sink
    * collects the result to the driver anyway. */
  private def streamCensus(spark: SparkSession, dir: String, key: String,
      tokens: DataFrame => DataFrame): DataFrame = {
    val corpus = tweetsDir(dir)
    val stream = spark.readStream
      .schema(corpusSchema(spark, corpus))                   // S3 schema bootstrap
      .json(corpus)
    val agg = tokens(stream)
      .groupBy(key).agg(count(lit(1)).as("cnt"))
      .repartition(1)                                        // no range exchange
      .orderBy(desc("cnt"), asc(key))                        // O5: legal in complete mode
    graft.streaming.StreamingOps.runToMemory(spark, agg)
      .orderBy(desc("cnt"), asc(key))
  }

  def streamTopEmoji(spark: SparkSession, dir: String): DataFrame =
    streamCensus(spark, dir, "emoji", emojiRows)

  /** The reference's LIVE path runs the QUIRK pipeline (q2:103-113 — the
    * same delete/split chain as q1), not the strict extractor; this is
    * [[streamTopEmoji]] with [[EmojiOps.referenceTokenize]] swapped in,
    * hash-gated against the identical oracle as `tw_q1_top_emoji_quirk`
    * (streaming/batch duality of the quirk census). */
  def streamTopEmojiQuirk(spark: SparkSession, dir: String): DataFrame =
    streamCensus(spark, dir, "token", quirkTokens)

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "tw_q2_stream_top_emoji_quirk" -> (streamTopEmojiQuirk _),
    "tw_q1_top_emoji" -> (topEmoji _),
    "tw_q1_sql_entry" -> (topEmojiViaSql _),
    "tw_q1_least_emoji" -> (leastEmoji _),
    "tw_q1_top_emoji_quirk" -> (topEmojiQuirk _),
    "tw_q1_grapheme" -> (topEmojiGrapheme _),
    "tw_q1_top_emoji_scaled" -> (topEmojiScaled _),
    "tw_q1_emoji_grin" -> specificEmoji("^😀$") _,   // 😀 U+1F600
    "tw_q1_emoji_fire" -> specificEmoji("^🔥$") _,   // 🔥 U+1F525
    "tw_q2_stream_top_emoji" -> (streamTopEmoji _),
    "tw_q3_ratio" -> (emojiWordRatio _),
    "tw_q4_mention_emoji" -> (mentionEmoji _),
    "tw_q5_category_emoji" -> (categoryEmoji _),
    "tw_q6_country_incl" -> countryEmojiIncl("^(Brazil|Japan)$") _,
    "tw_q6_country_excl" -> countryEmojiExcl("an") _,
    "tw_q7_2009_emoji" -> histTopEmoji("hist2009", "full_text") _,
    "tw_q7_2015_emoji" -> histTopEmoji("hist2015", "text") _)

  private def groupedSql(dimExpr: String, dimName: String, where: String): String =
    s"""SELECT $dimName, emoji, count(*) AS cnt
       |FROM (
       |  SELECT unnest($dimExpr) AS $dimName, data.text AS text, includes
       |  FROM $tweetsSql),
       |  UNNEST(regexp_extract_all(text, '${EmojiOps.EmojiClass}')) e(emoji)
       |$where
       |GROUP BY $dimName, emoji
       |ORDER BY $dimName ASC, cnt DESC, emoji ASC""".stripMargin

  /** The strict census oracle ([[topEmoji]] and its SQL and streaming
    * twins). */
  private val censusSql =
    s"""SELECT emoji, count(*) AS cnt FROM ($emojiRowsSql)
       |GROUP BY emoji ORDER BY cnt DESC, emoji""".stripMargin

  /** The quirk census oracle (batch and streaming): T1 delete (RE2
    * spelling), T2 omitted as the no-op the JVM pipeline exhibits, T3
    * split, F2/F4 filters — glued runs. */
  private val quirkSql =
    s"""WITH tok AS (
       |  SELECT unnest(string_split(
       |    regexp_replace(data.text, '${EmojiOps.QuirkNotEmojiClass}', '', 'g'),
       |    ' ')) AS token
       |  FROM $tweetsSql WHERE data.text IS NOT NULL)
       |SELECT token, count(*) AS cnt FROM tok
       |WHERE regexp_matches(token, '${EmojiOps.QuirkEmojiClass}')
       |  AND NOT contains(token, '(') AND NOT contains(token, ')') AND NOT contains(token, '|')
       |GROUP BY token ORDER BY cnt DESC, token""".stripMargin

  val oracles: Map[String, String] = Map(
    "tw_q1_top_emoji" -> censusSql,
    // the SQL-string twin shares the census oracle verbatim
    "tw_q1_sql_entry" -> censusSql,
    "tw_q1_least_emoji" ->
      s"""SELECT emoji, count(*) AS cnt FROM ($emojiRowsSql)
         |GROUP BY emoji ORDER BY cnt ASC, emoji""".stripMargin,
    "tw_q1_top_emoji_quirk" -> quirkSql,
    // identical census through the streaming engine — same oracle text
    "tw_q2_stream_top_emoji_quirk" -> quirkSql,
    // the cluster pattern is ONE shared literal (EmojiOps.GraphemeCluster),
    // valid in both Java regex and RE2 — the census and its oracle can
    // never drift apart on the pattern text
    "tw_q1_grapheme" ->
      s"""SELECT cluster, count(*) AS cnt FROM (
         |  SELECT unnest(regexp_extract_all(data.text, '${EmojiOps.GraphemeCluster}')) AS cluster
         |  FROM $tweetsSql WHERE data.text IS NOT NULL)
         |GROUP BY cluster ORDER BY cnt DESC, cluster""".stripMargin,
    "tw_q1_top_emoji_scaled" ->
      s"""SELECT emoji, count(*) AS cnt FROM (
         |  SELECT unnest(regexp_extract_all(data.text, '${EmojiOps.EmojiClass}')) AS emoji
         |  FROM read_json_auto('${graft.ingest.TweetCorpus.ScaledDir}/*.json', $JsonOpts))
         |GROUP BY emoji ORDER BY cnt DESC, emoji""".stripMargin,
    "tw_q1_emoji_grin" ->
      s"""SELECT emoji, count(*) AS cnt FROM ($emojiRowsSql)
         |WHERE regexp_matches(emoji, '^😀$$')
         |GROUP BY emoji ORDER BY cnt DESC, emoji""".stripMargin,
    "tw_q1_emoji_fire" ->
      s"""SELECT emoji, count(*) AS cnt FROM ($emojiRowsSql)
         |WHERE regexp_matches(emoji, '^🔥$$')
         |GROUP BY emoji ORDER BY cnt DESC, emoji""".stripMargin,
    "tw_q2_stream_top_emoji" -> censusSql,
    "tw_q3_ratio" ->
      s"""WITH t AS (SELECT data.text AS text FROM $tweetsSql),
         |e AS (SELECT CAST(sum(len(regexp_extract_all(text, '${EmojiOps.EmojiClass}'))) AS BIGINT) AS emoji_cnt FROM t),
         |w AS (SELECT count(*) AS word_cnt FROM (
         |   SELECT regexp_replace(token, '$WordNoiseSpec', '', 'g') AS w
         |   FROM t, UNNEST(string_split(text, ' ')) tt(token)) x
         |   WHERE regexp_matches(w, '^[A-Za-z0-9'']+$$'))
         |SELECT emoji_cnt, word_cnt, emoji_cnt * 1.0 / word_cnt AS ratio FROM e, w""".stripMargin,
    "tw_q4_mention_emoji" -> groupedSql(
      "list_transform(data.entities.mentions, m -> m.username)", "username",
      "WHERE includes IS NOT NULL"),
    "tw_q5_category_emoji" -> groupedSql(
      "list_transform(data.context_annotations, a -> a.domain.name)", "category", ""),
    "tw_q6_country_incl" -> groupedSql(
      "list_transform(includes.places, p -> p.country)", "country",
      "WHERE regexp_matches(country, '^(Brazil|Japan)$')"),
    "tw_q6_country_excl" -> groupedSql(
      "list_transform(includes.places, p -> p.country)", "country",
      "WHERE NOT contains(country, 'an')"),
    "tw_q7_2009_emoji" -> histSql("hist2009", "full_text"),
    "tw_q7_2015_emoji" -> histSql("hist2015", "text"))
}
