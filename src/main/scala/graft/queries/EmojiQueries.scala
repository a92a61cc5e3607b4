package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables

/** The reference's seven questions (SURVEY.md §2.9 canonical dataflow:
  * source → project → filter → tokenize → explode → filter → groupBy/count →
  * orderBy) re-targeted at the driver fixtures per FIXTURES.md §C:
  * `documents.text` plays tweet text, `lang`/`source` play the grouping
  * dimensions (country/category analogs), `events.ts` plays the era axis.
  *
  * Every query declares a total output order (count desc/asc + unique key
  * tiebreaks) so the DuckDB-oracle hash compare is deterministic
  * (SURVEY.md §7.4 risk 2).
  *
  * Scale notes: the tokenize→explode→count shape is one shuffle (partial
  * hash-aggregate map-side, final aggregate after exchange); the global sort
  * is on the *aggregated* (small) side. No join, no state. This shape is
  * what the reference runs and it scales linearly with input splits.
  */
object EmojiQueries {

  /** Exploded whitespace tokens of documents.text, carrying the dimensions.
    * Mirrors reference T3+G1 (q1:106-107); the emoji-class variant of the
    * tokenizer is exercised in unit tests on the A.4 corpus (FIXTURES.md). */
  private def tokens(spark: SparkSession, dir: String): DataFrame = {
    Tables(spark, dir, "documents")
      .select(col("doc_id"), col("lang"), col("source"),
        explode(split(col("text"), " ")).as("token"))
      .filter(col("token") =!= "")
  }

  private val tokSql =
    """SELECT doc_id, lang, source, t.token
      |FROM documents, UNNEST(string_split(text, ' ')) AS t(token)
      |WHERE t.token <> ''""".stripMargin

  // ---- q1 family: most / least / specific token (reference q1:93-113,142-162,191-205)

  def q1Top(spark: SparkSession, dir: String): DataFrame =
    tokens(spark, dir).groupBy("token").agg(count(lit(1)).as("cnt"))
      .orderBy(desc("cnt"), asc("token"))

  def q1Least(spark: SparkSession, dir: String): DataFrame =
    tokens(spark, dir).groupBy("token").agg(count(lit(1)).as("cnt"))
      .orderBy(asc("cnt"), asc("token"))

  /** F3 analog: user-supplied pattern filter on the token (q1:204). */
  def q1Specific(spark: SparkSession, dir: String): DataFrame =
    tokens(spark, dir).filter(col("token").rlike("^(spark|join|scan)$"))
      .groupBy("token").agg(count(lit(1)).as("cnt"))
      .orderBy(desc("cnt"), asc("token"))

  // ---- global token stats (A4 global-aggregate shape; the reference's
  //      actual q3 emoji/word ratio is TweetQueries.emojiWordRatio)

  def tokenStats(spark: SparkSession, dir: String): DataFrame =
    tokens(spark, dir)
      .agg(count(lit(1)).as("token_cnt"),
        countDistinct(col("token")).as("distinct_cnt"))
      .withColumn("ratio", col("distinct_cnt") * lit(1.0) / col("token_cnt"))

  // ---- q4: double-explode (dimension × token) pair counts (reference G2, q4:116-121)

  def q4DimToken(spark: SparkSession, dir: String): DataFrame = {
    Tables(spark, dir, "documents")
      .select(explode(array(col("lang"), col("source"))).as("dim"), col("text"))
      .select(col("dim"), explode(split(col("text"), " ")).as("token"))
      .filter(col("token") =!= "")
      .groupBy("dim", "token").agg(count(lit(1)).as("cnt"))
      .orderBy(asc("dim"), desc("cnt"), asc("token"))
  }

  // ---- q5: per-category counts (reference A2, q5:99-112)

  def q5CategoryToken(spark: SparkSession, dir: String): DataFrame =
    tokens(spark, dir).groupBy("source", "token").agg(count(lit(1)).as("cnt"))
      .orderBy(asc("source"), desc("cnt"), asc("token"))

  // ---- q6: per-country counts with include / exclude filters (q6:108-228, F3/F5)

  def q6DimIncl(spark: SparkSession, dir: String): DataFrame =
    tokens(spark, dir).filter(col("lang").rlike("^(en|es)$"))
      .groupBy("lang", "token").agg(count(lit(1)).as("cnt"))
      .orderBy(asc("lang"), desc("cnt"), asc("token"))

  def q6DimExcl(spark: SparkSession, dir: String): DataFrame =
    tokens(spark, dir).filter(!col("lang").contains("z"))
      .groupBy("lang", "token").agg(count(lit(1)).as("cnt"))
      .orderBy(asc("lang"), desc("cnt"), asc("token"))

  /** A5 analog: group by an *array-typed* key (reference q6:109-118 groups by
    * the un-exploded country array). Output stringified for the oracle. */
  def q6ArrayKey(spark: SparkSession, dir: String): DataFrame = {
    Tables(spark, dir, "documents")
      .groupBy(array(col("lang"), col("source")).as("dims"))
      .agg(count(lit(1)).as("cnt"))
      .select(concat_ws(",", col("dims")).as("dim_key"), col("cnt"))
      .orderBy("dim_key")
  }

  // ---- q7: era split via events.ts date ranges (reference q7:62-108;
  //      proper timestamp semantics instead of directory-as-era)

  def q7Era(spark: SparkSession, dir: String): DataFrame = {
    Tables(spark, dir, "events")
      .withColumn("era",
        when(col("ts") < lit("2024-01-11").cast("timestamp"), "early")
          .when(col("ts") < lit("2024-01-21").cast("timestamp"), "mid")
          .otherwise("late"))
      .groupBy("era", "event_type").agg(count(lit(1)).as("cnt"))
      .orderBy("era", "event_type")
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q1_top_tokens" -> (q1Top _),
    "q1_least_tokens" -> (q1Least _),
    "q1_specific_token" -> (q1Specific _),
    "tok_global_stats" -> (tokenStats _),
    "q4_dim_token" -> (q4DimToken _),
    "q5_category_token" -> (q5CategoryToken _),
    "q6_dim_incl" -> (q6DimIncl _),
    "q6_dim_excl" -> (q6DimExcl _),
    "q6_array_key" -> (q6ArrayKey _),
    "q7_era_counts" -> (q7Era _))

  val oracles: Map[String, String] = Map(
    "q1_top_tokens" ->
      s"""WITH tok AS ($tokSql)
         |SELECT token, count(*) AS cnt FROM tok
         |GROUP BY token ORDER BY cnt DESC, token""".stripMargin,
    "q1_least_tokens" ->
      s"""WITH tok AS ($tokSql)
         |SELECT token, count(*) AS cnt FROM tok
         |GROUP BY token ORDER BY cnt ASC, token""".stripMargin,
    "q1_specific_token" ->
      s"""WITH tok AS ($tokSql)
         |SELECT token, count(*) AS cnt FROM tok
         |WHERE regexp_matches(token, '^(spark|join|scan)$$')
         |GROUP BY token ORDER BY cnt DESC, token""".stripMargin,
    "tok_global_stats" ->
      s"""WITH tok AS ($tokSql)
         |SELECT token_cnt, distinct_cnt, distinct_cnt * 1.0 / token_cnt AS ratio
         |FROM (SELECT count(*) AS token_cnt, count(DISTINCT token) AS distinct_cnt FROM tok)""".stripMargin,
    "q4_dim_token" ->
      """SELECT d.dim, t.token, count(*) AS cnt
        |FROM documents, UNNEST([lang, source]) AS d(dim),
        |     UNNEST(string_split(text, ' ')) AS t(token)
        |WHERE t.token <> ''
        |GROUP BY d.dim, t.token ORDER BY dim ASC, cnt DESC, token ASC""".stripMargin,
    "q5_category_token" ->
      s"""WITH tok AS ($tokSql)
         |SELECT source, token, count(*) AS cnt FROM tok
         |GROUP BY source, token ORDER BY source ASC, cnt DESC, token ASC""".stripMargin,
    "q6_dim_incl" ->
      s"""WITH tok AS ($tokSql)
         |SELECT lang, token, count(*) AS cnt FROM tok
         |WHERE regexp_matches(lang, '^(en|es)$$')
         |GROUP BY lang, token ORDER BY lang ASC, cnt DESC, token ASC""".stripMargin,
    "q6_dim_excl" ->
      s"""WITH tok AS ($tokSql)
         |SELECT lang, token, count(*) AS cnt FROM tok
         |WHERE NOT contains(lang, 'z')
         |GROUP BY lang, token ORDER BY lang ASC, cnt DESC, token ASC""".stripMargin,
    "q6_array_key" ->
      """SELECT dim_key, count(*) AS cnt
        |FROM (SELECT array_to_string([lang, source], ',') AS dim_key FROM documents)
        |GROUP BY dim_key ORDER BY dim_key""".stripMargin,
    "q7_era_counts" ->
      """SELECT CASE WHEN ts < TIMESTAMP '2024-01-11' THEN 'early'
        |            WHEN ts < TIMESTAMP '2024-01-21' THEN 'mid'
        |            ELSE 'late' END AS era,
        |       event_type, count(*) AS cnt
        |FROM events GROUP BY 1, 2 ORDER BY era, event_type""".stripMargin)
}
