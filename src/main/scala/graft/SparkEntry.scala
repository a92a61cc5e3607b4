package graft
import org.apache.spark.sql.{SparkSession, DataFrame}
import graft.queries.{EmojiQueries, EventQueries, RelationalQueries, TweetQueries}
import graft.dedup.Dedup
import graft.similarity.Similarity
import graft.text.TextAnalysis
import graft.multimodal.Multimodal
import graft.sources.Formats
import graft.streaming.StreamingOps

/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt.
  *
  * `queries`/`oracleSql` are the concatenation of every module's map; each
  * module keeps its own (queries, oracles) pair next to the implementation
  * so a query can never land without its oracle (or a conscious omission).
  */
object SparkEntry {

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0.
    * Runs the §2.9 canonical dataflow end-to-end (scan → tokenize →
    * explode → grouped count → ordered output). */
  def entry(spark: SparkSession): DataFrame = {
    Engine.tune(spark)
    EmojiQueries.q1Top(spark, "/root/testdata/sf0.001")
  }

  /** One entry per implemented operator from SURVEY.md §2. Each builder
    * runs after [[Engine.tune]] on the caller's session, so the bodies
    * carry no session policy of their own. */
  val queries: Map[String, (SparkSession, String) => DataFrame] =
    (EmojiQueries.queries ++
      TweetQueries.queries ++
      EventQueries.queries ++
      RelationalQueries.queries ++
      Dedup.queries ++
      Similarity.queries ++
      TextAnalysis.queries ++
      Multimodal.queries ++
      Formats.queries ++
      StreamingOps.queries).map { case (name, f) =>
      name -> ((s: SparkSession, d: String) => { Engine.tune(s); f(s, d) })
    }

  /** For each key in queries, equivalent ANSI SQL runnable by DuckDB on
    * the same parquet tables. Omit for non-SQL-expressible ops. */
  def oracleSql: Map[String, String] =
    EmojiQueries.oracles ++
      TweetQueries.oracles ++
      EventQueries.oracles ++
      RelationalQueries.oracles ++
      Dedup.oracles ++
      Similarity.oracles ++
      TextAnalysis.oracles ++
      Multimodal.oracles ++
      Formats.oracles ++
      StreamingOps.oracles
}
