package graft.ingest

import org.apache.spark.sql.functions._
import graft.SparkSpec

/** The soak corpus (DocCorpus) must carry its planted structure exactly:
  * the closed-form census graft.Soak's `graph_decade` REQUIREs at 50k
  * docs is pinned here at suite scale, against the same registered
  * components pipeline. */
class DocCorpusSpec extends SparkSpec {

  test("planted near-dup clusters recovered exactly by the registered pipeline") {
    val dir = graft.TempDirs.create("graft-doccorpus").toString
    DocCorpus.write(spark, dir, 256)

    val docs = spark.read.parquet(s"$dir/documents.parquet")
    assert(docs.count() == 256)
    // Tables layout: the dedup/text queries read these columns
    assert(docs.columns.sorted.toSeq ==
      Seq("doc_id", "lang", "n_chars", "source", "text"))

    // 256/32 = 8 planted clusters of exactly 4 docs, nothing else
    val census = graft.dedup.Dedup.components(spark, dir)
      .agg(count(lit(1)).as("clusters"),
        sum("n_docs").as("docs"), min("n_docs").as("lo"), max("n_docs").as("hi"))
      .head()
    assert(census.getLong(0) == 8, census)
    assert(census.getLong(1) == 32, census)
    assert(census.getLong(2) == 4 && census.getLong(3) == 4, census)
  }

  test("generation is deterministic: two writes produce identical bytes-level rows") {
    val d1 = graft.TempDirs.create("graft-doccorpus-a").toString
    val d2 = graft.TempDirs.create("graft-doccorpus-b").toString
    DocCorpus.write(spark, d1, 64)
    DocCorpus.write(spark, d2, 64)
    val h = (d: String) => spark.read.parquet(s"$d/documents.parquet")
      .selectExpr("CAST(sum(hash(doc_id, text, lang, source, n_chars)) AS BIGINT) AS h")
      .head().getLong(0)
    assert(h(d1) == h(d2))
  }
}
