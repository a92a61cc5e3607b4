package graft

import org.apache.spark.sql.functions._

/** Scale soak for the trained-ANN family, the similarity analogue of
  * [[SoakGraph]] (round 16): the full train-and-query IVF pipeline —
  * exact-DECIMAL k-means to convergence, quantized cell assignment of
  * every vector, cell-bucketed cosine retrieval through the bounded-heap
  * [[graft.plans.TopKPerGroup]] — on [[graft.ingest.HighDimCorpus]]
  * corpora at 1×/10×/100× the sf0.1 embedding count (2k / 20k / 200k
  * vectors, 64-dim), i.e. TWO decades past the largest driver fixture.
  *
  * Correctness gates per scale, before the timing counts:
  *  - the planted-label gate: HighDimCorpus clusters are separable by an
  *    aggregate margin, so every retrieved neighbor must carry its
  *    query's label (vec_id ≡ qid mod labels) — a closed-form census;
  *  - brute-force recall@3 for the query set over the FULL corpus
  *    (4×n broadcast scores — cheap at any n), reported in the JSON and
  *    required not to regress below 2/3 (the planted geometry puts the
  *    true neighbors in the query's cell; a trained quantizer that
  *    loses them has diverged).
  */
object SoakAnn {
  def main(args: Array[String]): Unit = {
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val base = sys.env.getOrElse("SPARK_GRAFT_SOAK_DIR", "/tmp/graft_soak")
    val spark = Sessions.local(s"local[$cpus]")
    import graft.similarity.Similarity

    val scales = Seq(2000L, 20000L, 200000L)
    val results = scales.map { n =>
      val dir = s"$base/ann_$n"
      if (!new java.io.File(s"$dir/embeddings.parquet/_SUCCESS").exists())
        graft.ingest.HighDimCorpus.write(spark, dir, n, d = 64, labels = 8)

      def run(): Double = {
        val t0 = System.nanoTime()
        Similarity.ivfTrainedTopK(spark, dir)
          .write.format("noop").mode("overwrite").save()
        (System.nanoTime() - t0) / 1e9
      }
      val got = Similarity.ivfTrainedTopK(spark, dir)
        .select("qid", "vec_id").collect()
        .map(r => (r.getLong(0), r.getLong(1)))
      require(got.length == 12, s"n=$n: want 4 queries x top-3, got ${got.length}")
      require(got.forall { case (q, v) => q % 8 == v % 8 },
        s"n=$n: planted-label gate violated: ${got.filter(p => p._1 % 8 != p._2 % 8).toSeq}")

      // brute-force truth for the same 4 queries over the full corpus
      val emb = Tables(spark, dir, "embeddings").select(col("vec_id"), col("embedding"))
      val q = emb.filter(col("vec_id") < 4)
        .select(col("vec_id").as("qid"), col("embedding").as("qe"))
      val scored = emb.crossJoin(broadcast(q))
        .filter(col("vec_id") =!= col("qid"))
        .select(col("qid"), col("vec_id"),
          round(graft.functions.VectorOps.cosine("embedding", "qe"), 4).as("cos_r"))
      val truth = graft.plans.TopK.perGroup(scored, Seq("qid"),
          Seq(("cos_r", false), ("vec_id", true)), 3)
        .select("qid", "vec_id").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
      val recall = got.count(truth.contains).toDouble / truth.size
      require(recall >= 2.0 / 3.0, s"n=$n: recall@3 $recall below 2/3")

      val t = math.min(run(), run())
      (n, t, recall)
    }
    val fields = results.map { case (n, t, r) =>
      s""""n$n":${String.format(java.util.Locale.ROOT, "%.3f", t)},""" +
        s""""recall$n":${String.format(java.util.Locale.ROOT, "%.3f", r)}"""
    }.mkString(",")
    val decades = results.last._2 / results.head._2
    println(s"""{"probe":"ann_decades","query":"sim_ivf_trained",$fields,""" +
      s""""x100":${String.format(java.util.Locale.ROOT, "%.2f", decades)}}""")
    spark.stop()
  }
}
