package graft.tools

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** Dev aid: sweep IVF-PQ parameters against the pipeline corpus and print
  * recall@10 + seconds per combo (not part of the shipped surface). Runs
  * on SPARK_GRAFT_CPUS cores (default 16), as Bench and Verify do. */
object AnnTune {
  def main(args: Array[String]): Unit = {
    val scale = sys.env.getOrElse("SPARK_GRAFT_PIPELINE_SCALE", "1").toInt
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "16")
    val spark = SparkSession.builder().master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    graft.sources.PipelineCorpus.ensure(spark, scale)
    val emb = spark.table("pipeline_embeddings")
    val nVec = graft.sources.PipelineCorpus.vecsFor(scale)
    val nQueries = math.max(48L, math.min(200L, 400000000L / nVec))
    val qVecs = emb.filter(col("vec_id") % lit(math.max(nVec / nQueries, 1L)) === 0).persist()
    qVecs.count()
    val brute = graft.similarity.Similarity
      .bruteForceTopK(emb, qVecs, "vec_id", "embedding", 10).persist()
    val total = brute.count()
    val (nlist, nprobe) = graft.similarity.Similarity.ivfParamsFor(nVec)
    val derived = graft.similarity.Similarity.pqRerankFor(nVec, nlist, nprobe, 10)
    println(s"[annTune] nVec=$nVec nlist=$nlist nprobe=$nprobe rerankDerived=$derived totalTrue=$total")
    for ((m, rerank) <- Seq((8, derived / 4), (8, derived), (16, derived / 4))) {
      val t0 = System.nanoTime()
      val approx = graft.similarity.Similarity.ivfPqTopK(emb, qVecs, "vec_id",
        "embedding", 10, nlist = nlist, nprobe = nprobe, m = m, ksub = 256,
        rerank = rerank).persist()
      approx.count()
      val sec = (System.nanoTime() - t0) / 1e9
      val inter = brute.select("query_id", "nn_id")
        .join(approx.select("query_id", "nn_id"), Seq("query_id", "nn_id"), "left_semi")
        .count()
      println(f"[annTune] m=$m rerank=$rerank recall@10=${inter.toDouble / total}%.3f sec=$sec%.1f")
      approx.unpersist()
    }
    spark.stop()
  }
}
