package graft.tools

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.similarity.Similarity

/** Plan dumper for plans/r13 (not part of the suite): `explain("formatted")`
  * of the three approximate tiers the curation benchmark runs — IVF, LSH
  * and the persisted IVF-PQ index with rerank — plus the RDD lineage, which
  * shows what a `Scan ExistingRDD` reads.
  *
  *   sbt "Test/runMain graft.tools.AnnPlans <sfDir> <outDir> <suffix>"
  */
object AnnPlans {
  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir, suffix) = args
    val spark = SparkSession.builder().master("local[4]")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.ui.enabled", "false").getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val emb = graft.sources.Tables.embeddings(spark, sfDir)
    val n = emb.count()
    val qv = emb.filter(col("vec_id") % math.max(n / 50, 1L) === 0)
    val (nlist, nprobe) = Similarity.ivfParamsFor(n)
    val (nBits, tables) = Similarity.lshParamsFor(n)
    val frac = Similarity.kmeansFractionFor(n)
    def dump(name: String, df: DataFrame): Unit = java.nio.file.Files.write(
      java.nio.file.Paths.get(outDir, s"${name}_$suffix.txt"),
      (df.queryExecution.explainString(org.apache.spark.sql.execution.FormattedMode) +
        "\n== RDD lineage ==\n" + df.rdd.toDebugString + "\n").getBytes)
    dump("ivf", Similarity.ivfTopK(emb, qv, "vec_id", "embedding", 10, nlist = nlist,
      nprobe = nprobe, trainFraction = frac))
    dump("lsh", Similarity.lshTopK(emb, qv, "vec_id", "embedding", 10, nBits = nBits,
      tables = tables, probes = 4))
    try {
      val (centers, books) = Similarity.buildIvfPqIndex(emb, "vec_id", "embedding",
        "annplans_pq", nlist = nlist, m = 8, ksub = 256, trainFraction = frac)
      dump("ivfpq_indexed", Similarity.ivfPqTopKIndexed(spark, "annplans_pq", centers, books,
        qv, "vec_id", "embedding", 10, nprobe = nprobe,
        rerank = Similarity.pqRerankFor(n, nlist, nprobe, 10), rerankFrom = Some(emb)))
    } finally {
      spark.sql("DROP TABLE IF EXISTS annplans_pq")
      spark.sql("DROP TABLE IF EXISTS annplans_pq_codebooks")
    }
    spark.stop()
  }
}
