package graft

import org.apache.spark.sql.functions._
import graft.api.Lookup
import graft.similarity.Similarity
import graft.sources.Tables

/** Persisted IVF index: the cell-bucketed serving layout answers
  * identically to the in-job ivfTopK path, and a query physically reads
  * only its probed cells' bucket files. */
class IvfIndexSpec extends GraftSpec {

  private val sf = "/root/testdata/sf0.001"

  test("indexed IVF equals the in-job IVF path and seeks only probed cells") {
    val emb = Tables.embeddings(spark, sf)
    val queries = emb.filter(col("vec_id") < 5)
    try {
      val centers = Similarity.buildIvfIndex(emb, "vec_id", "embedding",
        "ivf_idx", nlist = 16, seed = 42L, maxIter = 5)
      assert(centers.length == 16)

      val indexed = Similarity.ivfTopKIndexed(spark, "ivf_idx", centers,
        queries, "vec_id", "embedding", k = 5, nprobe = 6)
      val direct = Similarity.ivfTopK(emb, queries, "vec_id", "embedding",
        k = 5, nlist = 16, nprobe = 6, seed = 42L, maxIter = 5)
      assert(indexed.orderBy("query_id", "rnk").collect().map(_.toString).toSeq ==
        direct.orderBy("query_id", "rnk").collect().map(_.toString).toSeq)

      // physical seek contract on the index table: a 2-cell probe reads
      // at most 2 of the >= 16 bucket files (in-memory probe side so
      // input_file_name refers only to the index scan)
      import spark.implicits._
      val probe = Seq(0, 1).toDF("qcell")
      val joined = Lookup.lookupJoin(spark, probe, "ivf_idx", "qcell", "cell")
      val touched = joined.select(input_file_name().as("f")).distinct()
        .collect().flatMap(r => Lookup.bucketIdOf(r.getString(0))).toSet
      val expected = Set(0, 1).map(c =>
        Lookup.bucketFor(c, org.apache.spark.sql.types.IntegerType, 16))
      assert(touched.subsetOf(expected), s"touched $touched, expected $expected")
      // the indexed tiers read through seek: only the probed cells' buckets
      val seekFiles = Lookup.seek(spark, "ivf_idx", Seq(0, 1)).inputFiles
      assert(seekFiles.nonEmpty &&
        seekFiles.forall(f => Lookup.bucketIdOf(f).exists(expected)), seekFiles.toSeq)
      // the seek reads strictly fewer files than a full index scan would
      // (cells can hash-collide into shared buckets, so files < nlist)
      assert(spark.table("ivf_idx").inputFiles.length > touched.size)
    } finally spark.sql("DROP TABLE IF EXISTS ivf_idx")
  }

  test("index append: full-probe queries over (build A, append B) equal brute force on A ∪ B") {
    val emb = Tables.embeddings(spark, sf)
    val a = emb.filter(col("vec_id") % 2 === 0)
    val b = emb.filter(col("vec_id") % 2 === 1)
    val queries = emb.filter(col("vec_id") < 5)
    try {
      val centers = Similarity.buildIvfIndex(a, "vec_id", "embedding",
        "ivf_app", nlist = 8, seed = 42L, maxIter = 5)
      val before = spark.table("ivf_app").count()
      Similarity.appendToIvfIndex("ivf_app", centers, b, "vec_id", "embedding")
      // append added exactly the increment, no rewrite of history
      assert(spark.table("ivf_app").count() == before + b.count())
      // full probing visits every cell, so assignment drift cannot hide
      // a vector: the appended index must answer exactly like brute force
      val viaIndex = Similarity.ivfTopKIndexed(spark, "ivf_app", centers,
        queries, "vec_id", "embedding", k = 5, nprobe = 8)
      val exact = Similarity.bruteForceTopK(emb, queries, "vec_id", "embedding", k = 5)
      assert(viaIndex.orderBy("query_id", "rnk").collect().map(_.toString).toSeq ==
        exact.orderBy("query_id", "rnk").collect().map(_.toString).toSeq)
      // appended rows really landed in their nearest cell (spot-check one)
      val row = spark.table("ivf_app").filter(col("nn_id") === 1).head()
      val v = row.getAs[scala.collection.Seq[Double]]("cv")
      val want = centers.zipWithIndex.minBy { case (c, _) =>
        c.zip(v).map { case (x, y) => (x - y) * (x - y) }.sum }._2
      assert(row.getAs[Int]("cell") == want)
    } finally spark.sql("DROP TABLE IF EXISTS ivf_app")
  }

  test("index rebalance: refit + swap restores cell balance after a skewed append; answers stay exact") {
    val emb = Tables.embeddings(spark, sf)
    val base = emb.filter(col("vec_id") % 4 === 0).select(col("vec_id"), col("embedding"))
    // the append is 3x the base SHIFTED far outside the original
    // distribution: under the build-time codebook the whole increment
    // lands in whichever old cell is nearest the shifted cloud — the
    // worst-case drift the skew metric exists to catch
    val shifted = emb.filter(col("vec_id") % 4 =!= 0)
      .select((col("vec_id") + 100000L).as("vec_id"),
        transform(col("embedding"), e => e + lit(10.0f)).as("embedding"))
    val union = base.unionByName(shifted)
    val queries = union.filter(col("vec_id").isin(0L, 4L, 100001L, 100002L))
    try {
      val centers0 = Similarity.buildIvfIndex(base, "vec_id", "embedding",
        "ivf_rebal", nlist = 8, seed = 42L, maxIter = 5)
      Similarity.appendToIvfIndex("ivf_rebal", centers0, shifted, "vec_id", "embedding")
      val skewBefore = Similarity.ivfCellSkew(spark, "ivf_rebal")
      val centers1 = Similarity.rebalanceIvfIndex(spark, "ivf_rebal",
        nlist = 8, seed = 42L, maxIter = 5)
      val skewAfter = Similarity.ivfCellSkew(spark, "ivf_rebal")
      assert(skewAfter < skewBefore, s"skew did not improve: $skewBefore -> $skewAfter")
      assert(spark.table("ivf_rebal").count() == union.count()) // rewrite lost nothing
      // exactness is codebook-independent under a full probe: the
      // rebalanced index must answer exactly like brute force on A ∪ B'
      val viaIndex = Similarity.ivfTopKIndexed(spark, "ivf_rebal", centers1,
        queries, "vec_id", "embedding", k = 5, nprobe = 8)
      val exact = Similarity.bruteForceTopK(union, queries, "vec_id", "embedding", k = 5)
      assert(viaIndex.orderBy("query_id", "rnk").collect().map(_.toString).toSeq ==
        exact.orderBy("query_id", "rnk").collect().map(_.toString).toSeq)
    } finally {
      spark.sql("DROP TABLE IF EXISTS ivf_rebal")
      spark.sql("DROP TABLE IF EXISTS ivf_rebal_rebalanced_tmp")
    }
  }

  test("persisted IVF-PQ index: codebooks round-trip; full-probe + exact rerank equals brute force") {
    val emb = Tables.embeddings(spark, sf)
    val queries = emb.filter(col("vec_id") < 5)
    try {
      val (centers, books) = Similarity.buildIvfPqIndex(emb, "vec_id",
        "embedding", "pq_idx", nlist = 8, m = 8, ksub = 16)
      val (c2, b2) = Similarity.loadPqCodebooks(spark, "pq_idx")
      assert(c2.map(_.toSeq).toSeq == centers.map(_.toSeq).toSeq)
      assert(b2.map(_.map(_.toSeq).toSeq).toSeq ==
        books.map(_.map(_.toSeq).toSeq).toSeq)
      // full probe + deep exact rerank from the raw-vector source ⇒ the
      // quantization is fully recovered and the persisted path must equal
      // brute force row for row
      val got = Similarity.ivfPqTopKIndexed(spark, "pq_idx", c2, b2,
        queries, "vec_id", "embedding", k = 5, nprobe = 8, rerank = 4000,
        rerankFrom = Some(emb))
      val brute = Similarity.bruteForceTopK(emb, queries, "vec_id", "embedding", 5)
      assert(got.orderBy("query_id", "rnk").collect().map(_.toString).toSeq ==
        brute.orderBy("query_id", "rnk").collect().map(_.toString).toSeq)

      // append maintenance: encode new vectors with the SAME codebooks,
      // append to the bucketed table; the appended ids must be seekable
      val extra = emb.filter(col("vec_id").between(5, 9))
        .select((col("vec_id") + 100000L).as("vec_id"), col("embedding"))
      val before = spark.table("pq_idx").count()
      Similarity.appendToIvfPqIndex("pq_idx", c2, b2, extra, "vec_id", "embedding")
      assert(spark.table("pq_idx").count() == before + extra.count())
    } finally {
      spark.sql("DROP TABLE IF EXISTS pq_idx")
      spark.sql("DROP TABLE IF EXISTS pq_idx_codebooks")
    }
  }

  test("IVF-PQ index rebalance: coarse refit + swap restores balance; codes survive; answers stay exact") {
    val emb = Tables.embeddings(spark, sf)
    val base = emb.filter(col("vec_id") % 4 === 0).select(col("vec_id"), col("embedding"))
    // same worst-case drift as the IVF rebalance test: the 3x increment
    // shifted far outside the build-time distribution piles into one cell
    val shifted = emb.filter(col("vec_id") % 4 =!= 0)
      .select((col("vec_id") + 100000L).as("vec_id"),
        transform(col("embedding"), e => e + lit(10.0f)).as("embedding"))
    val union = base.unionByName(shifted)
    val queries = union.filter(col("vec_id").isin(0L, 4L, 100001L, 100002L))
    try {
      val (centers0, books) = Similarity.buildIvfPqIndex(base, "vec_id",
        "embedding", "pq_rebal", nlist = 8, m = 8, ksub = 16)
      Similarity.appendToIvfPqIndex("pq_rebal", centers0, books, shifted,
        "vec_id", "embedding")
      val skewBefore = Similarity.ivfCellSkew(spark, "pq_rebal")
      val centers1 = Similarity.rebalanceIvfPqIndex(spark, "pq_rebal", books,
        union, "vec_id", "embedding", nlist = 8, seed = 43L, maxIter = 5)
      val skewAfter = Similarity.ivfCellSkew(spark, "pq_rebal")
      assert(skewAfter < skewBefore, s"skew did not improve: $skewBefore -> $skewAfter")
      assert(spark.table("pq_rebal").count() == union.count()) // rewrite lost nothing
      // the refreshed codebooks table reloads the NEW coarse codebook and
      // the UNCHANGED PQ books (codes are coarse-invariant)
      val (c2, b2) = Similarity.loadPqCodebooks(spark, "pq_rebal")
      assert(c2.map(_.toSeq).toSeq == centers1.map(_.toSeq).toSeq)
      assert(b2.map(_.map(_.toSeq).toSeq).toSeq ==
        books.map(_.map(_.toSeq).toSeq).toSeq)
      // full probe + deep exact rerank under the NEW codebook ⇒ exactly
      // brute force over A ∪ B' (exactness is codebook-independent)
      val got = Similarity.ivfPqTopKIndexed(spark, "pq_rebal", centers1, books,
        queries, "vec_id", "embedding", k = 5, nprobe = 8, rerank = 4000,
        rerankFrom = Some(union))
      val brute = Similarity.bruteForceTopK(union, queries, "vec_id", "embedding", 5)
      assert(got.orderBy("query_id", "rnk").collect().map(_.toString).toSeq ==
        brute.orderBy("query_id", "rnk").collect().map(_.toString).toSeq)
    } finally {
      spark.sql("DROP TABLE IF EXISTS pq_rebal")
      spark.sql("DROP TABLE IF EXISTS pq_rebal_rebalanced_tmp")
      spark.sql("DROP TABLE IF EXISTS pq_rebal_codebooks")
    }
  }

  test("rankTopK large-k window path ranks identically to the heap path") {
    // The PQ rerank shortlist calls rankTopK with k in the 10^5 band,
    // which routes to the window path (k > 4096); small k keeps the
    // bounded-heap partial aggregation. Both must implement the same
    // contract — sim desc, nn_id asc on ties — so the window result
    // truncated to the heap's k must match row for row. The sim stream
    // has deliberate heavy ties (97 distinct values over 30k rows).
    val scored = spark.range(0, 30000)
      .select((col("id") % 3).as("query_id"), col("id").as("nn_id"),
        round((col("id") % 97).cast("double") / 97.0, 4).as("sim"))
    val heap = Similarity.rankTopK(scored, 50)
    val win = Similarity.rankTopK(scored, 5000).filter(col("rnk") <= 50)
    assert(win.orderBy("query_id", "rnk").collect().map(_.toString).toSeq ==
      heap.orderBy("query_id", "rnk").collect().map(_.toString).toSeq)
  }
}
