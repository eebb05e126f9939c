package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.similarity.{Scored, Similarity, TopKAgg}

/** r11 optimization round: the hot-path kernels that replaced declarative
  * formulations must stay BIT-IDENTICAL to what they replaced — the
  * correctness gates hash results, so "close" is a regression. Pins:
  *   - bruteForceTopK's partition kernel ≡ the crossJoin + rankTopK form
  *     (same rounding, same tie-breaks, rounded ties included);
  *   - roundHalfUp ≡ Spark's round(col, n) on doubles;
  *   - NearestCentroid / PqEncodeCodes native expressions ≡ the UDF loops
  *     they replaced (same flat layout, early exit, strict-< tie rule);
  *   - lshTopK's narrowed dedup (score-then-dedup) ≡ dedup-then-score;
  *   - every approximate tier's partition kernel ≡ the join body it
  *     replaced (kept verbatim below as the reference), over tie-heavy
  *     vectors, zero vectors, nulls, duplicate query ids, empty probed
  *     cells, the large-k path and the string-id join fallback;
  *   - TopKAgg's insert/merge ≡ sort-then-take (fixed-seed property).
  */
class KernelEquivalenceSpec extends GraftSpec {
  import spark.implicits._

  private def randVecs(n: Int, dim: Int, seed: Long): Seq[(Long, Array[Float])] = {
    val r = new scala.util.Random(seed)
    // low-resolution coordinates force plenty of EXACT rounded-sim ties,
    // the regime where heap tie-breaks decide the result
    Seq.tabulate(n)(i => (i.toLong, Array.fill(dim)((r.nextInt(5) - 2).toFloat)))
  }

  test("bruteForceTopK kernel ≡ crossJoin formulation, rounded ties included") {
    val vecs = randVecs(400, 8, seed = 11L).toDF("vec_id", "embedding")
    val queries = vecs.filter(col("vec_id") < 7)
    val kernel = Similarity.bruteForceTopK(vecs, queries, "vec_id", "embedding", k = 10)
      .as[(Long, Int, Long, Double)].collect().sortBy(r => (r._1, r._2))
    // the reference: the pre-r11 crossJoin + rankTopK pipeline, verbatim
    val c = vecs.select(col("vec_id").as("nn_id"),
      col("embedding").cast("array<double>").as("cv"))
    val q = queries.select(col("vec_id").as("query_id"),
      col("embedding").cast("array<double>").as("qv"))
    val scored = c.crossJoin(broadcast(q))
      .filter(col("nn_id") =!= col("query_id"))
      .withColumn("sim", round(graft.functions.cosineSim(col("qv"), col("cv")), 4))
    val reference = Similarity.rankTopK(
        scored.select("query_id", "nn_id", "sim"), 10)
      .as[(Long, Int, Long, Double)].collect().sortBy(r => (r._1, r._2))
    assert(kernel.toSeq == reference.toSeq)
  }

  test("bruteForceTopK kernel handles zero vectors and int ids like the crossJoin form") {
    val vecs = Seq(
      (0, Array(0.0f, 0.0f)), (1, Array(1.0f, 0.0f)),
      (2, Array(0.0f, 0.0f)), (3, Array(0.5f, 0.5f)))
      .toDF("vec_id", "embedding")
    val out = Similarity.bruteForceTopK(vecs, vecs.filter(col("vec_id") <= 1),
      "vec_id", "embedding", k = 3)
    assert(out.schema("query_id").dataType ==
      org.apache.spark.sql.types.IntegerType)
    assert(out.schema("nn_id").dataType ==
      org.apache.spark.sql.types.IntegerType)
    val rows = out.as[(Int, Int, Int, Double)].collect().toSet
    // zero-vector query: every sim is 0.0 (the denom==0 contract), ids break ties
    assert(rows.filter(_._1 == 0).toSeq.sortBy(_._2).map(_._3) == Seq(1, 2, 3))
  }

  test("roundHalfUp ≡ Spark round() over the sim domain") {
    val xs = Seq(0.12345, -0.12345, 0.123449999, 0.99995, -0.99995, 1.0, 0.0,
      -1.0, 0.00004999, 0.00005, Double.NaN, 1e-300, 0.7071067811865476) ++
      Seq.tabulate(1000)(i => math.cos(i.toDouble)) // irrational spread
    val viaSpark = xs.toDF("x").select(round(col("x"), 4)).as[Double].collect()
    val viaKernel = xs.map(Similarity.roundHalfUp(_, 4))
    viaSpark.zip(viaKernel).foreach { case (a, b) =>
      assert(java.lang.Double.compare(a, b) == 0, s"$a != $b")
    }
  }

  test("NearestCentroid/PqEncodeCodes ≡ the UDF argmin loops they replaced") {
    val r = new scala.util.Random(5L)
    val centers = Array.fill(7)(Array.fill(8)(r.nextDouble()))
    val books = Array.fill(2)(Array.fill(5)(Array.fill(4)(r.nextDouble())))
    val vecs = randVecs(300, 8, seed = 3L).toDF("vec_id", "embedding")
      .select(col("vec_id"), col("embedding").cast("array<double>").as("cv"))
    // reference: the exact UDF bodies the native expressions replaced
    val k = centers.length; val dim = centers(0).length
    val flat = centers.flatten
    val refCell = udf { (vs: Seq[Double]) =>
      val v = vs.toArray
      var best = 0; var bd = Double.MaxValue; var c = 0
      while (c < k) {
        var off = c * dim; var s = 0.0; var j = 0
        while (j < dim && s < bd) { val t = flat(off) - v(j); s += t * t; j += 1; off += 1 }
        if (s < bd) { bd = s; best = c }
        c += 1
      }
      best
    }
    val m = books.length; val ksub = books(0).length; val dsub = books(0)(0).length
    val bflat = books.flatten.flatten
    val refEnc = udf { (vs: Seq[Double]) =>
      val v = vs.toArray
      val codes = new Array[Byte](m)
      var j = 0
      while (j < m) {
        val vOff = j * dsub
        var best = 0; var bd = Double.MaxValue; var c = 0
        while (c < ksub) {
          var off = (j * ksub + c) * dsub
          var s = 0.0; var d = 0
          while (d < dsub && s < bd) { val t = bflat(off) - v(vOff + d); s += t * t; d += 1; off += 1 }
          if (s < bd) { bd = s; best = c }
          c += 1
        }
        codes(j) = best.toByte; j += 1
      }
      codes
    }
    val got = vecs
      .withColumn("cell", Similarity.nearestCell(centers)(col("cv")))
      .withColumn("codes", graft.functions.pqEncodeCodes(col("cv"), books))
      .withColumn("cell_ref", refCell(col("cv")))
      .withColumn("codes_ref", refEnc(col("cv")))
    assert(got.filter(col("cell") =!= col("cell_ref")).count() == 0)
    assert(got.filter(col("codes") =!= col("codes_ref")).count() == 0)
  }

  test("lshTopK narrowed dedup ≡ dedup-then-score (pre-r11 shape)") {
    val vecs = randVecs(500, 8, seed = 29L).toDF("vec_id", "embedding")
    val queries = vecs.filter(col("vec_id") < 5)
    val now = Similarity.lshTopK(vecs, queries, "vec_id", "embedding",
        k = 10, nBits = 4, tables = 3, probes = 2)
      .as[(Long, Int, Long, Double)].collect().sortBy(r => (r._1, r._2))
    // pre-r11 lshTopK, verbatim: dedup the wide candidate rows, then score
    val c0 = vecs.select(col("vec_id").as("nn_id"),
      col("embedding").cast("array<double>").as("cv"))
    val q0 = queries.select(col("vec_id").as("query_id"),
      col("embedding").cast("array<double>").as("qv"))
    def sigs(df: org.apache.spark.sql.DataFrame, idName: String, vecName: String) =
      df.select(col(idName), col(vecName),
        posexplode(graft.functions.hyperplaneSignatures(col(vecName), 4, 3)))
        .withColumnRenamed("pos", "tbl").withColumnRenamed("col", "sig")
    val cs = sigs(c0, "nn_id", "cv")
    val qs0 = sigs(q0, "query_id", "qv")
    val qs = qs0.withColumn("sig", explode(array(
      col("sig") +: (0 until 2).map(b => col("sig").bitwiseXOR(lit(1L << b))): _*)))
    val ref = Similarity.rankTopK(
        cs.join(broadcast(qs), Seq("tbl", "sig"))
          .filter(col("nn_id") =!= col("query_id"))
          .dropDuplicates("query_id", "nn_id")
          .withColumn("sim", round(graft.functions.cosineSim(col("qv"), col("cv")), 4))
          .select("query_id", "nn_id", "sim"), 10)
      .as[(Long, Int, Long, Double)].collect().sortBy(r => (r._1, r._2))
    assert(now.toSeq == ref.toSeq)
  }

  // ---- the pre-kernel join bodies of the approximate tiers, verbatim

  private def refIvf(corpus: DataFrame, queries: DataFrame,
      idCol: String, vecCol: String, k: Int, nlist: Int = 16,
      nprobe: Int = 4, seed: Long = 42L, maxIter: Int = 5,
      trainFraction: Double = 0.1): DataFrame = {
    val c = corpus.select(col(idCol).as("nn_id"), col(vecCol).cast("array<double>").as("cv"))
    val centers = Similarity.fitCenters(c, nlist, seed, maxIter, trainFraction)
    val assigned = c.withColumn("cell", Similarity.nearestCell(centers)(col("cv")))
      .select("nn_id", "cv", "cell")
    val probeCells = udf { (v: Seq[Double]) =>
      centers.zipWithIndex.map { case (ctr, i) =>
        var s = 0.0; var j = 0
        while (j < ctr.length) { val d = ctr(j) - v(j); s += d * d; j += 1 }
        (s, i)
      }.sortBy(_._1).take(nprobe).map(_._2)
    }
    val q = queries.select(col(idCol).as("query_id"), col(vecCol).cast("array<double>").as("qv"))
      .withColumn("cell", explode(probeCells(col("qv"))))
    val scored = assigned.join(broadcast(q), Seq("cell"))
      .filter(col("nn_id") =!= col("query_id"))
      .withColumn("sim", round(graft.functions.cosineSim(col("qv"), col("cv")), 4))
    Similarity.rankTopK(scored, k)
  }

  private def refIvfIndexed(table: String, centers: Array[Array[Double]],
      queries: DataFrame, idCol: String, vecCol: String, k: Int,
      nprobe: Int = 4): DataFrame = {
    val probeCells = udf { (v: Seq[Double]) =>
      centers.zipWithIndex.map { case (ctr, i) =>
        var s = 0.0; var j = 0
        while (j < ctr.length) { val d = ctr(j) - v(j); s += d * d; j += 1 }
        (s, i)
      }.sortBy(_._1).take(nprobe).map(_._2)
    }
    val q = queries.select(col(idCol).as("query_id"), col(vecCol).cast("array<double>").as("qv"))
      .withColumn("qcell", explode(probeCells(col("qv"))))
    val scored = graft.api.Lookup.lookupJoin(spark, q, table, "qcell", "cell")
      .filter(col("nn_id") =!= col("query_id"))
      .withColumn("sim", round(graft.functions.cosineSim(col("qv"), col("cv")), 4))
      .select("query_id", "nn_id", "sim")
    Similarity.rankTopK(scored, k)
  }

  private def refLsh(corpus: DataFrame, queries: DataFrame,
      idCol: String, vecCol: String, k: Int, nBits: Int = 6,
      tables: Int = 8, probes: Int = 0): DataFrame = {
    def signatures(df: DataFrame, idName: String, vecName: String) =
      df.select(col(idName), col(vecName),
        posexplode(graft.functions.hyperplaneSignatures(col(vecName), nBits, tables)))
        .withColumnRenamed("pos", "tbl").withColumnRenamed("col", "sig")
    val c = signatures(
      corpus.select(col(idCol).as("nn_id"), col(vecCol).cast("array<double>").as("cv")),
      "nn_id", "cv")
    val q0 = signatures(
      queries.select(col(idCol).as("query_id"), col(vecCol).cast("array<double>").as("qv")),
      "query_id", "qv")
    val q =
      if (probes <= 0) q0
      else q0.withColumn("sig", explode(array(
        col("sig") +: (0 until math.min(probes, nBits)).map(b =>
          col("sig").bitwiseXOR(lit(1L << b))): _*)))
    val scored = c.join(broadcast(q), Seq("tbl", "sig"))
      .filter(col("nn_id") =!= col("query_id"))
      .withColumn("sim", round(graft.functions.cosineSim(col("qv"), col("cv")), 4))
      .select("query_id", "nn_id", "sim")
      .dropDuplicates("query_id", "nn_id")
    Similarity.rankTopK(scored, k)
  }

  private def refIvfPq(corpus: DataFrame, queries: DataFrame,
      idCol: String, vecCol: String, k: Int, nlist: Int = 16,
      nprobe: Int = 4, m: Int = 8, ksub: Int = 256, rerank: Int = 0,
      seed: Long = 42L, maxIter: Int = 5,
      trainFraction: Double = 0.1): DataFrame = {
    val c = corpus.select(col(idCol).as("nn_id"), col(vecCol).cast("array<double>").as("cv"))
    val sampleOpt = Similarity.collectSample(c.select(col("cv")),
      math.max(nlist, ksub).toLong * 10, seed, trainFraction)
    val centers: Array[Array[Double]] = sampleOpt match {
      case Some(s) => Similarity.localKMeans(s, nlist, maxIter, seed)
      case None => Similarity.fitCenters(c, nlist, seed, maxIter, trainFraction)
    }
    val books = sampleOpt match {
      case Some(s) => Similarity.pqTrainLocal(s, m, ksub, seed, maxIter)
      case None => Similarity.pqTrain(corpus, vecCol, m, ksub, seed, maxIter, trainFraction)
    }
    val dsub = books(0)(0).length
    val assigned = c.withColumn("cell", Similarity.nearestCell(centers)(col("cv")))
      .select("nn_id", "cv", "cell")
    val encoded = Similarity.pqEncode(assigned, "nn_id", "cv", books, keepCols = Seq("cell"))
    val probeCells = udf { (v: Seq[Double]) =>
      centers.zipWithIndex.map { case (ctr, i) =>
        var s = 0.0; var j = 0
        while (j < ctr.length) { val d = ctr(j) - v(j); s += d * d; j += 1 }
        (s, i)
      }.sortBy(_._1).take(nprobe).map(_._2)
    }
    val lut = udf { (qv: Seq[Double]) =>
      val t = new Array[Double](m * ksub)
      var j = 0
      while (j < m) {
        val cb = books(j); var c2 = 0
        while (c2 < cb.length) {
          var s = 0.0; var d = 0
          while (d < dsub) { s += qv(j * dsub + d) * cb(c2)(d); d += 1 }
          t(j * ksub + c2) = s; c2 += 1
        }
        j += 1
      }
      t
    }
    val q = queries.select(col(idCol).as("query_id"), col(vecCol).cast("array<double>").as("qv"))
      .withColumn("lut", lut(col("qv")))
      .withColumn("qnorm", sqrt(aggregate(col("qv"), lit(0.0), (acc, x) => acc + x * x)))
      .withColumn("cell", explode(probeCells(col("qv"))))
    val scored = encoded.join(broadcast(q), Seq("cell"))
      .filter(col("nn_id") =!= col("query_id"))
      .withColumn("sim", round(graft.functions.pqAdc(col("codes"), col("lut")) /
        (col("qnorm") * col("norm")), 4))
      .select("query_id", "nn_id", "sim")
    if (rerank <= 0) Similarity.rankTopK(scored, k)
    else {
      val shortlist = Similarity.rankTopK(scored, rerank).select("query_id", "nn_id")
      val qv = queries.select(col(idCol).as("query_id"), col(vecCol).cast("array<double>").as("qv"))
      val exact = c.join(broadcast(shortlist), Seq("nn_id"))
        .join(broadcast(qv), Seq("query_id"))
        .withColumn("sim", round(graft.functions.cosineSim(col("qv"), col("cv")), 4))
        .select("query_id", "nn_id", "sim")
      Similarity.rankTopK(exact, k)
    }
  }

  private def refIvfPqIndexed(table: String, centers: Array[Array[Double]],
      books: Array[Array[Array[Double]]], queries: DataFrame, idCol: String,
      vecCol: String, k: Int, nprobe: Int = 4, rerank: Int = 0,
      rerankFrom: Option[DataFrame] = None): DataFrame = {
    val m = books.length
    val ksub = books(0).length
    val dsub = books(0)(0).length
    val probeCells = udf { (v: Seq[Double]) =>
      centers.zipWithIndex.map { case (ctr, i) =>
        var s = 0.0; var j = 0
        while (j < ctr.length) { val d = ctr(j) - v(j); s += d * d; j += 1 }
        (s, i)
      }.sortBy(_._1).take(nprobe).map(_._2)
    }
    val lut = udf { (qv: Seq[Double]) =>
      val t = new Array[Double](m * ksub)
      var j = 0
      while (j < m) {
        val cb = books(j); var c2 = 0
        while (c2 < cb.length) {
          var s = 0.0; var d = 0
          while (d < dsub) { s += qv(j * dsub + d) * cb(c2)(d); d += 1 }
          t(j * ksub + c2) = s; c2 += 1
        }
        j += 1
      }
      t
    }
    val q = queries.select(col(idCol).as("query_id"),
        col(vecCol).cast("array<double>").as("qv"))
      .withColumn("lut", lut(col("qv")))
      .withColumn("qnorm", sqrt(aggregate(col("qv"), lit(0.0), (acc, x) => acc + x * x)))
      .withColumn("qcell", explode(probeCells(col("qv"))))
    val scored = graft.api.Lookup.lookupJoin(spark, q, table, "qcell", "cell")
      .filter(col("nn_id") =!= col("query_id"))
      .withColumn("sim", round(graft.functions.pqAdc(col("codes"), col("lut")) /
        (col("qnorm") * col("norm")), 4))
      .select("query_id", "nn_id", "sim")
    if (rerank <= 0) Similarity.rankTopK(scored, k)
    else {
      val src = rerankFrom.get
      val shortlist = Similarity.rankTopK(scored, rerank).select("query_id", "nn_id")
      val cvs = src.select(col(idCol).as("nn_id"),
        col(vecCol).cast("array<double>").as("cv"))
      val qv = queries.select(col(idCol).as("query_id"),
        col(vecCol).cast("array<double>").as("qv"))
      val exact = cvs.join(broadcast(shortlist), Seq("nn_id"))
        .join(broadcast(qv), Seq("query_id"))
        .withColumn("sim", round(graft.functions.cosineSim(col("qv"), col("cv")), 4))
        .select("query_id", "nn_id", "sim")
      Similarity.rankTopK(exact, k)
    }
  }

  // ---- kernel ≡ reference

  /** Rows in (query_id, rnk) order, plus the column types. */
  private def result(df: DataFrame): (Seq[String], Seq[String]) =
    (df.orderBy("query_id", "rnk").collect().map(_.toString).toSeq,
      df.schema.fields.map(f => s"${f.name}:${f.dataType}").toSeq)

  private def same(got: DataFrame, ref: DataFrame): Unit = {
    val (g, r) = (result(got), result(ref))
    assert(g._2 == r._2, "column types differ")
    assert(g._1.nonEmpty)
    assert(g._1 == r._1)
  }

  /** randVecs in a seeded random row order: rows reach each partition's
    * heaps out of id order, so a tied score must be settled by the id
    * tie-break, not by arrival. */
  private def shuffledVecs(n: Int, dim: Int, seed: Long): Seq[(Long, Array[Float])] =
    new scala.util.Random(seed).shuffle(randVecs(n, dim, seed))

  /** A tie-heavy corpus (low-resolution coordinates) with zero vectors
    * and a null id mixed in; with `nullVector`, a null vector too (not for
    * the IVF tiers: their k-means sample rejects null vectors, join form
    * and kernel alike). */
  private def edgeCorpus(n: Int, dim: Int, seed: Long, nullVector: Boolean = false): DataFrame = {
    val base = shuffledVecs(n, dim, seed).map { case (i, v) =>
      (java.lang.Long.valueOf(i), if (i % 50 == 7) Array.fill(dim)(0.0f) else v) }
    (base ++ Seq((null, Array.fill(dim)(1.0f))) ++
      (if (nullVector) Seq((java.lang.Long.valueOf(n + 1L), null)) else Nil))
      .toDF("vec_id", "embedding")
  }

  /** Queries drawn from the corpus, one zero vector and one null id among
    * them, and every query twice (duplicate query ids). */
  private def edgeQueries(corpus: DataFrame): DataFrame = {
    val q = corpus.filter(col("vec_id") < 9 || col("vec_id").isNull)
      .filter(col("embedding").isNotNull)
    q.union(q)
  }

  test("ivfTopK kernel ≡ the join body: ties, zero vectors, nulls, duplicate query ids") {
    val vecs = edgeCorpus(600, 8, seed = 41L)
    val queries = edgeQueries(vecs)
    for (nprobe <- Seq(1, 3)) same(
      Similarity.ivfTopK(vecs, queries, "vec_id", "embedding", k = 10, nlist = 8,
        nprobe = nprobe, trainFraction = 1.0),
      refIvf(vecs, queries, "vec_id", "embedding", k = 10, nlist = 8, nprobe = nprobe,
        trainFraction = 1.0))
  }

  test("lshTopK kernel ≡ the join body: ties, zero vectors, nulls, duplicate query ids") {
    val vecs = edgeCorpus(600, 8, seed = 43L, nullVector = true)
    val queries = edgeQueries(vecs)
    for ((bits, tables, probes) <- Seq((4, 3, 2), (6, 5, 0)))
      same(Similarity.lshTopK(vecs, queries, "vec_id", "embedding", k = 10,
          nBits = bits, tables = tables, probes = probes),
        refLsh(vecs, queries, "vec_id", "embedding", k = 10, nBits = bits,
          tables = tables, probes = probes))
  }

  test("ivfPqTopK kernel ≡ the join body, ADC alone and with rerank (incl. the > 4096 large-k path)") {
    // no zero vectors here: a zero norm is its own test below
    val vecs = shuffledVecs(1200, 8, seed = 47L).toDF("vec_id", "embedding")
    val queries = vecs.filter(col("vec_id") < 6).union(vecs.filter(col("vec_id") < 3))
    for (rerank <- Seq(0, 40, 5000)) same(
      Similarity.ivfPqTopK(vecs, queries, "vec_id", "embedding", k = 10, nlist = 8,
        nprobe = 3, m = 4, ksub = 16, rerank = rerank, trainFraction = 1.0),
      refIvfPq(vecs, queries, "vec_id", "embedding", k = 10, nlist = 8, nprobe = 3,
        m = 4, ksub = 16, rerank = rerank, trainFraction = 1.0))
  }

  test("indexed IVF and IVF-PQ kernels ≡ their lookupJoin bodies, incl. probes into empty cells") {
    val vecs = edgeCorpus(600, 8, seed = 53L)
    val nonZero = shuffledVecs(600, 8, seed = 53L).toDF("vec_id", "embedding")
    val queries = edgeQueries(vecs)
    try {
      val centers = Similarity.buildIvfIndex(vecs, "vec_id", "embedding", "keq_ivf",
        nlist = 8, trainFraction = 1.0)
      same(Similarity.ivfTopKIndexed(spark, "keq_ivf", centers, queries, "vec_id",
          "embedding", k = 10, nprobe = 3),
        refIvfIndexed("keq_ivf", centers, queries, "vec_id", "embedding", k = 10, nprobe = 3))
      // a far-away query whose only probed cell is past the index's cells:
      // it probes an empty cell and gets no neighbors, the others unchanged
      val far = Array.fill(8)(1000.0)
      val lonely = Seq((999L, far.map(_.toFloat))).toDF("vec_id", "embedding")
      val withFar = centers :+ far
      val q2 = queries.union(lonely)
      val got = Similarity.ivfTopKIndexed(spark, "keq_ivf", withFar, q2, "vec_id",
        "embedding", k = 10, nprobe = 1)
      same(got, refIvfIndexed("keq_ivf", withFar, q2, "vec_id", "embedding", k = 10, nprobe = 1))
      assert(got.filter(col("query_id") === 999L).count() == 0)

      val (pc, books) = Similarity.buildIvfPqIndex(nonZero, "vec_id", "embedding", "keq_pq",
        nlist = 8, m = 4, ksub = 16, trainFraction = 1.0)
      val pqQueries = nonZero.filter(col("vec_id") < 6).union(nonZero.filter(col("vec_id") < 3))
      for (rerank <- Seq(0, 40, 5000)) same(
        Similarity.ivfPqTopKIndexed(spark, "keq_pq", pc, books, pqQueries, "vec_id",
          "embedding", k = 10, nprobe = 3, rerank = rerank, rerankFrom = Some(nonZero)),
        refIvfPqIndexed("keq_pq", pc, books, pqQueries, "vec_id", "embedding", k = 10,
          nprobe = 3, rerank = rerank, rerankFrom = Some(nonZero)))
    } finally {
      spark.sql("DROP TABLE IF EXISTS keq_ivf")
      spark.sql("DROP TABLE IF EXISTS keq_pq")
      spark.sql("DROP TABLE IF EXISTS keq_pq_codebooks")
    }
  }

  test("IVF-PQ kernel treats a zero norm as `adc / (qnorm * norm)` does, ANSI on and off") {
    val vecs = shuffledVecs(300, 8, seed = 59L).map { case (i, v) =>
      (i, if (i % 40 == 5) Array.fill(8)(0.0f) else v) }.toDF("vec_id", "embedding")
    // query 5 has a zero norm itself; the others meet zero-norm corpus rows
    val queries = vecs.filter(col("vec_id") < 8)
    def outcome(df: => DataFrame): Either[String, (Seq[String], Seq[String])] =
      try Right(result(df)) catch {
        case e: Exception =>
          val chain = Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null)
          Left(if (chain.exists(t => String.valueOf(t.getMessage).contains("DIVIDE_BY_ZERO")))
            "DIVIDE_BY_ZERO" else e.toString)
      }
    val key = "spark.sql.ansi.enabled"
    val saved = spark.conf.getOption(key)
    // a depth past the heap merge: there a null score stays null, ranks last
    try for (ansi <- Seq("true", "false"); (k, rerank) <- Seq((5, 0), (5000, 0), (5, 5000))) {
      spark.conf.set(key, ansi)
      val got = outcome(Similarity.ivfPqTopK(vecs, queries, "vec_id", "embedding", k = k,
        nlist = 4, nprobe = 4, m = 4, ksub = 16, rerank = rerank, trainFraction = 1.0))
      val ref = outcome(refIvfPq(vecs, queries, "vec_id", "embedding", k = k,
        nlist = 4, nprobe = 4, m = 4, ksub = 16, rerank = rerank, trainFraction = 1.0))
      assert(got == ref, s"ansi=$ansi k=$k rerank=$rerank")
    } finally saved match {
      case Some(v) => spark.conf.set(key, v)
      case None => spark.conf.unset(key)
    }
  }

  test("string ids take the join fallback of an approximate tier, unchanged") {
    val vecs = shuffledVecs(400, 8, seed = 61L)
      .map { case (i, v) => (s"doc-$i", v) }.toDF("vec_id", "embedding")
    val queries = vecs.filter(col("vec_id").isin("doc-0", "doc-1", "doc-2"))
    same(Similarity.ivfTopK(vecs, queries, "vec_id", "embedding", k = 10, nlist = 8,
        nprobe = 2, trainFraction = 1.0),
      refIvf(vecs, queries, "vec_id", "embedding", k = 10, nlist = 8, nprobe = 2,
        trainFraction = 1.0))
  }

  test("bruteForceTopK kernel ≡ crossJoin form on the large-k (> 4096) path") {
    val vecs = shuffledVecs(5000, 4, seed = 67L).toDF("vec_id", "embedding")
    val queries = vecs.filter(col("vec_id") < 2)
    val c = vecs.select(col("vec_id").as("nn_id"),
      col("embedding").cast("array<double>").as("cv"))
    val q = queries.select(col("vec_id").as("query_id"),
      col("embedding").cast("array<double>").as("qv"))
    val ref = Similarity.rankTopK(c.crossJoin(broadcast(q))
      .filter(col("nn_id") =!= col("query_id"))
      .withColumn("sim", round(graft.functions.cosineSim(col("qv"), col("cv")), 4))
      .select("query_id", "nn_id", "sim"), 4500)
    same(Similarity.bruteForceTopK(vecs, queries, "vec_id", "embedding", k = 4500), ref)
  }

  test("TopKAgg insert/merge ≡ sort-then-take over NaN, ±0.0, ties and duplicate ids") {
    import org.scalacheck.{Gen, Prop, Test}
    val sim = Gen.frequency(
      3 -> Gen.oneOf(Double.NaN, 0.0, -0.0, 1.0, -1.0, 0.5),
      7 -> Gen.choose(-1.0, 1.0).map(x => math.rint(x * 20) / 20))
    val entry = for (s <- sim; id <- Gen.choose(0L, 40L)) yield Scored(s, id)
    val stream = Gen.listOf(entry)
    // the ordering the hand-written comparator replaced
    val ref = Ordering.by((s: Scored[Long]) => (-s.sim, s.id))
    def key(xs: Seq[Scored[Long]]) =
      xs.map(s => (java.lang.Double.doubleToRawLongBits(s.sim), s.id))
    val prop = Prop.forAll(Gen.oneOf(1, 10, 200), stream, stream) { (k, xs, ys) =>
      val agg = new TopKAgg[Long](k)
      val a = xs.foldLeft(agg.zero)(agg.reduce)
      val b = ys.foldLeft(agg.zero)(agg.reduce)
      key(a) == key(xs.sorted(ref).take(k)) &&
        key(agg.merge(a, b)) == key((xs ++ ys).sorted(ref).take(k)) &&
        key(agg.merge(agg.zero, b)) == key(b)
    }
    val res = Test.check(Test.Parameters.default.withMinSuccessfulTests(1000)
      .withMaxSize(300).withInitialSeed(20261017L), prop)
    assert(res.passed, res.status.toString)
  }
}
