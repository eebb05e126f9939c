package graft.similarity

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{ByteType, DataType, DoubleType, IntegerType,
  LongType, ShortType, StringType, StructField, StructType}
import graft.functions._

/** Nearest-neighbor search over an embedding column: exact
  * ([[bruteForceTopK]]) and three approximate tiers that prune candidates
  * through an index — IVF ([[ivfTopK]], [[ivfTopKIndexed]]), multi-table
  * LSH ([[lshTopK]]) and IVF-PQ ([[ivfPqTopK]], [[ivfPqTopKIndexed]]).
  *
  * Every tier scores through ONE partition kernel ([[partitionTopK]]):
  * the query set is collected to the driver; one pass over the corpus
  * scan reads each row once and scores it only against the query rows a
  * driver-built routing table ([[Routes]]) lists for it, into bounded
  * per-query heaps; the partitions' heaps meet in one k-sized merge per
  * query ([[rankTopK]]). Partition-local pruning, then a global top-k
  * merge. A tier is its routing:
  *  - exact: every row to every query;
  *  - IVF: the row's cell to the queries whose `nprobe` nearest
  *    centroids include it;
  *  - LSH: each table's bucket to the queries probing it (multi-probe
  *    bit-flips included), a query scored once per row;
  *  - IVF-PQ: ADC over the probed cells' code rows into heaps `rerank`
  *    deep, then the collected shortlist routes each corpus id to the
  *    queries that listed it, for the exact re-score.
  * Where the kernel cannot run — non-integral ids or more than
  * [[MaxKernelQueries]] queries — a tier takes its join form, with the
  * same routing and the same results.
  *
  * Vectors are cast float→double before arithmetic so scores are
  * reproducible across engines (and against the DuckDB oracle).
  */
object Similarity {

  /** Corpus-derived LSH granularity `(nBits, tables)` — the codified form
    * of the round-5 scale lesson (constants tuned for 2M vectors collapsed
    * at other sizes; index granularity must track the corpus).
    *
    * Per-table bucket population is `n / 2^nBits`; a query's candidate set
    * is `tables × n / 2^nBits`. Holding the bucket population near
    * `targetBucket` keeps per-query work bounded as the corpus grows:
    * `nBits = ceil(log2(n / targetBucket))`. Narrower buckets lower the
    * per-table collision probability for true neighbors (p^nBits), so
    * `tables` grows one-for-one with the extra bits to hold recall
    * (miss ≈ (1-p^nBits)^tables). At 2M vectors this derives exactly the
    * hand-tuned round-5 values (nBits=10, tables=12, recall@10 0.974);
    * the spec pins that anchor.
    */
  def lshParamsFor(corpusSize: Long, targetBucket: Long = 2000L): (Int, Int) = {
    require(corpusSize > 0 && targetBucket > 0)
    val raw = math.ceil(math.log(corpusSize.toDouble / targetBucket) / math.log(2.0)).toInt
    val nBits = math.min(20, math.max(4, raw))
    val tables = math.min(24, math.max(8, 8 + (nBits - 6)))
    (nBits, tables)
  }

  /** Multi-probe depth for the derived LSH index. Single-bucket probing
    * loses recall slowly as `nBits` grows past the 2M anchor (measured
    * recall@10: 0.974 at 2M/10 bits → 0.961 at 20M/14 bits, r6) because
    * longer signatures flip ≥1 bit for a true neighbor more often.
    * Probing 4 Hamming-1 neighbor buckets per table recovers the one-bit
    * misses for a bounded 5× candidate fanout on the QUERY side only
    * (the corpus index shuffle is untouched — see [[lshTopK]]). At and
    * below 12 bits the r5-tuned anchor behavior stays pinned (probes=0);
    * the spec pins both regimes. */
  def lshProbesFor(corpusSize: Long): Int = {
    val (nBits, _) = lshParamsFor(corpusSize)
    if (nBits <= 12) 0 else 4
  }

  /** Corpus-derived IVF granularity `(nlist, nprobe)`: the standard
    * `nlist ≈ sqrt(n)` rule (divided by 4 and rounded to a power of two so
    * the codebook stays small and bucket counts stay file-system friendly),
    * with `nprobe = nlist/16` clamped to [8, 32]. Cell population and
    * per-query candidates both grow ~sqrt(n) — the sub-linear scale path —
    * while probing enough cells to cover a cluster that the finer
    * quantizer has split. Derives the round-5 anchor (nlist=256,
    * nprobe=16) at 2M vectors; pinned in the spec. */
  def ivfParamsFor(corpusSize: Long): (Int, Int) = {
    require(corpusSize > 0)
    val target = math.sqrt(corpusSize.toDouble) / 4.0
    val log2 = math.round(math.log(math.max(1.0, target)) / math.log(2.0)).toInt
    val nlist = math.min(4096, math.max(16, 1 << math.max(0, log2)))
    val nprobe = math.min(32, math.max(8, nlist / 16))
    (nlist, nprobe)
  }

  /** Corpus-derived PQ rerank depth. ADC ranks candidates by a lossy
    * 8-byte code, so when the true neighbors sit in a near-tie band with
    * their cluster-mates (this corpus: cosine margins ~0.01, smaller than
    * the quantization noise) the shortlist must cover a FRACTION of the
    * probed candidates, not a constant count — measured at 200k vectors:
    * rerank=50 → recall@10 0.15, rerank=candidates/32 (≈400) → 0.996.
    * The fraction itself must grow with CELL DENSITY: nlist grows only
    * as √n, so cells at 20M vectors hold ~13× the near-ties of the 200k
    * tuning corpus and the same 1/32 fraction measured recall 0.592
    * there — the density term restores the tuned band coverage
    * (re-measured at 20M via tools/AnnTune). Exact re-scoring stays
    * linear in the shortlist and bounded far below brute force by the
    * cap. */
  def pqRerankFor(corpusSize: Long, nlist: Int, nprobe: Int, k: Int): Int = {
    val candidates = nprobe.toLong * corpusSize / math.max(nlist, 1)
    val cellPop = corpusSize / math.max(nlist, 1)
    val densityBoost = math.max(1.0, cellPop / 2000.0)
    math.min(candidates,
      math.min(250000L, math.max(20L * k,
        (candidates / 32 * densityBoost).toLong))).toInt
  }

  /** Sample fraction for the k-means fits: 10% of small corpora, capped
    * at ~200k absolute samples — cell boundaries stabilize far below
    * that, and an uncapped fraction makes the (only) multi-pass stage
    * scale linearly with the corpus. */
  def kmeansFractionFor(corpusSize: Long): Double =
    math.min(0.1, 200000.0 / math.max(corpusSize, 1L))

  /** Deterministic ±1 Johnson–Lindenstrauss sign matrix (outDim × inDim),
    * derived from md5 of "seed_i_j" (first hex digit < '8' → +1) so an
    * independent engine reproduces every entry closed-form. Computed once
    * driver-side — it rides the plan as a literal, never a shuffle. */
  def jlSigns(seed: Long, inDim: Int, outDim: Int): Array[Array[Double]] = {
    val md = java.security.MessageDigest.getInstance("MD5")
    Array.tabulate(outDim) { j =>
      Array.tabulate(inDim) { i =>
        val h = md.digest(s"${seed}_${i}_$j".getBytes("UTF-8"))
        if (((h(0) >> 4) & 0xf) < 8) 1.0 else -1.0
      }
    }
  }

  /** Random-projection (Achlioptas ±1 JL) dimensionality reduction:
    * `proj[j] = Σ_i v[i]·sign(i,j) / sqrt(outDim)`. Distances and inner
    * products are preserved in expectation (distortion ~ 1/√outDim), so
    * it runs AHEAD of the ANN index at 100 TB: a 1024-dim corpus projected
    * to 64 dims cuts every downstream signature/cell/ADC cost 16× while
    * the exact rerank still scores raw vectors. Pure scan-stage
    * (zip_with + aggregate over a literal matrix), zero shuffles,
    * codegen-resident. */
  def randomProject(df: DataFrame, vecCol: String, outDim: Int,
      seed: Long = 42L, outCol: String = "proj"): DataFrame = {
    val inDim = df.select(size(col(vecCol))).head().getInt(0)
    val signs = jlSigns(seed, inDim, outDim)
    val scale = 1.0 / math.sqrt(outDim.toDouble)
    val v = col(vecCol).cast("array<double>")
    df.withColumn(outCol, array((0 until outDim).map { j =>
      aggregate(zip_with(v, lit(signs(j)), (a, b) => a * b),
        lit(0.0), (acc, x) => acc + x) * scale
    }: _*))
  }

  /** Symmetric int8 scalar quantization of an embedding column: per-vector
    * scale = max|x|/127, codes = round(x·127/max|x|) — 4× smaller than
    * float32 at ~1e-4 cosine error on unit-ish vectors. At 100 TB this is
    * the storage tier the ANN index actually reads (a 20 TB float corpus
    * becomes 5 TB of codes + one float per vector); exact rerank reads the
    * raw column for the shortlist only. Pure scan-stage `transform`
    * arithmetic, zero shuffles, codegen-resident. Zero vectors quantize to
    * all-zero codes with scale 0. */
  def quantizeInt8(df: DataFrame, vecCol: String, qCol: String = "qvec",
      scaleCol: String = "qscale"): DataFrame = {
    val v = col(vecCol).cast("array<double>")
    val maxAbs = array_max(transform(v, x => abs(x)))
    df.withColumn(scaleCol, maxAbs / 127.0)
      .withColumn(qCol,
        when(col(scaleCol) === 0.0,
          transform(v, _ => lit(0).cast("tinyint")))
        .otherwise(
          transform(v, x => round(x * 127.0 / maxAbs).cast("tinyint"))))
  }

  /** Inverse of [[quantizeInt8]]: codes × scale, as array<double>. */
  def dequantizeInt8(qCol: String, scaleCol: String): Column =
    transform(col(qCol), x => x.cast("double") * col(scaleCol))

  /** Final ranking stage shared by all tiers: per-partition bounded-heap
    * partial top-k (TopKAgg) then a k-sized merge per query — no stage ever
    * materializes a query's full candidate set on one task. Expects columns
    * (query_id, nn_id, sim); emits (query_id, rnk, nn_id, sim) with nn_id
    * restored to its original type. */
  private[graft] def rankTopK(scored: DataFrame, k: Int): DataFrame = {
    // Two regimes by k. Small k (true top-k): bounded-heap partial
    // aggregation — shuffle traffic is groups × partitions × k, never the
    // candidate stream. Large k (PQ rerank shortlists, k in the 10^5
    // band): the heap inverts — its partials OUTGROW the raw stream and
    // each insert copies a k-sized buffer (measured: the ~190k-deep
    // shortlist at 20M vectors spent ~10 min here). One hash shuffle on
    // query_id + a Tungsten sort per query is strictly cheaper there.
    // Same ranking contract both paths: sim desc, nn_id asc on ties.
    if (k > 4096) {
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy("query_id").orderBy(col("sim").desc, col("nn_id").asc)
      return scored.withColumn("rnk", row_number().over(w).cast("int"))
        .filter(col("rnk") <= k)
        .select(col("query_id"), col("rnk"), col("nn_id"), col("sim"))
    }
    val idType = scored.schema("nn_id").dataType
    // the heap carries ids as Long (integral) or String (uuid/string);
    // any other id type would cast lossily and null every candidate, so
    // reject it up front
    val (topk, heapType) = idType match {
      case ByteType | ShortType | IntegerType | LongType =>
        (udaf(new TopKAgg[Long](k)), "long")
      case StringType => (udaf(new TopKAgg[String](k)), "string")
      case t => throw new IllegalArgumentException(
        s"similarity top-k requires an integral or string id column; got $t " +
          "for nn_id — map other id types to a long or string surrogate key")
    }
    scored
      .select(col("query_id"), col("sim"), col("nn_id").cast(heapType).as("id"))
      .groupBy("query_id")
      .agg(topk(col("sim"), col("id")).as("top"))
      .select(col("query_id"), posexplode(col("top")))
      .select(col("query_id"), (col("pos") + 1).cast("int").as("rnk"),
        col("col.id").cast(idType).as("nn_id"), col("col.sim").as("sim"))
  }

  /** Query-count bound for the partition kernel: the query matrix is
    * driver-collected (the join forms' broadcast collects it too),
    * 64k × 64-dim doubles ≈ 32 MB. */
  private[similarity] val MaxKernelQueries = 65536

  /** Spark's `round(double, scale)` semantics exactly (RoundBase, HALF_UP):
    * NaN/Infinity pass through, else BigDecimal.valueOf → setScale →
    * doubleValue. */
  private[graft] def roundHalfUp(x: Double, scale: Int): Double =
    if (java.lang.Double.isNaN(x) || java.lang.Double.isInfinite(x)) x
    else java.math.BigDecimal.valueOf(x)
      .setScale(scale, java.math.RoundingMode.HALF_UP).doubleValue()

  private def idTypeOf(df: DataFrame, idCol: String): DataType =
    df.select(col(idCol)).schema.head.dataType

  /** The kernel's query side, on the driver: ids and vectors of the query
    * rows with neither null. None — the tier takes its join form — for a
    * non-integral id type or more than [[MaxKernelQueries]] queries. */
  private def kernelQueries(queries: DataFrame, idCol: String, vecCol: String,
      idTypes: DataType*): Option[(Array[Long], Array[Array[Double]])] = {
    if (!idTypes.forall(Seq(ByteType, ShortType, IntegerType, LongType).contains)) return None
    val rows = queries.select(col(idCol).cast("long"), col(vecCol).cast("array<double>"))
      .limit(MaxKernelQueries + 1).collect()
    if (rows.length > MaxKernelQueries) None
    else Some(rows.filter(r => !r.isNullAt(0) && !r.isNullAt(1)))
      .map(ok => (ok.map(_.getLong(0)), ok.map(_.getSeq[Double](1).toArray)))
  }

  /** sqrt of the full-length squared norm, summed in ascending index order
    * as CosineSim (and the PQ `qnorm` aggregate) sum it. */
  private def sqrtNorm(v: Array[Double]): Double = {
    var s = 0.0; var i = 0
    while (i < v.length) { s += v(i) * v(i); i += 1 }
    math.sqrt(s)
  }

  /** CosineSim's arithmetic, operation for operation, with both norms
    * precomputed: ascending dot over the shorter length, denominator
    * sqrt(|q|²)·sqrt(|v|²), 0.0 when it is zero. */
  private def cosine(qv: Array[Double], qNorm: Double, v: Array[Double], vNorm: Double): Double = {
    val lim = math.min(qv.length, v.length)
    var dot = 0.0; var i = 0
    while (i < lim) { dot += qv(i) * v(i); i += 1 }
    val denom = qNorm * vNorm
    if (denom == 0.0) 0.0 else dot / denom
  }

  private val PartialSchema = StructType(Seq(StructField("query_id", LongType),
    StructField("nn_id", LongType), StructField("sim", DoubleType)))

  /** The partition kernel behind every tier. `rows` carries the corpus id
    * as a long in column 0; `score` offers each row's routed candidates to
    * the partition's heaps. The kept entries (≤ partitions × queries × k
    * rows) merge per query through [[rankTopK]]: any global top-k entry is
    * in its partition's top-k, and rounded ties are kept or dropped by the
    * same (sim desc, id asc) order, so the merge sees exactly the rows
    * that decide the join form's result. Emits (query_id, rnk, nn_id, sim),
    * the ids cast to `qType`/`idType`. */
  private def partitionTopK(rows: DataFrame, qIds: Array[Long], k: Int, roundTo: Int,
      qType: DataType, idType: DataType)(score: (InternalRow, TopKHeaps) => Unit): DataFrame = {
    val nq = qIds.length
    val partials = rows.queryExecution.toRdd.mapPartitions { it =>
      val heaps = new TopKHeaps(nq, k, roundTo)
      it.foreach(row => if (!row.isNullAt(0)) { heaps.nextRow(); score(row, heaps) })
      heaps.rows(qIds)
    }
    rankTopK(rows.sparkSession.createDataFrame(partials, PartialSchema), k)
      .select(col("query_id").cast(qType).as("query_id"), col("rnk"),
        col("nn_id").cast(idType).as("nn_id"), col("sim"))
  }

  /** The kernel scoring by cosine, over (long id, array<double> vector,
    * array<long> keys) rows: a row is scored against the query rows
    * `routes(t)` lists for its t-th key, its vector decoded only once it
    * has a candidate. With `slots`, query rows sharing a slot (duplicate
    * ids) rank in one heap and a row is scored once per slot. */
  private def cosineTopK(rows: DataFrame, routes: Array[Routes], slots: Option[Array[Int]],
      qIds: Array[Long], qVecs: Array[Array[Double]], k: Int, roundTo: Int,
      qType: DataType, idType: DataType): DataFrame = {
    val qNorms = qVecs.map(sqrtNorm)
    val slot = slots.orNull
    partitionTopK(rows, qIds, k, roundTo, qType, idType) { (row, heaps) =>
      if (!row.isNullAt(1) && !row.isNullAt(2)) {
        val id = row.getLong(0)
        val keys = row.getArray(2)
        var v: Array[Double] = null
        var vNorm = 0.0
        var t = 0
        while (t < routes.length) {
          val r = routes(t)
          val p = r.find(keys.getLong(t))
          if (p >= 0) {
            var i = r.starts(p)
            while (i < r.starts(p + 1)) {
              val qi = r.queries(i)
              val h = if (slot == null) qi else slot(qi)
              if (qIds(qi) != id && (slot == null || heaps.firstInRow(h))) {
                if (v == null) { v = row.getArray(1).toDoubleArray(); vNorm = sqrtNorm(v) }
                heaps.offer(h, id, cosine(qVecs(qi), qNorms(qi), v, vNorm))
              }
              i += 1
            }
          }
          t += 1
        }
      }
    }
  }

  /** The join form of a tier, where the kernel cannot run: `pairs` holds
    * each (query row, routed corpus row) pair, scored by `sim`; `dedupe`
    * keeps one row per (query_id, nn_id). */
  private def joinTopK(pairs: DataFrame, sim: Column, k: Int, dedupe: Boolean = false): DataFrame = {
    val scored = pairs.filter(col("nn_id") =!= col("query_id"))
      .withColumn("sim", sim).select("query_id", "nn_id", "sim")
    rankTopK(if (dedupe) scored.dropDuplicates("query_id", "nn_id") else scored, k)
  }

  /** The query side of the join forms: (query_id, qv). */
  private def queryRows(queries: DataFrame, idCol: String, vecCol: String): DataFrame =
    queries.select(col(idCol).as("query_id"), col(vecCol).cast("array<double>").as("qv"))

  private def cosineScore(roundTo: Int): Column = round(cosineSim(col("qv"), col("cv")), roundTo)

  /** Exact top-k neighbors for each query vector (cosine). Excludes
    * self-matches on id equality. Scores rounded to `roundTo` decimals
    * before ranking so ordering is reproducible; ties broken by corpus id.
    *
    * Execution: the partition kernel with every query routed to every row
    * — one pass over the corpus scan, each vector decoded ONCE and scored
    * against the driver-held query matrix in a primitive loop. The
    * crossJoin form (one joined row per (query, corpus) pair: ~1B
    * UnsafeRow copies at 20M × 48) remains as the join form. */
  def bruteForceTopK(corpus: DataFrame, queries: DataFrame,
      idCol: String, vecCol: String, k: Int, roundTo: Int = 4): DataFrame = {
    val idType = idTypeOf(corpus, idCol)
    val qType = idTypeOf(queries, idCol)
    kernelQueries(queries, idCol, vecCol, idType, qType) match {
      case Some((qIds, qVecs)) =>
        cosineTopK(corpus.select(col(idCol).cast("long"), col(vecCol).cast("array<double>"),
            array(lit(0L))), Array(Routes(Array.fill(qIds.length)(0L), qIds.indices.toArray)),
          None, qIds, qVecs, k, roundTo, qType, idType)
      case None =>
        val c = corpus.select(col(idCol).as("nn_id"), col(vecCol).cast("array<double>").as("cv"))
        joinTopK(c.crossJoin(broadcast(queryRows(queries, idCol, vecCol))), cosineScore(roundTo), k)
    }
  }

  /** Bounded k-means training set: a deterministic `fraction` sample of
    * the corpus (the fit is the only multi-pass stage of IVF — sampling it
    * cuts index-build time ~1/fraction with unchanged assignment cost and
    * near-identical cell boundaries). Falls back to the full corpus when
    * the sample would be too thin to seed `nlist` clusters. */
  private def kmeansTrainSet(c: DataFrame, nlist: Int, seed: Long,
      fraction: Double): DataFrame = {
    import org.apache.spark.ml.functions.array_to_vector
    val full = c.select(array_to_vector(col("cv")).as("features"))
    if (fraction >= 1.0) return full
    val sampled = full.sample(withReplacement = false, fraction, seed)
    // one cheap count on the sample vs maxIter full passes saved
    if (sampled.count() >= nlist.toLong * 10) sampled else full
  }

  /** Row cap for the driver-local k-means path: 500k × 64-dim doubles is
    * ~256 MB of sample on the driver — the same bounded-collect envelope
    * as the BPE local trainer (dict ≤ 2M rows). `kmeansFractionFor` caps
    * samples at ~200k rows, so every corpus-derived fit stays local; an
    * explicit trainFraction that collects more falls back to Spark ML. */
  private[graft] val MaxLocalKMeansRows = 500000

  /** Collect the deterministic training sample for a driver-local fit, or
    * None when it exceeds [[MaxLocalKMeansRows]] (→ Spark ML fallback).
    * Mirrors [[kmeansTrainSet]]'s thin-sample rule: a sample below
    * `minRows` falls back to the full corpus (tiny gate tables), which in
    * turn must itself fit the cap. Expects a single array<double> column.
    *
    * Determinism is CONTENT-addressed, not partition-addressed (r7 advice:
    * the fitted codebooks must not drift with repartitioning across
    * sessions, or appended-index codes diverge from their codebooks):
    * membership comes from a murmur3 hash of the vector value (a
    * per-partition Bernoulli `sample()` moves with the partitioning), and
    * the collected order is pinned by a global sort-limit
    * (TakeOrderedAndProject) instead of first-arrival `limit()`. */
  private[graft] def collectSample(cv: DataFrame, minRows: Long, seed: Long,
      fraction: Double): Option[Array[Array[Double]]] = {
    val c0 = col(cv.columns.head)
    def grab(df: DataFrame): Option[Array[Array[Double]]] = {
      val rows = df.sort(c0).limit(MaxLocalKMeansRows + 1).collect()
      if (rows.length > MaxLocalKMeansRows) None
      else Some(rows.map(_.getSeq[Double](0).toArray))
    }
    val sampled = if (fraction >= 1.0) cv
      else cv.filter(pmod(hash(c0, lit(seed)), lit(1000000)) < lit(
        math.max(1L, math.round(fraction * 1000000))))
    grab(sampled) match {
      case Some(s) if s.length < minRows && fraction < 1.0 => grab(cv)
      case other => other
    }
  }

  /** Driver-local parallel Lloyd over a bounded collected sample —
    * k-means++ seeding (deterministic under `seed`), `maxIter` update
    * rounds, assignment chunks fanned across driver cores with per-chunk
    * partial sums merged in chunk order (deterministic floating point).
    * Replaces Spark ML fits for the IVF/PQ codebooks: the fit input is
    * already a bounded sample (see [[kmeansFractionFor]]), so a local fit
    * does the identical math without per-iteration Spark jobs — and,
    * decisively at 20M vectors, without ONE FULL CORPUS SCAN PER FIT to
    * re-materialize the sample (IVF-PQ fits 9 codebooks = 9 scans on the
    * Spark ML path, 1 on this one). Same structure as the BPE trainer's
    * local/distributed split. Empty clusters keep their previous center. */
  private[graft] def localKMeans(points: Array[Array[Double]], k: Int,
      maxIter: Int, seed: Long): Array[Array[Double]] = {
    val n = points.length
    require(n > 0, "localKMeans needs a non-empty sample")
    val dim = points(0).length
    val kk = math.max(1, math.min(k, n))
    val flat = new Array[Double](kk * dim)
    // fixed chunk count (NOT availableProcessors): per-chunk partials merge
    // in chunk order, so the chunk GEOMETRY is part of the floating-point
    // result — a core-count-derived value made the fit machine-dependent
    val nChunks = math.max(1, math.min(16, n / 4096))
    def chunked(body: (Int, Int) => Unit): Unit =
      if (nChunks <= 1) body(0, n)
      else java.util.stream.IntStream.range(0, nChunks).parallel().forEach { ch =>
        body((ch.toLong * n / nChunks).toInt, ((ch + 1).toLong * n / nChunks).toInt)
      }
    // k-means++ seeding: D² to the nearest chosen center, next center
    // drawn ∝ D² (the rnd stream is consumed sequentially → deterministic)
    val rnd = new java.util.Random(seed)
    System.arraycopy(points(rnd.nextInt(n)), 0, flat, 0, dim)
    val d2 = Array.fill(n)(Double.MaxValue)
    var ci = 1
    while (ci < kk) {
      val lastOff = (ci - 1) * dim
      chunked { (lo, hi) =>
        var i = lo
        while (i < hi) {
          val p = points(i); var s = 0.0; var j = 0
          while (j < dim && s < d2(i)) { val t = p(j) - flat(lastOff + j); s += t * t; j += 1 }
          if (s < d2(i)) d2(i) = s
          i += 1
        }
      }
      var total = 0.0; var ti = 0
      while (ti < n) { total += d2(ti); ti += 1 }
      val pick =
        if (total <= 0) rnd.nextInt(n)
        else {
          val r = rnd.nextDouble() * total
          var acc = 0.0; var p2 = 0
          while (p2 < n - 1 && { acc += d2(p2); acc < r }) p2 += 1
          p2
        }
      System.arraycopy(points(pick), 0, flat, ci * dim, dim)
      ci += 1
    }
    // Lloyd rounds: nearest center (partial-distance exit), per-chunk sums
    val partSums = Array.ofDim[Double](nChunks, kk * dim)
    val partCnt = Array.ofDim[Long](nChunks, kk)
    var iter = 0
    while (iter < maxIter) {
      var z = 0
      while (z < nChunks) {
        java.util.Arrays.fill(partSums(z), 0.0)
        java.util.Arrays.fill(partCnt(z), 0L)
        z += 1
      }
      if (nChunks <= 1) lloydChunk(points, flat, kk, dim, 0, n, partSums(0), partCnt(0))
      else java.util.stream.IntStream.range(0, nChunks).parallel().forEach { ch =>
        lloydChunk(points, flat, kk, dim,
          (ch.toLong * n / nChunks).toInt, ((ch + 1).toLong * n / nChunks).toInt,
          partSums(ch), partCnt(ch))
      }
      val sums = new Array[Double](kk * dim)
      val cnt = new Array[Long](kk)
      z = 0
      while (z < nChunks) {
        val ps = partSums(z); val pc = partCnt(z)
        var a = 0
        while (a < kk * dim) { sums(a) += ps(a); a += 1 }
        a = 0
        while (a < kk) { cnt(a) += pc(a); a += 1 }
        z += 1
      }
      var c = 0
      while (c < kk) {
        if (cnt(c) > 0) {
          var j = 0
          while (j < dim) { flat(c * dim + j) = sums(c * dim + j) / cnt(c); j += 1 }
        }
        c += 1
      }
      iter += 1
    }
    Array.tabulate(kk)(c => java.util.Arrays.copyOfRange(flat, c * dim, (c + 1) * dim))
  }

  private def lloydChunk(points: Array[Array[Double]], flat: Array[Double],
      kk: Int, dim: Int, lo: Int, hi: Int,
      sums: Array[Double], cnt: Array[Long]): Unit = {
    var i = lo
    while (i < hi) {
      val p = points(i)
      var best = 0; var bd = Double.MaxValue; var c = 0
      while (c < kk) {
        var off = c * dim; var s = 0.0; var j = 0
        while (j < dim && s < bd) { val t = flat(off) - p(j); s += t * t; j += 1; off += 1 }
        if (s < bd) { bd = s; best = c }
        c += 1
      }
      val bo = best * dim; var j2 = 0
      while (j2 < dim) { sums(bo + j2) += p(j2); j2 += 1 }
      cnt(best) += 1
      i += 1
    }
  }

  /** Fit a `k`-centroid codebook over the bounded training sample —
    * driver-local Lloyd when the sample fits [[MaxLocalKMeansRows]] (the
    * corpus-derived path always does), Spark ML k-means otherwise.
    * Expects `c` to carry the vector as array<double> column `cv`. */
  private[graft] def fitCenters(c: DataFrame, k: Int, seed: Long,
      maxIter: Int, fraction: Double): Array[Array[Double]] =
    collectSample(c.select(col("cv")), k.toLong * 10, seed, fraction) match {
      case Some(pts) => localKMeans(pts, k, maxIter, seed)
      case None =>
        import org.apache.spark.ml.clustering.KMeans
        new KMeans().setK(k).setSeed(seed).setMaxIter(maxIter)
          .fit(kmeansTrainSet(c, k, seed, fraction))
          .clusterCenters.map(_.toArray)
    }

  /** Nearest-centroid assignment over a driver-held codebook — the native
    * codegen'd graft.plans.NearestCentroid kernel (flat centers +
    * partial-distance early exit, identical loop/tie semantics). The UDF
    * form boxed every vector into a Seq[Double] per corpus row, which
    * dominated the 20M-row assignment scans. */
  private[graft] def nearestCell(centers: Array[Array[Double]]): Column => Column =
    (c: Column) => nearestCentroid(c, centers)

  /** (nn_id, cv) rows → (nn_id, cv, cell). */
  private def assignCells(c: DataFrame, centers: Array[Array[Double]]): DataFrame =
    c.withColumn("cell", nearestCell(centers)(col("cv"))).select("nn_id", "cv", "cell")

  /** Write `rows` cell-bucketed: one bucket (= one file, via the cell
    * repartition) per cell. Bucketed by `nCells` = centers.length, NOT the
    * requested nlist: the fit can return fewer centers than asked, and
    * every later append buckets by centers.length — a mismatch would fail
    * each append on the bucket spec. */
  private def writeCells(rows: DataFrame, nCells: Int, table: String, mode: String): Unit =
    rows.repartition(col("cell")).write.mode(mode)
      .bucketBy(nCells, "cell").sortBy("cell").format("parquet").saveAsTable(table)

  /** A query's `nprobe` nearest cells by squared L2 to the centroids,
    * nearest first, ties to the lower cell (a stable sort): on the driver
    * for the kernel's routing, through a UDF in the join forms. */
  private def probeCells(centers: Array[Array[Double]], v: Array[Double], nprobe: Int): Array[Int] =
    centers.zipWithIndex.map { case (ctr, i) =>
      var s = 0.0; var j = 0
      while (j < ctr.length) { val d = ctr(j) - v(j); s += d * d; j += 1 }
      (s, i)
    }.sortBy(_._1).take(nprobe).map(_._2)

  private def probeCellsUdf(centers: Array[Array[Double]], nprobe: Int) =
    udf((v: Seq[Double]) => probeCells(centers, v.toArray, nprobe))

  /** IVF routing: each probed cell → the query rows that probe it. */
  private def cellRoutes(probes: Array[Array[Int]]): Routes =
    Routes(probes.flatMap(_.map(_.toLong)),
      probes.indices.toArray.flatMap(qi => Array.fill(probes(qi).length)(qi)))

  /** IVF search shared by the in-job and indexed tiers. `cellRows` gives
    * the (nn_id, cv, cell) rows of the probed cells, for the kernel;
    * `pairsOf` joins them to the query side exploded by `qcell`, for the
    * join form. */
  private def ivfSearch(queries: DataFrame, idCol: String, vecCol: String,
      centers: Array[Array[Double]], nprobe: Int, k: Int, idType: DataType,
      cellRows: Seq[Int] => DataFrame, pairsOf: DataFrame => DataFrame): DataFrame = {
    val qType = idTypeOf(queries, idCol)
    kernelQueries(queries, idCol, vecCol, idType, qType) match {
      case Some((qIds, qVecs)) =>
        val probes = qVecs.map(probeCells(centers, _, nprobe))
        cosineTopK(cellRows(probes.flatten.distinct.toSeq).select(col("nn_id").cast("long"),
            col("cv"), array(col("cell").cast("long"))),
          Array(cellRoutes(probes)), None, qIds, qVecs, k, 4, qType, idType)
      case None =>
        joinTopK(pairsOf(queryRows(queries, idCol, vecCol)
          .withColumn("qcell", explode(probeCellsUdf(centers, nprobe)(col("qv"))))),
          cosineScore(4), k)
    }
  }

  /** IVF (inverted-file) ANN: k-means coarse quantization. A small
    * centroid codebook is learned from the corpus (driver-held, a few KB);
    * each corpus vector is assigned to its nearest cell (one distributed
    * pass); a query probes its `nprobe` nearest cells and scores only
    * those candidates — the kernel routes each row's cell to the queries
    * that probe it, and a row in an unprobed cell costs its assignment
    * only. The standard sub-linear scale path when LSH's data-independent
    * buckets underperform on clustered data. With nprobe = nlist this is
    * exactly brute force (recall 1), which is the contract the spec pins.
    *
    * At 100 TB: training samples the corpus (a 10% deterministic sample —
    * k-means cell boundaries stabilize long before full-corpus coverage,
    * and the fit is the only multi-pass stage); assignment is a scan-stage
    * map; the cell-bucketed layout ([[buildIvfIndex]]) lets a query read
    * only its probed buckets. */
  def ivfTopK(corpus: DataFrame, queries: DataFrame,
      idCol: String, vecCol: String, k: Int, nlist: Int = 16,
      nprobe: Int = 4, seed: Long = 42L, maxIter: Int = 5,
      trainFraction: Double = 0.1): DataFrame = {
    val c = corpus.select(col(idCol).as("nn_id"), col(vecCol).cast("array<double>").as("cv"))
    val centers = fitCenters(c, nlist, seed, maxIter, trainFraction)
    val assigned = assignCells(c, centers)
    ivfSearch(queries, idCol, vecCol, centers, nprobe, k, idTypeOf(corpus, idCol),
      _ => assigned, q => assigned.join(broadcast(q), col("cell") === col("qcell")))
  }

  /** Persist an IVF index as a CELL-BUCKETED table ([[writeCells]]), so a
    * query's `nprobe` cells resolve to `nprobe` bucket files. Returns the
    * centroid codebook (driver-held, a few KB — ship it with the table).
    * This is the "bucketed-by-cell persistence" serving layout: at 100 TB
    * the scan cost per query is nprobe/nlist of the corpus, independent
    * of executor count. */
  def buildIvfIndex(corpus: DataFrame, idCol: String, vecCol: String,
      table: String, nlist: Int = 16, seed: Long = 42L,
      maxIter: Int = 5, trainFraction: Double = 0.1): Array[Array[Double]] = {
    val c = corpus.select(col(idCol).as("nn_id"), col(vecCol).cast("array<double>").as("cv"))
    val centers = fitCenters(c, nlist, seed, maxIter, trainFraction)
    writeCells(assignCells(c, centers), centers.length, table, "overwrite")
    centers
  }

  /** Fold NEW vectors into a persisted IVF index without refitting — the
    * nightly-ingest maintenance step, mirroring Dedup.appendToBandIndex:
    * assign each new vector to its nearest existing centroid (broadcast
    * codebook, one scan-stage pass) and APPEND to the cell-bucketed table
    * with the same bucket spec. No read of the existing index, no shuffle
    * of history — the append costs only the increment. Centroids drift as
    * the corpus grows; production refits the codebook when cell-population
    * skew crosses a threshold (the codebook is a few KB — refit is cheap,
    * the re-bucketing rewrite is the real cost being deferred).
    * IvfIndexSpec pins the law: full-probe queries on (build A, append B)
    * equal brute force over A ∪ B. */
  def appendToIvfIndex(table: String, centers: Array[Array[Double]],
      newVecs: DataFrame, idCol: String, vecCol: String): Unit =
    writeCells(assignCells(newVecs.select(col(idCol).as("nn_id"),
      col(vecCol).cast("array<double>").as("cv")), centers), centers.length, table, "append")

  /** Cell-population skew of a persisted IVF index (max/mean cell
    * population) — ONE narrow aggregation over the index's cell column.
    * This is the number maintenance thresholds on: appends keep the
    * original codebook (the cheap path), so a drifting corpus
    * concentrates into few cells and per-query probe cost rises with the
    * skew. */
  def ivfCellSkew(spark: org.apache.spark.sql.SparkSession, table: String): Double = {
    val r = spark.table(table).groupBy("cell").count()
      .agg(max(col("count")).cast("double"), avg(col("count")))
      .head()
    if (r.isNullAt(1) || r.getDouble(1) == 0.0) 0.0
    else r.getDouble(0) / r.getDouble(1)
  }

  /** Rebalance a persisted IVF index whose appended increments drifted
    * the cell populations — the deferred heavy half of the maintenance
    * loop `appendToIvfIndex` documents: refit the codebook from the
    * index's OWN vectors (bounded deterministic sample → driver-local
    * Lloyd, the same fit path as the build), reassign every vector in one
    * scan stage, and rewrite the cell-bucketed layout into a fresh table
    * swapped in under the old name. The table being rebuilt is also the
    * lazy scan source, so an in-place overwrite would be data loss (the
    * Layout.compact rule); the swap is the only non-atomic step. Returns
    * the NEW codebook — queries keep answering on the old one until
    * handed the return value. */
  def rebalanceIvfIndex(spark: org.apache.spark.sql.SparkSession,
      table: String, nlist: Int = 16, seed: Long = 42L, maxIter: Int = 5,
      trainFraction: Double = 0.1): Array[Array[Double]] = {
    val c = spark.table(table).select(col("nn_id"), col("cv"))
    val centers = fitCenters(c, nlist, seed, maxIter, trainFraction)
    val tmp = table + "_rebalanced_tmp"
    spark.sql(s"DROP TABLE IF EXISTS $tmp")
    writeCells(assignCells(c, centers), centers.length, tmp, "overwrite")
    spark.sql(s"DROP TABLE IF EXISTS $table")
    spark.sql(s"ALTER TABLE $tmp RENAME TO $table")
    centers
  }

  /** Query a persisted IVF index: the kernel scans only the probed cells'
    * bucket files ([[graft.api.Lookup.seek]] of the probe sets computed on
    * the driver — no join, the query side read once), routing each row's
    * cell as in [[ivfTopK]]. */
  def ivfTopKIndexed(spark: org.apache.spark.sql.SparkSession, table: String,
      centers: Array[Array[Double]], queries: DataFrame,
      idCol: String, vecCol: String, k: Int, nprobe: Int = 4): DataFrame =
    ivfSearch(queries, idCol, vecCol, centers, nprobe, k, spark.table(table).schema("nn_id").dataType,
      graft.api.Lookup.seek(spark, table, _), graft.api.Lookup.lookupJoin(spark, _, table, "qcell", "cell"))

  /** Product-quantization codebooks (Jégou et al., TPAMI'11): `m`
    * independent `ksub`-centroid k-means fits over the vector's disjoint
    * dim/m-dimensional sub-spaces, each trained on the same deterministic
    * sample as the IVF coarse quantizer. Returned shape m × ksub × dim/m
    * — a few hundred KB held on the driver and broadcast to encoders,
    * exactly like the IVF centroid codebook. */
  def pqTrain(corpus: DataFrame, vecCol: String, m: Int = 8,
      ksub: Int = 256, seed: Long = 42L, maxIter: Int = 5,
      trainFraction: Double = 0.1): Array[Array[Array[Double]]] = {
    val cv = corpus.select(col(vecCol).cast("array<double>").as("cv"))
    collectSample(cv, ksub.toLong * 10, seed, trainFraction) match {
      case Some(sample) => pqTrainLocal(sample, m, ksub, seed, maxIter)
      case None =>
        import org.apache.spark.ml.clustering.KMeans
        val dim = cv.select(size(col("cv"))).head().getInt(0)
        require(dim % m == 0, s"vector dim $dim must divide into m=$m subspaces")
        val dsub = dim / m
        Array.tabulate(m) { j =>
          val sub = cv.select(slice(col("cv"), j * dsub + 1, dsub).as("cv"))
          new KMeans().setK(ksub).setSeed(seed + j).setMaxIter(maxIter)
            .fit(kmeansTrainSet(sub, ksub, seed + j, trainFraction))
            .clusterCenters.map(_.toArray)
        }
    }
  }

  /** The m sub-space Lloyd fits over ONE collected sample — the sample's
    * full vectors are sliced per sub-space locally, so the 9-codebook
    * IVF-PQ build (coarse + m sub-spaces) costs one corpus sampling scan
    * total instead of one per fit. */
  private[graft] def pqTrainLocal(sample: Array[Array[Double]], m: Int, ksub: Int,
      seed: Long, maxIter: Int): Array[Array[Array[Double]]] = {
    require(sample.nonEmpty, "pqTrain needs a non-empty sample")
    val dim = sample(0).length
    require(dim % m == 0, s"vector dim $dim must divide into m=$m subspaces")
    val dsub = dim / m
    Array.tabulate(m) { j =>
      localKMeans(sample.map(v => java.util.Arrays.copyOfRange(v, j * dsub, (j + 1) * dsub)),
        ksub, maxIter, seed + j)
    }
  }

  /** PQ-encode each vector: (nn_id, codes m-byte binary, norm). The 64-dim
    * float vector (256 B) compresses to m code bytes + one stored norm — the
    * 100 TB memory story (20M vectors: 5 GB of floats vs ~320 MB of
    * codes), and the reason a PQ index can stay resident where raw
    * vectors cannot. Encoding is a scan-stage map with the codebooks in
    * the task closure (same shape as IVF's probeCells). */
  def pqEncode(corpus: DataFrame, idCol: String, vecCol: String,
      codebooks: Array[Array[Array[Double]]],
      keepCols: Seq[String] = Nil): DataFrame = {
    // native codegen'd encoder (graft.plans.PqEncodeCodes): flat contiguous
    // codebooks + primitive input + partial-distance early exit — the UDF
    // history is in the expression's scaladoc; argmin semantics unchanged
    // (strict < keeps the first-best code on ties)
    corpus.select((col(idCol).as("nn_id") +: keepCols.map(col)) ++ Seq(
      col(vecCol).cast("array<double>").as("cv")): _*)
      .select((col("nn_id") +: keepCols.map(col)) ++ Seq(
        pqEncodeCodes(col("cv"), codebooks).as("codes"),
        sqrt(aggregate(col("cv"), lit(0.0), (acc, x) => acc + x * x))
          .as("norm")): _*)
  }

  /** A query's ADC lookup table: its inner product with every sub-space
    * centroid, at `j * ksub + code` (16 KB at m=8/ksub=256): on the driver
    * for the kernel, through a UDF in the join forms. */
  private def pqLut(books: Array[Array[Array[Double]]], qv: Array[Double]): Array[Double] = {
    val m = books.length; val ksub = books(0).length; val dsub = books(0)(0).length
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

  /** IVF-PQ search shared by the in-job and indexed tiers, through the
    * kernel: ADC scores the code rows (nn_id, cell, codes, norm) of each
    * query's probed cells — `codeRows` of the probed cells — into heaps
    * `rerank` deep (k when rerank ≤ 0). With rerank > 0 the merged
    * shortlist is collected, and each listed corpus id routed to the query
    * rows that listed it for the exact re-score over `raw` (nn_id, cv).
    * The ADC score is `pqAdc(codes, lut) / (qnorm * norm)` as Spark
    * evaluates it: a zero denominator is a null score
    * ([[TopKHeaps.offerNull]]) or, in ANSI mode, Spark's DIVIDE_BY_ZERO
    * error. The join form joins the code rows to the query side exploded
    * by `qcell` (`pairsOf`). `codeType`/`idType`: the id types of the code
    * rows and of the result. */
  private def ivfPqSearch(queries: DataFrame, idCol: String, vecCol: String,
      centers: Array[Array[Double]], books: Array[Array[Array[Double]]], nprobe: Int,
      k: Int, rerank: Int, codeType: DataType, idType: DataType,
      codeRows: Seq[Int] => DataFrame, pairsOf: DataFrame => DataFrame,
      raw: => DataFrame): DataFrame = {
    val qType = idTypeOf(queries, idCol)
    val qs = kernelQueries(queries, idCol, vecCol, codeType, idType, qType)
    if (qs.isEmpty) {
      val q = queryRows(queries, idCol, vecCol)
        .withColumn("lut", udf((v: Seq[Double]) => pqLut(books, v.toArray)).apply(col("qv")))
        .withColumn("qnorm", sqrt(aggregate(col("qv"), lit(0.0), (acc, x) => acc + x * x)))
        .withColumn("qcell", explode(probeCellsUdf(centers, nprobe)(col("qv"))))
      val adc = round(pqAdc(col("codes"), col("lut")) / (col("qnorm") * col("norm")), 4)
      return if (rerank <= 0) joinTopK(pairsOf(q), adc, k)
      else joinTopK(raw.join(broadcast(joinTopK(pairsOf(q), adc, rerank)
          .select("query_id", "nn_id")), Seq("nn_id"))
          .join(broadcast(queryRows(queries, idCol, vecCol)), Seq("query_id")),
        cosineScore(4), k)
    }
    val (qIds, qVecs) = qs.get
    val probes = qVecs.map(probeCells(centers, _, nprobe))
    val routes = cellRoutes(probes)
    val luts = qVecs.map(pqLut(books, _))
    val qNorms = qVecs.map(sqrtNorm)
    val ansi = queries.sparkSession.sessionState.conf.ansiEnabled
    val (aq, ai) = if (rerank > 0) (LongType, LongType) else (qType, idType)
    val adc = partitionTopK(codeRows(probes.flatten.distinct.toSeq).select(
        col("nn_id").cast("long"), col("cell"), col("codes"), col("norm")),
      qIds, if (rerank > 0) rerank else k, 4, aq, ai) { (row, heaps) =>
      val p = if (row.anyNull) -1 else routes.find(row.getInt(1))
      if (p >= 0) {
        val id = row.getLong(0)
        val codes = row.getBinary(2)
        val norm = row.getDouble(3)
        val m = codes.length
        var i = routes.starts(p)
        while (i < routes.starts(p + 1)) {
          val qi = routes.queries(i)
          if (qIds(qi) != id) {
            val lut = luts(qi) // PqAdc's sum (ksub = |lut| / m), then the division
            var s = 0.0; var j = 0
            val ksub = if (m == 0) 0 else lut.length / m
            while (j < m) { s += lut(j * ksub + (codes(j) & 0xff)); j += 1 }
            val denom = qNorms(qi) * norm
            if (denom != 0.0) heaps.offer(qi, id, s / denom)
            else if (!ansi) heaps.offerNull(qi, id)
            else { // Spark's own DIVIDE_BY_ZERO error
              import org.apache.spark.sql.catalyst.expressions.{Divide, EvalMode, Literal}
              Divide(Literal(s), Literal(denom), EvalMode.ANSI).eval()
            }
          }
          i += 1
        }
      }
    }
    if (rerank <= 0) return adc
    val lists = adc.select("query_id", "nn_id").queryExecution.toRdd.mapPartitions { it =>
      val q = Array.newBuilder[Long]; val n = Array.newBuilder[Long]
      it.foreach { r => q += r.getLong(0); n += r.getLong(1) }
      Iterator((q.result(), n.result()))
    }.collect()
    val rowsOf = qIds.indices.groupBy(qIds(_))
    val keys = Array.newBuilder[Long]; val qis = Array.newBuilder[Int]
    for ((sq, sn) <- lists; i <- sq.indices; qi <- rowsOf(sq(i))) { keys += sn(i); qis += qi }
    cosineTopK(raw.select(col("nn_id").cast("long"), col("cv"), array(col("nn_id").cast("long"))),
      Array(Routes(keys.result(), qis.result())), None, qIds, qVecs, k, 4, qType, idType)
  }

  /** The coarse and PQ codebooks of an IVF-PQ index over (nn_id, cv)
    * rows: ONE sampling scan feeds all 9 fits (coarse + m sub-spaces)
    * when the bounded sample fits locally; the Spark ML fallback pays one
    * corpus scan per fit, which dominated the 20M-vector index build. */
  private def fitIvfPq(c: DataFrame, nlist: Int, m: Int, ksub: Int, seed: Long,
      maxIter: Int, trainFraction: Double): (Array[Array[Double]], Array[Array[Array[Double]]]) =
    collectSample(c.select(col("cv")), math.max(nlist, ksub).toLong * 10, seed, trainFraction) match {
      case Some(s) => (localKMeans(s, nlist, maxIter, seed), pqTrainLocal(s, m, ksub, seed, maxIter))
      case None => (fitCenters(c, nlist, seed, maxIter, trainFraction),
        pqTrain(c, "cv", m, ksub, seed, maxIter, trainFraction))
    }

  /** IVF-PQ ANN: coarse k-means cell routing (as [[ivfTopK]]) with
    * asymmetric-distance PQ scoring inside the probed cells — the
    * memory-bounded serving shape. Each query precomputes one m×ksub
    * lookup table of sub-space inner products against the codebooks; a
    * candidate's approximate cosine is m table lookups against its code
    * bytes — no full-vector arithmetic, and the probed cells need only
    * codes + norms in memory. `rerank > 0` re-scores the PQ top-`rerank`
    * shortlist exactly against the raw vectors (the standard IVFADC+R
    * refinement), recovering quantization loss for a cost proportional to
    * the shortlist, not the corpus; both stages run in the kernel
    * ([[ivfPqSearch]]). PQ here quantizes raw vectors, not cell
    * residuals: at cosine similarity (normalized scores) the residual
    * variant's gain is marginal and the raw form keeps encode independent
    * of the coarse quantizer, so codes survive an IVF re-clustering. */
  def ivfPqTopK(corpus: DataFrame, queries: DataFrame,
      idCol: String, vecCol: String, k: Int, nlist: Int = 16,
      nprobe: Int = 4, m: Int = 8, ksub: Int = 256, rerank: Int = 0,
      seed: Long = 42L, maxIter: Int = 5,
      trainFraction: Double = 0.1): DataFrame = {
    val c = corpus.select(col(idCol).as("nn_id"), col(vecCol).cast("array<double>").as("cv"))
    val (centers, books) = fitIvfPq(c, nlist, m, ksub, seed, maxIter, trainFraction)
    // cell rides through the encoder: no join back to the assigned rows
    val encoded = pqEncode(assignCells(c, centers), "nn_id", "cv", books, keepCols = Seq("cell"))
    val idType = idTypeOf(corpus, idCol)
    ivfPqSearch(queries, idCol, vecCol, centers, books, nprobe, k, rerank, idType, idType,
      _ => encoded, q => encoded.join(broadcast(q), col("cell") === col("qcell")), c)
  }

  /** Approximate top-k via standard multi-table LSH: `tables` independent
    * `nBits`-bit signature tables; a corpus vector is a candidate if it
    * collides with the query in ANY table. Recall rises with `tables`,
    * cost with candidates-per-query (≈ tables × corpus / 2^nBits).
    * Signatures are the native graft.plans.HyperplaneSignatures, computed
    * in the corpus scan and on the driver for the queries.
    *
    * Multi-probe (Lv et al., VLDB'07, bit-flip simplification): each query
    * additionally probes `probes` Hamming-1 neighbor buckets per table —
    * a near-threshold vector that lands one bit away is still found, so
    * the same recall needs ~probes× fewer tables. Only the query side fans
    * out (more routing-table entries); the corpus is scanned once. A query
    * reached through several tables is scored once per row, and duplicate
    * query ids rank together, as the join form's (query_id, nn_id) dedup
    * had it. */
  def lshTopK(corpus: DataFrame, queries: DataFrame,
      idCol: String, vecCol: String, k: Int, nBits: Int = 6,
      tables: Int = 8, probes: Int = 0): DataFrame = {
    val c = corpus.select(col(idCol).as("nn_id"), col(vecCol).cast("array<double>").as("cv"))
    val flips = math.max(0, math.min(probes, nBits))
    val (idType, qType) = (idTypeOf(corpus, idCol), idTypeOf(queries, idCol))
    kernelQueries(queries, idCol, vecCol, idType, qType) match {
      case Some((qIds, qVecs)) =>
        val sigs = qVecs.map(v => graft.plans.HyperplaneSignatures.compute(
          org.apache.spark.sql.catalyst.util.ArrayData.toArrayData(v), nBits, tables,
          isFloat = false).toLongArray())
        // per table: each probed bucket (the signature, then its low-bit flips)
        val routes = Array.tabulate(tables)(t => Routes(
          sigs.flatMap(s => s(t) +: (0 until flips).map(b => s(t) ^ (1L << b))),
          qIds.indices.toArray.flatMap(Array.fill(flips + 1)(_))))
        val firstRow = scala.collection.mutable.HashMap.empty[Long, Int]
        cosineTopK(c.select(col("nn_id").cast("long"), col("cv"),
            hyperplaneSignatures(col("cv"), nBits, tables)), routes,
          Some(qIds.indices.map(qi => firstRow.getOrElseUpdate(qIds(qi), qi)).toArray),
          qIds, qVecs, k, 4, qType, idType)
      case None =>
        def signatures(df: DataFrame, idName: String, vecName: String) =
          df.select(col(idName), col(vecName),
            posexplode(hyperplaneSignatures(col(vecName), nBits, tables)).as(Seq("tbl", "sig")))
        val q0 = signatures(queryRows(queries, idCol, vecCol), "query_id", "qv")
        val q = if (flips == 0) q0 else q0.withColumn("sig", explode(array(
          col("sig") +: (0 until flips).map(b => col("sig").bitwiseXOR(lit(1L << b))): _*)))
        joinTopK(signatures(c, "nn_id", "cv").join(broadcast(q), Seq("tbl", "sig")),
          cosineScore(4), k, dedupe = true)
    }
  }
  // ---- persisted IVF-PQ index: the complete memory-bounded serving layout

  /** Write the PQ rows (nn_id, cell, codes, norm) of `c` into the
    * cell-bucketed `table` — raw vectors never land in the index. */
  private def writePqRows(c: DataFrame, centers: Array[Array[Double]],
      books: Array[Array[Array[Double]]], table: String, mode: String): Unit =
    writeCells(pqEncode(assignCells(c, centers), "nn_id", "cv", books, keepCols = Seq("cell"))
      .select("nn_id", "cell", "codes", "norm"), centers.length, table, mode)

  /** Persist the coarse + PQ codebooks alongside the codes table, as rows
    * (kind, i, c, v): ("coarse", 0, cellIdx, centroid) and
    * ("pq", subspace, code, centroid). A later session reloads them with
    * [[loadPqCodebooks]] and queries without refitting. */
  private def saveCodebooks(spark: org.apache.spark.sql.SparkSession,
      table: String, centers: Array[Array[Double]],
      books: Array[Array[Array[Double]]]): Unit = {
    import spark.implicits._
    val rows =
      centers.zipWithIndex.toSeq.map { case (v, ci) => ("coarse", 0, ci, v.toSeq) } ++
      books.zipWithIndex.toSeq.flatMap { case (book, j) =>
        book.zipWithIndex.toSeq.map { case (v, ci) => ("pq", j, ci, v.toSeq) } }
    rows.toDF("kind", "i", "c", "v").coalesce(1)
      .write.mode("overwrite").format("parquet").saveAsTable(s"${table}_codebooks")
  }

  /** Reload the codebooks persisted by [[buildIvfPqIndex]]. */
  def loadPqCodebooks(spark: org.apache.spark.sql.SparkSession, table: String)
      : (Array[Array[Double]], Array[Array[Array[Double]]]) = {
    import spark.implicits._
    val rows = spark.table(s"${table}_codebooks")
      .select(col("kind"), col("i"), col("c"), col("v"))
      .as[(String, Int, Int, Seq[Double])].collect()
    val centers = rows.filter(_._1 == "coarse").sortBy(_._3).map(_._4.toArray)
    val books = rows.filter(_._1 == "pq").groupBy(_._2).toSeq.sortBy(_._1)
      .map { case (_, rs) => rs.sortBy(_._3).map(_._4.toArray) }.toArray
    (centers, books)
  }

  /** Build a PERSISTED IVF-PQ index: one cell-bucketed parquet table of
    * (nn_id, cell, codes, norm) — ~16 B per vector at m=8 instead of the
    * 256 B raw vector, the layout that keeps a 100 TB corpus''s index
    * resident — plus the codebooks table. Same one-sample codebook fits
    * as [[ivfPqTopK]]; returns (centers, books) for immediate use. */
  def buildIvfPqIndex(corpus: DataFrame, idCol: String, vecCol: String,
      table: String, nlist: Int = 16, m: Int = 8, ksub: Int = 256,
      seed: Long = 42L, maxIter: Int = 5, trainFraction: Double = 0.1)
      : (Array[Array[Double]], Array[Array[Array[Double]]]) = {
    val c = corpus.select(col(idCol).as("nn_id"),
      col(vecCol).cast("array<double>").as("cv"))
    val (centers, books) = fitIvfPq(c, nlist, m, ksub, seed, maxIter, trainFraction)
    writePqRows(c, centers, books, table, "overwrite")
    saveCodebooks(c.sparkSession, table, centers, books)
    (centers, books)
  }

  /** Fold NEW vectors into a persisted IVF-PQ index without refitting —
    * encode with the existing codebooks, append to the bucketed table
    * (mirrors [[appendToIvfIndex]]; cost proportional to the increment,
    * codes survive because PQ quantizes raw vectors, not residuals). */
  def appendToIvfPqIndex(table: String, centers: Array[Array[Double]],
      books: Array[Array[Array[Double]]], newVecs: DataFrame,
      idCol: String, vecCol: String): Unit =
    writePqRows(newVecs.select(col(idCol).as("nn_id"),
      col(vecCol).cast("array<double>").as("cv")), centers, books, table, "append")

  /** Rebalance a persisted IVF-PQ index whose appended increments drifted
    * the cell populations — the PQ counterpart of [[rebalanceIvfIndex]],
    * thresholded on the same [[ivfCellSkew]] probe. The index deliberately
    * holds no raw vectors, so the reassignment reads `source` (the
    * raw-vector source of truth — the same contract as ivfPqTopKIndexed's
    * `rerankFrom`): refit the COARSE codebook from a bounded deterministic
    * sample of the source, KEEP the PQ codebooks (`books` — PQ quantizes
    * raw vectors, not cell residuals, so codes are invariant under a
    * coarse re-clustering), and rewrite the cell-bucketed layout in ONE
    * scan stage over the source into a fresh table swapped in under the
    * old name. Re-encoding rides the scan the reassignment needs anyway
    * and avoids shuffling the old 20M-row codes table into a join; the
    * persisted codebooks table is refreshed so [[loadPqCodebooks]] stays
    * consistent with the swapped index. In-place overwrite of the
    * lazily-scanned source table would be data loss (the Layout.compact
    * rule); the DROP+RENAME swap is the only non-atomic step. Returns the
    * NEW coarse codebook — queries keep answering on the old one until
    * handed the return value. */
  def rebalanceIvfPqIndex(spark: org.apache.spark.sql.SparkSession,
      table: String, books: Array[Array[Array[Double]]], source: DataFrame,
      idCol: String, vecCol: String, nlist: Int = 16, seed: Long = 42L,
      maxIter: Int = 5, trainFraction: Double = 0.1): Array[Array[Double]] = {
    val c = source.select(col(idCol).as("nn_id"),
      col(vecCol).cast("array<double>").as("cv"))
    val centers = collectSample(c.select(col("cv")), nlist.toLong * 10, seed,
        trainFraction) match {
      case Some(s) => localKMeans(s, nlist, maxIter, seed)
      case None => fitCenters(c, nlist, seed, maxIter, trainFraction)
    }
    val tmp = table + "_rebalanced_tmp"
    spark.sql(s"DROP TABLE IF EXISTS $tmp")
    writePqRows(c, centers, books, tmp, "overwrite")
    spark.sql(s"DROP TABLE IF EXISTS $table")
    spark.sql(s"ALTER TABLE $tmp RENAME TO $table")
    saveCodebooks(spark, table, centers, books)
    centers
  }

  /** Query a persisted IVF-PQ index: the kernel scans only the probed
    * cells' bucket files ([[graft.api.Lookup.seek]]), ADC scores the
    * resident codes, and `rerank > 0` re-scores the shortlist exactly
    * against `rerankFrom` (the raw-vector source of truth, which the index
    * deliberately does not hold) — see [[ivfPqSearch]]. */
  def ivfPqTopKIndexed(spark: org.apache.spark.sql.SparkSession, table: String,
      centers: Array[Array[Double]], books: Array[Array[Array[Double]]],
      queries: DataFrame, idCol: String, vecCol: String, k: Int,
      nprobe: Int = 4, rerank: Int = 0,
      rerankFrom: Option[DataFrame] = None): DataFrame = {
    if (rerank > 0 && rerankFrom.isEmpty) throw new IllegalArgumentException(
      "rerank > 0 needs rerankFrom — the raw-vector source the index does not hold")
    def raw = rerankFrom.get.select(col(idCol).as("nn_id"),
      col(vecCol).cast("array<double>").as("cv"))
    val codeType = spark.table(table).schema("nn_id").dataType
    ivfPqSearch(queries, idCol, vecCol, centers, books, nprobe, k, rerank, codeType,
      if (rerank > 0) idTypeOf(rerankFrom.get, idCol) else codeType,
      graft.api.Lookup.seek(spark, table, _),
      graft.api.Lookup.lookupJoin(spark, _, table, "qcell", "cell"), raw)
  }
}
