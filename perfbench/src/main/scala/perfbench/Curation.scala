package perfbench

import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.functions._

import graft.dedup.{Dedup, DupClusters}
import graft.similarity.Similarity

/** The curation corpus, after the recipe of the program's PipelineCorpus
  * with the seed mixed into every row's generator: documents where every
  * tenth is a near-copy of the one before it, an increment where half the
  * documents are near-copies of indexed ones, and clustered 64-d vectors. */
object CurationCorpus {
  val Dim = 64
  /** About 150 vectors per cluster: the program's IVF-PQ rerank shortlist
    * (at least 200 at this corpus size) then covers a query's cluster. */
  def clusters(vecs: Long): Int = math.max(4, (vecs / 150).toInt)

  private def splitmix(x0: Long): Long = {
    var x = x0 + 0x9e3779b97f4a7c15L
    x = (x ^ (x >>> 30)) * 0xbf58476d1ce4e5b9L
    x = (x ^ (x >>> 27)) * 0x94d049bb133111ebL
    x ^ (x >>> 31)
  }

  private final class Rng(seed: Long) {
    private var n = 0L
    def nextLong(): Long = { n += 1; splitmix(seed + n * 0x632be59bd9b4e019L) }
    def nextInt(bound: Int): Int = Math.floorMod(nextLong(), bound.toLong).toInt
    def nextDouble(): Double = (nextLong() >>> 11) * (1.0 / (1L << 53))
    def nextGauss(): Double =
      (nextDouble() + nextDouble() + nextDouble() + nextDouble() - 2.0) * Math.sqrt(3.0)
  }

  private val stop = Seq("the", "of", "and", "a", "to", "in", "is", "you", "that", "it",
    "he", "was", "for", "on", "are", "as", "with", "his", "they", "i", "at", "be", "this")

  private val vocab: Array[String] = Array.tabulate(4096) { i =>
    if (i < stop.length) stop(i)
    else {
      val r = new Rng(0xabcdef12345L + i)
      Array.fill(4 + r.nextInt(6))(('a' + r.nextInt(26)).toChar).mkString
    }
  }

  private def rowRng(seed: Long, id: Long, salt: Long) = new Rng(splitmix(seed * 31 + salt) ^ id * 0x9e3779b97f4a7c15L)

  /** 80-240 tokens, every fourth a stopword. */
  private def baseTokens(seed: Long, id: Long): Array[String] = {
    val r = rowRng(seed, id, 1)
    Array.tabulate(80 + r.nextInt(160)) { i =>
      if (i % 4 == 1) vocab(r.nextInt(stop.length)) else vocab(r.nextInt(vocab.length))
    }
  }

  /** ~6% of tokens replaced and ~3% dropped: 5-gram Jaccard mostly 0.6-0.9. */
  private def mutate(seed: Long, tokens: Array[String], id: Long): Array[String] = {
    val r = rowRng(seed, id, 2)
    tokens.flatMap { t =>
      val u = r.nextDouble()
      if (u < 0.03) Nil else if (u < 0.09) Seq(vocab(r.nextInt(vocab.length))) else Seq(t)
    }
  }

  private def docTokens(seed: Long, id: Long): Array[String] =
    if (id % 10 == 9) mutate(seed, baseTokens(seed, id - 1), id) else baseTokens(seed, id)

  /** (doc_id, text, dup_of): dup_of = id - 1 for the planted copies. */
  def doc(seed: Long, id: Long): (Long, String, Long) =
    (id, docTokens(seed, id).mkString(" "), if (id % 10 == 9) id - 1 else -1L)

  /** Increment document `id` (ids after the corpus): every other one is a
    * near-copy of a seeded pick among the `docs` indexed documents. */
  def incrementDoc(seed: Long, id: Long, docs: Long): (Long, String, Long) =
    if (id % 2 == 0) {
      val target = Math.floorMod(splitmix(seed ^ id), docs)
      (id, mutate(seed, docTokens(seed, target), id).mkString(" "), target)
    } else (id, baseTokens(seed, id).mkString(" "), -1L)

  /** (vec_id, embedding, cluster): unit cluster centers plus 0.05 noise per
    * dimension. */
  def vector(seed: Long, id: Long, clusters: Int): (Long, Array[Float], Int) = {
    val cluster = ((splitmix(id ^ splitmix(seed)) >>> 33) % clusters).toInt
    val cr = rowRng(seed, cluster, 3)
    val center = Array.fill(Dim)(cr.nextGauss())
    val norm = math.sqrt(center.map(x => x * x).sum)
    val r = rowRng(seed, id, 4)
    (id, Array.tabulate(Dim)(i => (center(i) / norm + 0.05 * r.nextGauss()).toFloat), cluster)
  }

  def write(spark: SparkSession, dir: String, seed: Long, docs: Long, incs: Long, vecs: Long,
      queries: Long): Unit = {
    import spark.implicits._
    spark.range(docs).map(id => doc(seed, id)).toDF("doc_id", "text", "dup_of")
      .write.mode("overwrite").parquet(s"$dir/docs")
    spark.range(docs, docs + incs).map(id => incrementDoc(seed, id, docs))
      .toDF("doc_id", "text", "near_copy_of").write.mode("overwrite").parquet(s"$dir/increment")
    val k = clusters(vecs)
    val v = spark.range(vecs).map(id => vector(seed, id, k)).toDF("vec_id", "embedding", "cluster")
    v.write.mode("overwrite").parquet(s"$dir/vectors")
    v.filter(col("vec_id") % (vecs / queries) === 0).coalesce(1)
      .write.mode("overwrite").parquet(s"$dir/queries")
  }
}

/** curation: the training-data pipeline over a seeded corpus. Near-dup
  * detection and clustering, the band index written and then read to dedup
  * an increment, and exact against approximate top-k search. */
final class Curation extends Workload {
  private def docs(ctx: Ctx): Long = if (ctx.tiny) 500 else 1000
  private def incs(ctx: Ctx): Long = docs(ctx) / 10
  private def vecs(ctx: Ctx): Long = if (ctx.tiny) 1000 else 5000
  private def nQueries(ctx: Ctx): Long = if (ctx.tiny) 20 else 200
  private val K = 10
  private val Threshold = 0.7
  private val PqTable = "perfbench_ivfpq"

  def generate(ctx: Ctx): Unit =
    CurationCorpus.write(ctx.spark, ctx.dir("curation"), ctx.seed, docs(ctx), incs(ctx),
      vecs(ctx), nQueries(ctx))

  /** Outputs of one pass, kept for the checks: rows of (id, id) pairs and
    * of (query_id, nn_id, sim) neighbours. */
  private final case class Out(pairs: Array[Row], increment: Array[Row],
      exact: Array[Row], approx: Map[String, Array[Row]])

  /** LSH multi-probe depth. At this corpus size the program's rules give
    * 4 bits, 8 tables and no probes, which measured recall@10 0.9965-0.9975
    * on seeds 11-15 (10,000 vectors), under the 0.998 floor; probing the 4
    * Hamming-1 neighbour buckets measured 1.000 on the same seeds. */
  private val LshProbes = 4

  /** One pass: four chains of calls, each in order. The measured pass runs
    * the chains one after another; the warm-up runs them side by side. */
  private def pass(ctx: Ctx, dir: String, keep: Boolean, sideBySide: Boolean,
      n: Long): Option[Out] = {
    val spark = ctx.spark
    def path(name: String) = ctx.dir(s"$dir/$name")
    val d = spark.read.parquet(path("docs"))
    val inc = spark.read.parquet(path("increment"))
    val emb = spark.read.parquet(path("vectors"))
    val qv = spark.read.parquet(path("queries"))
    val (nlist, nprobe) = Similarity.ivfParamsFor(n)
    val (nBits, tables) = Similarity.lshParamsFor(n)
    val frac = Similarity.kmeansFractionFor(n)
    def call[T](layer: String, name: String)(body: => T): Option[T] = {
      ctx.rep.attempt()
      try Some(ctx.tracer.call(layer, name)(body))
      catch { case e: Throwable => ctx.rep.fail(s"$name threw $e"); None }
    }

    def dedup() = {
      call("dedup", "dedup.minhash") {
        Dedup.minhashNearDups(d, "doc_id", "text", threshold = Threshold)
          .write.mode("overwrite").parquet(path("pairs"))
      }
      val pairs = spark.read.parquet(path("pairs"))
      call("dedup", "dedup.clusters") {
        DupClusters.connectedComponents(pairs, "id_a", "id_b")
          .write.format("noop").mode("overwrite").save()
      }
      if (keep) Some(pairs.select("id_a", "id_b").collect()) else None
    }
    def index() = {
      call("dedup", "dedup.band_index_write") {
        Dedup.saveBandIndex(Dedup.buildBandIndex(d, "doc_id", "text"), path("band-index"))
      }
      call("dedup", "dedup.increment") {
        Dedup.minhashNearDupsAgainstIndex(inc, Dedup.loadBandIndex(spark, path("band-index")),
          "doc_id", "text", threshold = Threshold).collect()
      }
    }
    def ann() = (
      call("similarity", "similarity.exact") {
        Similarity.bruteForceTopK(emb, qv, "vec_id", "embedding", K).collect()
      },
      call("similarity", "similarity.ivf") {
        Similarity.ivfTopK(emb, qv, "vec_id", "embedding", K, nlist = nlist, nprobe = nprobe,
          trainFraction = frac).collect()
      },
      call("similarity", "similarity.lsh") {
        Similarity.lshTopK(emb, qv, "vec_id", "embedding", K, nBits = nBits, tables = tables,
          probes = LshProbes).collect()
      })
    def pq() =
      call("similarity", "similarity.ivfpq_build") {
        Similarity.buildIvfPqIndex(emb, "vec_id", "embedding", PqTable, nlist = nlist,
          m = 8, ksub = 256, trainFraction = frac)
      }.flatMap { case (centers, books) =>
        call("similarity", "similarity.ivfpq_query") {
          Similarity.ivfPqTopKIndexed(spark, PqTable, centers, books, qv, "vec_id", "embedding", K,
            nprobe = nprobe, rerank = Similarity.pqRerankFor(n, nlist, nprobe, K),
            rerankFrom = Some(emb)).collect()
        }
      }

    val chains: Seq[() => Any] = Seq(() => dedup(), () => index(), () => ann(), () => pq())
    val Seq(p: Option[Array[Row]] @unchecked, i: Option[Array[Row]] @unchecked,
      (e: Option[Array[Row]] @unchecked, a: Option[Array[Row]] @unchecked,
        b: Option[Array[Row]] @unchecked), c: Option[Array[Row]] @unchecked) =
      if (sideBySide) Main.parallel(chains)(_()) else chains.map(_())
    for (pairs <- p; inc <- i; ex <- e; ivf <- a; lsh <- b; ivfpq <- c)
      yield Out(pairs, inc.map(r => Row(r.get(0), r.get(1))), ex,
        Map("ivf" -> ivf, "lsh" -> lsh, "ivfpq" -> ivfpq))
  }

  /** The warm-up runs every call once on a corpus a fifth the size, the
    * four chains side by side: their cost there is mostly job start-up and
    * code generation, which overlap well. */
  def warmup(ctx: Ctx): Unit = {
    CurationCorpus.write(ctx.spark, ctx.dir("curation-warmup"), ctx.seed + 1, docs(ctx) / 5,
      incs(ctx) / 5, vecs(ctx) / 5, nQueries(ctx) / 5)
    pass(ctx, "curation-warmup", keep = false, sideBySide = true, vecs(ctx) / 5)
  }

  private def neighbours(rows: Array[Row]): Map[Long, Seq[(Long, Double)]] =
    rows.toSeq.map(r => (r.getAs[Long]("query_id"), (r.getAs[Long]("nn_id"), r.getAs[Double]("sim"))))
      .groupMap(_._1)(_._2)

  /** Recall@k against the exact top-k, by id, and counting ties: a
    * returned neighbour whose similarity (rounded as the program rounds it)
    * equals the exact k-th best is as near as the one it displaced. */
  private def recall(exact: Array[Row], approx: Array[Row]): (Double, Double) = {
    val e = neighbours(exact)
    val a = neighbours(approx)
    val total = e.values.map(_.size).sum.toDouble
    val (byId, withTies) = e.toSeq.map { case (q, ns) =>
      val got = a.getOrElse(q, Nil)
      val kth = ns.map(_._2).min
      (got.count(g => ns.exists(_._1 == g._1)), math.min(ns.size, got.count(_._2 >= kth)))
    }.foldLeft((0, 0)) { case ((x, y), (u, v)) => (x + u, y + v) }
    if (total == 0) (0.0, 0.0) else (byId / total, withTies / total)
  }

  /** The exact Jaccard of two texts' character 5-gram sets, normalized as
    * the program normalizes them before shingling. */
  private def shingles(text: String): Set[String] = {
    val t = text.trim.replaceAll("\\s+", " ").toLowerCase
    (0 to t.length - 5).map(i => t.substring(i, i + 5)).toSet
  }
  private def jaccard(a: Set[String], b: Set[String]): Double =
    if (a.isEmpty && b.isEmpty) 0.0 else (a intersect b).size.toDouble / (a union b).size

  def measure(ctx: Ctx): Unit = {
    val spark = ctx.spark
    val rep = ctx.rep
    def path(name: String) = ctx.dir(s"curation/$name")
    var out: Option[Out] = None
    val passMs = ctx.passes(ctx.seconds, minPasses = if (ctx.traced) 2 else 1) { i =>
      val o = pass(ctx, "curation", keep = i == 0, sideBySide = false, vecs(ctx))
      if (i == 0) out = o
    }

    // output checks on the first pass, on the driver: the outputs are small
    var recalls = Map.empty[String, Double]
    var minhashRecall = Double.NaN
    var accepted = 0L
    out.foreach { o =>
      val texts = spark.read.parquet(path("docs")).select("doc_id", "text")
        .union(spark.read.parquet(path("increment")).select("doc_id", "text"))
        .collect().map(r => r.getLong(0) -> shingles(r.getString(1))).toMap
      def above(p: Row) = jaccard(texts(p.getLong(0)), texts(p.getLong(1))) > Threshold
      rep.check(s"every minhash pair (${o.pairs.length}) is above the Jaccard threshold") {
        o.pairs.nonEmpty && o.pairs.forall(above)
      }
      rep.check(s"every increment pair (${o.increment.length}) is above the Jaccard threshold") {
        o.increment.nonEmpty && o.increment.forall(above)
      }
      val both = o.approx.map { case (k, a) => k -> recall(o.exact, a) }
      both.toSeq.sortBy(_._1).foreach { case (k, (byId, ties)) =>
        rep.notes += f"recall@10 $k%-6s by id $byId%.4f, counting ties $ties%.4f"
      }
      recalls = both.map { case (k, v) => k -> v._2 }
      rep.check(f"recall@10 ivf ${recalls("ivf")}%.4f = 1")(recalls("ivf") >= 1.0)
      rep.check(f"recall@10 ivfpq ${recalls("ivfpq")}%.4f = 1")(recalls("ivfpq") >= 1.0)
      rep.check(f"recall@10 lsh ${recalls("lsh")}%.4f >= 0.998")(recalls("lsh") >= 0.998)
      // planted pairs whose exact Jaccard clears the threshold, found
      val found = o.pairs.map(p => (p.getLong(0), p.getLong(1))).toSet
      val planted = (0L until docs(ctx)).filter(_ % 10 == 9).map(id => (id - 1, id))
        .filter { case (a, b) => jaccard(texts(a), texts(b)) > Threshold }
      minhashRecall = planted.count(found).toDouble / math.max(planted.size, 1)
      accepted = o.pairs.length
    }

    def med(name: String, traced: Option[Boolean] = None): Double = Stats.median(
      ctx.tracer.calls.filter(c => c._1 == name && traced.forall(_ == c._4)).map(_._3).toSeq) / 1000.0
    val q = nQueries(ctx).toDouble
    if (!ctx.traced) {
      rep.head("dedup_docs_per_s", docs(ctx) / (med("dedup.minhash") + med("dedup.clusters")), "docs/s")
      rep.head("dedup_increment_docs_per_s", incs(ctx) / med("dedup.increment"), "docs/s")
      rep.head("index_build_s", med("dedup.band_index_write") + med("similarity.ivfpq_build"), "s")
      rep.head("ann_exact_qps", q / med("similarity.exact"), "queries/s")
      rep.head("ann_qps", 3 * q / (med("similarity.ivf") + med("similarity.lsh") +
        med("similarity.ivfpq_query")), "queries/s")
      rep.head("ann_recall_at_10", if (recalls.isEmpty) Double.NaN else recalls.values.min, "ratio")
      rep.head("minhash_recall", minhashRecall, "ratio")
    }
    Main.callMetrics(ctx, passMs, Set("dedup", "similarity"))
    if (ctx.traced) {
      val on = Some(true)
      val tracedPasses = ctx.tracer.spans.count(_.name == "pass").max(1).toDouble
      rep.set("dedup.minhash_s", med("dedup.minhash", on))
      rep.set("dedup.clusters_s", med("dedup.clusters", on))
      rep.set("dedup.band_index_write_s", med("dedup.band_index_write", on))
      rep.set("dedup.increment_s", med("dedup.increment", on))
      rep.set("similarity.exact_s", med("similarity.exact", on))
      rep.set("similarity.ivf_s", med("similarity.ivf", on))
      rep.set("similarity.lsh_s", med("similarity.lsh", on))
      rep.set("similarity.ivfpq_build_s", med("similarity.ivfpq_build", on))
      rep.set("similarity.ivfpq_query_s", med("similarity.ivfpq_query", on))
      recalls.foreach { case (k, v) => rep.set(s"similarity.recall_$k", v) }
      for (layer <- Seq("dedup", "similarity")) {
        val s = Main.taskSums(ctx.tracer.groupsOf(layer))
        rep.set(s"$layer.shuffle_bytes", s("sh_write") / tracedPasses)
        rep.set(s"$layer.spill_bytes", s("spill") / tracedPasses)
        rep.set(s"$layer.cpu_ms", s("cpu_ms") / tracedPasses)
        rep.set(s"$layer.task_skew", s("skew"))
      }
      rep.set("dedup.increment_shuffle_bytes",
        Main.taskSums(ctx.tracer.groupsOf("dedup", _ == "dedup.increment"))("sh_write") / tracedPasses)
      // candidate pairs: the banding step alone, counted once
      val candidates = Dedup.minhashCandidatePairs(spark.read.parquet(path("docs")),
        "doc_id", "text", 5, 200, 50, 1000, 2).count()
      rep.set("dedup.candidate_pairs", candidates)
      rep.set("dedup.accepted_pairs", accepted)
      rep.set("dedup.pair_yield", if (candidates > 0) accepted.toDouble / candidates else 0.0)
    }
    spark.sql(s"DROP TABLE IF EXISTS $PqTable")
  }
}
