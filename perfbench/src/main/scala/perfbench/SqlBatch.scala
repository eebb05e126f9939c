package perfbench

import java.math.MathContext

import scala.util.hashing.MurmurHash3

import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._

/** The TPC-H-like star schema plus the `events`, `documents` and
  * `embeddings` tables that the program's `q*` queries read, in the layout
  * its loaders expect (`<dir>/<table>.parquet`). The tables do not depend
  * on the run's seed: their query results are pinned by the fingerprints
  * in `fingerprints.json`. Every value is a hash of the row id. */
object SqlData {
  private def h(c: Column, salt: Int): Column = xxhash64(c, lit(salt))
  private def mod(c: Column, salt: Int, n: Long): Column = pmod(h(c, salt), lit(n))
  private def unit(c: Column, salt: Int): Column = mod(c, salt, 1000000L) / 1e6
  private def pick(c: Column, salt: Int, xs: Seq[String]): Column =
    element_at(array(xs.map(lit): _*), (mod(c, salt, xs.size.toLong) + 1).cast("int"))
  private def day(c: Column, salt: Int, from: String, days: Long): Column =
    (lit(java.sql.Timestamp.valueOf(s"$from 00:00:00")).cast("timestamp_ntz") +
      make_interval(lit(0), lit(0), lit(0), mod(c, salt, days).cast("int")))

  private val words = Seq("a", "agg", "batch", "big", "column", "customer", "data", "dup",
    "fast", "filter", "group", "hash", "join", "key", "line", "merge", "order", "part",
    "query", "row", "scan", "slow", "small", "sort", "spark", "stream", "table", "the",
    "value", "vector", "window")

  def frames(spark: SparkSession, sf: Double): Seq[(String, DataFrame)] = {
    def n(base: Double) = math.max(1L, (base * sf).toLong)
    val nCust = n(150000); val nSupp = n(10000); val nPart = n(200000); val nOrd = n(1500000)
    val id = col("id")
    Seq(
      "region" -> spark.range(5).select(id.cast("int").as("r_regionkey"),
        element_at(array(Seq("AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST").map(lit): _*),
          (id + 1).cast("int")).as("r_name")),
      "nation" -> spark.range(25).select(id.cast("int").as("n_nationkey"),
        concat(lit("NATION_"), id).as("n_name"), (id % 5).cast("int").as("n_regionkey")),
      "customer" -> spark.range(nCust).select(id.as("c_custkey"),
        format_string("Customer#%09d", id).as("c_name"),
        mod(id, 1, 25).cast("int").as("c_nationkey"),
        round(unit(id, 2) * 11000 - 999.99, 2).as("c_acctbal"),
        pick(id, 3, Seq("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"))
          .as("c_mktsegment")),
      "supplier" -> spark.range(nSupp).select(id.as("s_suppkey"),
        format_string("Supplier#%09d", id).as("s_name"),
        mod(id, 4, 25).cast("int").as("s_nationkey"),
        round(unit(id, 5) * 11000 - 999.99, 2).as("s_acctbal")),
      "part" -> spark.range(nPart).select(id.as("p_partkey"),
        concat_ws(" ", pick(id, 6, Seq("small", "new", "hot", "large", "cold", "red", "blue", "old")),
          pick(id, 7, Seq("ring", "gear", "widget", "gizmo", "bolt", "plate", "anvil", "rod")))
          .as("p_name"),
        concat(lit("Brand#"), mod(id, 8, 25) + 1).as("p_brand"),
        pick(id, 9, Seq("SMALL", "MEDIUM", "ECONOMY", "STANDARD", "LARGE", "PROMO")).as("p_type"),
        (mod(id, 10, 50) + 1).cast("int").as("p_size"),
        round(lit(900.0) + (id % 1000) / 10.0, 2).as("p_retailprice")),
      "orders" -> spark.range(nOrd).select(id.as("o_orderkey"),
        mod(id, 11, nCust).as("o_custkey"),
        pick(id, 12, Seq("F", "O", "P")).as("o_orderstatus"),
        round(unit(id, 13) * 499000 + 1000, 2).as("o_totalprice"),
        day(id, 14, "1995-01-01", 2404).as("o_orderdate"),
        pick(id, 15, Seq("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"))
          .as("o_orderpriority")),
      "lineitem" -> spark.range(n(6000000)).select(mod(id, 16, nOrd).as("l_orderkey"),
        mod(id, 17, nPart).as("l_partkey"), mod(id, 18, nSupp).as("l_suppkey"),
        (mod(id, 19, 7) + 1).cast("int").as("l_linenumber"),
        (mod(id, 20, 50) + 1).cast("double").as("l_quantity"),
        round(unit(id, 21) * 104000 + 900, 2).as("l_extendedprice"),
        (mod(id, 22, 11) / 100.0).as("l_discount"),
        (mod(id, 23, 9) / 100.0).as("l_tax"),
        pick(id, 24, Seq("A", "N", "R")).as("l_returnflag"),
        pick(id, 25, Seq("F", "O")).as("l_linestatus"),
        day(id, 26, "1995-01-02", 2498).as("l_shipdate")),
      "events" -> spark.range(n(1000000)).select(id.as("event_id"),
        (lit(java.sql.Timestamp.valueOf("2024-01-01 00:00:00")).cast("timestamp_ntz") +
          make_dt_interval(lit(0), lit(0), lit(0),
            (mod(id, 27, 2592000000000L) / 1e6).cast("decimal(18,6)"))).as("ts"),
        mod(id, 28, 150).as("user_id"),
        pick(id, 29, Seq("click", "view", "purchase", "signup", "error")).as("event_type"),
        round(-log(lit(1.0) - unit(id, 30) * 0.9999) * 50 + 0.01, 2).as("value"),
        format_string("{\"k\": %d}", mod(id, 31, 100)).as("props")),
      "documents" -> spark.range(n(50000)).select(id.as("doc_id"),
        concat_ws(" ", transform(sequence(lit(1), (mod(id, 32, 80) + 8).cast("int")),
          i => element_at(array(words.map(lit): _*),
            (pmod(xxhash64(id, i), lit(words.size.toLong)) + 1).cast("int")))).as("text"),
        pick(id, 33, Seq("en", "en", "en", "en", "de", "es", "fr", "zh")).as("lang"),
        concat(lit("src"), mod(id, 34, 20)).as("source"))
        .withColumn("n_chars", length(col("text")).cast("long")),
      "embeddings" -> spark.range(n(50000)).select(id.as("vec_id"),
        transform(sequence(lit(1), lit(64)),
          i => ((pmod(xxhash64(id, i + 1000), lit(2000001L)) / 1e6 - 1.0) * 0.3).cast("float"))
          .as("embedding"),
        mod(id, 35, 10).cast("int").as("label")))
  }

  def write(spark: SparkSession, dir: String, sf: Double): Unit =
    frames(spark, sf).foreach { case (name, df) =>
      df.coalesce(1).write.mode("overwrite").parquet(s"$dir/$name.parquet")
    }
}

/** An order-insensitive fingerprint of a query result: the row count and
  * the sum of per-row hashes. Doubles count to 10 significant digits, so a
  * different summation order does not change the fingerprint. */
object Fingerprint {
  private val mc = new MathContext(10)

  def canon(v: Any): String = v match {
    case null => "null"
    case d: Double =>
      if (d.isNaN || d.isInfinite) d.toString
      else new java.math.BigDecimal(d).round(mc).stripTrailingZeros.toPlainString
    case f: Float => canon(f.toDouble)
    case b: java.math.BigDecimal => b.stripTrailingZeros.toPlainString
    case b: Array[Byte] => b.map(x => f"$x%02x").mkString
    case r: Row => r.toSeq.map(canon).mkString("(", ",", ")")
    case m: scala.collection.Map[_, _] =>
      m.toSeq.map { case (k, x) => canon(k) + "->" + canon(x) }.sorted.mkString("{", ",", "}")
    case s: scala.collection.Seq[_] => s.map(canon).mkString("[", ",", "]")
    case other => other.toString
  }

  def of(rows: Array[Row]): (Long, String) = {
    var sum = 0L
    rows.foreach { r =>
      val s = canon(r)
      val hi = MurmurHash3.stringHash(s, 0x3c074a61).toLong
      val lo = MurmurHash3.stringHash(s, 0x5bd1e995).toLong & 0xffffffffL
      sum += (hi << 32) | lo
    }
    (rows.length.toLong, f"$sum%016x")
  }

  /** Read `fingerprints.json`: {"<query>": {"rows": n, "hash": "<hex>"}, ...}. */
  def load(file: java.io.File): Map[String, (Long, String)] = {
    val src = scala.io.Source.fromFile(file, "UTF-8")
    val text = try src.mkString finally src.close()
    val entry = """"([^"]+)"\s*:\s*\{\s*"rows"\s*:\s*(\d+)\s*,\s*"hash"\s*:\s*"([0-9a-f]+)"\s*\}""".r
    entry.findAllMatchIn(text).map(m => m.group(1) -> ((m.group(2).toLong, m.group(3)))).toMap
  }
}

/** sql_batch: one client runs a fixed mix of the program's `q*` queries in a
  * closed loop, each into a `noop` sink; the seed shuffles the order of
  * every pass. */
final class SqlBatch extends Workload {
  private var dataDir = ""
  private val builtAnalysisMs = scala.collection.mutable.ArrayBuffer[Double]()

  def scale(ctx: Ctx): Double = if (ctx.tiny) 0.001 else 0.01

  def generate(ctx: Ctx): Unit = {
    dataDir = ctx.dir("sql-data")
    SqlData.write(ctx.spark, dataDir, scale(ctx))
  }

  private def query(ctx: Ctx, name: String): DataFrame =
    graft.SparkEntry.queries(name)(ctx.spark, dataDir)

  /** The warm-up pass collects every result and checks its fingerprint. It
    * runs the queries side by side: their cost is mostly planning, job
    * start-up and code generation, which overlap well. */
  def warmup(ctx: Ctx): Unit = {
    val pinned = if (ctx.tiny) Map.empty[String, (Long, String)]
      else Fingerprint.load(new java.io.File(ctx.home, "fingerprints.json"))
    Main.parallel(SqlBatch.mix) { q =>
      ctx.rep.attempt()
      try {
        val got = Fingerprint.of(query(ctx, q).collect())
        if (ctx.tiny) ctx.rep.check(s"$q returns rows")(got._1 > 0)
        else ctx.rep.check(s"$q fingerprint ${got._1}/${got._2} vs ${pinned.get(q)}")(pinned.get(q).contains(got))
      } catch { case e: Throwable => ctx.rep.fail(s"$q threw $e") }
    }
  }

  def measure(ctx: Ctx): Unit = {
    val rng = new scala.util.Random(ctx.seed)
    val passMs = ctx.passes(ctx.seconds, minPasses = if (ctx.traced) 2 else 1) { _ =>
      rng.shuffle(SqlBatch.mix).foreach { q =>
        ctx.rep.attempt()
        try ctx.tracer.call("queries", q) {
          val df = query(ctx, q)
          df.write.format("noop").mode("overwrite").save()
          // the program analyzes each DataFrame as it builds it, before the write
          if (ctx.tracer.isOn) builtAnalysisMs += df.queryExecution.tracker.phases
            .get("analysis").map(_.durationMs.toDouble).getOrElse(0.0)
        } catch { case e: Throwable => ctx.rep.fail(s"$q threw $e") }
      }
    }
    val passes = passMs.size
    ctx.rep.head("sql_pass_s", Stats.median(passMs.map(_._1)) / 1000, "s")
    ctx.rep.head("sql_query_geomean_ms", Stats.geomean(
      ctx.tracer.calls.filter(_._2 == "queries").groupBy(_._1).values
        .map(g => Stats.median(g.map(_._3).toSeq)).toSeq), "ms")
    ctx.rep.head("sql_passes", passes, "count")
    Main.callMetrics(ctx, passMs, Set("queries"))
    if (ctx.traced) layerMetrics(ctx)
  }

  private def layerMetrics(ctx: Ctx): Unit = {
    val t = ctx.tracer
    val tracedPasses = t.spans.count(_.name == "pass").max(1).toDouble
    val ids = t.spans.filter(_.layer == "queries").map(_.id)
    val phases = ids.flatMap(id => t.planPhases.getOrElse(id, Nil))
    def phase(p: String) = phases.map(_.getOrElse(p, 0.0)).sum / tracedPasses
    val rep = ctx.rep
    rep.set("plans.analysis_ms", phase("analysis") + builtAnalysisMs.sum / tracedPasses)
    rep.set("plans.optimization_ms", phase("optimization"))
    rep.set("plans.planning_ms", phase("planning"))
    rep.set("plans.codegen_compile_ms", ids.map(id => t.codegen.getOrElse(id, (0L, 0.0))._2).sum / tracedPasses)
    rep.set("plans.codegen_classes", ids.map(id => t.codegen.getOrElse(id, (0L, 0.0))._1).sum / tracedPasses)
    val s = Main.taskSums(t.groupsOf("queries"))
    rep.set("plans.jobs_per_query", s("jobs") / math.max(ids.size, 1))
    rep.set("queries.executor_run_ms", s("run_ms") / tracedPasses)
    rep.set("queries.executor_cpu_ms", s("cpu_ms") / tracedPasses)
    rep.set("queries.cpu_ratio", s("cpu_ratio"))
    rep.set("queries.gc_ms", s("gc_ms") / tracedPasses)
    rep.set("queries.shuffle_read_bytes", s("sh_read") / tracedPasses)
    rep.set("queries.shuffle_write_bytes", s("sh_write") / tracedPasses)
    rep.set("queries.shuffle_fetch_wait_ms", s("fetch_wait_ms") / tracedPasses)
    rep.set("queries.spill_bytes", s("spill") / tracedPasses)
    rep.set("queries.peak_exec_memory_bytes", s("peak_mem"))
    rep.set("queries.task_skew", s("skew"))
    rep.set("queries.slot_wait_ms", s("slot_wait_ms"))
    rep.set("queries.tasks", s("tasks") / tracedPasses)
    rep.set("queries.failed_tasks", s("failed_tasks"))
    rep.set("sources.input_bytes", s("in_bytes") / tracedPasses)
    rep.set("sources.input_records", s("in_records") / tracedPasses)
    // the planning phases are the part of each query call spent in `plans`
    val queryMs = t.spans.filter(_.layer == "queries").map(_.ms).sum / tracedPasses
    rep.set("queries.self_ms", queryMs - rep.values("plans.analysis_ms") - phase("optimization") -
      phase("planning"))
  }
}

object SqlBatch {
  /** The mix: aggregation, joins, windows, sketches, a subquery and
    * MATCH_RECOGNIZE, each with a DuckDB oracle. */
  val mix: Seq[String] = Seq(
    "q01_agg_pushdown", "q03_join_agg", "q05_star_join", "q09_full_outer_join",
    "q30_window_rank", "q39_percentiles", "q52_session_window", "q58_cep_match_recognize",
    "q72_having_in_subquery", "q80_tdigest_quantiles")
}
