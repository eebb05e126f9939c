package perfbench

import scala.collection.mutable

/** Names and units of every metric the benchmark prints. BENCHMARK.json
  * lists the same names; the self-check compares the two. */
object Metrics {
  /** Printed by a plain run, on every workload. */
  val endToEnd: Seq[(String, String)] = Seq(
    "setup_s" -> "s",
    "peak_rss_mb" -> "MB",
    "pass_s" -> "s",
    "call_geomean_ms" -> "ms",
    "latency_p50_ms" -> "ms",
    "latency_p99_ms" -> "ms")

  /** Printed by a traced run, on every workload; a layer the workload does
    * not load reads 0. */
  val perLayer: Seq[(String, String)] = Seq(
    // streaming, drain phase
    "streaming.add_batch_ms" -> "ms",
    "streaming.state_rows" -> "count",
    "streaming.state_memory_bytes" -> "bytes",
    "streaming.state_updates_ms" -> "ms",
    "streaming.state_removals_ms" -> "ms",
    "streaming.drain_eps.q3" -> "events/s",
    "streaming.drain_eps.q5" -> "events/s",
    "streaming.drain_eps.q7" -> "events/s",
    "streaming.drain_eps.q8" -> "events/s",
    "streaming.drain_eps.q11" -> "events/s",
    "streaming.drain_eps_1slot" -> "events/s",
    // streaming, paced phase
    "streaming.batch_ms_p50" -> "ms",
    "streaming.batch_ms_p99" -> "ms",
    "streaming.query_planning_ms" -> "ms",
    "streaming.wal_commit_ms" -> "ms",
    "streaming.commit_offsets_ms" -> "ms",
    "streaming.latest_offset_ms" -> "ms",
    "streaming.get_batch_ms" -> "ms",
    "streaming.state_commit_ms" -> "ms",
    "streaming.queue_wait_ms_p50" -> "ms",
    "streaming.batches" -> "count",
    "streaming.backlog_events_end" -> "count",
    "streaming.rows_dropped_late" -> "count",
    "streaming.self_ms" -> "ms",
    "gen.lag_ms_p99" -> "ms",
    "gen.lag_ms_max" -> "ms",
    // plans
    "plans.analysis_ms" -> "ms",
    "plans.optimization_ms" -> "ms",
    "plans.planning_ms" -> "ms",
    "plans.codegen_compile_ms" -> "ms",
    "plans.codegen_classes" -> "count",
    "plans.jobs_per_query" -> "count",
    // queries
    "queries.executor_run_ms" -> "ms",
    "queries.executor_cpu_ms" -> "ms",
    "queries.cpu_ratio" -> "ratio",
    "queries.gc_ms" -> "ms",
    "queries.shuffle_read_bytes" -> "bytes",
    "queries.shuffle_write_bytes" -> "bytes",
    "queries.shuffle_fetch_wait_ms" -> "ms",
    "queries.spill_bytes" -> "bytes",
    "queries.peak_exec_memory_bytes" -> "bytes",
    "queries.task_skew" -> "ratio",
    "queries.slot_wait_ms" -> "ms",
    "queries.tasks" -> "count",
    "queries.failed_tasks" -> "count",
    "queries.self_ms" -> "ms",
    // sources
    "sources.input_bytes" -> "bytes",
    "sources.input_records" -> "count",
    // dedup
    "dedup.minhash_s" -> "s",
    "dedup.clusters_s" -> "s",
    "dedup.candidate_pairs" -> "count",
    "dedup.accepted_pairs" -> "count",
    "dedup.pair_yield" -> "ratio",
    "dedup.shuffle_bytes" -> "bytes",
    "dedup.spill_bytes" -> "bytes",
    "dedup.cpu_ms" -> "ms",
    "dedup.task_skew" -> "ratio",
    "dedup.band_index_write_s" -> "s",
    "dedup.increment_s" -> "s",
    "dedup.increment_shuffle_bytes" -> "bytes",
    "dedup.self_ms" -> "ms",
    // similarity
    "similarity.exact_s" -> "s",
    "similarity.ivf_s" -> "s",
    "similarity.lsh_s" -> "s",
    "similarity.ivfpq_query_s" -> "s",
    "similarity.ivfpq_build_s" -> "s",
    "similarity.recall_ivf" -> "ratio",
    "similarity.recall_lsh" -> "ratio",
    "similarity.recall_ivfpq" -> "ratio",
    "similarity.shuffle_bytes" -> "bytes",
    "similarity.spill_bytes" -> "bytes",
    "similarity.cpu_ms" -> "ms",
    "similarity.task_skew" -> "ratio",
    "similarity.self_ms" -> "ms",
    // the JVM and the benchmark itself
    "jvm.gc_ms" -> "ms",
    "jvm.gc_count" -> "count",
    "jvm.heap_after_gc_peak_mb" -> "MB",
    "bench.self_ms" -> "ms",
    // traced over plain, measured in the same run
    "overhead.pass_s" -> "ratio",
    "overhead.call_geomean_ms" -> "ratio",
    "overhead.latency_p50_ms" -> "ratio",
    "overhead.latency_p99_ms" -> "ratio")

  private val units: Map[String, String] = (endToEnd ++ perLayer).toMap
  def unit(name: String): String = units(name)
}

/** What a run measured and whether its outputs were right. */
final class Report {
  val values = mutable.LinkedHashMap[String, Double]()
  /** The workload's own headline figures, printed as text above the result. */
  val headline = mutable.ArrayBuffer[(String, Double, String)]()
  val notes = mutable.ArrayBuffer[String]()
  var attempted = 0L
  var failed = 0L

  def set(name: String, v: Double): Unit = {
    Metrics.unit(name) // unknown names fail loudly
    values(name) = v
  }
  def head(name: String, v: Double, unit: String): Unit = headline += ((name, v, unit))
  def attempt(): Unit = synchronized { attempted += 1 }
  def fail(why: String): Unit = synchronized { failed += 1; notes += s"FAILED: $why" }

  /** A failed output check counts against the call it checked. */
  def check(what: String)(ok: => Boolean): Unit = {
    val good = try ok catch { case e: Throwable => synchronized(notes += s"$what: $e"); false }
    if (!good) fail(s"check $what")
  }
}
