package perfbench

import java.io.File
import java.lang.management.ManagementFactory

import scala.collection.mutable

import org.apache.spark.sql.SparkSession

/** Everything a workload needs for one run. */
final class Ctx(val spark: SparkSession, val seed: Long, val seconds: Double,
    val traced: Boolean, val tiny: Boolean, val work: File, val home: File, val cpus: Int,
    val tracer: Tracer, val rep: Report) {
  def dir(name: String): String = new File(work, name).getAbsolutePath

  /** Timed passes until `budgetS` has gone by, at least `minPasses`. A
    * traced run records every other pass and leaves the rest plain, so the
    * two can be compared. Returns (pass ms, recorded) per pass. */
  def passes(budgetS: Double, minPasses: Int)(pass: Int => Unit): Seq[(Double, Boolean)] = {
    val out = mutable.ArrayBuffer[(Double, Boolean)]()
    val t0 = System.nanoTime()
    var i = 0
    while (i < minPasses || (System.nanoTime() - t0) / 1e9 < budgetS) {
      tracer.setOn(i % 2 == 0)
      val s = System.nanoTime()
      tracer.call("bench", "pass")(pass(i))
      out += (((System.nanoTime() - s) / 1e6, tracer.isOn))
      i += 1
    }
    tracer.setOn(false)
    out.toSeq
  }
}

trait Workload {
  /** Generate and write the run's inputs (repeated; the median counts). */
  def generate(ctx: Ctx): Unit
  /** Untimed first pass: caches fill and classes load before timing. */
  def warmup(ctx: Ctx): Unit
  /** The timed part, the output checks and the workload's metrics. */
  def measure(ctx: Ctx): Unit
}

object Main {
  private def usage(msg: String): Nothing = {
    System.err.println(s"perfbench: $msg\nusage: perfbench.Main --workload <name> --seed <n> " +
      "--seconds <s> --trace <0|1> --work <dir> --home <benchmark dir> [--tiny]")
    sys.exit(2)
  }

  val workloads: Map[String, () => Workload] = Map(
    "nexmark_stream" -> (() => new NexmarkStream),
    "sql_batch" -> (() => new SqlBatch),
    "curation" -> (() => new Curation))

  def session(cpus: Int, work: File): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.autoBroadcastJoinThreshold", (4 * 1024 * 1024).toString)
      .config("spark.sql.extensions", "graft.plans.GraftExtensions")
      .config("spark.sql.warehouse.dir", new File(work, "warehouse").getAbsolutePath)
      .config("spark.local.dir", new File(work, "spark-local").getAbsolutePath)
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  def main(args: Array[String]): Unit = {
    val opts = args.sliding(2, 2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    val tiny = args.contains("--tiny")
    val name = opts.getOrElse("workload", usage("--workload is required"))
    val make = workloads.getOrElse(name, usage(s"unknown workload $name"))
    val seed = opts.get("seed").flatMap(_.toLongOption).getOrElse(usage("--seed must be an integer"))
    val seconds = opts.get("seconds").flatMap(_.toDoubleOption).filter(_ > 0)
      .getOrElse(usage("--seconds must be a positive number"))
    val traced = opts.get("trace") match {
      case Some("0") => false
      case Some("1") => true
      case _ => usage("--trace must be 0 or 1")
    }
    val work = new File(opts.getOrElse("work", usage("--work is required")))
    work.mkdirs()
    val home = new File(opts.getOrElse("home", usage("--home is required")))
    val cpus = Runtime.getRuntime.availableProcessors()

    val spark = session(cpus, work)
    val rep = new Report
    val runId = f"$name-$seed-${if (traced) "t" else "p"}"
    val tracer = new Tracer(spark, traced, runId)
    val ctx = new Ctx(spark, seed, seconds, traced, tiny, work, home, cpus, tracer, rep)
    val sampler = new JvmSampler
    sampler.start()
    val wl = make()
    val sessionReadyS = (System.currentTimeMillis() -
      ManagementFactory.getRuntimeMXBean.getStartTime) / 1000.0

    // set-up: the JVM and session once, input generation three times (the
    // median counts), the warm-up pass once
    val genS = (1 to 3).map { _ =>
      val t = System.nanoTime(); wl.generate(ctx); (System.nanoTime() - t) / 1e9
    }
    val tw = System.nanoTime()
    wl.warmup(ctx)
    val warmS = (System.nanoTime() - tw) / 1e9
    tracer.calls.clear()
    rep.values("setup_s") = sessionReadyS + Stats.median(genS) + warmS
    rep.head("setup.session_s", sessionReadyS, "s")
    rep.head("setup.generate_s", Stats.median(genS), "s")
    rep.head("setup.warmup_s", warmS, "s")

    wl.measure(ctx)

    tracer.drain()
    sampler.finish()
    val (gcMs, gcCount) = sampler.gc()
    rep.values("peak_rss_mb") = peakRssMb()
    if (traced) {
      rep.set("jvm.gc_ms", gcMs)
      rep.set("jvm.gc_count", gcCount)
      rep.set("jvm.heap_after_gc_peak_mb", sampler.heapAfterGcPeak / 1048576.0)
      val traces = tracer.spans.count(_.name == "pass").max(1)
      tracer.selfMs.foreach { case (layer, ms) =>
        val key = s"$layer.self_ms"
        if (Metrics.perLayer.exists(_._1 == key)) rep.set(key, ms / traces)
      }
      tracer.writeSpans(new File(work, s"spans-$runId.jsonl"))
    }
    spark.stop()
    print(rep, traced)
    sys.exit(0)
  }

  private def peakRssMb(): Double = {
    val src = scala.io.Source.fromFile("/proc/self/status")
    try src.getLines().find(_.startsWith("VmHWM:"))
      .map(_.split("\\s+")(1).toDouble / 1024.0).getOrElse(Double.NaN)
    finally src.close()
  }

  /** A JSON number; a value that could not be measured prints as 0 and
    * has already failed the run. */
  private def num(v: Double): String =
    if (v.isNaN || v.isInfinite) "0" else java.math.BigDecimal.valueOf(v).toPlainString

  private def print(rep: Report, traced: Boolean): Unit = {
    val wanted = if (traced) Metrics.perLayer else Metrics.endToEnd
    // a layer this workload does not load did no work: it reads 0
    val values = wanted.map { case (n, u) => (n, rep.values.getOrElse(n, 0.0), u) }
    val unmeasured = if (traced) values.filter(v => v._2.isNaN || v._2.isInfinite)
      else values.filter(v => !rep.values.contains(v._1) || v._2.isNaN || v._2.isInfinite || v._2 <= 0)
    if (unmeasured.nonEmpty) rep.fail(s"not measured: ${unmeasured.map(_._1).mkString(", ")}")
    rep.notes.foreach(n => println(s"# $n"))
    rep.headline.foreach { case (n, v, u) => println(f"# $n%-32s ${num(v)}%16s $u") }
    println(f"# ${"failed_ratio"}%-32s ${num(rep.failed.toDouble / math.max(rep.attempted, 1L))}%16s ratio")
    values.foreach { case (n, v, u) => println(f"# $n%-32s ${num(v)}%16s $u") }
    val metrics = values.map { case (n, v, u) => s""""$n": {"value": ${num(v)}, "unit": "$u"}""" }
    println(s"""{"correct": ${rep.failed == 0}, "attempted": ${math.max(rep.attempted, 1L)}, """ +
      s""""failed": ${rep.failed}, "metrics": {${metrics.mkString(", ")}}}""")
  }

  // ---- helpers shared by the workloads -------------------------------------

  /** Apply `f` to every element on its own thread; results in order. */
  def parallel[A, B](xs: Seq[A])(f: A => B): Seq[B] = {
    import scala.concurrent.{Await, Future}
    import scala.concurrent.ExecutionContext.Implicits.global
    import scala.concurrent.duration.Duration
    xs.map(x => Future(f(x))).map(Await.result(_, Duration.Inf))
  }

  /** pass_s, call_geomean_ms and the two latency percentiles of a workload
    * whose unit of response is one call, plus the tracing overhead. The
    * percentiles are taken over the calls of the mix, each at its median
    * time: the typical call and the slowest. */
  def callMetrics(ctx: Ctx, passMs: Seq[(Double, Boolean)], layers: Set[String]): Unit = {
    val calls = ctx.tracer.calls.filter(c => layers(c._2))
    def summarize(traced: Option[Boolean]): Map[String, Double] = {
      val ps = passMs.filter(p => traced.forall(_ == p._2)).map(_._1)
      val cs = calls.filter(c => traced.forall(_ == c._4))
      val perCall = cs.groupBy(_._1).values.map(g => Stats.median(g.map(_._3).toSeq)).toSeq
      Map("pass_s" -> Stats.median(ps) / 1000.0,
        "call_geomean_ms" -> Stats.geomean(perCall),
        "latency_p50_ms" -> Stats.median(perCall),
        "latency_p99_ms" -> Stats.percentile(perCall, 99))
    }
    if (!ctx.traced) {
      summarize(None).foreach { case (k, v) => ctx.rep.values(k) = v }
      calls.groupBy(_._1).toSeq.sortBy(_._1).foreach { case (name, g) =>
        ctx.rep.head(s"call $name", Stats.median(g.map(_._3).toSeq), "ms")
      }
    } else overhead(ctx, summarize(Some(true)), summarize(Some(false)))
  }

  def overhead(ctx: Ctx, on: Map[String, Double], off: Map[String, Double]): Unit =
    on.foreach { case (k, v) =>
      val base = off.getOrElse(k, Double.NaN)
      if (!base.isNaN && base > 0) ctx.rep.set(s"overhead.$k", v / base)
    }

  /** Sums over the task metrics of the given job groups, per traced pass. */
  def taskSums(groups: Seq[GroupAgg]): Map[String, Double] = {
    val cpuMs = groups.map(_.cpuNs).sum / 1e6
    val runMs = groups.map(_.runMs).sum.toDouble
    val skews = groups.filter(_.durations.nonEmpty).map { g =>
      val med = Stats.median(g.durations.map(_.toDouble).toSeq)
      g.durations.max / math.max(med, 1.0)
    }
    Map("run_ms" -> runMs, "cpu_ms" -> cpuMs,
      "cpu_ratio" -> (if (runMs > 0) cpuMs / runMs else 0.0),
      "gc_ms" -> groups.map(_.gcMs).sum.toDouble,
      "in_bytes" -> groups.map(_.inBytes).sum.toDouble,
      "in_records" -> groups.map(_.inRecords).sum.toDouble,
      "sh_read" -> groups.map(_.shReadBytes).sum.toDouble,
      "sh_write" -> groups.map(_.shWriteBytes).sum.toDouble,
      "fetch_wait_ms" -> groups.map(_.fetchWaitMs).sum.toDouble,
      "spill" -> groups.map(_.spillBytes).sum.toDouble,
      "peak_mem" -> (if (groups.isEmpty) 0.0 else groups.map(_.peakExecMem).max.toDouble),
      "skew" -> (if (skews.isEmpty) 0.0 else Stats.median(skews)),
      "slot_wait_ms" -> Stats.median(groups.flatMap(_.slotWaits).map(_.toDouble)),
      "tasks" -> groups.map(_.tasks).sum.toDouble,
      "failed_tasks" -> groups.map(_.failedTasks).sum.toDouble,
      "jobs" -> groups.map(_.jobs).sum.toDouble)
  }
}
