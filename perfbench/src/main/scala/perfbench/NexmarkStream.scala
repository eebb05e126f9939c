package perfbench

import java.io.File
import java.time.Instant
import java.util.UUID

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Encoder, Encoders, Row}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQueryProgress, Trigger}

import graft.queries.{Nexmark, NexmarkStreaming}

/** Seeded Nexmark `(id, ts)` events. The id decides the event kind, as in
  * the program's generator; the seed decides which events arrive out of
  * order (still within the 10 s watermark) and which arrive late (behind
  * it, so the stateful operators drop them). */
object Events {
  private def splitmix(x0: Long): Long = {
    var x = x0 + 0x9e3779b97f4a7c15L
    x = (x ^ (x >>> 30)) * 0xbf58476d1ce4e5b9L
    x = (x ^ (x >>> 27)) * 0x94d049bb133111ebL
    x ^ (x >>> 31)
  }
  def unit(seed: Long, j: Long, salt: Long): Double =
    (splitmix(splitmix(seed ^ salt) + j) >>> 11) * (1.0 / (1L << 53))

  /** The program's Nexmark epoch, 2024-01-01. */
  val EpochMs = 1704067200000L
  val OutOfOrderShare = 0.10
  val OutOfOrderMaxMs = 3000.0
  val LateShare = 0.005
  /** Ten minutes of event time: far behind the watermark of a query that
    * keeps up, so the stateful operators drop these events. */
  val LateMs = 600000L

  /** A drain backlog: the program's 10 ms event tick, a share out of order. */
  def backlog(seed: Long, n: Int): Array[(Long, Long)] = Array.tabulate(n) { i =>
    val j = i.toLong
    val jitter = if (unit(seed, j, 1) < OutOfOrderShare) (unit(seed, j, 2) * OutOfOrderMaxMs).toLong else 0L
    (j, EpochMs + j * 10 - jitter)
  }

  /** Paced event `j`: event time runs on the program's 10 ms tick, so
    * windows close within a short phase; `late` events come only after
    * `lateAfterMs` of the phase. Returns (id, ts ms, late). */
  def paced(seed: Long, j: Long, dueMs: Double, lateAfterMs: Double): (Long, Long, Boolean) = {
    val ts = EpochMs + 86400000L + j * 10
    val late = dueMs >= lateAfterMs && unit(seed, j, 3) < LateShare
    val jitter =
      if (late) LateMs
      else if (unit(seed, j, 4) < OutOfOrderShare) (unit(seed, j, 5) * OutOfOrderMaxMs).toLong
      else 0L
    (1000000000L + j, ts - jitter, late)
  }
}

/** nexmark_stream: the Nexmark stateful queries under Structured Streaming.
  * Drain phase: a seeded backlog goes through q3, q5, q7, q8 and q11 one at
  * a time, in fixed-size micro-batches. Paced phase: an open loop feeds q5
  * at a fixed rate; latency runs from each event's due time to the end of
  * the micro-batch that committed it. */
final class NexmarkStream extends Workload {
  private val queries = Seq("q3", "q5", "q7", "q8", "q11")
  private implicit val enc: Encoder[(Long, Long)] = Encoders.tuple(Encoders.scalaLong, Encoders.scalaLong)

  private def backlogSize(ctx: Ctx) = if (ctx.tiny) 8000 else 40000
  private def batchRows(ctx: Ctx) = if (ctx.tiny) 2000 else 20000
  /** Events per second in the paced phase, below saturation on 4 cores. */
  private def rate(ctx: Ctx) = if (ctx.tiny) 2000.0 else 10000.0
  private val WarmS = 2.0
  /** The paced query starts a micro-batch every 500 ms (or as soon as the
    * previous one ends, if it ran longer), as a deployment that bounds its
    * batch rate would. */
  private val TriggerMs = 500L

  private var events: Array[(Long, Long)] = Array.empty

  def generate(ctx: Ctx): Unit = events = Events.backlog(ctx.seed, backlogSize(ctx))

  private def configure(ctx: Ctx): Unit = {
    // the settings NexmarkStreaming.run applies to its own streaming runs
    val conf = ctx.spark.conf
    conf.set("spark.sql.streaming.checkpointFileManagerClass",
      classOf[graft.streaming.LocalCheckpointFileManager].getName)
    conf.set("spark.sql.streaming.checkpoint.fileChecksum.enabled", "false")
    conf.set("spark.sql.streaming.noDataMicroBatches.enabled", "true")
  }

  private def source(ctx: Ctx, parts: Int): (MemoryStream[(Long, Long)], DataFrame) = {
    val mem = MemoryStream[(Long, Long)](ctx.spark, parts)
    (mem, Nexmark.eventsFrom(mem.toDF().select(col("_1").as("id"),
      timestamp_millis(col("_2")).as("ts"))))
  }

  /** The same events as a static frame, for the batch answers. */
  private def staticEvents(ctx: Ctx, evs: Seq[(Long, Long)]): DataFrame =
    Nexmark.eventsFrom(ctx.spark.createDataFrame(evs).toDF("id", "ms")
      .select(col("id"), timestamp_millis(col("ms")).as("ts")))

  private def batchPlan(ctx: Ctx, q: String, evs: Seq[(Long, Long)]): Array[Row] =
    NexmarkStreaming.plans(staticEvents(ctx, evs))(q).collect()

  private def deleteTree(f: File): Unit = {
    Option(f.listFiles).foreach(_.foreach(deleteTree))
    f.delete()
  }

  /** Drain `evs` through query `q` in `rows`-event micro-batches; returns
    * (ms, output rows, run id). */
  private def drain(ctx: Ctx, q: String, evs: Array[(Long, Long)], rows: Int,
      parts: Int): (Double, Array[Row], String) = {
    val (mem, ev) = source(ctx, parts)
    val name = s"drain_${q}_${UUID.randomUUID().toString.replace("-", "")}"
    val ckpt = new File(ctx.dir(s"checkpoints/$name"))
    val t0 = System.nanoTime()
    val sq = NexmarkStreaming.plans(ev)(q).writeStream.format("memory").queryName(name)
      .option("checkpointLocation", ckpt.getAbsolutePath).start()
    ctx.tracer.alias(sq.runId.toString)
    evs.grouped(rows).foreach { b => mem.addData(b.toSeq); sq.processAllAvailable() }
    val ms = (System.nanoTime() - t0) / 1e6
    sq.stop()
    val out = ctx.spark.table(name).collect()
    ctx.spark.catalog.dropTempView(name)
    deleteTree(ckpt)
    (ms, out, sq.runId.toString)
  }

  def warmup(ctx: Ctx): Unit = {
    configure(ctx)
    // the five queries warm up side by side: their cost is mostly query
    // start and code generation, which overlap well
    val small = events.take(events.length / 5)
    Main.parallel(queries)(q => drain(ctx, q, small, small.length, ctx.cpus))
  }

  /** q7 keeps one of the bids tied at a window's top price (`max_by`), and
    * which one depends on arrival order; so the batch answer for q7 is
    * every bid tied at the top price of its window. */
  private def q7Winners(ctx: Ctx, evs: Seq[(Long, Long)]): Array[Row] = {
    val b = Nexmark.bidsFrom(staticEvents(ctx, evs))
      .withColumn("win_start", window(col("ts"), "10 seconds").getField("start"))
    val top = b.groupBy("win_start").agg(max(col("price")).as("price"))
    b.join(top, Seq("win_start", "price"))
      .select(col("win_start"), col("auction"), col("bidder"), col("price")).collect()
  }

  /** Multiset containment: every streamed row is a row of the batch plan. */
  private def subset(stream: Array[Row], batch: Array[Row]): Boolean = {
    val have = batch.groupMapReduce(Fingerprint.canon)(_ => 1)(_ + _)
    stream.groupMapReduce(Fingerprint.canon)(_ => 1)(_ + _)
      .forall { case (k, n) => have.getOrElse(k, 0) >= n }
  }

  private final case class Batch(endOffset: Long, startMs: Long, endMs: Long, p: StreamingQueryProgress)

  private final case class Paced(lat: Array[Double], queue: Array[Double], lag: Seq[Double],
      batches: Seq[Batch], backlogEnd: Long, out: Array[Row], kept: Seq[(Long, Long)])

  /** The open loop: events are added when due, whatever the query is doing. */
  private def paced(ctx: Ctx, durS: Double): Paced = {
    val r = rate(ctx)
    val (mem, ev) = source(ctx, ctx.cpus)
    val name = s"paced_${UUID.randomUUID().toString.replace("-", "")}"
    val ckpt = new File(ctx.dir(s"checkpoints/$name"))
    val sq = NexmarkStreaming.plans(ev)("q5").writeStream.format("memory").queryName(name)
      .option("checkpointLocation", ckpt.getAbsolutePath)
      .trigger(Trigger.ProcessingTime(TriggerMs)).start()
    ctx.tracer.alias(sq.runId.toString)
    val lateAfterMs = (WarmS + 1.0) * 1000
    val chunks = mutable.ArrayBuffer[(Long, Long, Long)]() // (first j, end j, send ns)
    val kept = mutable.ArrayBuffer[(Long, Long)]()
    val total = (durS * r).toLong
    val t0n = System.nanoTime()
    val t0ms = System.currentTimeMillis()
    def dueMs(j: Long) = j * 1000.0 / r
    var sent = 0L
    while (sent < total) {
      val sendNs = System.nanoTime()
      val due = math.min(total, ((sendNs - t0n) / 1e9 * r).toLong)
      if (due > sent) {
        val data = (sent until due).map { j =>
          val (id, ts, late) = Events.paced(ctx.seed, j, dueMs(j), lateAfterMs)
          if (!late) kept += ((id, ts))
          (id, ts)
        }
        mem.addData(data)
        chunks += ((sent, due, sendNs))
        sent = due
      }
      Thread.sleep(1)
    }
    val endMs = t0ms + (System.nanoTime() - t0n) / 1e6
    sq.processAllAvailable()
    sq.stop()
    val out = ctx.spark.table(name).collect()
    ctx.spark.catalog.dropTempView(name)
    deleteTree(ckpt)
    ctx.tracer.drain()

    val batches = ctx.tracer.progress.progress(sq.runId.toString).map { p =>
      val start = Instant.parse(p.timestamp).toEpochMilli
      val end = start + p.durationMs.asScala.get("triggerExecution").map(_.longValue).getOrElse(0L)
      Batch(Option(p.sources.head.endOffset).map(_.trim.toLong).getOrElse(-1L), start, end, p)
    }.sortBy(_.p.batchId)
    val ends = batches.map(_.endOffset).toArray
    // the batch that committed chunk c is the first whose end offset reaches c
    def committer(c: Int): Option[Batch] = {
      val i = java.util.Arrays.binarySearch(ends, c.toLong)
      val k = if (i >= 0) { var x = i; while (x > 0 && ends(x - 1) == c) x -= 1; x } else -i - 1
      if (k < batches.size) Some(batches(k)) else None
    }
    val lat = mutable.ArrayBuffer[Double]()
    val queue = mutable.ArrayBuffer[Double]()
    val lag = mutable.ArrayBuffer[Double]()
    var backlogEnd = 0L
    var uncommitted = 0L
    chunks.zipWithIndex.foreach { case ((a, b, sendNs), c) =>
      committer(c) match {
        case Some(bt) =>
          if (bt.endMs > endMs) backlogEnd += b - a
          var j = a
          while (j < b) {
            val due = dueMs(j)
            if (due >= WarmS * 1000) {
              lat += bt.endMs - (t0ms + due)
              queue += bt.startMs - (t0ms + due)
            }
            j += 1
          }
        case None => uncommitted += b - a
      }
      if (dueMs(a) >= WarmS * 1000) lag += (sendNs - t0n) / 1e6 - dueMs(a)
    }
    if (uncommitted > 0) ctx.rep.fail(s"paced q5: $uncommitted events never committed")
    Paced(lat.toArray, queue.toArray, lag.toSeq,
      batches.filter(_.startMs >= t0ms + WarmS * 1000), backlogEnd, out, kept.toSeq)
  }

  def measure(ctx: Ctx): Unit = {
    val rep = ctx.rep
    val t0 = System.nanoTime()
    // (query, ms, run id, traced) of every drain
    val drains = mutable.ArrayBuffer[(String, Double, String, Boolean)]()
    val firstOut = mutable.Map[String, Array[Row]]()
    val passMs = ctx.passes(ctx.seconds * 0.4, minPasses = if (ctx.traced) 2 else 1) { i =>
      queries.foreach { q =>
        rep.attempt()
        try {
          val (ms, out, runId) = ctx.tracer.call("streaming", s"drain.$q") {
            drain(ctx, q, events, batchRows(ctx), ctx.cpus)
          }
          drains += ((q, ms, runId, ctx.tracer.isOn))
          if (i == 0) firstOut(q) = out
        } catch { case e: Throwable => rep.fail(s"drain $q threw $e") }
      }
    }
    val drainS = (System.nanoTime() - t0) / 1e9
    // the paced phase gets the rest of the measured time, at least 5 s
    // after its warm-up; a traced run splits it into a plain half and a
    // traced half
    val pacedS = math.max(WarmS + 5.0, ctx.seconds - drainS)
    val pacedRuns: Seq[(Boolean, Paced)] =
      if (!ctx.traced) Seq(false -> paced(ctx, pacedS))
      else Seq(false, true).map { on =>
        ctx.tracer.setOn(on)
        rep.attempt()
        val p = ctx.tracer.call("streaming", "paced.q5")(paced(ctx, WarmS + pacedS / 2))
        ctx.tracer.setOn(false)
        on -> p
      }
    if (!ctx.traced) rep.attempt()

    // output checks: each streamed result is a non-empty subset of the same
    // plan run as a batch over the same events
    val reference = Main.parallel(queries.filter(firstOut.contains)) { q =>
      q -> (if (q == "q7") q7Winners(ctx, events.toSeq) else batchPlan(ctx, q, events.toSeq))
    }
    reference.foreach { case (q, batch) =>
      val out = firstOut(q)
      rep.check(s"drain $q streamed ${out.length} rows, a non-empty subset of the batch plan") {
        out.nonEmpty && subset(out, batch)
      }
    }
    pacedRuns.foreach { case (_, p) =>
      rep.check(s"paced q5 streamed ${p.out.length} rows, a non-empty subset of the batch plan") {
        p.out.nonEmpty && subset(p.out, batchPlan(ctx, "q5", p.kept))
      }
      rep.check(s"paced q5 yielded ${p.lat.length} latency samples (>= 1000)")(p.lat.length >= 1000)
    }

    def latency(p: Paced, pct: Double): Double = {
      java.util.Arrays.sort(p.lat)
      Stats.percentileSorted(p.lat, pct)
    }
    def drainMetrics(traced: Option[Boolean]): Map[String, Double] = {
      val ds = drains.filter(d => traced.forall(_ == d._4))
      val perQuery = queries.map(q => q -> Stats.median(ds.filter(_._1 == q).map(_._2).toSeq)).toMap
      Map("pass_s" -> Stats.median(passMs.filter(p => traced.forall(_ == p._2)).map(_._1)) / 1000.0,
        "call_geomean_ms" -> Stats.geomean(perQuery.values.toSeq)) ++
        perQuery.map { case (q, ms) => s"eps.$q" -> events.length / (ms / 1000.0) }
    }
    val n = events.length
    if (!ctx.traced) {
      val d = drainMetrics(None)
      val p = pacedRuns.head._2
      rep.values("pass_s") = d("pass_s")
      rep.values("call_geomean_ms") = d("call_geomean_ms")
      rep.values("latency_p50_ms") = latency(p, 50)
      rep.values("latency_p99_ms") = latency(p, 99)
      rep.head("stream_drain_eps", n * queries.size / d("pass_s"), "events/s")
      rep.head("stream_latency_p50_ms", latency(p, 50), "ms")
      rep.head("stream_latency_p99_ms", latency(p, 99), "ms")
      rep.head("stream_latency_samples", p.lat.length, "count")
      rep.head("stream_rate", rate(ctx), "events/s")
    } else {
      val (on, off) = (drainMetrics(Some(true)), drainMetrics(Some(false)))
      val (pOff, pOn) = (pacedRuns(0)._2, pacedRuns(1)._2)
      Main.overhead(ctx,
        Map("pass_s" -> on("pass_s"), "call_geomean_ms" -> on("call_geomean_ms"),
          "latency_p50_ms" -> latency(pOn, 50), "latency_p99_ms" -> latency(pOn, 99)),
        Map("pass_s" -> off("pass_s"), "call_geomean_ms" -> off("call_geomean_ms"),
          "latency_p50_ms" -> latency(pOff, 50), "latency_p99_ms" -> latency(pOff, 99)))
      layerMetrics(ctx, drains.filter(_._4).toSeq, on, pOn)
    }
  }

  private def layerMetrics(ctx: Ctx, traced: Seq[(String, Double, String, Boolean)],
      eps: Map[String, Double], p: Paced): Unit = {
    val rep = ctx.rep
    val tracedPasses = math.max(1.0, traced.size.toDouble / queries.size)
    def dur(pr: StreamingQueryProgress, k: String): Double =
      pr.durationMs.asScala.get(k).map(_.doubleValue).getOrElse(0.0)
    // drain: per-pass totals over the traced drains
    val progress = traced.map(d => d._1 -> ctx.tracer.progress.progress(d._3))
    val all = progress.flatMap(_._2)
    rep.set("streaming.add_batch_ms", all.map(dur(_, "addBatch")).sum / tracedPasses)
    rep.set("streaming.state_updates_ms",
      all.flatMap(_.stateOperators).map(_.allUpdatesTimeMs.toDouble).sum / tracedPasses)
    rep.set("streaming.state_removals_ms",
      all.flatMap(_.stateOperators).map(_.allRemovalsTimeMs.toDouble).sum / tracedPasses)
    val lastOf = progress.flatMap { case (_, ps) => ps.lastOption }
    rep.set("streaming.state_rows",
      lastOf.flatMap(_.stateOperators).map(_.numRowsTotal.toDouble).sum / tracedPasses)
    rep.set("streaming.state_memory_bytes", progress.map { case (_, ps) =>
      ps.flatMap(_.stateOperators).map(_.memoryUsedBytes.toDouble).maxOption.getOrElse(0.0)
    }.sum / tracedPasses)
    queries.foreach(q => rep.set(s"streaming.drain_eps.$q", eps(s"eps.$q")))
    // single-slot baseline: one input partition, one shuffle partition
    val half = events.take(events.length / 2)
    val prev = ctx.spark.conf.get("spark.sql.shuffle.partitions")
    ctx.spark.conf.set("spark.sql.shuffle.partitions", "1")
    val oneSlotMs = try queries.map(q => drain(ctx, q, half, batchRows(ctx), 1)._1).sum
      finally ctx.spark.conf.set("spark.sql.shuffle.partitions", prev)
    rep.set("streaming.drain_eps_1slot", half.length * queries.size / (oneSlotMs / 1000.0))

    // paced: per micro-batch after the warm-up
    val bs = p.batches.map(_.p)
    def mean(xs: Seq[Double]) = if (xs.isEmpty) 0.0 else xs.sum / xs.size
    rep.set("streaming.batch_ms_p50", Stats.percentile(bs.map(dur(_, "triggerExecution")), 50))
    rep.set("streaming.batch_ms_p99", Stats.percentile(bs.map(dur(_, "triggerExecution")), 99))
    rep.set("streaming.query_planning_ms", mean(bs.map(dur(_, "queryPlanning"))))
    rep.set("streaming.wal_commit_ms", mean(bs.map(dur(_, "walCommit"))))
    rep.set("streaming.commit_offsets_ms", mean(bs.map(dur(_, "commitOffsets"))))
    rep.set("streaming.latest_offset_ms", mean(bs.map(dur(_, "latestOffset"))))
    rep.set("streaming.get_batch_ms", mean(bs.map(dur(_, "getBatch"))))
    rep.set("streaming.state_commit_ms", mean(bs.map(_.stateOperators.map(_.commitTimeMs.toDouble).sum)))
    java.util.Arrays.sort(p.queue)
    rep.set("streaming.queue_wait_ms_p50", Stats.percentileSorted(p.queue, 50))
    rep.set("streaming.batches", bs.size)
    rep.set("streaming.backlog_events_end", p.backlogEnd)
    rep.set("streaming.rows_dropped_late",
      bs.flatMap(_.stateOperators).map(_.numRowsDroppedByWatermark.toDouble).sum)
    rep.set("gen.lag_ms_p99", Stats.percentile(p.lag, 99))
    rep.set("gen.lag_ms_max", if (p.lag.isEmpty) 0.0 else p.lag.max)

    // for information only: the Beam DirectRunner figures of BASELINE.md
    // (100k events, streaming SMOKE suite); different engine and hardware
    val directRunner = Map("q3" -> 25348.5, "q5" -> 20173.5, "q7" -> 823.5,
      "q8" -> 40273.9, "q11" -> 22655.2)
    queries.foreach { q =>
      rep.notes += f"drain $q%-4s ${eps(s"eps.$q")}%12.1f events/s   DirectRunner ${directRunner(q)}%10.1f events/s"
    }
  }
}
