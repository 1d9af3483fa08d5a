package graftbench

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.Row
import org.apache.spark.sql.streaming.Trigger

import graft.ops.Decide

/** `maint_backlog`: a closed-loop drain. Every table starts with many
  * small files whose commit events are already published; a quarter of
  * the tables hold fewer commits than the threshold but stale ones, so the
  * time-threshold path fires too. One `Trigger.AvailableNow` run decides
  * and dispatches every table, `Compact` rewrites them, and a fixed
  * Q1-style reader runs over all tables before and after, so a faster
  * compaction that leaves worse files shows as a slower read. After one
  * warm-up round, whose time is set-up, a run repeats the round (each
  * writes its own backlog) until `--seconds` of measured time have
  * passed. */
object Backlog {
  final case class Params(tables: Int, files: Int, staleTables: Int,
      staleFiles: Int, rows: Int, minRounds: Int)
  val Full = Params(tables = 6, files = 30, staleTables = 2, staleFiles = 6,
    rows = 300, minRounds = 2)
  val Tiny = Params(tables = 4, files = 12, staleTables = 1, staleFiles = 3,
    rows = 50, minRounds = 1)

  private val FreshMs = Decide.NowMs - 2 * 3600 * 1000L
  private val StaleMs = Decide.NowMs - 5 * 3600 * 1000L

  def run(ctx: Ctx, p: Params): Result = {
    val res = new Result
    val setups, drains, evRates, mbRates, readsBefore, readsAfter = ArrayBuffer.empty[Double]
    val dispatch50, dispatch90, done50, done90 = ArrayBuffer.empty[Double]
    var measured = 0.0
    val w0 = Clock.nowMs
    runRound(ctx, p, 0, res)
    val warmS = (Clock.nowMs - w0) / 1e3
    var round = 0
    while (round < p.minRounds || measured < ctx.seconds * 1000.0) {
      val m = runRound(ctx, p, round + 1, res)
      setups += m("setup_ms") / 1e3
      drains += m("drain_ms") / 1e3
      evRates += m("events_per_s")
      mbRates += m("mb_per_s")
      readsBefore += m("read_before_ms")
      readsAfter += m("read_after_ms")
      val toDispatch = m.collect { case (k, v) if k.startsWith("dispatch:") => v }.toSeq
      val toDone = m.collect { case (k, v) if k.startsWith("done:") => v }.toSeq
      dispatch50 += Stats.pct(toDispatch, 0.5)
      dispatch90 += Stats.pct(toDispatch, 0.9)
      done50 += Stats.pct(toDone, 0.5)
      done90 += Stats.pct(toDone, 0.9)
      measured += m("measured_ms")
      round += 1
    }
    res.e2e("setup_s") = Stats.median(setups.toSeq) + warmS
    // Percentiles over the tables of one round; the median over rounds.
    res.e2e("dispatch_p50_ms") = Stats.median(dispatch50.toSeq)
    res.layer("dispatch_p90_ms") = Stats.median(dispatch90.toSeq)
    res.e2e("done_p50_ms") = Stats.median(done50.toSeq)
    res.layer("done_p90_ms") = Stats.median(done90.toSeq)
    res.e2e("read_ms") = Stats.median(readsAfter.toSeq)
    res.layer("drain_s") = Stats.median(drains.toSeq)
    res.layer("events_per_s") = Stats.median(evRates.toSeq)
    res.layer("compact_mb_per_s") = Stats.median(mbRates.toSeq)
    res.layer("read_before_ms") = Stats.median(readsBefore.toSeq)
    res.layer("read_after_ms") = Stats.median(readsAfter.toSeq)
    // Every commit was due at the drain start, so the per-trigger view
    // is the per-table one.
    res.layer("loop.commit_to_dispatch_p50_ms") = res.e2e("dispatch_p50_ms")
    res.layer("loop.commit_to_dispatch_p90_ms") = res.layer("dispatch_p90_ms")
    res.layer("loop.commit_to_compacted_p50_ms") = res.e2e("done_p50_ms")
    res.layer("loop.commit_to_compacted_p90_ms") = res.layer("done_p90_ms")
    res.detail("rounds") = round
    // The warm-up round's reads are tagged too.
    res.detail("reads_before") = round + 1
    res.detail("reads_after") = (round + 1) * 3
    res.detail("setup_inputs_s") = setups.toSeq
    res.detail("setup_warm_s") = warmS
    res.detail("setup_harness_frac") = Stats.median(setups.toSeq) / res.e2e("setup_s")
    res.detail("drain_runs_s") = drains.toSeq
    res
  }

  /** One round; the last round's layer metrics are the ones reported. */
  private def runRound(ctx: Ctx, p: Params, round: Int, res: Result): Map[String, Double] = {
    val out = Map.newBuilder[String, Double]
    val tables = (0 until p.tables).map(_.toLong)
    val stale = tables.sortBy(t => Data.hash(ctx.seed, 13, t)).take(p.staleTables).toSet
    val commits = tables.flatMap { t =>
      val n = if (stale(t)) p.staleFiles else p.files
      (0 until n).map { j =>
        val base = if (stale(t)) StaleMs else FreshMs
        Ev(1000000L + t * 1000 + j, base + j * 1000L, t,
          if (Data.hash(ctx.seed, 17, t, j) % 2 == 0) "click" else "view")
      }
    }

    val s0 = Clock.nowMs
    val loop = new Loop(ctx.work.resolve(s"backlog-$round"), ctx.spark, p.rows, ctx.plantDuplicate)
    loop.replaceTs = _ => Decide.NowMs - 3600 * 1000L
    loop.createTables(tables)
    Data.writeEvents(loop.src.resolve("boot.parquet"),
      tables.map(t => Ev(900000L + t, StaleMs - 3600 * 1000L, t, "purchase")))
    Par.foreach(commits)(ev => loop.writeCommit(ev, ctx.pool, ctx.seed, 0.0))
    out += "setup_ms" -> (Clock.nowMs - s0)

    val filesBefore = loop.tableFileCount
    val (before, readBefore) = read(ctx, loop.tableRoots, "read_before")

    // Drain: everything is due now.
    val t0 = Clock.nowMs
    val watcher = loop.watch()
    val (q, run1) = loop.start(Trigger.AvailableNow())
    q.awaitTermination()
    val streamEnd = Clock.nowMs
    val drained = loop.awaitJobs(t0 + 120000)
    val t1 = Clock.nowMs
    // Fold the REPLACEs with a second run on the same checkpoint.
    val (q2, run2) = loop.start(Trigger.AvailableNow())
    q2.awaitTermination()
    watcher.close()

    val filesAfter = loop.tableFileCount
    val afterRuns = (0 until 3).map(_ => read(ctx, loop.tableRoots, "read_after"))
    val after = afterRuns.head._1
    val readAfter = Stats.median(afterRuns.map(_._2))
    val batches = ctx.batches(q) ++ ctx.batches(q2)

    val pubs = loop.pubs.asScala.toSeq
    val ds = loop.dispatches.asScala.toSeq
    val eps = Checks.episodes(pubs, loop.cfg.commitThreshold,
      Decide.staleCutoffMs(loop.cfg))
    val dc = Checks.matchDispatches(eps, ds, pubs)
    val finalView = (run1.decisions.toSeq ++ run2.decisions.toSeq)
      .map(r => r.getLong(0) -> r).toMap.values.toSeq
    res.check("dispatch_duplicates", dc.duplicates)
    res.check("dispatch_missed", dc.missed)
    res.check("dispatch_extra", dc.extra)
    res.check("dispatch_errors", loop.dispatchErrors.get)
    res.check("jobs_failed", loop.failedJobs)
    res.check("decision_mismatch_tables", loop.decisionMismatches(finalView))
    res.check("row_count_mismatch_jobs", loop.rowMismatches)
    res.check("reader_result_changed", afterRuns.count(_._1 != before))
    res.check("not_drained", if (drained) 0 else 1)
    if (dc.missed + dc.extra > 0)
      res.detail(s"dispatch_failures_r$round") = Checks.failureDetail(dc, pubs, ds, t0)
    res.check("untriggered_tables", tables.size - eps.map(_.table).distinct.size)
    res.attempted += eps.size + ds.size * 2L + 1 + afterRuns.size

    ds.foreach { d =>
      out += s"dispatch:${d.table}" -> (d.startMs - t0)
      loop.jobTime(d.jobId, "SUCCEEDED").foreach(s => out += s"done:${d.table}" -> (s - t0))
    }
    val bytesIn = ds.map(_.bytesIn).sum
    out += "drain_ms" -> (t1 - t0)
    out += "events_per_s" -> commits.size / ((streamEnd - t0) / 1e3)
    out += "mb_per_s" -> (bytesIn / 1048576.0) / ((t1 - t0) / 1e3)
    out += "read_before_ms" -> readBefore
    out += "read_after_ms" -> readAfter
    out += "measured_ms" -> (Clock.nowMs - t0)

    LoopLayers.stream(res, batches, pubs, t0, t1)
    LoopLayers.decideDispatchJobs(res, loop, batches, eps.size, dc)
    res.layer("read.files_before") = filesBefore
    res.layer("read.files_after") = filesAfter
    LoopLayers.spans(ctx.tracer, loop, dc, batches, s"r$round-")
    Data.deleteTree(loop.root)
    out.result()
  }

  /** The Q1-style reader, tagged so its Spark tasks can be counted. */
  private def read(ctx: Ctx, tables: Seq[String], phase: String): (Seq[Row], Double) = {
    ctx.spark.sparkContext.setLocalProperty(SparkStats.PhaseKey, phase)
    try {
      val s = Clock.nowMs
      val r = Data.q1(ctx.spark, tables)
      (r, Clock.nowMs - s)
    } finally ctx.spark.sparkContext.setLocalProperty(SparkStats.PhaseKey, null)
  }
}
