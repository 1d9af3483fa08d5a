package graftbench

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.streaming.Trigger

import graft.ops.Decide

/** `maint_steady`: the paper's deployment shape under open-loop load. A
  * generator thread publishes commits (one small data file plus one commit
  * event each) on a fixed schedule, Zipf-skewed over the tables, whether
  * or not the system keeps up. The stateful stream runs on a processing-
  * time trigger and decides with the reference defaults (10 commits or
  * 3 h), the benchmark's executor dispatches asynchronous binpack runs,
  * and each SUCCEEDED job publishes its table's REPLACE so the table can
  * trigger again. */
object Steady {
  final case class Params(tables: Int, rows: Int, setups: Int)
  val Full = Params(tables = 8, rows = 100, setups = 2)
  val Tiny = Params(tables = 4, rows = 50, setups = 1)

  /** Commits per second, the rate the workload is specified at. */
  val Rate = 20.0
  /** Zipf exponent of the commit skew over tables. A guess: no published
    * per-table commit distribution backs it. */
  val ZipfS = 0.6
  /** Trigger interval of the stream, in ms. Also a guess: the engine's
    * default is `AvailableNow`, and the reference gives no cadence. */
  val TriggerMs = 1000L
  /** Seconds of load published, and drained, before the measured window:
    * the stream, dispatch and compaction paths warm up under the workload
    * itself, and no commit of the lead-in is sampled. */
  val LeadS = 6

  /** Commit event times sit two hours before the decision's fixed "now",
    * so only the commit-count threshold fires. */
  val BaseMs: Long = Decide.NowMs - 2 * 3600 * 1000L
  private val Ops = Array("click", "view", "signup")

  /** The schedule: (commit event, due offset in ms from the start). */
  def schedule(seed: Long, p: Params, seconds: Int): IndexedSeq[(Ev, Double)] = {
    val w = (1 to p.tables).map(r => 1.0 / math.pow(r, ZipfS))
    val cdf = w.scanLeft(0.0)(_ + _).tail.map(_ / w.sum)
    val byRank = (0 until p.tables).map(_.toLong).sortBy(t => Data.hash(seed, 11, t))
    (0 until (Rate * seconds).toInt).map { j =>
      val u = Data.unit(seed, 3, j)
      val rank = math.min(p.tables - 1, cdf.indexWhere(_ > u))
      val due = j * 1000.0 / Rate
      val op = Ops((Data.hash(seed, 5, j) & 0xffff).toInt % Ops.length)
      (Ev(1000000L + j, BaseMs + due.toLong, byRank(rank), op), due)
    }
  }

  def run(ctx: Ctx, p: Params): Result = {
    val res = new Result
    val plan = schedule(ctx.seed, p, LeadS + ctx.seconds)
    val tables = (0 until p.tables).map(_.toLong)
    // Each table starts part-way to its next trigger (0-9 pending
    // commits), as in a deployment that has been running, so triggers are
    // spread over the run instead of arriving in one burst.
    val preload = tables.flatMap { t =>
      (0 until (java.lang.Long.remainderUnsigned(Data.hash(ctx.seed, 19, t), 10L)).toInt)
        .map(i => Ev(500000L + t * 10 + i, BaseMs - 500 + i, t, "click"))
    }

    // Set-up: stage every commit's files (repeated, median); the stream
    // start and the lead-in below are set-up too.
    var loop: Loop = null
    val genTimes = (0 until p.setups).map { k =>
      val t0 = Clock.nowMs
      val l = new Loop(ctx.work.resolve(s"steady-$k"), ctx.spark, p.rows, ctx.plantDuplicate)
      l.createTables(tables)
      Par.foreach(plan)(c => l.stageCommit(c._1, ctx.pool, ctx.seed))
      Data.writeEvents(l.src.resolve("boot.parquet"),
        tables.map(t => Ev(900000L + t, BaseMs - 1000, t, "purchase")))
      Par.foreach(preload)(ev => l.writeCommit(ev, ctx.pool, ctx.seed, 0.0))
      if (loop != null) Data.deleteTree(loop.root)
      loop = l
      (Clock.nowMs - t0) / 1e3
    }

    // The stream first folds the boot REPLACEs and the preloaded commits.
    // The generator then publishes the lead-in, the run drains it, and the
    // measured window follows on the same schedule shifted past the drain
    // (origin t1), so a backlog the lead-in built while the JVM was still
    // compiling does not carry into the window. A REPLACE's event time
    // follows the schedule: during the drain it is the lead-in's last.
    val startMs = Clock.nowMs
    val (q, run) = loop.start(Trigger.ProcessingTime(TriggerMs))
    q.processAllAvailable()
    val watcher = loop.watch()
    val (lead, measuredPlan) = plan.splitAt((Rate * LeadS).toInt)
    val leadEnd = lead.lastOption.map(_._2).getOrElse(0.0)
    def generate(commits: Seq[(Ev, Double)], origin: Double): Unit = {
      val gen = new Thread(() => commits.foreach { case (ev, due) =>
        Clock.sleepUntil(origin + due)
        loop.publishStaged(ev, origin + due)
      }, "graftbench-generator")
      gen.start()
      gen.join()
    }
    val t0 = Clock.nowMs + 50
    loop.replaceTs = now => BaseMs + math.min(now - t0, leadEnd).toLong
    generate(lead, t0)
    val leadDrained = loop.drain(q, 60000)
    val t1 = Clock.nowMs + 50 - LeadS * 1000.0
    val fromMs = t1 + LeadS * 1000.0
    loop.replaceTs = now => BaseMs + (now - t1).toLong
    val warmS = (fromMs - startMs) / 1e3
    res.e2e("setup_s") = Stats.median(genTimes) + warmS
    res.detail("setup_inputs_s") = genTimes
    res.detail("setup_warm_s") = warmS
    // Share of setup_s spent writing the benchmark's own input files.
    res.detail("setup_harness_frac") = Stats.median(genTimes) / res.e2e("setup_s")
    generate(measuredPlan, t1)
    val lastDue = t1 + measuredPlan.lastOption.map(_._2).getOrElse(0.0)
    val drained = loop.drain(q, 60000) && leadDrained
    val endMs = Clock.nowMs
    q.stop()
    watcher.close()

    // Output checks.
    val pubs = loop.pubs.asScala.toSeq
    val dispatches = loop.dispatches.asScala.toSeq
    val eps = Checks.episodes(pubs, loop.cfg.commitThreshold,
      Decide.staleCutoffMs(loop.cfg))
    val dc = Checks.matchDispatches(eps, dispatches, pubs)
    val decisionMismatch = loop.decisionMismatches(run.decisions.toSeq)
    val rowMismatch = loop.rowMismatches
    val readTimes = (0 until 5).map { _ =>
      val s = Clock.nowMs; Data.q1(ctx.spark, loop.tableRoots); Clock.nowMs - s
    }
    res.check("dispatch_duplicates", dc.duplicates)
    res.check("dispatch_missed", dc.missed)
    res.check("dispatch_extra", dc.extra)
    res.check("dispatch_errors", loop.dispatchErrors.get)
    res.check("jobs_failed", loop.failedJobs)
    res.check("decision_mismatch_tables", decisionMismatch)
    res.check("row_count_mismatch_jobs", rowMismatch)
    res.check("not_drained", if (drained) 0 else 1)
    if (dc.missed + dc.extra > 0)
      res.detail("dispatch_failures") = Checks.failureDetail(dc, pubs, dispatches, t0)
    res.attempted = eps.size + dispatches.size * 2L + readTimes.size

    // End-to-end. Spark starts a processing-time batch at each multiple
    // of the interval, or as soon as the previous batch ends if that one
    // overran, so a published commit waits for the first tick at or after
    // its publication; a batch already running when it lands may pick it
    // up at once. Latencies run from that point ("ready"), so the wait for
    // the tick, fixed by the cadence, is left out and a batch that delays
    // the next one still counts. dispatch_*: per scheduled commit, to the
    // end of the micro-batch that folded it into the decision (a commit
    // that crossed the threshold is dispatched inside that batch).
    // done_*: per trigger, from the crossing commit's ready point to the
    // SUCCEEDED compaction. A batch takes the files published since the
    // previous batch's listing, so batch membership follows from
    // publication order and each batch's input row count (one row per
    // event file). Only commits due in the measured window are sampled.
    def ready(p: Pub, b: Batch): Double =
      math.min(math.ceil(p.pubMs / TriggerMs) * TriggerMs, math.max(p.pubMs, b.startMs))
    val progress = Batch.all(q.recentProgress.toSeq).filter(_.endMs > t0)
    val inOrder = pubs.filter(_.pubMs >= t0).sortBy(_.pubMs).iterator
    val decided = progress.flatMap { b =>
      inOrder.take(b.inputRows.toInt).toSeq.map(_ -> b)
    }.filter { case (pub, _) => !pub.replace && pub.ev.eventId >= 1000000L }
    val readyAt = decided.map { case (p, b) => p.ev.eventId -> ready(p, b) }.toMap
    val toDecided = decided.collect { case (p, b) if p.dueMs >= fromMs => b.endMs - ready(p, b) }
    val measured = dc.pairs.filter(_._1.crossing.dueMs >= fromMs)
    val compacted = measured.flatMap { case (e, d) =>
      for (ok <- loop.jobTime(d.jobId, "SUCCEEDED"); r <- readyAt.get(e.crossing.ev.eventId))
        yield ok - r
    }
    res.e2e("dispatch_p50_ms") = Stats.pct(toDecided, 0.5)
    res.layer("dispatch_p90_ms") = Stats.pct(toDecided, 0.9)
    res.e2e("done_p50_ms") = Stats.pct(compacted, 0.5)
    res.layer("done_p90_ms") = Stats.pct(compacted, 0.9)
    res.e2e("read_ms") = Stats.median(readTimes)
    res.check("commits_not_folded", plan.size - decided.size)

    // The trigger view: from the due time of the commit that crossed the
    // threshold to its dispatch and to the compaction.
    val toDispatch = measured.map { case (e, d) => d.startMs - e.crossing.dueMs }
    val toDone = measured.flatMap { case (e, d) =>
      loop.jobTime(d.jobId, "SUCCEEDED").map(_ - e.crossing.dueMs)
    }
    res.layer("loop.commit_to_dispatch_p50_ms") = Stats.pct(toDispatch, 0.5)
    res.layer("loop.commit_to_dispatch_p90_ms") = Stats.pct(toDispatch, 0.9)
    res.layer("loop.commit_to_compacted_p50_ms") = Stats.pct(toDone, 0.5)
    res.layer("loop.commit_to_compacted_p90_ms") = Stats.pct(toDone, 0.9)
    res.detail("samples") = Json.obj("commits_decided" -> toDecided.size,
      "triggers_compacted" -> compacted.size, "triggers" -> measured.size)
    res.detail("drain_after_last_due_s") = (endMs - lastDue) / 1e3
    res.detail("batches") = progress.map(b => Json.obj("id" -> b.batchId,
      "start_ms" -> (b.startMs - t0), "dur_ms" -> b.durMs, "add_batch_ms" -> b.addBatchMs,
      "input_rows" -> b.inputRows,
      "dispatches" -> dispatches.count(d => d.startMs >= b.startMs && d.startMs <= b.endMs)))
    res.detail("jobs") = dispatches.map(d => Json.obj("table" -> d.table,
      "dispatch_ms" -> (d.startMs - t0),
      "succeeded_ms" -> loop.jobTime(d.jobId, "SUCCEEDED").map(_ - t0)))

    // Per layer (traced runs).
    val batches = ctx.batches(q)
    val window = batches.filter(_.startMs >= fromMs)
    LoopLayers.stream(res, window, pubs.filter(_.pubMs >= fromMs), fromMs, endMs)
    LoopLayers.decideDispatchJobs(res, loop, window,
      eps.count(_.crossing.dueMs >= fromMs), dc, fromMs)
    res.layer("gen.commits") = plan.size
    res.layer("gen.late_max_ms") = pubs.filter(x => !x.replace && x.ev.eventId >= 1000000L)
      .map(p => p.pubMs - p.dueMs).foldLeft(0.0)(math.max)
    LoopLayers.spans(ctx.tracer, loop, dc, batches, "")
    res
  }
}
