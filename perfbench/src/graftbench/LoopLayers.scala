package graftbench

import java.nio.file.{Files, Paths}
import scala.jdk.CollectionConverters._

/** Per-layer metrics and spans of the maintenance loop, derived from what
  * the benchmark recorded at the layer boundaries it calls through. */
object LoopLayers {

  /** `stream`: micro-batch timings from the `StreamingQueryListener`;
    * the backlog is files published but not yet taken by a batch. */
  def stream(res: Result, batches: Seq[Batch], pubs: Seq[Pub], fromMs: Double,
      toMs: Double): Unit = {
    val durs = batches.map(_.durMs)
    res.layer("stream.batches") = batches.size
    res.layer("stream.batch_p50_ms") = Stats.pct(durs, 0.5)
    res.layer("stream.batch_p90_ms") = Stats.pct(durs, 0.9)
    res.layer("stream.add_batch_ms") = Stats.median(batches.map(_.addBatchMs))
    res.layer("stream.latest_offset_ms") = Stats.median(batches.map(_.latestOffsetMs))
    res.layer("stream.wal_commit_ms") = Stats.median(batches.map(_.walCommitMs))
    res.layer("stream.query_planning_ms") = Stats.median(batches.map(_.planningMs))
    res.layer("stream.idle_frac") =
      math.max(0.0, 1.0 - durs.sum / math.max(1.0, toMs - fromMs))
    res.layer("stream.input_rows") = batches.map(_.inputRows).sum.toDouble
    val pubTimes = pubs.map(_.pubMs).sorted.toArray
    var taken = 0L
    res.layer("stream.backlog_files_max") = batches.map { b =>
      taken += b.inputRows
      val published = java.util.Arrays.binarySearch(pubTimes, b.endMs) match {
        case i if i >= 0 => i + 1
        case i => -i - 1
      }
      math.max(0L, published - taken).toDouble
    }.foldLeft(0.0)(math.max)
    res.layer("stream.state_rows") = batches.map(_.stateRows).foldLeft(0L)(math.max).toDouble
    res.layer("stream.state_mem_bytes") =
      batches.map(_.stateMemBytes).foldLeft(0L)(math.max).toDouble
    res.layer("stream.state_commit_ms") = Stats.median(batches.map(_.stateCommitMs.toDouble))
  }

  /** Decision, dispatch, job and compaction layers, over the dispatches
    * made from `fromMs` on. */
  def decideDispatchJobs(res: Result, loop: Loop, batches: Seq[Batch],
      triggered: Int, dc: DispatchCheck, fromMs: Double = Double.MinValue): Unit = {
    val ds = loop.dispatches.asScala.toSeq.filter(_.startMs >= fromMs)
    val decisions = batches.map(_.stateUpdated).sum
    res.layer("decide.decisions") = decisions.toDouble
    res.layer("decide.triggered") = triggered
    res.layer("decide.useful_ratio") = ds.size.toDouble / math.max(1L, decisions)
    res.layer("dispatch.count") = ds.size
    res.layer("dispatch.execute_p50_ms") = Stats.median(ds.map(d => d.endMs - d.startMs))
    res.layer("dispatch.duplicates") = dc.duplicates
    res.layer("dispatch.missed") = dc.missed
    def t(d: Dispatch, s: String) = loop.jobTime(d.jobId, s)
    res.layer("job.queue_wait_p50_ms") = Stats.median(ds.flatMap(d =>
      for (a <- t(d, "SUBMITTED"); b <- t(d, "RUNNING")) yield b - a))
    val runs = ds.flatMap(d =>
      for (a <- t(d, "RUNNING"); b <- t(d, "SUCCEEDED")) yield b - a)
    res.layer("job.run_p50_ms") = Stats.median(runs)
    val edges = ds.flatMap { d =>
      val end = t(d, "SUCCEEDED").orElse(t(d, "FAILED"))
      t(d, "SUBMITTED").toSeq.map(_ -> 1) ++ end.toSeq.map(_ -> -1)
    }.sortBy(e => (e._1, e._2))
    res.layer("job.inflight_max") = edges.scanLeft(0)(_ + _._2).max
    res.layer("job.failed") = loop.failedJobs
    val outs = ds.map(d => Data.parquetFiles(Paths.get(d.outputDir)))
    res.layer("compact.files_in") = ds.map(_.commits.size).sum
    res.layer("compact.files_out") = outs.map(_.size).sum
    res.layer("compact.mb_in") = ds.map(_.bytesIn).sum / 1048576.0
    res.layer("compact.mb_out") = outs.flatten.map(Files.size).sum / 1048576.0
    res.layer("compact.rewrite_s") = runs.sum / 1e3
  }

  /** One trace per trigger: commit due → micro-batch → execute() →
    * queued/running job → REPLACE published → REPLACE decided. */
  def spans(tracer: Tracer, loop: Loop, dc: DispatchCheck, batches: Seq[Batch],
      prefix: String): Unit = if (tracer.enabled) {
    val replaces = loop.pubs.asScala.toSeq.filter(_.replace)
    dc.pairs.foreach { case (e, d) =>
      val id = s"${prefix}t${d.table}-${e.ordinal}"
      tracer.add(Span(id, "commit_due", e.crossing.dueMs, e.crossing.pubMs,
        attrs = Map("event_id" -> e.crossing.ev.eventId)))
      val batch = batches.find(b => b.startMs <= d.startMs && d.startMs <= b.endMs + 1)
      batch.foreach(b => tracer.add(Span(id, "micro_batch", b.startMs, b.endMs,
        "commit_due", Map("batch_id" -> b.batchId, "input_rows" -> b.inputRows))))
      tracer.add(Span(id, "execute", d.startMs, d.endMs,
        if (batch.isDefined) "micro_batch" else "commit_due",
        Map("job_id" -> d.jobId, "files_in" -> d.commits.size)))
      val sub = loop.jobTime(d.jobId, "SUBMITTED")
      val run = loop.jobTime(d.jobId, "RUNNING")
      val ok = loop.jobTime(d.jobId, "SUCCEEDED")
      for (a <- sub; b <- run) tracer.add(Span(id, "job.queued", a, b, "execute"))
      for (a <- run; b <- ok) tracer.add(Span(id, "job.running", a, b, "job.queued"))
      for (s <- ok; r <- replaces.find(r => r.ev.table == d.table && r.pubMs >= s)) {
        tracer.add(Span(id, "replace_published", s, r.pubMs, "job.running"))
        batches.find(_.startMs >= r.pubMs).foreach(b =>
          tracer.add(Span(id, "replace_decided", r.pubMs, b.endMs,
            "replace_published", Map("batch_id" -> b.batchId))))
      }
    }
  }
}
