package graftbench

import java.nio.file.{Files, Path, Paths}
import java.util.concurrent.{Callable, Executors => JExecutors}
import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.streaming.StreamingQuery

/** What one run measured. `e2e` and `layer` are keyed by the metric names
  * in BENCHMARK.json; `checks` counts failed output checks by name. */
final class Result {
  val e2e = mutable.LinkedHashMap.empty[String, Double]
  val layer = mutable.LinkedHashMap.empty[String, Double]
  val detail = mutable.LinkedHashMap.empty[String, Any]
  val checks = mutable.LinkedHashMap.empty[String, Long]
  var attempted = 0L
  def check(name: String, failures: Long): Unit =
    checks(name) = checks.getOrElse(name, 0L) + failures
  def failed: Long = checks.values.sum
}

/** Everything a workload needs from the harness. */
final case class Ctx(spark: SparkSession, seed: Long, seconds: Int, work: Path,
    fixture: String, pool: Array[LiRow], tracer: Tracer,
    streamStats: Option[StreamStats], plantDuplicate: Boolean) {
  /** Micro-batch progress of a finished query (traced runs only). */
  def batches(q: StreamingQuery): Seq[Batch] = streamStats match {
    case None => Nil
    case Some(s) =>
      val last = Option(q.lastProgress).map(_.batchId).getOrElse(-1L)
      val deadline = Clock.nowMs + 5000
      while (s.batches(q.runId).lastOption.forall(_.batchId < last) &&
          Clock.nowMs < deadline) Thread.sleep(5)
      s.batches(q.runId)
  }
}

/** Fixed-size pool for set-up file writing (four workers, the core count
  * the benchmark is sized for). */
object Par {
  def foreach[A](xs: Seq[A])(f: A => Unit): Unit = {
    val pool = JExecutors.newFixedThreadPool(4)
    try pool.invokeAll(xs.map(x => (() => f(x)): Callable[Unit]).asJava)
      .asScala.foreach(_.get())
    finally pool.shutdown()
  }
}

object Main {
  val Workloads = Seq("maint_steady", "maint_backlog", "query_suite")

  /** (name, unit) of every end-to-end metric, printed on untraced runs. */
  val EndToEnd: Seq[(String, String)] = Seq(
    "setup_s" -> "s", "dispatch_p50_ms" -> "ms", "done_p50_ms" -> "ms",
    "read_ms" -> "ms")

  /** (name, unit) of every per-layer metric, printed on traced runs. A
    * layer a workload does not exercise reports 0. */
  val PerLayer: Seq[(String, String)] = Seq(
    "dispatch_p90_ms" -> "ms", "done_p90_ms" -> "ms",
    "stream.batches" -> "count", "stream.batch_p50_ms" -> "ms",
    "stream.batch_p90_ms" -> "ms", "stream.add_batch_ms" -> "ms",
    "stream.latest_offset_ms" -> "ms", "stream.wal_commit_ms" -> "ms",
    "stream.query_planning_ms" -> "ms", "stream.idle_frac" -> "ratio",
    "stream.input_rows" -> "count", "stream.backlog_files_max" -> "count",
    "stream.state_rows" -> "count", "stream.state_mem_bytes" -> "bytes",
    "stream.state_commit_ms" -> "ms",
    "decide.decisions" -> "count", "decide.triggered" -> "count",
    "decide.useful_ratio" -> "ratio",
    "dispatch.count" -> "count", "dispatch.execute_p50_ms" -> "ms",
    "dispatch.duplicates" -> "count", "dispatch.missed" -> "count",
    "job.queue_wait_p50_ms" -> "ms", "job.run_p50_ms" -> "ms",
    "job.inflight_max" -> "count", "job.failed" -> "count",
    "compact.files_in" -> "count", "compact.files_out" -> "count",
    "compact.mb_in" -> "MB", "compact.mb_out" -> "MB", "compact.rewrite_s" -> "s",
    "read.files_before" -> "count", "read.files_after" -> "count",
    "read.tasks_before" -> "count", "read.tasks_after" -> "count",
    "queries.build_s" -> "s", "queries.build_jobs" -> "count",
    "queries.plan_s" -> "s", "queries.exec_s" -> "s", "queries.count_s" -> "s",
    "pack.decision_s" -> "s", "pack.maintenance_s" -> "s", "pack.job_s" -> "s",
    "pack.relational_s" -> "s", "pack.pipeline_s" -> "s", "pack.stream_s" -> "s",
    "pack.advanced_s" -> "s", "pack.time_join_s" -> "s",
    "spark.jobs" -> "count", "spark.stages" -> "count", "spark.tasks" -> "count",
    "spark.task_run_s" -> "s", "spark.task_cpu_s" -> "s", "spark.gc_s" -> "s",
    "spark.shuffle_read_mb" -> "MB", "spark.shuffle_write_mb" -> "MB",
    "spark.spill_mb" -> "MB",
    "gen.commits" -> "count", "gen.late_max_ms" -> "ms",
    "loop.commit_to_dispatch_p50_ms" -> "ms", "loop.commit_to_dispatch_p90_ms" -> "ms",
    "loop.commit_to_compacted_p50_ms" -> "ms", "loop.commit_to_compacted_p90_ms" -> "ms",
    "events_per_s" -> "1/s", "compact_mb_per_s" -> "MB/s", "drain_s" -> "s",
    "read_before_ms" -> "ms", "read_after_ms" -> "ms", "suite_s" -> "s",
    "query_p50_s" -> "s", "query_p95_s" -> "s", "failed_frac" -> "ratio",
    "trace.callback_ms" -> "ms")

  /** Command-line arguments. `tiny` and `plantDuplicate` are set only by
    * [[SelfTest]]. */
  final case class Args(workload: String = "", seed: Long = 1, seconds: Int = 0,
      trace: Boolean = false, work: String = ".bench_build/work",
      out: String = ".bench_build/out", fixture: String = "perfbench/fixture",
      tiny: Boolean = false, plantDuplicate: Boolean = false,
      selftest: Boolean = false)

  def parse(a: List[String], acc: Args = Args()): Args = a match {
    case "--workload" :: v :: t => parse(t, acc.copy(workload = v))
    case "--seed" :: v :: t => parse(t, acc.copy(seed = v.toLong))
    case "--seconds" :: v :: t => parse(t, acc.copy(seconds = v.toInt))
    case "--trace" :: v :: t => parse(t, acc.copy(trace = v == "1"))
    case "--work" :: v :: t => parse(t, acc.copy(work = v))
    case "--out" :: v :: t => parse(t, acc.copy(out = v))
    case "--fixture" :: v :: t => parse(t, acc.copy(fixture = v))
    case "--selftest" :: t => parse(t, acc.copy(selftest = true))
    case Nil => acc
    case x :: _ => throw new IllegalArgumentException(s"unknown argument $x")
  }

  /** The engine's bench session shape (`GraftExtensions`, shuffle
    * partitions = cores, sort-based shuffle writer), with every file the
    * session writes kept under the run's work directory. */
  def session(work: Path): SparkSession = {
    val s = SparkSession.builder()
      .master("local[4]")
      .appName("graftbench")
      .config("spark.sql.extensions", "graft.GraftExtensions")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.codegen.cache.maxEntries", "4096")
      .config("spark.shuffle.sort.bypassMergeThreshold", "0")
      .config("spark.local.dir", work.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", work.resolve("warehouse").toString)
      .config("spark.graft.artifactRoot", work.resolve("artifacts").toString)
      .config("spark.sql.streaming.numRecentProgressUpdates", "100000")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  def main(argv: Array[String]): Unit = {
    val args = parse(argv.toList)
    if (args.selftest) { SelfTest.run(args); return }
    require(Workloads.contains(args.workload),
      s"--workload must be one of ${Workloads.mkString(", ")}")
    require(args.seconds > 0, "--seconds must be a positive number")
    val (res, line) = runOne(args)
    println(line)
    System.out.flush()
    System.exit(0)
  }

  /** Run one workload in a fresh session; returns the result and the
    * compact JSON line. Writes the detail record and the span file. */
  def runOne(args: Args): (Result, String) = {
    val tag = s"${args.workload}-seed${args.seed}-trace${if (args.trace) 1 else 0}-" +
      java.time.format.DateTimeFormatter.ofPattern("yyyyMMdd'T'HHmmss")
        .format(java.time.LocalDateTime.now()) + s"-${ProcessHandle.current().pid()}"
    val work = Paths.get(args.work).toAbsolutePath.resolve(tag)
    val out = Paths.get(args.out).toAbsolutePath
    Files.createDirectories(work)
    Files.createDirectories(out)
    val spark = session(work)
    val sparkStats = new SparkStats
    val streamStats = new StreamStats
    if (args.trace) {
      spark.sparkContext.addSparkListener(sparkStats)
      spark.streams.addListener(streamStats)
    }
    val tracer = new Tracer(args.trace)
    val res = try {
      val pool = Data.loadLineitem(spark, args.fixture)
      val ctx = Ctx(spark, args.seed, args.seconds, work, args.fixture, pool, tracer,
        if (args.trace) Some(streamStats) else None, args.plantDuplicate)
      args.workload match {
        case "maint_steady" => Steady.run(ctx, if (args.tiny) Steady.Tiny else Steady.Full)
        case "maint_backlog" => Backlog.run(ctx, if (args.tiny) Backlog.Tiny else Backlog.Full)
        case "query_suite" => Suite.run(ctx, if (args.tiny) Suite.Tiny else Suite.Full)
      }
    } finally {
      spark.streams.active.foreach(_.stop())
      spark.stop()
    }
    // The listener bus is drained by stop(); runtime totals are final now.
    sparkStats.total().metrics.foreach { case (k, v) => res.layer(k) = v }
    // Phase-tagged Spark work: jobs started while a query key's DataFrame
    // was being built, and the reader's tasks before and after compaction.
    val phases = sparkStats.phases
    res.layer("queries.build_jobs") =
      phases.collect { case (k, c) if k.endsWith(":build") => c.jobs }.sum.toDouble
    Seq("before", "after").foreach { w =>
      val reads = res.detail.get(s"reads_$w").map(_.toString.toDouble).getOrElse(1.0)
      res.layer(s"read.tasks_$w") =
        phases.get(s"read_$w").map(_.tasks).getOrElse(0L) / math.max(1.0, reads)
    }
    res.layer("failed_frac") = res.failed.toDouble / math.max(1L, res.attempted)
    res.layer("trace.callback_ms") =
      (sparkStats.callbackNs + streamStats.callbackNs) / 1e6
    PerLayer.foreach { case (k, _) => if (!res.layer.contains(k)) res.layer(k) = 0.0 }

    val metrics = if (args.trace) PerLayer else EndToEnd
    val values = if (args.trace) res.layer else res.e2e
    val correct = res.failed == 0 && metrics.forall { case (k, _) =>
      values.get(k).exists(v => !v.isNaN && !v.isInfinite)
    }
    val line = Json.render(Json.obj(
      "correct" -> correct, "attempted" -> math.max(1L, res.attempted),
      "failed" -> res.failed,
      "metrics" -> Json.obj(metrics.map { case (k, u) =>
        k -> Json.obj("value" -> values.getOrElse(k, Double.NaN), "unit" -> u)
      }: _*)))

    val detailPath = out.resolve(s"$tag.json")
    val detail = Json.obj("workload" -> args.workload, "seed" -> args.seed,
      "seconds" -> args.seconds, "trace" -> args.trace, "tiny" -> args.tiny,
      "correct" -> correct, "attempted" -> res.attempted, "failed" -> res.failed,
      "checks" -> res.checks, "end_to_end" -> res.e2e, "per_layer" -> res.layer,
      "detail" -> res.detail,
      "trace_overhead" -> overhead(out, args, res))
    if (args.trace) {
      tracer.write(out.resolve(s"$tag.spans.jsonl"))
      detail("spans") = out.resolve(s"$tag.spans.jsonl").toString
    }
    Files.writeString(detailPath, Json.render(detail) + "\n")
    Data.deleteTree(work)
    (res, line)
  }

  /** Tracing overhead, traced minus untraced, for each end-to-end metric,
    * against the newest earlier run of the same workload and seed in the
    * other mode (absent until both modes have run). */
  private def overhead(out: Path, args: Args, res: Result): Any = {
    val other = s"${args.workload}-seed${args.seed}-trace${if (args.trace) 0 else 1}-"
    val s = Files.list(out)
    val partner = try s.iterator().asScala.map(_.getFileName.toString)
      .filter(n => n.startsWith(other) && n.endsWith(".json")).toSeq.sorted.lastOption
    finally s.close()
    partner.map { name =>
      val theirs = Json.read[Map[String, Double]](
        Json.parse(Files.readString(out.resolve(name))) \ "end_to_end")
      val (traced, untraced) =
        if (args.trace) (res.e2e.toMap, theirs) else (theirs, res.e2e.toMap)
      Json.obj("partner" -> name) ++ EndToEnd.flatMap { case (k, _) =>
        for (a <- traced.get(k); b <- untraced.get(k)) yield k -> (a - b)
      }
    }
  }
}
