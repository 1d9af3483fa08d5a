package graftbench

import java.nio.file.{Files, Path, StandardCopyOption}
import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue}
import java.util.concurrent.atomic.{AtomicInteger, AtomicLong}
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

import graft.engine.{Executor, JobStateLog, LocalSparkExecutor}
import graft.model.EngineConfig
import graft.ops.{Decide, EventOps}
import graft.stream.EventPipeline

/** One deployment of the maintenance loop on local directories:
  *
  *  - `src/`: the commit-event stream (one parquet file per event);
  *  - `tables/t<id>/data/`: each table's live small files;
  *  - `jobs/d<n>/in|out/`: the files a dispatch took and what it wrote.
  *
  * The benchmark's `Executor` wraps `LocalSparkExecutor`: at dispatch it
  * moves the table's current files into the job's input directory (the
  * snapshot the rewrite is based on) and submits asynchronously, the
  * reference's default. A watcher thread follows the `JobStateLog` and,
  * when a job SUCCEEDS, publishes that table's REPLACE event. */
final class Loop(val root: Path, spark: SparkSession, rowsPerFile: Int,
    plantDuplicate: Boolean = false) {
  /** Event time of a REPLACE published at the given epoch ms. */
  @volatile var replaceTs: Double => Long = _ => Decide.NowMs
  val src: Path = root.resolve("src")
  val stage: Path = root.resolve("stage")
  val jobs: Path = root.resolve("jobs")
  val ckpt: Path = root.resolve("ckpt")
  Seq(src, stage, jobs, root.resolve("tables")).foreach(Files.createDirectories(_))

  val cfg: EngineConfig = EngineConfig()
  val log = new JobStateLog
  val pubs = new ConcurrentLinkedQueue[Pub]()
  val dispatches = new ConcurrentLinkedQueue[Dispatch]()
  val dispatchErrors = new AtomicInteger()
  private val dispatchSeq = new AtomicLong()
  private val replaceSeq = new AtomicLong(2000000000L)
  private val planted = new AtomicInteger()
  /** job id -> (state -> first time seen, epoch ms). */
  val jobStates = new ConcurrentHashMap[String, ConcurrentHashMap[String, Double]]()
  private val replaced = ConcurrentHashMap.newKeySet[String]()

  def tableDir(t: Long): Path = root.resolve("tables").resolve(s"t$t").resolve("data")
  def createTables(ids: Iterable[Long]): Unit =
    ids.foreach(t => Files.createDirectories(tableDir(t)))

  def publish(ev: Ev, dueMs: Double): Pub = {
    Data.publishEvents(stage.resolve(s"e-${ev.eventId}.parquet"),
      src.resolve(s"e-${ev.eventId}.parquet"), Seq(ev))
    val p = Pub(ev, dueMs, Clock.nowMs)
    pubs.add(p)
    p
  }

  /** Publish a commit whose data file and event file were written during
    * set-up: data file first, then the event that announces it. */
  def publishStaged(ev: Ev, dueMs: Double): Pub = {
    val name = s"c-${ev.eventId}.parquet"
    Files.move(stagedData(ev.eventId), tableDir(ev.table).resolve(name),
      StandardCopyOption.ATOMIC_MOVE)
    Files.move(stagedEvent(ev.eventId), src.resolve(s"e-${ev.eventId}.parquet"),
      StandardCopyOption.ATOMIC_MOVE)
    val p = Pub(ev, dueMs, Clock.nowMs)
    pubs.add(p)
    p
  }

  def stagedData(id: Long): Path = stage.resolve(s"c-$id.parquet")
  def stagedEvent(id: Long): Path = stage.resolve(s"ev-$id.parquet")

  /** Write one commit's data file and event file into the staging area. */
  def stageCommit(ev: Ev, pool: Array[LiRow], seed: Long): Unit = {
    Data.writeLineitem(stagedData(ev.eventId), pool, seed, ev.table, ev.eventId, rowsPerFile)
    Data.writeEvents(stagedEvent(ev.eventId), Seq(ev))
  }

  /** Write one commit straight into the table and the stream source. */
  def writeCommit(ev: Ev, pool: Array[LiRow], seed: Long, dueMs: Double): Unit = {
    Data.writeLineitem(tableDir(ev.table).resolve(s"c-${ev.eventId}.parquet"), pool,
      seed, ev.table, ev.eventId, rowsPerFile)
    Data.writeEvents(src.resolve(s"e-${ev.eventId}.parquet"), Seq(ev))
    pubs.add(Pub(ev, dueMs, Clock.nowMs))
  }

  def executorFor(table: String): Executor = new Executor {
    private var props = Map.empty[String, String]
    override def initialize(t: String, properties: Map[String, String]): Unit =
      props = properties
    override def execute(): String = {
      val tid = table.stripPrefix("db.tbl_").toLong
      val jobDir = jobs.resolve(s"d${dispatchSeq.getAndIncrement()}")
      val in = jobDir.resolve("in")
      Files.createDirectories(in)
      val files = Data.parquetFiles(tableDir(tid))
      val bytes = files.map(Files.size).sum
      files.foreach(f => Files.move(f, in.resolve(f.getFileName), StandardCopyOption.ATOMIC_MOVE))
      val out = tableDir(tid).resolveSibling("compacted").resolve(jobDir.getFileName)
      val commits = files.map(_.getFileName.toString.stripPrefix("c-").stripSuffix(".parquet").toLong)
      val jobId = submit(table, tid, in, out, commits, bytes)
      if (plantDuplicate && planted.getAndIncrement() == 0)
        submit(table, tid, in, jobDir.resolve("out-dup"), commits, bytes)
      jobId
    }
    private def submit(table: String, tid: Long, in: Path, out: Path,
        commits: Seq[Long], bytes: Long): String = {
      val ex = new LocalSparkExecutor(spark, log)
      ex.initialize(table, props ++ Map(
        "local.input-dir" -> in.toString, "local.output-dir" -> out.toString))
      val t0 = Clock.nowMs
      val jobId = try ex.execute() catch {
        case e: Throwable => dispatchErrors.incrementAndGet(); throw e
      }
      dispatches.add(Dispatch(tid, jobId, t0, Clock.nowMs, out.toString, bytes,
        commits.size.toLong * rowsPerFile, commits))
      jobId
    }
  }

  /** Follow the job-state log in a thread of its own and publish a
    * REPLACE for each SUCCEEDED job. Closing the handle stops the thread
    * once everything it saw is handled, and waits for it. */
  def watch(): AutoCloseable = {
    @volatile var stop = false
    val t = new Thread(() => {
      var seen = 0
      var succeeded = List.empty[String]
      while (!stop || seen < log.all.size || succeeded.nonEmpty) {
        val all = log.all
        all.drop(seen).foreach { r =>
          jobStates.computeIfAbsent(r.jobId, _ => new ConcurrentHashMap())
            .putIfAbsent(r.state, r.tsMillis.toDouble)
          if (r.state == "SUCCEEDED") succeeded ::= r.jobId
        }
        seen = all.size
        // the dispatch record lands just after execute() returns
        succeeded = succeeded.filter { jobId =>
          dispatches.asScala.find(_.jobId == jobId) match {
            case Some(d) =>
              val now = Clock.nowMs
              publish(Ev(replaceSeq.getAndIncrement(), replaceTs(now), d.table,
                "purchase"), now)
              replaced.add(jobId)
              false
            case None => true
          }
        }
        Thread.sleep(1)
      }
    }, "graftbench-job-watcher")
    t.setDaemon(true)
    t.start()
    () => { stop = true; t.join(10000) }
  }

  /** Jobs not yet terminal, or SUCCEEDED without a published REPLACE. */
  def inflight: Int = dispatches.asScala.count { d =>
    val st = Option(jobStates.get(d.jobId))
    !st.exists(s => s.containsKey("FAILED") ||
      (s.containsKey("SUCCEEDED") && replaced.contains(d.jobId)))
  }

  def failedJobs: Int = jobStates.values.asScala.count(_.containsKey("FAILED"))

  def start(trigger: Trigger): (StreamingQuery, EventPipeline.RunResult) =
    EventPipeline.runStatefulStreaming(events, cfg, executorFor, ckpt.toString,
      trigger)

  def events: DataFrame =
    spark.readStream.schema(EventPipeline.eventSchema).parquet(src.toString)

  /** Wait until no job is in flight; false if that does not happen by
    * `deadlineMs` (epoch ms). Needs a running [[watch]]er. */
  def awaitJobs(deadlineMs: Double): Boolean = {
    while (inflight > 0 && Clock.nowMs < deadlineMs) Thread.sleep(2)
    inflight == 0
  }

  /** Process everything published until no job is in flight and nothing
    * new arrived; false if that does not happen within `timeoutMs`. */
  def drain(q: StreamingQuery, timeoutMs: Double): Boolean = {
    val deadline = Clock.nowMs + timeoutMs
    var done = false
    while (!done && Clock.nowMs < deadline) {
      val before = pubs.size
      q.processAllAvailable()
      done = awaitJobs(deadline) && pubs.size == before
    }
    done
  }

  /** Batch oracle: `Decide.shouldOptimize` over everything published.
    * Returns the number of tables whose final stream decision differs. */
  def decisionMismatches(streamRows: Seq[Row]): Int = {
    val batch = spark.read.schema(EventPipeline.eventSchema).parquet(src.toString)
    val oracle = Decide.shouldOptimize(EventOps.snapshotLogFrom(batch), cfg)
      .collect().map(r => r.getLong(0) -> r.toSeq).toMap
    val got = streamRows.map(r => r.getLong(0) -> r.toSeq).toMap
    (oracle.keySet ++ got.keySet).count(k => oracle.get(k) != got.get(k))
  }

  /** Dispatches whose output row count differs from the rows they took. */
  def rowMismatches: Int = dispatches.asScala.count { d =>
    val out = Data.parquetFiles(java.nio.file.Paths.get(d.outputDir))
    out.map(Data.rowCount).sum != d.rowsIn
  }

  /** Table directories: live small files under `data/`, each
    * compaction's output under `compacted/d<n>/`. */
  def tableRoots: Seq[String] = {
    val s = Files.list(root.resolve("tables"))
    try s.iterator().asScala.map(_.toString).toSeq.sorted finally s.close()
  }

  /** Number of data files a reader of the tables opens. */
  def tableFileCount: Int = tableRoots.map { t =>
    val s = Files.walk(java.nio.file.Paths.get(t))
    try s.iterator().asScala.count { f =>
      val n = f.getFileName.toString
      n.endsWith(".parquet") && !n.startsWith(".") && !n.startsWith("_")
    } finally s.close()
  }.sum

  def jobTime(jobId: String, state: String): Option[Double] =
    Option(jobStates.get(jobId)).flatMap(s => Option(s.get(state)).map(_.doubleValue))
}
