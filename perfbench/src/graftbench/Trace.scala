package graftbench

import java.util.concurrent.ConcurrentLinkedQueue
import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.streaming.StreamingQueryListener._
import org.json4s.{DefaultFormats, Formats, JValue}
import org.json4s.jackson.{JsonMethods, Serialization}

/** JSON of the result line, the detail record and the span file, written
  * and read with json4s. Maps keep their insertion order. */
object Json {
  private implicit val formats: Formats = DefaultFormats
  def render(v: Any): String = Serialization.write(v.asInstanceOf[AnyRef])
  def parse(s: String): JValue = JsonMethods.parse(s)
  def read[A: Manifest](v: JValue): A = v.extract[A]

  /** Insertion-ordered map literal. */
  def obj(kv: (String, Any)*): mutable.LinkedHashMap[String, Any] =
    mutable.LinkedHashMap(kv: _*)
}

/** One clock for every timestamp the benchmark records: epoch
  * milliseconds with sub-millisecond resolution, so they compare directly
  * with the engine's `JobRun.tsMillis` (wall-clock millis). */
object Clock {
  private val baseMs = System.currentTimeMillis().toDouble
  private val baseNs = System.nanoTime()
  def nowMs: Double = baseMs + (System.nanoTime() - baseNs) / 1e6
  def sleepUntil(ms: Double): Unit = {
    var left = ms - nowMs
    while (left > 0) {
      if (left > 2) Thread.sleep((left - 1).toLong)
      else Thread.onSpinWait()
      left = ms - nowMs
    }
  }
}

/** A span at a layer boundary. Spans of one trigger (or one query key)
  * share `trace`; `parent` names the span that caused this one. */
final case class Span(trace: String, name: String, startMs: Double,
    endMs: Double, parent: String = "", attrs: Map[String, Any] = Map.empty) {
  def json: String = Json.render(Json.obj("trace" -> trace, "name" -> name,
    "start_ms" -> startMs, "end_ms" -> endMs, "dur_ms" -> (endMs - startMs),
    "parent" -> parent, "attrs" -> attrs))
}

/** Span store: kept in memory and written once when the run ends. With
  * tracing off nothing is recorded. */
final class Tracer(val enabled: Boolean) {
  private val spans = new ConcurrentLinkedQueue[Span]()
  def add(s: => Span): Unit = if (enabled) spans.add(s)
  def all: Seq[Span] = spans.iterator().asScala.toSeq
  def write(path: java.nio.file.Path): Unit = {
    val w = java.nio.file.Files.newBufferedWriter(path)
    try all.sortBy(_.startMs).foreach { s => w.write(s.json); w.write('\n') }
    finally w.close()
  }
}

/** Spark runtime counters from a `SparkListener`. Jobs carry the local
  * property [[SparkStats.PhaseKey]]; stages and tasks are attributed to
  * the phase of the job that submitted them, so a query key's build,
  * plan and exec work can be told apart. Read the totals only after
  * `SparkContext.stop()`, which drains the listener bus. */
final class SparkStats extends SparkListener {
  import SparkStats._
  private val byPhase = mutable.Map.empty[String, Counters]
  private val stagePhase = mutable.Map.empty[Int, String]
  @volatile var callbackNs = 0L

  private def timed(f: => Unit): Unit = {
    val t0 = System.nanoTime()
    synchronized(f)
    callbackNs += System.nanoTime() - t0
  }
  private def c(phase: String): Counters = byPhase.getOrElseUpdate(phase, new Counters)

  override def onJobStart(e: SparkListenerJobStart): Unit = timed {
    val phase = Option(e.properties).flatMap(p => Option(p.getProperty(PhaseKey)))
      .getOrElse("")
    c(phase).jobs += 1
    e.stageIds.foreach(stagePhase(_) = phase)
  }
  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = timed {
    c(stagePhase.getOrElse(e.stageInfo.stageId, "")).stages += 1
  }
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = timed {
    val k = c(stagePhase.getOrElse(e.stageId, ""))
    k.tasks += 1
    val m = e.taskMetrics
    if (m != null) {
      k.runMs += m.executorRunTime
      k.cpuNs += m.executorCpuTime
      k.gcMs += m.jvmGCTime
      k.shuffleRead += m.shuffleReadMetrics.totalBytesRead
      k.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
      k.spill += m.diskBytesSpilled
    }
  }

  /** Counters summed over the phases whose name satisfies `p`. */
  def total(p: String => Boolean = _ => true): Counters = synchronized {
    val t = new Counters
    byPhase.foreach { case (ph, k) => if (p(ph)) t.add(k) }
    t
  }
  def phases: Map[String, Counters] = synchronized(byPhase.toMap)
}

object SparkStats {
  val PhaseKey = "graftbench.phase"
  final class Counters {
    var jobs, stages, tasks, runMs, cpuNs, gcMs = 0L
    var shuffleRead, shuffleWrite, spill = 0L
    def add(o: Counters): Unit = {
      jobs += o.jobs; stages += o.stages; tasks += o.tasks; runMs += o.runMs
      cpuNs += o.cpuNs; gcMs += o.gcMs; shuffleRead += o.shuffleRead
      shuffleWrite += o.shuffleWrite; spill += o.spill
    }
    def metrics: Seq[(String, Double)] = Seq(
      "spark.jobs" -> jobs.toDouble, "spark.stages" -> stages.toDouble,
      "spark.tasks" -> tasks.toDouble, "spark.task_run_s" -> runMs / 1e3,
      "spark.task_cpu_s" -> cpuNs / 1e9, "spark.gc_s" -> gcMs / 1e3,
      "spark.shuffle_read_mb" -> shuffleRead / 1048576.0,
      "spark.shuffle_write_mb" -> shuffleWrite / 1048576.0,
      "spark.spill_mb" -> spill / 1048576.0)
  }
}

/** Micro-batch progress of every streaming query, from a
  * `StreamingQueryListener`. */
final class StreamStats extends StreamingQueryListener {
  private val progress = new ConcurrentLinkedQueue[org.apache.spark.sql.streaming.StreamingQueryProgress]()
  @volatile var callbackNs = 0L
  override def onQueryStarted(e: QueryStartedEvent): Unit = ()
  override def onQueryTerminated(e: QueryTerminatedEvent): Unit = ()
  override def onQueryProgress(e: QueryProgressEvent): Unit = {
    val t0 = System.nanoTime()
    progress.add(e.progress)
    callbackNs += System.nanoTime() - t0
  }
  def batches(runId: java.util.UUID): Seq[Batch] =
    Batch.all(progress.iterator().asScala.filter(_.runId == runId).toSeq)
}

final case class Batch(batchId: Long, startMs: Double, durMs: Double,
    addBatchMs: Double, latestOffsetMs: Double, walCommitMs: Double,
    planningMs: Double, inputRows: Long, stateRows: Long, stateMemBytes: Long,
    stateCommitMs: Long, stateUpdated: Long) {
  def endMs: Double = startMs + durMs
}

object Batch {
  /** Completed micro-batches, in order, from `StreamingQueryProgress`. */
  def all(ps: Seq[org.apache.spark.sql.streaming.StreamingQueryProgress]): Seq[Batch] =
    ps.filter(_.durationMs.containsKey("triggerExecution")).map { p =>
      def d(k: String): Double =
        Option(p.durationMs.get(k)).map(_.toDouble).getOrElse(0.0)
      val st = p.stateOperators.headOption
      Batch(p.batchId, java.time.Instant.parse(p.timestamp).toEpochMilli.toDouble,
        d("triggerExecution"), d("addBatch"), d("latestOffset"), d("walCommit"),
        d("queryPlanning"), p.numInputRows,
        st.map(_.numRowsTotal).getOrElse(0L), st.map(_.memoryUsedBytes).getOrElse(0L),
        st.map(_.commitTimeMs).getOrElse(0L), st.map(_.numRowsUpdated).getOrElse(0L))
    }.sortBy(_.batchId)
}

/** Order statistics over measured samples. */
object Stats {
  /** Nearest-rank percentile (q in [0, 1]); NaN for no samples. */
  def pct(xs: Seq[Double], q: Double): Double =
    if (xs.isEmpty) Double.NaN
    else {
      val s = xs.sorted
      s(math.min(s.size - 1, math.max(0, math.ceil(q * s.size).toInt - 1)))
    }
  def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) Double.NaN
    else {
      val s = xs.sorted
      if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
    }
}
