package perfbench

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart, SparkListenerTaskEnd}
import org.apache.spark.sql.streaming.{StreamingQueryListener, StreamingQueryProgress}

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}
import java.time.Instant
import java.util.UUID
import scala.collection.mutable
import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

/** Wall clock in epoch milliseconds with sub-millisecond resolution, so
  * benchmark-timed calls and Spark's epoch-millisecond events share one
  * timeline.
  */
object Clock {
  private val anchorMs = System.currentTimeMillis().toDouble
  private val anchorNs = System.nanoTime()
  def nowMs: Double = anchorMs + (System.nanoTime() - anchorNs) / 1e6
  def parseMs(iso: String): Double = Instant.parse(iso).toEpochMilli.toDouble
}

final case class Span(id: Long, parent: Long, name: String, startMs: Double, endMs: Double) {
  def ms: Double = endMs - startMs
  def contains(t: Double): Boolean = startMs <= t && t <= endMs
}

/** Spans of one run, kept in memory and written out once at the end.
  * Every span carries the run id; `parent` 0 marks a root.
  */
final class Spans(val runId: String) {
  private val buf = ArrayBuffer.empty[Span]
  private var nextId = 1L

  private def alloc(): Long = synchronized { val id = nextId; nextId += 1; id }

  def add(name: String, parent: Long, startMs: Double, endMs: Double): Long = {
    val id = alloc()
    synchronized { buf += Span(id, parent, name, startMs, endMs) }
    id
  }

  /** Time `f` as a span; `f` receives the span id for its children. */
  def timed[T](name: String, parent: Long)(f: Long => T): T = {
    val id = alloc()
    val s = Clock.nowMs
    try f(id) finally synchronized { buf += Span(id, parent, name, s, Clock.nowMs) }
  }

  def all: Seq[Span] = synchronized(buf.toList)

  def update(id: Long)(f: Span => Span): Unit = synchronized {
    val i = buf.indexWhere(_.id == id)
    if (i >= 0) buf(i) = f(buf(i))
  }

  /** Self time: a span's duration minus the part of it its children cover. */
  def selfMs: Map[Long, Double] = {
    val spans = all
    val kids = spans.groupBy(_.parent)
    spans.map { s =>
      s.id -> (s.ms - Spans.unionMs(s.startMs, s.endMs,
        kids.getOrElse(s.id, Nil).map(c => (c.startMs, c.endMs))))
    }.toMap
  }

  /** Share of the wall time of the roots named `root` that their child
    * spans explain: 1 − Σ root self time ÷ Σ root wall time. Time a root
    * spends outside every layer span lowers it.
    */
  def coverFrac(root: String): Double = {
    val roots = all.filter(s => s.parent == 0L && s.name == root)
    val wall = roots.map(_.ms).sum
    val self = selfMs
    if (wall <= 0) 0.0 else 1.0 - roots.map(r => self(r.id)).sum / wall
  }

  def write(path: String): Unit = {
    val self = selfMs
    val lines = all.sortBy(_.startMs).map { s =>
      Json.obj("run_id" -> runId, "id" -> s.id, "parent" -> s.parent, "name" -> s.name,
        "start_ms" -> s.startMs, "end_ms" -> s.endMs, "self_ms" -> self(s.id))
    }
    val p = Paths.get(path)
    Files.createDirectories(p.getParent)
    Files.write(p, lines.asJava, StandardCharsets.UTF_8)
  }
}

object Spans {
  /** Length of the part of [lo, hi] the intervals `iv` cover. */
  def unionMs(lo: Double, hi: Double, iv: Seq[(Double, Double)]): Double = {
    val clipped = iv.map { case (a, b) => (math.max(a, lo), math.min(b, hi)) }
      .filter { case (a, b) => b > a }.sortBy(_._1)
    var covered = 0.0
    var end = lo
    clipped.foreach { case (a, b) =>
      if (b > end) { covered += b - math.max(a, end); end = b }
    }
    covered
  }

  def inAny(windows: Seq[(Double, Double)], t: Double): Boolean =
    windows.exists { case (a, b) => a <= t && t <= b }
}

final case class JobRec(id: Int, startMs: Double, var endMs: Double)
final case class TaskRec(endMs: Double, runMs: Long, shuffleWrite: Long, spill: Long, written: Long)

/** Benchmark-owned Spark listener: every job interval and task counter
  * of the run. Readers keep the ones inside traced windows, by the
  * event's own time, so late delivery on the asynchronous listener bus
  * does not move an event from one window to another.
  */
final class SparkRecorder extends SparkListener {
  private val jobBuf = mutable.LinkedHashMap.empty[Int, JobRec]
  private val taskBuf = ArrayBuffer.empty[TaskRec]

  override def onJobStart(e: SparkListenerJobStart): Unit =
    synchronized { jobBuf(e.jobId) = JobRec(e.jobId, e.time.toDouble, e.time.toDouble) }

  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    synchronized { jobBuf.get(e.jobId).foreach(_.endMs = e.time.toDouble) }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
    if (e.taskMetrics != null) {
      val m = e.taskMetrics
      val r = TaskRec(e.taskInfo.finishTime.toDouble, m.executorRunTime,
        m.shuffleWriteMetrics.bytesWritten, m.memoryBytesSpilled + m.diskBytesSpilled,
        m.outputMetrics.recordsWritten)
      synchronized { taskBuf += r }
    }

  /** Jobs that started, and tasks that ended, inside one of `windows`. */
  def jobsIn(windows: Seq[(Double, Double)]): Seq[JobRec] =
    synchronized(jobBuf.values.toList).filter(j => Spans.inAny(windows, j.startMs))
  def tasksIn(windows: Seq[(Double, Double)]): Seq[TaskRec] =
    synchronized(taskBuf.toList).filter(t => Spans.inAny(windows, t.endMs))
}

/** Benchmark-owned streaming listener: query start times and every
  * progress report, keyed by query id.
  */
final class ProgressRecorder extends StreamingQueryListener {
  private val startedMs = mutable.Map.empty[UUID, Double]
  private val buf = ArrayBuffer.empty[StreamingQueryProgress]

  override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit =
    synchronized { startedMs(e.id) = Clock.parseMs(e.timestamp) }
  override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
    synchronized { buf += e.progress }
  override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()

  def started(id: UUID): Option[Double] = synchronized(startedMs.get(id))
  def queryIds: Seq[UUID] = synchronized(startedMs.keys.toList)
  def of(id: UUID): Seq[Trigger] =
    synchronized(buf.filter(_.id == id).toList).map(Trigger(_)).sortBy(_.batchId)
}

/** One micro-batch as its progress report describes it. */
final case class Trigger(p: StreamingQueryProgress) {
  def batchId: Long = p.batchId
  def d(key: String): Double = Option(p.durationMs.get(key)).map(_.doubleValue).getOrElse(0.0)
  val startMs: Double = Clock.parseMs(p.timestamp)
  def endMs: Double = startMs + d("triggerExecution")
  def rows: Long = p.numInputRows
  def stateRowsUpdated: Long = p.stateOperators.map(_.numRowsUpdated).sum
  def contains(t: Double): Boolean = startMs <= t && t <= endMs
}

/** Trigger-level spans and counters shared by the streaming workloads. */
object StreamTrace {
  /** Spark's order of a trigger's phases. */
  val phases: Seq[(String, String)] = Seq(
    "latestOffset" -> "sources.latest_offset", "walCommit" -> "streaming.wal_commit",
    "getBatch" -> "sources.get_batch", "queryPlanning" -> "streaming.query_planning",
    "addBatch" -> "streaming.add_batch", "commitOffsets" -> "streaming.commit_offsets")

  /** Record each trigger and its phases as spans under `parent`; returns
    * the add-batch span id per batch id so benchmark calls made inside
    * foreachBatch can hang below it.
    */
  def recordTriggers(spans: Spans, parent: Long, trigs: Seq[Trigger]): Map[Long, Long] =
    trigs.map { t =>
      val tid = spans.add("streaming.trigger", parent, t.startMs, t.endMs)
      var at = t.startMs
      var addBatch = tid
      phases.foreach { case (key, name) =>
        val id = spans.add(name, tid, at, at + t.d(key))
        if (key == "addBatch") addBatch = id
        at += t.d(key)
      }
      t.batchId -> addBatch
    }.toMap

  /** Hang each Spark job below the shortest span that contains its start. */
  def attachJobs(spans: Spans, jobs: Seq[JobRec]): Unit = {
    val candidates = spans.all.filter(_.name != "spark.job")
    jobs.foreach { j =>
      val home = candidates.filter(_.contains(j.startMs))
      if (home.nonEmpty)
        spans.add("spark.job", home.minBy(_.ms).id, j.startMs, math.max(j.startMs, j.endMs))
    }
  }

  /** sources.* and streaming.* per-layer numbers over the triggers that
    * carried input; per-event ratios divide by their input rows.
    */
  def layers(trigs: Seq[Trigger], jobs: Seq[JobRec], tasks: Seq[TaskRec], m: Layers): Unit = {
    val data = trigs.filter(_.rows > 0)
    if (data.nonEmpty) {
      val events = data.map(_.rows).sum.toDouble
      def jobsIn(t: Trigger) = jobs.filter(j => t.contains(j.startMs))
      def tasksIn(t: Trigger) = tasks.filter(k => t.contains(k.endMs))
      m("sources.latest_offset_ms") = Stats.median(data.map(_.d("latestOffset")))
      m("sources.get_batch_ms") = Stats.median(data.map(_.d("getBatch")))
      m("sources.rows_per_batch") = Stats.median(data.map(_.rows.toDouble))
      m("streaming.add_batch_ms") = Stats.median(data.map(_.d("addBatch")))
      m("streaming.query_planning_ms") = Stats.median(data.map(_.d("queryPlanning")))
      m("streaming.wal_commit_ms") =
        Stats.median(data.map(t => t.d("walCommit") + t.d("commitOffsets")))
      m("streaming.driver_gap_ms") = Stats.median(data.map { t =>
        t.d("triggerExecution") - Spans.unionMs(t.startMs, t.endMs, jobsIn(t).map(j => (j.startMs, j.endMs)))
      })
      m("streaming.jobs_per_batch") = Stats.median(data.map(jobsIn(_).size.toDouble))
      m("streaming.tasks_per_batch") = Stats.median(data.map(tasksIn(_).size.toDouble))
      val ts = data.flatMap(tasksIn)
      m("streaming.shuffle_bytes_per_event") = ts.map(_.shuffleWrite).sum / events
      m("streaming.rewrite_amplification") = ts.map(_.written).sum / events
      m("streaming.state_rows_updated_per_event") = data.map(_.stateRowsUpdated).sum / events
    }
  }
}

/** Engine-wide counters over a traced segment, per 1000 input items. */
object SparkTrace {
  def layers(jobs: Seq[JobRec], tasks: Seq[TaskRec], items: Long, wallMs: Double,
             gcMs: Double, m: Layers): Unit = {
    val k = math.max(items, 1L) / 1000.0
    m("spark.jobs") = jobs.size / k
    m("spark.tasks") = tasks.size / k
    m("spark.gc_s") = gcMs / 1000.0 / k
    m("spark.shuffle_write_bytes") = tasks.map(_.shuffleWrite).sum / k
    m("spark.spill_bytes") = tasks.map(_.spill).sum / k
    m("spark.busy_frac") =
      if (wallMs <= 0) 0.0 else tasks.map(_.runMs).sum / (wallMs * Runtime.getRuntime.availableProcessors)
  }

  def gcMs: Double =
    java.lang.management.ManagementFactory.getGarbageCollectorMXBeans.asScala
      .map(_.getCollectionTime.max(0L)).sum.toDouble
}
