package perfbench

import graft.cdc.Normalizer
import graft.sinks.JdbcApplyWorker
import graft.streaming.{Conflation, StreamingApply}
import graft.sources.BinlogFileSource
import org.apache.spark.BenchBus
import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{OutputMode, StreamingQuery, Trigger => SparkTrigger}

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}
import java.sql.{Connection, DriverManager}
import java.util.concurrent.ConcurrentLinkedQueue
import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

/** An open-loop replication workload: one generator thread appends
  * seeded change events to the source at a fixed rate while a
  * `ProcessingTime` stream replicates them. An event is due when the
  * schedule says it should be written and visible when the apply call of
  * the micro-batch whose end offset covers it returns.
  */
abstract class OpenLoop(ctx: Ctx) extends Workload {
  import OpenLoop._

  protected val spark = ctx.spark
  protected val tiny: Boolean = ctx.args.tiny
  /** Offered events per second; `--rate` overrides it for a saturation sweep. */
  def rate: Int = ctx.args.rate.getOrElse(defaultRate)
  protected def defaultRate: Int
  def keys: Int
  def zipf: Double = 0.0
  val tickMs = 5.0
  /** `ProcessingTime(0)`: the next micro-batch starts as soon as the last
    * one ends. A longer interval rounds every cycle up to a multiple of it,
    * which makes latency jump between multiples from run to run.
    */
  val triggerMs = 0L
  def drainMs: Double = if (tiny) 20000.0 else 30000.0
  val warmSeconds = 3.0
  /** Leading seconds of the measured stream left out of its latency and
    * throughput figures: a new query's first micro-batches plan and load
    * state, which would otherwise dominate the tail.
    */
  def rampSeconds: Double = if (tiny) 0.5 else 2.5

  /** Fresh source and target for one stream under `dir`. */
  protected def open(dir: String): Unit
  /** Generator side: write one tick's events in a single append. */
  protected def append(evs: Seq[Ev], nowMs: Double): Unit
  protected def start(dir: String, ckpt: String, body: (DataFrame, Long) => Unit): StreamingQuery
  /** The program's apply call(s) for one micro-batch. */
  protected def apply(batch: DataFrame, batchId: Long, traced: Boolean, parent: Long): Unit
  /** Highest event pos covered by the end offset in an offset-log entry. */
  protected def coveredPos(offsetJson: String): Long
  /** Keys of the target that differ from the reference fold. */
  protected def mismatches(expected: Map[Reference.Key, Ev]): Long
  protected def corrupt(): Unit
  protected def close(): Unit

  def inputs: Map[String, Long] = Map(
    "events" -> (rate * (rampSeconds + ctx.args.seconds)).toLong, "keys" -> keys.toLong,
    "rate_per_s" -> rate.toLong)

  def warmUp(): Unit = {
    val r = stream(ctx.dir("warm"), 0.0, warmSeconds, traced = false, damage = false)
    require(r.failed == 0, s"warm-up stream left ${r.failed} events unapplied")
    Fs.delete(ctx.dir("warm"))
  }

  /** One set-up repetition: a fresh source and target, and a query started
    * on them until its first trigger.
    */
  def setup(rep: Int): Unit = {
    val dir = ctx.dir(s"setup$rep")
    Files.createDirectories(Paths.get(dir))
    open(dir)
    try {
      val q = start(dir, s"$dir/ckpt", (df, id) => apply(df, id, traced = false, 0L))
      try q.processAllAvailable() finally q.stop()
    } finally close()
    Fs.delete(dir)
  }

  def measure(): Outcome = {
    val dir = ctx.dir("main")
    val r = stream(dir, rampSeconds, ctx.args.seconds.toDouble, ctx.args.trace, ctx.args.corrupt)
    val m = new Layers
    if (ctx.args.trace) traceLayers(r, dir, m)
    Outcome(r.attempted, r.failed, r.latMs, r.itemsPerS, m,
      valid = r.genLateP99Ms <= MaxGenLateMs)
  }

  private def stream(dir: String, ramp: Double, seconds: Double, traced: Boolean,
                     damage: Boolean): StreamRun = {
    Fs.delete(dir)
    Files.createDirectories(Paths.get(dir))
    open(dir)
    val ckpt = s"$dir/ckpt"
    val batches = new ConcurrentLinkedQueue[BatchRec]()
    val q = start(dir, ckpt, (df, id) => {
      val tr = traced && id % 2 == 1
      val gc0 = if (tr) SparkTrace.gcMs else 0.0
      val s = Clock.nowMs
      val spanId = if (tr) ctx.spans.timed("bench.foreach_batch", 0L)(p => { apply(df, id, tr, p); p })
        else { apply(df, id, tr, 0L); 0L }
      val e = Clock.nowMs
      val off = Files.readAllLines(Paths.get(ckpt, "offsets", id.toString), StandardCharsets.UTF_8)
      batches.add(BatchRec(id, s, e, coveredPos(off.asScala.last.trim), tr, spanId,
        if (tr) SparkTrace.gcMs - gc0 else 0.0))
      ()
    })
    try {
      val gen = new Generator(new EventGen(ctx.args.seed, keys, zipf), (rate * (ramp + seconds)).toInt)
      val t = new Thread(gen, "perfbench-generator")
      t.start()
      t.join()
      val n = gen.events.length
      def covered = batches.asScala.foldLeft(-1L)((a, b) => math.max(a, b.covered))
      val deadline = Clock.nowMs + drainMs
      while (covered < n - 1 && Clock.nowMs < deadline && q.isActive) Thread.sleep(10)
      val endMs = Clock.nowMs
      q.stop()
      q.exception.foreach(e => System.err.println(s"stream failed: ${e.getMessage}"))
      BenchBus.drain(spark.sparkContext)

      val bs = batches.asScala.toSeq.sortBy(_.id)
      val lat = new Array[Double](n)
      java.util.Arrays.fill(lat, Double.NaN)
      var prev = -1L
      bs.foreach { b =>
        (prev + 1 to math.min(b.covered, n - 1L)).foreach(i => lat(i.toInt) = b.endMs - gen.dueMs(i))
        prev = math.max(prev, b.covered)
      }
      val visible = lat.count(!_.isNaN)
      val neverVisible = n - visible
      (0 until n).foreach(i => if (lat(i).isNaN) lat(i) = endMs - gen.dueMs(i))
      val lastVisible = bs.filter(_.covered >= 0).map(_.endMs).maxOption.getOrElse(endMs)
      val first = (ramp * rate).toInt
      val measured = lat.drop(first)
      if (damage) corrupt()
      val bad = mismatches(Reference.fold(gen.events.take(visible)))
      StreamRun(q, n.toLong, bs, measured.toSeq, neverVisible + bad,
        math.max(visible - first, 0) / math.max((lastVisible - gen.dueMs(first)) / 1000.0, 1e-3),
        Stats.quantile(gen.lateMs.toSeq, 0.99), gen.heads.toSeq, endMs)
    } finally close()
  }

  private def traceLayers(r: StreamRun, dir: String, m: Layers): Unit = {
    // every traced trigger is a root span; only its window's jobs and tasks count
    val trs = ctx.progress.of(r.q.id).filter(_.batchId % 2 == 1)
    val addBatch = StreamTrace.recordTriggers(ctx.spans, 0L, trs)
    val traced = r.batches.filter(_.traced)
    traced.foreach { b =>
      addBatch.get(b.id).foreach { ab =>
        ctx.spans.update(b.spanId)(_.copy(parent = ab))
        ctx.spans.update(ab)(s => s.copy(startMs = math.min(s.startMs, b.startMs),
          endMs = math.max(s.endMs, b.endMs)))
      }
    }
    val windows = trs.map(t => (t.startMs, t.endMs))
    val jobs = ctx.sparkRec.jobsIn(windows)
    val tasks = ctx.sparkRec.tasksIn(windows)
    StreamTrace.attachJobs(ctx.spans, jobs)
    StreamTrace.layers(trs, jobs, tasks, m)
    val spans = ctx.spans.all
    def callMs(name: String) = Stats.median(spans.filter(_.name == name).map(_.ms))
    m("streaming.apply_call_ms") = callMs("streaming.StreamingApply.applyBatch")
    m("cdc.decode_ms") = callMs("cdc.SchemaRegistry.decode")
    m("sinks.apply_call_ms") = callMs("sinks.JdbcApplyWorker.applyBatch")
    val coveredById = r.batches.map(b => b.id -> b.covered).toMap
    m("sources.read_lag_events") = Stats.median(trs.filter(_.rows > 0).flatMap { t =>
      coveredById.get(t.batchId).map(c => (headAt(r.heads, t.startMs + t.d("latestOffset")) - c).toDouble)
    })
    val items = trs.map(_.rows).sum
    SparkTrace.layers(jobs, tasks, items, trs.map(_.d("triggerExecution")).sum,
      traced.map(_.gcMs).sum, m)
    m("bench.gen_late_p99_ms") = r.genLateP99Ms
    val untraced = r.batches.filterNot(_.traced).filter(_.id > 0).map(_.ms)
    val tracedMs = traced.map(_.ms)
    if (untraced.nonEmpty && tracedMs.nonEmpty)
      m("bench.trace_overhead_frac") = Stats.median(tracedMs) / Stats.median(untraced) - 1.0
    m("bench.span_cover_frac") = ctx.spans.coverFrac("streaming.trigger")
    extraLayers(m, dir, r)
  }

  /** Workload-specific per-layer numbers, read after the stream stops. */
  protected def extraLayers(m: Layers, dir: String, r: StreamRun): Unit = ()

  private def headAt(heads: Seq[(Double, Long)], t: Double): Long =
    heads.takeWhile(_._1 <= t).lastOption.map(_._2).getOrElse(-1L)

  /** Paced writer: every tick it appends all events due by then in one
    * write, and records how late that write ran against the schedule.
    */
  final class Generator(gen: EventGen, n: Int) extends Runnable {
    val events = new Array[Ev](n)
    val lateMs = ArrayBuffer.empty[Double]
    val heads = ArrayBuffer.empty[(Double, Long)]
    val t0: Double = Clock.nowMs
    def dueMs(i: Long): Double = t0 + i * 1000.0 / rate

    def run(): Unit = {
      var i = 0
      while (i < n) {
        val now = Clock.nowMs
        val due = math.min(n, ((now - t0) * rate / 1000.0).toInt + 1)
        if (due > i) {
          (i until due).foreach(j => events(j) = gen.next())
          append(events.slice(i, due).toSeq, now)
          val done = Clock.nowMs
          lateMs += done - dueMs(i)
          heads += ((done, due - 1L))
          i = due
        }
        val sleep = dueMs(i) - Clock.nowMs
        if (sleep > 0) Thread.sleep(math.min(tickMs, sleep).ceil.toLong)
      }
    }
  }
}

object OpenLoop {
  /** A run whose generator fell this far behind its schedule is invalid. */
  val MaxGenLateMs = 50.0

  final case class BatchRec(id: Long, startMs: Double, endMs: Double, covered: Long,
                            traced: Boolean, spanId: Long, gcMs: Double) {
    def ms: Double = endMs - startMs
  }

  final case class StreamRun(q: StreamingQuery, attempted: Long, batches: Seq[BatchRec],
                             latMs: Seq[Double], failed: Long, itemsPerS: Double,
                             genLateP99Ms: Double, heads: Seq[(Double, Long)],
                             endMs: Double)
}

/** `binlog_tail`: wide events appended as whole lines to a binlog file,
  * tailed by `graft-binlog`, decoded through the fixture schema registry
  * and applied by `StreamingApply.applyBatch`.
  */
final class BinlogTail(ctx: Ctx) extends OpenLoop(ctx) {
  protected def defaultRate: Int = if (tiny) 500 else 1500
  val keys: Int = if (tiny) 2000 else 50000
  val maxPerBatch = 5000
  private var log: java.io.FileOutputStream = _
  private var stateDir: String = _

  override def inputs: Map[String, Long] = super.inputs + ("files" -> 1L)

  protected def open(dir: String): Unit = {
    stateDir = s"$dir/state"
    log = new java.io.FileOutputStream(s"$dir/binlog.log", true)
  }

  protected def append(evs: Seq[Ev], nowMs: Double): Unit = {
    val sb = new StringBuilder
    evs.foreach { e =>
      sb ++= BinlogFileSource.renderLine(e.tbl, e.pk, e.op, nowMs.toLong, e.pos, e.value,
        "bench", e.pos + 1, e.payloadJson) += '\n'
    }
    log.write(sb.toString.getBytes(StandardCharsets.UTF_8))
    log.flush()
  }

  protected def start(dir: String, ckpt: String, body: (DataFrame, Long) => Unit): StreamingQuery =
    spark.readStream.format("graft-binlog")
      .option("path", s"$dir/binlog.log")
      .option("maxPerBatch", maxPerBatch.toString)
      .load()
      .select(col("tbl"), col("pk"), col("op"), expr("timestamp_millis(ts_ms)").as("ts"),
        col("pos"), col("payload_json"))
      .writeStream
      .foreachBatch(body)
      .option("checkpointLocation", ckpt)
      .trigger(SparkTrigger.ProcessingTime(triggerMs))
      .start()

  protected def apply(batch: DataFrame, batchId: Long, traced: Boolean, parent: Long): Unit = {
    val decoded = Normalizer.fixtureRegistry.decode(batch)
    def call(df: DataFrame): Unit =
      StreamingApply.applyBatch(stateDir, payloadCols = Normalizer.payloadCols)(df, batchId)
    if (!traced) call(decoded)
    else {
      // traced: materialize the decoded rows first, so decoding and the
      // bucketed merge show as separate spans
      val d = ctx.spans.timed("cdc.SchemaRegistry.decode", parent) { _ =>
        val d = decoded.persist()
        d.count()
        d
      }
      try ctx.spans.timed("streaming.StreamingApply.applyBatch", parent)(_ => call(d))
      finally d.unpersist()
    }
  }

  /** The end offset is a GTID set `bench:1-N`; txn = pos + 1. */
  protected def coveredPos(offsetJson: String): Long =
    "(\\d+)$".r.findFirstIn(offsetJson).map(_.toLong - 1L).getOrElse(-1L)

  private def state: DataFrame = StreamingApply.currentState(spark, stateDir, Normalizer.payloadCols)

  protected def mismatches(expected: Map[Reference.Key, Ev]): Long = {
    val got =
      if (!Files.exists(Paths.get(stateDir))) Nil
      else state.collect().toSeq.map { r =>
        (r.getAs[String]("tbl"), r.getAs[Long]("pk")) ->
          ((r.getAs[Long]("pos"), r.getAs[String]("event_type"), r.getAs[Long]("k"), r.getAs[Double]("value")))
      }
    Reference.mismatches(expected.map { case (k, e) => k -> ((e.pos, e.etype, e.k, e.value)) }, got)
  }

  /** Add a second image of one live key to the newest state version. */
  protected def corrupt(): Unit = {
    val row = state.limit(1).withColumn("value", col("value") + 1.0)
    val newest = Fs.files(stateDir, ".parquet").map(_.getParent.toString)
      .maxBy(d => "v=(-?\\d+)".r.findFirstMatchIn(d).get.group(1).toLong)
    row.write.mode("append").parquet(newest)
  }

  protected def close(): Unit = if (log != null) log.close()
}

/** `jdbc_hotkey`: one JDBC connection inserts Zipf-skewed changes into a
  * Derby changelog; `graft-jdbc-cdc` tails it, `Conflation` folds each
  * micro-batch per key and `JdbcApplyWorker` applies the deltas to a
  * Derby table in the same database.
  */
final class JdbcHotkey(ctx: Ctx) extends OpenLoop(ctx) {
  protected def defaultRate: Int = if (tiny) 1000 else 16000
  val keys: Int = if (tiny) 1000 else 10000
  override val zipf = 1.1
  val maxPerBatch = 20000
  private var url: String = _
  private var db: String = _
  private var conn: Connection = _
  private var ins: java.sql.PreparedStatement = _
  private val sinkRows = new java.util.concurrent.atomic.AtomicLong

  protected def open(dir: String): Unit = {
    db = s"memory:perfbench_${ProcessHandle.current.pid}_${System.nanoTime}"
    url = s"jdbc:derby:$db"
    conn = DriverManager.getConnection(url + ";create=true")
    val st = conn.createStatement()
    st.execute("CREATE TABLE changelog (pos BIGINT PRIMARY KEY, tbl VARCHAR(8), pk BIGINT, " +
      "op VARCHAR(1), v DOUBLE)")
    st.execute("CREATE TABLE target_rows (tbl VARCHAR(8) NOT NULL, pk BIGINT NOT NULL, v DOUBLE, " +
      "PRIMARY KEY (tbl, pk))")
    st.close()
    conn.setAutoCommit(false)
    ins = conn.prepareStatement("INSERT INTO changelog (pos, tbl, pk, op, v) VALUES (?, ?, ?, ?, ?)")
    sinkRows.set(0L)
  }

  protected def append(evs: Seq[Ev], nowMs: Double): Unit = {
    evs.foreach { e =>
      ins.setLong(1, e.pos); ins.setString(2, e.tbl); ins.setLong(3, e.pk)
      ins.setString(4, e.op); ins.setDouble(5, e.value)
      ins.addBatch()
    }
    ins.executeBatch()
    conn.commit()
  }

  protected def start(dir: String, ckpt: String, body: (DataFrame, Long) => Unit): StreamingQuery = {
    import spark.implicits._
    val changes = spark.readStream.format("graft-jdbc-cdc")
      .option("url", url).option("table", "changelog").option("posColumn", "pos")
      .option("maxPerBatch", maxPerBatch.toString).option("numPartitions", "4")
      .load()
      .select(col("tbl"), col("pk"), col("op"), col("pos"), col("v").as("value"))
      .as[Conflation.ChangeIn]
    Conflation.conflatedDeltas(changes).writeStream
      .outputMode(OutputMode.Update)
      .foreachBatch((ds: Dataset[Conflation.Delta], id: Long) => body(ds.toDF(), id))
      .option("checkpointLocation", ckpt)
      .trigger(SparkTrigger.ProcessingTime(triggerMs))
      .start()
  }

  protected def apply(batch: DataFrame, batchId: Long, traced: Boolean, parent: Long): Unit = {
    val frame = batch.select(col("tbl"), col("pk"), coalesce(col("value"), lit(0.0)).as("v"), col("op"))
    def sink(df: DataFrame): Unit = JdbcApplyWorker.applyBatch(df, url, "target_rows", Seq("tbl", "pk"), Seq("v"))
    if (!traced) sink(frame)
    else {
      // traced: materialize the conflated deltas first, so the fold and
      // the sink write show as separate spans and the sink's row count is known
      val deltas = ctx.spans.timed("streaming.Conflation.conflatedDeltas", parent) { _ =>
        val d = frame.persist()
        sinkRows.addAndGet(d.count())
        d
      }
      try ctx.spans.timed("sinks.JdbcApplyWorker.applyBatch", parent)(_ => sink(deltas))
      finally deltas.unpersist()
    }
  }

  protected def coveredPos(offsetJson: String): Long = offsetJson.toLong

  protected def mismatches(expected: Map[Reference.Key, Ev]): Long = {
    val rs = conn.createStatement().executeQuery("SELECT tbl, pk, v FROM target_rows")
    val got = ArrayBuffer.empty[(Reference.Key, Double)]
    while (rs.next()) got += ((rs.getString(1), rs.getLong(2)) -> rs.getDouble(3))
    rs.close()
    Reference.mismatches(expected.map { case (k, e) => k -> e.value }, got.toSeq)
  }

  protected def corrupt(): Unit = {
    conn.createStatement().executeUpdate(
      "UPDATE target_rows SET v = v + 1 WHERE pk = (SELECT MIN(pk) FROM target_rows)")
    conn.commit()
  }

  override protected def extraLayers(m: Layers, dir: String, r: OpenLoop.StreamRun): Unit = {
    val traced = ctx.progress.of(r.q.id).filter(_.batchId % 2 == 1)
    m("sinks.rows_per_event") = sinkRows.get.toDouble / math.max(traced.map(_.rows).sum, 1L)
    m("streaming.state_files") = Fs.files(s"$dir/ckpt/state", "").count(p => Files.isRegularFile(p)).toDouble
  }

  protected def close(): Unit = {
    if (conn != null) { conn.rollback(); conn.close(); conn = null }
    if (db != null)
      try DriverManager.getConnection(s"jdbc:derby:$db;drop=true")
      catch { case _: java.sql.SQLException => () } // Derby reports a drop as an exception
  }
}
