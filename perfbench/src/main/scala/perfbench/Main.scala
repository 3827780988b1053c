package perfbench

import org.apache.spark.sql.SparkSession

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Path, Paths}
import scala.jdk.CollectionConverters._

/** Command line: `--workload <name> --seed <n> --seconds <n> --trace <0|1>
  * --work <dir>`, plus `--scale tiny` (self-test sizes), `--corrupt 1`
  * (damage the target before the reference check, which must then fail)
  * and `--rate <n>` (an open loop's offered events per second).
  */
final case class Args(workload: String, seed: Long, seconds: Int, trace: Boolean,
                      work: String, tiny: Boolean, corrupt: Boolean, rate: Option[Int])

object Args {
  def parse(argv: Array[String]): Args = {
    val m = argv.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    def need(k: String) = m.getOrElse(k, throw new IllegalArgumentException(s"missing --$k"))
    Args(need("workload"), need("seed").toLong, need("seconds").toInt, need("trace") == "1",
      need("work"), m.get("scale").contains("tiny"), m.get("corrupt").contains("1"),
      m.get("rate").map(_.toInt))
  }
}

/** What one workload needs from the harness. */
final case class Ctx(spark: SparkSession, args: Args, spans: Spans,
                     sparkRec: SparkRecorder, progress: ProgressRecorder) {
  def dir(name: String): String = Paths.get(args.work, name).toAbsolutePath.toString
}

/** One measured run. `latMs` holds every item's ingest-to-visible time;
  * items never visible are in `failed` and in `latMs` at the deadline.
  */
final case class Outcome(attempted: Long, failed: Long, latMs: Seq[Double], itemsPerS: Double,
                         layers: Layers, valid: Boolean = true,
                         oracle: Option[Map[String, Any]] = None)

trait Workload {
  /** Input sizes, stamped on the result. */
  def inputs: Map[String, Long]
  /** Run the measured code path once on a small input (JIT, first plans). */
  def warmUp(): Unit
  /** One set-up repetition: prepare the measured inputs or pipeline. */
  def setup(rep: Int): Unit
  def measure(): Outcome
}

object Main {
  val setupReps = 3

  def session(work: String, cores: Int): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  def main(argv: Array[String]): Unit = {
    val args = Args.parse(argv)
    val jvmStartMs = ManagementFactory.getRuntimeMXBean.getStartTime.toDouble
    System.setProperty("derby.stream.error.file", s"${args.work}/derby.log")
    val cores = Runtime.getRuntime.availableProcessors
    val spark = session(args.work, cores)
    val sessionS = (Clock.nowMs - jvmStartMs) / 1000.0
    val runId = java.util.UUID.randomUUID().toString
    val ctx = Ctx(spark, args, new Spans(runId), new SparkRecorder, new ProgressRecorder)
    spark.sparkContext.addSparkListener(ctx.sparkRec)
    spark.streams.addListener(ctx.progress)
    try {
      val w: Workload = args.workload match {
        case "binlog_tail" => new BinlogTail(ctx)
        case "jdbc_hotkey" => new JdbcHotkey(ctx)
        case "doc_novelty" => new DocNovelty(ctx)
        case other => throw new IllegalArgumentException(s"unknown workload $other")
      }
      def seconds(f: => Unit): Double = { val s = Clock.nowMs; f; (Clock.nowMs - s) / 1000.0 }
      val warmS = seconds(w.warmUp())
      val setupS = (0 until setupReps).map(rep => seconds(w.setup(rep)))
      val o = w.measure()
      if (args.trace) ctx.spans.write(s"${args.work}/spans.jsonl")

      val metrics: Seq[(String, Double)] =
        if (args.trace) o.layers.toSeq
        else Seq(
          "setup_s" -> (sessionS + warmS + Stats.median(setupS)),
          "visible_p50_ms" -> Stats.quantile(o.latMs, 0.5),
          "visible_p99_ms" -> Stats.quantile(o.latMs, 0.99),
          "items_per_s" -> o.itemsPerS,
          "delivered_frac" -> math.max(0.0, 1.0 - o.failed.toDouble / math.max(o.attempted, 1L)))
      val units = (Metrics.endToEnd ++ Metrics.perLayer).toMap
      println(s"STAMP " + Json.obj(
        "run_id" -> runId, "workload" -> args.workload, "seed" -> args.seed,
        "trace" -> args.trace, "spark_version" -> spark.version,
        "jvm_version" -> System.getProperty("java.vm.version"), "cores" -> cores,
        "session_start_s" -> sessionS, "warm_up_s" -> warmS, "setup_reps_s" -> setupS, "inputs" -> w.inputs,
        "latency_samples" -> o.latMs.size, "valid" -> o.valid))
      o.oracle.foreach(m => println("ORACLE " + Json.obj(m.toSeq: _*)))
      println("RESULT " + Json.obj(
        "correct" -> (o.failed == 0L), "attempted" -> o.attempted, "failed" -> o.failed,
        "metrics" -> Json.Obj(metrics.map { case (k, v) => k -> Json.Obj(Seq("value" -> v, "unit" -> units(k))) })))
    } finally spark.stop()
  }
}

object Fs {
  def delete(dir: String): Unit = {
    val p = Paths.get(dir)
    if (Files.exists(p)) {
      val s = Files.walk(p)
      try s.iterator().asScala.toList.reverse.foreach(Files.delete) finally s.close()
    }
  }

  def files(dir: String, suffix: String): Seq[Path] = {
    val p = Paths.get(dir)
    if (!Files.exists(p)) Nil
    else {
      val s = Files.walk(p)
      try s.iterator().asScala.filter(f => f.toString.endsWith(suffix)).toList finally s.close()
    }
  }

  /** Write `df` as exactly one parquet file at `target` (a chunk file). */
  def writeOne(df: org.apache.spark.sql.DataFrame, target: String): Unit = {
    val tmp = target + ".tmp"
    df.coalesce(1).write.mode("overwrite").parquet(tmp)
    val part = files(tmp, ".parquet").head
    Files.createDirectories(Paths.get(target).getParent)
    Files.move(part, Paths.get(target))
    delete(tmp)
  }
}
