package perfbench

import scala.collection.mutable

/** Every metric the benchmark reports, with its unit. BENCHMARK.json and
  * METRICS.md name the same set.
  */
object Metrics {
  val endToEnd: Seq[(String, String)] = Seq(
    "setup_s" -> "s",
    "visible_p50_ms" -> "ms",
    "visible_p99_ms" -> "ms",
    "items_per_s" -> "1/s",
    "delivered_frac" -> "frac")

  val perLayer: Seq[(String, String)] = Seq(
    "sources.latest_offset_ms" -> "ms",
    "sources.get_batch_ms" -> "ms",
    "sources.read_lag_events" -> "events",
    "sources.rows_per_batch" -> "rows",
    "streaming.add_batch_ms" -> "ms",
    "streaming.query_planning_ms" -> "ms",
    "streaming.wal_commit_ms" -> "ms",
    "streaming.apply_call_ms" -> "ms",
    "streaming.driver_gap_ms" -> "ms",
    "streaming.jobs_per_batch" -> "count",
    "streaming.tasks_per_batch" -> "count",
    "streaming.shuffle_bytes_per_event" -> "bytes",
    "streaming.rewrite_amplification" -> "ratio",
    "streaming.state_files" -> "files",
    "streaming.state_rows_updated_per_event" -> "ratio",
    "cdc.decode_ms" -> "ms",
    "sinks.apply_call_ms" -> "ms",
    "sinks.rows_per_event" -> "ratio",
    "ops.novelty_batch_ms" -> "ms",
    "ops.jobs_per_batch" -> "count",
    "ops.index_files" -> "files",
    "ops.dup_frac" -> "frac",
    "spark.jobs" -> "count/1k",
    "spark.tasks" -> "count/1k",
    "spark.busy_frac" -> "frac",
    "spark.gc_s" -> "s/1k",
    "spark.shuffle_write_bytes" -> "bytes/1k",
    "spark.spill_bytes" -> "bytes/1k",
    "bench.gen_late_p99_ms" -> "ms",
    "bench.trace_overhead_frac" -> "frac",
    "bench.span_cover_frac" -> "frac")
}

/** Per-layer values of one run; a layer the workload does not use reads 0. */
final class Layers {
  private val values = mutable.LinkedHashMap.from(Metrics.perLayer.map(_._1 -> 0.0))
  def update(name: String, v: Double): Unit = {
    require(values.contains(name), s"unknown per-layer metric $name")
    values(name) = v
  }
  def apply(name: String): Double = values(name)
  def toSeq: Seq[(String, Double)] = values.toSeq
}

object Stats {
  /** Linear-interpolated quantile, q in [0, 1]. */
  def quantile(xs: Seq[Double], q: Double): Double =
    if (xs.isEmpty) 0.0
    else {
      val s = xs.sorted.toIndexedSeq
      val r = q * (s.size - 1)
      val lo = math.floor(r).toInt
      val hi = math.min(lo + 1, s.size - 1)
      s(lo) + (s(hi) - s(lo)) * (r - lo)
    }

  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)
}

/** Minimal JSON rendering for the result and span lines. */
object Json {
  /** An object whose keys render in the given order. */
  final case class Obj(kv: Seq[(String, Any)])

  def value(v: Any): String = v match {
    case Obj(kv) => obj(kv: _*)
    case null => "null"
    case s: String => "\"" + s.flatMap {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    case b: Boolean => b.toString
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case n: Int => n.toString
    case n: Long => n.toString
    case m: Map[_, _] => obj(m.toSeq.map { case (k, x) => k.toString -> x }: _*)
    case xs: Seq[_] => xs.map(value).mkString("[", ", ", "]")
    case o => value(o.toString)
  }

  def obj(kv: (String, Any)*): String =
    kv.map { case (k, v) => value(k) + ": " + value(v) }.mkString("{", ", ", "}")
}
