package graft.ops

import scala.concurrent.duration._

/** Health rules of the reference's operational layer, as pure
  * predicates. Recovery itself needs no retry wrapper here: Spark's task
  * retry covers the compute side and the sinks are idempotent (a
  * replayed batch rewrites the same rows — `StreamToJdbcSpec` pins it).
  */
object Resilience {

  /** Health rules over streaming progress (reference:
    * health/HealthCheck.scala:13-165 — lag > 5 min, error rate > 5 %,
    * queue > 80 %): pure predicates over a metrics snapshot.
    */
  final case class HealthSnapshot(lagMillis: Long, errorRate: Double, queueUtilization: Double)

  def healthIssues(s: HealthSnapshot): Seq[String] = {
    val issues = Seq.newBuilder[String]
    if (s.lagMillis > 5.minutes.toMillis) issues += s"lag ${s.lagMillis}ms > 5min"
    if (s.errorRate > 0.05) issues += f"error rate ${s.errorRate}%.3f > 5%%"
    if (s.queueUtilization > 0.8) issues += f"queue ${s.queueUtilization}%.2f > 80%%"
    issues.result()
  }

  def isHealthy(s: HealthSnapshot): Boolean = healthIssues(s).isEmpty
}
