package graft

import graft.ops.Resilience._
import org.scalatest.funsuite.AnyFunSuite

import scala.concurrent.duration._

/** Health rules over a metrics snapshot (no Spark needed). */
class ResilienceSpec extends AnyFunSuite {

  test("health rules: lag, error rate, queue thresholds") {
    assert(isHealthy(HealthSnapshot(1000, 0.01, 0.5)))
    assert(healthIssues(HealthSnapshot(6.minutes.toMillis, 0.01, 0.5)).exists(_.contains("lag")))
    assert(healthIssues(HealthSnapshot(0, 0.06, 0.5)).exists(_.contains("error rate")))
    assert(healthIssues(HealthSnapshot(0, 0.0, 0.9)).exists(_.contains("queue")))
  }
}
