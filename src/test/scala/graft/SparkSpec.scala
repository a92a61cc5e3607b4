package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Shared local session for all suites (one forked test JVM). */
object TestSpark {
  lazy val spark: SparkSession =
    // "local[4, 2]": 4 threads, maxFailures=2 — ChaosSpec injects a
    // task failure and asserts the retried job's result is identical;
    // deterministic failures still fail (both attempts throw). Known
    // trade: one silent retry can mask an INTERMITTENT task-level race
    // in any suite — accepted deliberately, because every real cluster
    // runs maxFailures=4, so retry-tolerance is the contract the code
    // must satisfy anyway (a test that only passes at maxFailures=1 is
    // asserting flakiness, not correctness)
    Sessions.local("local[4, 2]",
      "spark.app.name" -> "graft-test",
      "spark.sql.warehouse.dir" -> graft.TempDirs.create("graft-warehouse").toString)
}

abstract class SparkSpec extends AnyFunSuite {
  lazy val spark: SparkSession = TestSpark.spark

  /** Every physical node in an executed plan, unwrapping the AQE
    * wrappers (AdaptiveSparkPlanExec / QueryStageExec are leaf-like:
    * plain collect() stops at them) — the runtime exec instances found
    * this way hold the live SQLMetrics. */
  def allNodes(p: org.apache.spark.sql.execution.SparkPlan)
      : Seq[org.apache.spark.sql.execution.SparkPlan] = {
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
    val below = p match {
      case a: AdaptiveSparkPlanExec => Seq(a.executedPlan)
      case s: QueryStageExec => Seq(s.plan)
      case other => other.children
    }
    p +: below.flatMap(allNodes)
  }
}
