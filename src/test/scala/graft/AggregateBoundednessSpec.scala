package graft

import org.scalatest.funsuite.AnyFunSuite

/** Static guard behind `Engine.tune`'s raised ObjectHashAggregate
  * sort-fallback threshold (512k live groups per task, Engine.scala —
  * VERDICT r17 #1): the threshold is safe ONLY while every aggregate
  * that executes as ObjectHashAggregate carries a BOUNDED per-group
  * buffer. That holds today — the audit (OPTIMIZATION_r18.md) found the
  * only TypedImperativeAggregates are BottomKLongTuples (≤ k tuples of
  * ≤ arity longs, k ≤ 10 at every call site) and TopKValues (≤ k-element
  * heap), plus the constant-size MomentsAgg Aggregator — and this spec
  * keeps it held: an UNBOUNDED object-buffer aggregate (collect_list /
  * collect_set, whose per-group state grows with the group) appearing in
  * main source would make 512k live buffers an OOM risk at 100 TB, so
  * its introduction must consciously revisit the threshold, not silently
  * ride it.
  */
class AggregateBoundednessSpec extends AnyFunSuite {

  test("no unbounded-buffer aggregate (collect_list/collect_set) in main source") {
    val offenders = MainSources.files.flatMap { p =>
      val body = MainSources.code(p)
      if (body.contains("collect_list") || body.contains("collect_set"))
        Some(p.toString)
      else None
    }
    assert(offenders.isEmpty,
      s"collect_list/collect_set found in ${offenders.mkString(", ")} — " +
        "per-group buffers must stay bounded while Engine.tune raises the " +
        "ObjectHashAggregate sort-fallback threshold to 512k (see " +
        "Engine.scala + OPTIMIZATION_r18.md audit); either bound the " +
        "aggregate (TopKValues/BottomKLongTuples pattern) or lower the " +
        "threshold with a fresh worst-case memory argument")
  }

  test("every TypedImperativeAggregate in main source is a known bounded one") {
    val bounded = Set("BottomK.scala", "TopKValues.scala")
    val offenders = MainSources.files.flatMap { p =>
      val body = MainSources.code(p)
      if (body.contains("extends TypedImperativeAggregate") &&
        !bounded.contains(p.getFileName.toString))
        Some(p.toString)
      else None
    }
    assert(offenders.isEmpty,
      s"new TypedImperativeAggregate in ${offenders.mkString(", ")} — " +
        "prove its per-group buffer is bounded and add its file to this " +
        "spec's allowlist (the 512k ObjectHashAggregate fallback threshold " +
        "in Engine.tune assumes bounded buffers)")
  }
}
