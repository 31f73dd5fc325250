package graft

import graft.queries.AdvancedQ

/** q47's weighted mean is a codegen'd decimal-expression plan, not an
  * object-buffer UDAF. */
class WeightedMeanSpec extends SparkSpec {

  private val dir = "/root/testdata/sf0.001"

  test("registered q47 plan avoids the object-buffer aggregate") {
    val events = Tables.t(spark, dir, "events")
    val physical = AdvancedQ.weightedMeanExpr(events)
      .queryExecution.executedPlan.toString
    assert(!physical.contains("ObjectHashAggregate"),
      "q47 must hash-aggregate in whole-stage codegen, not via an " +
        "object buffer:\n" + physical)
    assert(physical.contains("HashAggregate"))
  }
}
