package graft

/** `PlanDump` prints the plan AQE finalized, and names the valid targets
  * when given an unknown one. */
class PlanDumpSpec extends SparkSpec {

  test("kg_salted dump is the final adaptive plan and has exchanges") {
    val plan = PlanDump.dump(spark, "unused", "kg_salted")
    assert(plan.contains("isFinalPlan=true"), plan.take(2000))
    assert(plan.contains("Exchange"), plan.take(2000))
  }

  test("an unknown target fails with the list of valid targets") {
    val e = intercept[IllegalArgumentException](
      PlanDump.dump(spark, "unused", "no_such_target"))
    assert(e.getMessage.contains("'no_such_target'"))
    assert(e.getMessage.contains(PlanDump.targets.mkString(", ")))
    assert(PlanDump.targets.contains("kg_salted") &&
      PlanDump.targets.contains("q01_agg"))
  }
}
