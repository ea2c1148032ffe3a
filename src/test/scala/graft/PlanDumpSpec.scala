package graft

import org.scalatest.funsuite.AnyFunSuite

/** PlanDump's masking: two dumps of one tree from two sessions differ only
  * in what the masking hides. */
class PlanDumpSpec extends AnyFunSuite {

  test("masked: plan ids, lambda identities, RDD ids and call-site lines") {
    def dump(planId: Int, lambda: String, rdd: Int, line: Int) =
      s"""Exchange hashpartitioning(d1#12L, 8), ENSURE_REQUIREMENTS, [plan_id=$planId]
         |Arguments: graft.ops.Embeddings$$$$$$Lambda$$$lambda, newInstance(class scala.Tuple2), [input[0, int, false] AS value#14]
         |Arguments: [p#3558, l#3553L], MapPartitionsRDD[$rdd] at localCheckpoint at Text.scala:$line, ExistingRDD, UnknownPartitioning(0)""".stripMargin
    val a = dump(2499, "3984/0x00007fb3752168e8@38ed9fb2", 148, 787)
    val b = dump(2605, "2510/0x00007f93a0d10b50@feb57b4", 354, 4803)
    assert(a != b)
    assert(PlanDump.masked(a) == PlanDump.masked(b))
    assert(PlanDump.masked(a) ==
      """Exchange hashpartitioning(d1#12L, 8), ENSURE_REQUIREMENTS, [plan_id=*]
        |Arguments: graft.ops.Embeddings$$$Lambda$*, newInstance(class scala.Tuple2), [input[0, int, false] AS value#14]
        |Arguments: [p#3558, l#3553L], MapPartitionsRDD[*] at localCheckpoint at Text.scala:*, ExistingRDD, UnknownPartitioning(0)""".stripMargin)
    // what names the tree is kept: a different lambda owner, RDD kind or
    // call site still shows
    assert(PlanDump.masked(a.replace("Embeddings$", "Text$")) != PlanDump.masked(a))
    assert(PlanDump.masked(a.replace("localCheckpoint", "checkpoint")) != PlanDump.masked(a))
    assert(PlanDump.masked(a.replace("Text.scala", "Geometry.scala")) != PlanDump.masked(a))
  }
}
