package graft

import java.nio.file.Files

/** `PlanDump` writes one non-empty `explain formatted` file per name, for
  * every registered lazy stage and for public `queries` frames, and fails
  * on a name it does not know before writing anything. */
class PlanDumpSpec extends SparkSpec {
  private val sf = "/root/testdata/sf0.001"

  test("one formatted plan per lazy stage and per queries name") {
    val out = tmpDir()
    val names = PlanDump.stages.keys.toSeq.sorted ++ Seq("q_scan_project_filter", "q_kn_stored")
    val files = PlanDump.dump(spark, sf, out, names)
    assert(files.map(_.getFileName.toString) == names.map(n => s"$n.txt"))
    files.foreach { p =>
      val plan = Files.readString(p)
      assert(plan.startsWith("== Physical Plan =="), s"$p: ${plan.take(80)}")
      assert(plan.contains("(1)"), s"$p has no numbered operator")
    }
    assert(new java.io.File(out).list().length == names.size)
  }

  test("an unknown name fails before any plan is written") {
    val out = tmpDir()
    val e = intercept[IllegalArgumentException](
      PlanDump.dump(spark, sf, out, Seq("q_scan_project_filter", "q_no_such_plan")))
    assert(e.getMessage.contains("q_no_such_plan"))
    assert(new java.io.File(out).list().isEmpty)
  }
}
