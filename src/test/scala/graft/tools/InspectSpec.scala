package graft.tools

import java.nio.file.{Files, Paths}
import org.scalatest.funsuite.AnyFunSuite
import graft.TestSpark

class InspectSpec extends AnyFunSuite {
  test("reports every round's jobs and writes both plans for the last round") {
    val dir = Files.createTempDirectory("graft_inspect").toString
    val reports = Inspect.run(TestSpark.spark, "/root/testdata/sf0.001", Seq("q1_agg"),
      rounds = 2, plansDir = Some(dir))
    assert(reports.map(r => (r.round, r.query)) == Seq(1 -> "q1_agg", 2 -> "q1_agg"))
    reports.foreach { r =>
      assert(r.jobs.nonEmpty && r.sec > 0)
      // drained: every job that started has also ended
      assert(r.jobs.forall(j => !j.sec.isNaN && j.stages > 0 && j.stageNames.nonEmpty))
    }
    val formatted = Files.readString(Paths.get(dir, "q1_agg_formatted.txt"))
    val finalPlan = Files.readString(Paths.get(dir, "q1_agg_final.txt"))
    assert(formatted.contains("isFinalPlan=false"), formatted.take(500))
    assert(finalPlan.contains("isFinalPlan=true"), finalPlan.take(500))
  }
}
