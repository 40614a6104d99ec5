package graft

import java.nio.file.{Files, Paths}

import org.scalatest.funsuite.AnyFunSuite

import graft.examples.PlanDump

class PlanDumpSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  test("run writes each good plan and counts an unknown name as a failure") {
    val out = TestSpark.scratchDir("plan-dump")
    val failed = PlanDump.run(spark, "/root/testdata/sf0.001", out, "t",
      Seq("q_salted_agg", "q_no_such_query"), exec = false)
    assert(failed == 1)
    val plan = new String(Files.readAllBytes(
      Paths.get(out, "q_salted_agg_t.txt")), "UTF-8")
    assert(plan.contains("Physical Plan"))
    assert(!Files.exists(Paths.get(out, "q_no_such_query_t.txt")))
  }
}
