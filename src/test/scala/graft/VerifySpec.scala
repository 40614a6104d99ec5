package graft

import java.nio.file.{Files, Paths}

import org.scalatest.funsuite.AnyFunSuite

class VerifySpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  test("run returns 0 when the query dumps and 1 when it fails") {
    val only = Some(Set("q_salted_agg"))
    val ok = TestSpark.scratchDir("verify-ok")
    assert(Verify.run(spark, "/root/testdata/sf0.001", ok, only) == 0)
    assert(Files.isDirectory(Paths.get(ok, "q_salted_agg")))
    assert(Files.exists(Paths.get(ok, "oracle_sql.json")))
    val bad = TestSpark.scratchDir("verify-missing")
    assert(Verify.run(spark, s"$bad/no-such-sf", bad, only) == 1)
    assert(!Files.exists(Paths.get(bad, "q_salted_agg")))
    assert(Files.exists(Paths.get(bad, "oracle_sql.json")))
  }
}
