package graft

import java.sql.Timestamp
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.operators.{ScaleOps, WarehouseQueries}

/** Unit coverage for the warehouse-maintenance operators beyond the
  * oracle rows: SCD2 run-compression semantics on a hand-built change
  * stream (the sf tables can't plant adjacent same-status runs
  * deliberately), profiling null counting (the sf tables carry no
  * NULLs), and the salted-vs-plain equivalences at a salt count that
  * exceeds the group count (empty salt buckets must not invent rows).
  */
class WarehouseSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  private def ts(s: String) = Timestamp.valueOf(s)

  test("SCD2 compresses same-status runs and closes versions with the next change") {
    // cust 1: A,A,B,A -> versions A[t1,t3) B[t3,t4) A[t4,null)
    val orders = Seq(
      (1L, 10L, "A", ts("2024-01-01 00:00:00")),
      (1L, 11L, "A", ts("2024-01-02 00:00:00")),
      (1L, 12L, "B", ts("2024-01-03 00:00:00")),
      (1L, 13L, "A", ts("2024-01-04 00:00:00")),
      (2L, 20L, "C", ts("2024-02-01 00:00:00"))
    ).toDF("o_custkey", "o_orderkey", "o_orderstatus", "o_orderdate")
    val dir = TestSpark.scratchDir("graft_scd2")
    orders.write.mode("overwrite").parquet(s"$dir/orders.parquet")
    val got = WarehouseQueries.specs.find(_.name == "q_scd2_history").get
      .run(spark, dir)
      .select("o_custkey", "change_id", "status", "valid_from", "valid_to")
      .as[(Long, Long, String, Timestamp, Option[Timestamp])].collect().toSeq
    assert(got == Seq(
      (1L, 10L, "A", ts("2024-01-01 00:00:00"), Some(ts("2024-01-03 00:00:00"))),
      (1L, 12L, "B", ts("2024-01-03 00:00:00"), Some(ts("2024-01-04 00:00:00"))),
      (1L, 13L, "A", ts("2024-01-04 00:00:00"), None),
      (2L, 20L, "C", ts("2024-02-01 00:00:00"), None)))
  }

  test("column profile counts NULLs and distincts in one pass") {
    val orders = Seq[(java.lang.Long, java.lang.Long, String, String)](
      (1L, null, "A", "HIGH"),
      (2L, 7L, null, "HIGH"),
      (3L, 7L, "A", null)
    ).toDF("o_orderkey", "o_custkey", "o_orderstatus", "o_orderpriority")
    val dir = TestSpark.scratchDir("graft_prof")
    orders.write.mode("overwrite").parquet(s"$dir/orders.parquet")
    val got = WarehouseQueries.specs.find(_.name == "q_profile_columns").get
      .run(spark, dir)
      .as[(String, Long, Long, String, String)].collect().toSeq
    assert(got == Seq(
      ("o_custkey", 1L, 1L, "7", "7"),
      ("o_orderkey", 0L, 3L, "1", "3"),
      ("o_orderpriority", 1L, 1L, "HIGH", "HIGH"),
      ("o_orderstatus", 1L, 1L, "A", "A")))
  }

  test("salted sum with more salts than rows matches the plain aggregate") {
    val df = Seq(("a", 1.0), ("a", 2.0), ("b", 5.0)).toDF("k", "v")
    val got = ScaleOps.saltedSum(df, Seq("k"), "v", salts = 64)
      .orderBy("k").as[(String, Double, Long)].collect().toSeq
    assert(got == Seq(("a", 3.0, 2L), ("b", 5.0, 1L)))
  }
}
