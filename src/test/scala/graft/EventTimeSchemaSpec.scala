package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import java.nio.file.Files

/** Testdata-schema robustness for the event-time tier (VERDICT r6 §4).
  *
  * The driver has shipped `events.ts` in two parquet generations:
  * TIMESTAMP(NANOS) surfaced as a nanos Long (via
  * `spark.sql.legacy.parquet.nanosAsLong`) and plain timestamp[us]
  * surfaced as Timestamp/TIMESTAMP_NTZ. Round 6 lost 11 queries and 14
  * tests to a silent regeneration flip; this spec makes that class of
  * break impossible to miss locally: it materializes the SAME events
  * data under BOTH schemas and asserts every event-time operator (a)
  * runs and (b) returns identical rows on each.
  */
class EventTimeSchemaSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  /** Every battery query that reads events.ts. */
  private val eventTimeQueries = Seq(
    "q_asof_join", "q_cohort_retention", "q_event_dedup_window",
    "q_event_funnel", "q_gap_fill", "q_hll_union",
    "q_interval_join_binned", "q_rolling_distinct", "q_sessionize",
    "q_time_window_agg", "q_window_range_frame")

  test("every event-time operator runs identically on nanos-Long and timestamp[us] events") {
    val src = spark.read.parquet("/root/testdata/sf0.001/events.parquet")
    // normalize to epoch µs once, then materialize both generations
    val us = src.withColumn("ts", graft.operators.Q.tsUs(src))

    val longDir = TestSpark.scratchDir("ev_longns")
    val tsDir = TestSpark.scratchDir("ev_tsus")
    // generation A: nanos-since-epoch stored as a plain INT64 column
    // (reads back as LongType with or without nanosAsLong). LIMITATION:
    // Spark cannot write TIMESTAMP(NANOS)-annotated parquet, so this
    // covers the LongType branch of Q.tsUs but not the nanosAsLong
    // read conf itself — the conf-presence guard below covers that.
    us.withColumn("ts", col("ts") * 1000L)
      .write.mode("overwrite").parquet(s"$longDir/events.parquet")
    // generation B: parquet timestamp[us] (reads back as Timestamp)
    us.withColumn("ts", timestamp_micros(col("ts")))
      .write.mode("overwrite").parquet(s"$tsDir/events.parquet")

    assert(spark.read.parquet(s"$longDir/events.parquet")
      .schema("ts").dataType == org.apache.spark.sql.types.LongType)

    eventTimeQueries.foreach { name =>
      val fn = SparkEntry.queries(name)
      val a = fn(spark, longDir).collect()
      val b = fn(spark, tsDir).collect()
      assert(a.nonEmpty, s"$name returned no rows on nanos-Long events")
      assert(a.toSeq == b.toSeq,
        s"$name differs across ts schemas: long=${a.take(2).toSeq} ts=${b.take(2).toSeq}")
    }
  }

  // Spark cannot write TIMESTAMP(NANOS)-annotated parquet, so the real
  // nanosAsLong read path is untestable here (the test above covers
  // only the LongType branch of Q.tsUs). Guard the conf statically
  // instead: dropping it from a driver entry point would silently skip
  // the legacy generation, so the one session factory must set it and
  // every entry point must build its session through that factory.
  test("every driver entry point pins spark.sql.legacy.parquet.nanosAsLong") {
    val factory = "src/main/scala/graft/Sessions.scala"
    val entryPoints = Seq(
      "src/main/scala/graft/Bench.scala",
      "src/main/scala/graft/Verify.scala",
      "src/test/scala/graft/TestSpark.scala")
    (factory +: entryPoints).foreach { p =>
      val txt = new String(Files.readAllBytes(
        java.nio.file.Paths.get(p)), "UTF-8")
      if (p == factory)
        assert(txt.contains("spark.sql.legacy.parquet.nanosAsLong"),
          s"$p builds a SparkSession without the nanosAsLong conf — the " +
            "TIMESTAMP(NANOS) testdata generation would break silently")
      else
        assert(txt.contains("Sessions.local(") &&
          !txt.contains("SparkSession.builder"),
          s"$p builds its SparkSession outside graft.Sessions, which " +
            "pins the nanosAsLong conf")
    }
    assert(spark.conf.get("spark.sql.legacy.parquet.nanosAsLong") == "true")
  }
}
