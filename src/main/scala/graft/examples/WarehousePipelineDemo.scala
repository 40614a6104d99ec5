package graft.examples

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.Sessions
import graft.operators.Q

/** The warehouse-maintenance pipeline, composed end-to-end from the
  * operator battery: incremental CSV ingest (checkpointed streaming
  * drain) → column profile → data-quality expectations gate → SCD2
  * status history → golden customer records → incremental aggregate
  * refresh → snapshot diff → funnel + cohort analytics. Each stage is
  * the same code the oracle gate verifies query-by-query; this main
  * proves the OTHER operator family (warehouse/analytics, beside
  * [[CorpusPipelineDemo]]'s curation DAG) composes into the nightly
  * maintenance job a user would actually run, in ONE session — and
  * prints the stage counts plus a [[PipelineProbe]] line
  * (`warehouse_pipeline_composed`) with wall/spill/failed/peak for the
  * composed execution (VERDICT r9 #7).
  *
  * Usage: runMain graft.examples.WarehousePipelineDemo [sfDir]
  */
object WarehousePipelineDemo {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.01")
    val spark = Sessions.local(Sessions.cpus(32))
    spark.sparkContext.setLogLevel("WARN")
    val probe = new PipelineProbe(spark)
    println(run(spark, sfDir))
    println(probe.reportJson("warehouse_pipeline_composed", sfDir))
    spark.stop()
  }

  /** Runs the composed pipeline; returns the JSON stage summary. */
  def run(spark: SparkSession, sfDir: String): String = {
    val q = graft.SparkEntry.queries

    // 0. incremental ingest: "tonight's batch" (a deterministic 1/20
    //    slice of orders) staged as `;`-separated CSV, drained through
    //    the checkpointed streaming source with schema-driven repair —
    //    the reference's cron pickup, exactly-once across ticks
    val orders = Q.t(spark, sfDir, "orders")
    val root = java.nio.file.Files.createTempDirectory("wh_ingest")
    val inDir = java.nio.file.Files.createDirectories(root.resolve("in"))
    orders.filter(pmod(col("o_orderkey"), lit(20)) === 0)
      .select(col("o_orderkey"), col("o_custkey"), col("o_orderstatus"),
        col("o_totalprice"), col("o_orderdate").cast("string").as("o_orderdate"))
      .coalesce(4)
      .write.option("sep", ";").option("header", "true").mode("overwrite")
      .csv(inDir.toString)
    val batchSchema = StructType(Seq(
      StructField("o_orderkey", LongType), StructField("o_custkey", LongType),
      StructField("o_orderstatus", StringType),
      StructField("o_totalprice", DoubleType),
      StructField("o_orderdate", StringType)))
    val nIngested =
      try graft.streaming.IncrementalIngest.runOnce(spark,
        batchSchema, graft.streaming.IncrementalIngest.Config(
          inputDir = inDir.toString,
          checkpointDir = root.resolve("ckpt").toString,
          archiveDir = root.resolve("archived").toString,
          outputDir = root.resolve("out").toString))
      // the drained count is already materialized; nothing downstream
      // reads the ingest tree — reclaim the scratch even on failure
      finally graft.operators.Q.deleteTree(root)

    // 1. profile the incoming snapshot (one scan; the operational
    //    "what did we receive" report). SPARK_GRAFT_PROFILE_SKETCH=1
    //    runs the 100 TB sketch mode (approx_count_distinct — no
    //    Expand, so the exact mode's ×4 in-flight replication and its
    //    7.3 GB spill at 8 g/100× disappear; the r11 probe measures
    //    exactly this swap). Default stays exact — the oracle-anchored
    //    mode.
    val profile =
      if (sys.env.get("SPARK_GRAFT_PROFILE_SKETCH").contains("1"))
        graft.operators.WarehouseQueries.profileColumns(
          orders, graft.operators.WarehouseQueries.ProfiledOrderCols,
          exact = false)
      else q("q_profile_columns")(spark, sfDir)
    val nProfiled = profile.count()

    // 2. expectations gate: hard validity predicates must pass before
    //    anything downstream is refreshed — a failed check aborts the
    //    run loudly rather than publishing bad history
    import graft.operators.QualityChecks.{RowCheck, UniqueCheck}
    val checks = graft.operators.QualityChecks.validate(orders, Seq(
      RowCheck("orderkey_not_null", col("o_orderkey").isNotNull),
      RowCheck("custkey_not_null", col("o_custkey").isNotNull),
      RowCheck("orderdate_not_null", col("o_orderdate").isNotNull),
      RowCheck("positive_price", col("o_totalprice") > 0),
      RowCheck("known_status", col("o_orderstatus").isin("O", "F", "P")),
      UniqueCheck("orderkey_unique", Seq("o_orderkey"))))
    val failed = checks.filter(!col("passed")).count()
    require(failed == 0, s"expectations gate failed $failed checks")

    // 3. SCD2 status history for the tracked customer range
    val history = q("q_scd2_history")(spark, sfDir)
    val nVersions = history.count()
    val nOpen = history.filter(col("valid_to").isNull).count()

    // 4. golden customer records (field-wise survivorship)
    val golden = q("q_golden_record")(spark, sfDir)
    val nGolden = golden.count()

    // 5. incremental refresh of the maintained aggregate (merge of
    //    already-aggregated partials — the corpus is never rescanned)
    val refreshed = q("q_incremental_agg")(spark, sfDir)
    val nAggRows = refreshed.count()

    // 6. snapshot diff: what changed between yesterday's and today's
    //    published aggregate (added / removed / changed keys)
    val diff = q("q_snapshot_diff")(spark, sfDir)
    val nDiff = diff.count()

    // 7. behavioral analytics over the events stream table, same
    //    session: conversion funnel + monthly cohort retention
    val nFunnel = q("q_event_funnel")(spark, sfDir).count()
    val nCohort = q("q_cohort_retention")(spark, sfDir).count()

    s"""{"n_ingested":$nIngested,"n_profiled":$nProfiled,""" +
      s""""n_checks_failed":$failed,""" +
      s""""n_versions":$nVersions,"n_open_versions":$nOpen,""" +
      s""""n_golden":$nGolden,"n_agg_rows":$nAggRows,""" +
      s""""n_diff_rows":$nDiff,"n_funnel_rows":$nFunnel,""" +
      s""""n_cohort_rows":$nCohort}"""
  }
}
