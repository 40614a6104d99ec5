package graft.examples

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

import graft.Sessions
import graft.operators.Q
import graft.operators.ScaleOps

/** The product-analytics layer, composed from the event-tier battery
  * operators: pseudonymize the raw event log first (governance
  * boundary — everything downstream joins on tokens, never raw user
  * ids), then run the funnel, cohort-retention, rolling-WAU, and
  * sketch-table distinct queries off the same log. Each stage is the
  * exact code the oracle gate verifies query-by-query; this main
  * proves they compose into the dashboard feed a warehouse user would
  * schedule, and prints one JSON line of audit numbers.
  *
  * Usage: runMain graft.examples.AnalyticsDemo [sfDir]
  */
object AnalyticsDemo {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.01")
    val spark = Sessions.local(Sessions.cpus(32))
    spark.sparkContext.setLogLevel("WARN")
    println(run(spark, sfDir))
    spark.stop()
  }

  /** Runs the composed layer; returns the JSON audit summary. The
    * funnel and cohort tables are pinned through the query registry and
    * released on every exit path, a failed audit included: the specs
    * share one session. */
  def run(spark: SparkSession, sfDir: String): String = {
    val q = graft.SparkEntry.queries
    try {
      // 1. governance boundary: tokenized event log; the bijectivity
      //    audit is the property that makes every downstream count on
      //    tokens equal the count on raw ids
      val tokens = q("q_pseudonymize")(spark, sfDir)
      val nEvents = tokens.count()
      val nTokens = tokens.select("user_token").distinct().count()
      val nUsers = Q.t(spark, sfDir, "events")
        .select("user_id").distinct().count()
      require(nTokens == nUsers,
        s"pseudonymization broke join preservation: $nTokens tokens vs $nUsers users")

      // 2. conversion funnel: staged per-user minima (one user_id
      //    partitioning end to end)
      val funnel =
        ScaleOps.materializePinned(q("q_event_funnel")(spark, sfDir))
      val steps = funnel
        .agg(count(lit(1)).as("s1"),
          count(col("t_view")).as("s2"),
          count(col("t_click")).as("s3"),
          count(col("t_purchase")).as("s4"))
        .head()
      // a funnel can only narrow
      require(steps.getLong(0) >= steps.getLong(1)
        && steps.getLong(1) >= steps.getLong(2)
        && steps.getLong(2) >= steps.getLong(3),
        s"funnel widened: $steps")

      // 3. cohort retention: the offset-0 diagonal is every user once
      val cohorts =
        ScaleOps.materializePinned(q("q_cohort_retention")(spark, sfDir))
      val diag = cohorts.filter(col("week_offset") === 0)
        .agg(sum(col("n_users"))).head().getLong(0)
      require(diag == nUsers, s"cohort diagonal $diag != $nUsers users")

      // 4. rolling 7-day distinct (exact leg) + the sketch-table union
      //    (the pattern a 100 TB deployment serves range queries from)
      val wauDays = q("q_rolling_distinct")(spark, sfDir).count()
      val sketchOk = q("q_hll_union")(spark, sfDir)
        .filter(!col("union_ok")).count() == 0
      require(sketchOk, "sketch-table union left the error bound")

      val nCohorts = cohorts.select("cohort_w").distinct().count()
      s"""{"n_events":$nEvents,"n_users":$nUsers,"funnel":[${steps.getLong(0)},""" +
        s"""${steps.getLong(1)},${steps.getLong(2)},${steps.getLong(3)}],""" +
        s""""n_cohorts":$nCohorts,"wau_days":$wauDays,"sketch_ok":$sketchOk}"""
    } finally ScaleOps.releaseAll()
  }
}
