package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Unit specs for the event-analytics / feature-statistics operators
  * (AnalyticsQueries): funnel step ordering, cohort diagonal, rolling
  * distinct vs a brute-force recount, χ² against a hand-computed 2×2
  * table, and pseudonymization bijectivity. The battery gate checks
  * these queries against DuckDB on the star schema; these specs pin
  * the SEMANTICS on frames small enough to verify by hand.
  */
class AnalyticsSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  private val sfDir = "/root/testdata/sf0.001"
  private def run(name: String) =
    SparkEntry.queries(name)(spark, sfDir)

  test("event funnel: step times strictly increase and match `reached`") {
    val rows = run("q_event_funnel").collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val ts = Seq("t_signup", "t_view", "t_click", "t_purchase")
        .map(c => Option(r.getAs[Any](c)).map(_.asInstanceOf[Long]))
      // prefix property: a null step implies all later steps null
      assert(ts.sliding(2).forall {
        case Seq(a, b) => a.isDefined || b.isEmpty; case _ => true
      })
      ts.flatten.sliding(2).foreach {
        case Seq(a, b) => assert(a < b); case _ => ()
      }
      assert(r.getAs[Long]("reached") == ts.count(_.isDefined))
    }
  }

  test("cohort retention: offset-0 diagonal counts every user exactly once") {
    val m = run("q_cohort_retention").collect()
    assert(m.forall(_.getAs[Long]("week_offset") >= 0))
    val diag = m.filter(_.getAs[Long]("week_offset") == 0L)
      .map(_.getAs[Long]("n_users")).sum
    val users = spark.read.parquet(s"$sfDir/events.parquet")
      .select("user_id").distinct().count()
    assert(diag == users)
  }

  test("rolling 7-day distinct matches a brute-force per-day recount") {
    val ud0 = spark.read.parquet(s"$sfDir/events.parquet")
    val ud = ud0
      .select(col("user_id"), graft.operators.Q.tsDay(ud0).as("d"))
      .distinct().collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    val brute = ud.map(_._2).distinct.sorted.map { day =>
      day -> ud.filter { case (_, d) => d >= day - 6 && d <= day }
        .map(_._1).distinct.length.toLong
    }.toMap
    val got = run("q_rolling_distinct").collect()
      .map(r => r.getAs[Long]("wday") -> r.getAs[Long]("wau")).toMap
    // the operator also emits trailing-lookback days with no new data;
    // every day that HAS data must match the brute recount exactly
    brute.foreach { case (day, n) => assert(got(day) == n) }
  }

  test("chi-square matches the hand-computed 2x2 statistic") {
    // 6 docs, 2 classes; token "x" in 2/3 en docs and 0/3 de docs:
    // A=2 B=0 C=1 D=3, N=6 → chi2 = 6*(2*3-0*1)^2/(2*4*3*3) = 3.0
    val docs = Seq(
      (0L, "en", "x y"), (1L, "en", "x z"), (2L, "en", "y z"),
      (3L, "de", "y z"), (4L, "de", "y y"), (5L, "de", "z"))
      .toDF("doc_id", "lang", "text")
    val tmp = java.nio.file.Files.createTempDirectory("chitest").toString
    docs.write.mode("overwrite").parquet(s"$tmp/documents.parquet")
    val out = SparkEntry.queries("q_chi_square")(spark, tmp)
      .filter(col("tok") === "x").collect()
      .map(r => (r.getAs[String]("lang"), r.getAs[Long]("a_ct"),
        r.getAs[Long]("chi2_x10k"))).toSet
    // chi2 is symmetric in the 2-class case: both rows score 3.0
    assert(out == Set(("en", 2L, 30000L), ("de", 0L, 30000L)))
  }

  test("pseudonymization is bijective over users and stable across runs") {
    val ev = spark.read.parquet(s"$sfDir/events.parquet")
    val out = run("q_pseudonymize")
    val nUsers = ev.select("user_id").distinct().count()
    assert(out.select("user_token").distinct().count() == nUsers)
    // deterministic: re-running yields the identical mapping
    val a = out.select("user_token").collect().map(_.getString(0))
    val b = run("q_pseudonymize").select("user_token")
      .collect().map(_.getString(0))
    assert(a.sameElements(b))
  }

  test("unpivot emits exactly one long row per (key, metric)") {
    val out = run("q_unpivot").collect()
    val nations = spark.read.parquet(s"$sfDir/customer.parquet")
      .select("c_nationkey").distinct().count()
    assert(out.length == 3 * nations)
    assert(out.groupBy(r => (r.getAs[Int]("c_nationkey"),
      r.getAs[String]("metric"))).forall(_._2.length == 1))
  }

  test("mad outliers: constant group flags only the planted extreme value") {
    val docs = (0L until 4L).map(i => (i, "xx", "t", "s", 10L)) :+
      (4L, "xx", "t", "s", 100L)
    val df = docs.toDF("doc_id", "lang", "text", "source", "n_chars")
    val tmp = java.nio.file.Files.createTempDirectory("madtest").toString
    df.write.mode("overwrite").parquet(s"$tmp/documents.parquet")
    // median 10, deviations [0,0,0,0,90], MAD 0 → only the 90 exceeds
    val out = SparkEntry.queries("q_mad_outliers")(spark, tmp).collect()
      .map(r => r.getAs[Long]("doc_id") -> r.getAs[Boolean]("is_outlier"))
      .toMap
    assert(out == Map(0L -> false, 1L -> false, 2L -> false,
      3L -> false, 4L -> true))
  }

  test("pmi bigram lift matches the hand-computed ratio") {
    // "a b"×5 adjacent, "b a"×4; tokens a=5 b=5 N=10, bigrams B=9:
    // lift(a b) = 5·10²·10⁶ / (9·5·5) = 2222222.2 → 2222222
    val df = Seq((0L, "xx", ("a b " * 5).trim, "s", 1L))
      .toDF("doc_id", "lang", "text", "source", "n_chars")
    val tmp = java.nio.file.Files.createTempDirectory("pmitest").toString
    df.write.mode("overwrite").parquet(s"$tmp/documents.parquet")
    val out = SparkEntry.queries("q_pmi_bigrams")(spark, tmp).collect()
      .map(r => ((r.getAs[String]("tok_a"), r.getAs[String]("tok_b")),
        (r.getAs[Long]("c_ab"), r.getAs[Long]("lift_ppm")))).toMap
    // "b a" occurs 4 < 5 times and is filtered
    assert(out == Map(("a", "b") -> ((5L, 2222222L))))
  }

  test("hll sketch-table union stays inside the gated error bound") {
    assert(run("q_hll_union").collect().forall(_.getAs[Boolean]("union_ok")))
  }

  test("the composed analytics demo runs its audits green") {
    // the demo's internal require()s are the assertions: token
    // bijectivity, funnel narrowing, cohort diagonal, sketch bound
    spark.catalog.clearCache()
    val json = graft.examples.AnalyticsDemo.run(spark, sfDir)
    assert(json.contains("\"sketch_ok\":true"), json)
    assert(TestSpark.cacheManager.isEmpty,
      "AnalyticsDemo.run left cached plans in the session")
  }
}
