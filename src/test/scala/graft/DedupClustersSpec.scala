package graft

import org.scalatest.funsuite.AnyFunSuite
import graft.operators.{DedupQueries, GraphQueries}

/** Convergence contract of the min-label-propagation connected
  * components: a component whose diameter exceeds the round cap must
  * fail loudly — silently returning partially-propagated labels would
  * be wrong cluster ids. */
class DedupClustersSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  private def pathGraph(edges: Int) = {
    import spark.implicits._
    (0L until edges.toLong).map(i => (i, i + 1)).toDF("doc_a", "doc_b")
  }

  test("df-capped inverted index bounds a boilerplate shingle's pair blowup") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    // 100 docs all share one boilerplate shingle (m=100 → 4950 pairs
    // uncapped); docs 2i/2i+1 also share a rare distinguishing shingle
    val boiler = (0L until 100L).map(i => (i, "BOILER"))
    val rare = (0L until 100L).map(i => (i, s"rare${i / 2}"))
    val inv = (boiler ++ rare).toDF("doc_id", "sh")
    val capped = DedupQueries.invertedIndexPairs(inv, dfCap = 20)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    // only the 50 rare-shingle pairs survive; the hot shingle
    // contributes nothing — candidate count is bounded by the rare df
    assert(capped.length == 50, s"got ${capped.length} pairs")
    assert(capped.forall { case (a, b, inter) => b == a + 1 && inter == 1 })
    // and without the cap the same index explodes quadratically
    // (every doc pair shares BOILER, so all C(100,2) pairs materialize)
    val uncapped = DedupQueries.invertedIndexPairs(inv, dfCap = 1000).count()
    assert(uncapped == 4950, s"got $uncapped")
  }

  test("a path deeper than the round cap throws instead of mislabeling") {
    // min labels travel one hop per round: a 12-edge path needs 12
    // rounds; cap at 5 must abort
    val e = intercept[IllegalStateException] {
      GraphQueries.connectedComponents(pathGraph(12), maxRounds = 5)
    }
    assert(e.getMessage.contains("converge"), e.getMessage)
  }

  test("split-by-cluster never lets a near-dup cluster straddle splits") {
    import org.apache.spark.sql.functions._
    val out = SparkEntry.queries("q_split_by_cluster")(
      spark, "/root/testdata/sf0.001")
    val straddling = out.groupBy(col("group_id"))
      .agg(countDistinct(col("split")).as("n_splits"))
      .filter(col("n_splits") > 1).count()
    assert(straddling == 0)
    // and it is a real split: all three partitions populated
    assert(out.select(col("split")).distinct().count() == 3)
  }

  test("the same path converges to one cluster with a sufficient cap") {
    val rows = GraphQueries.connectedComponents(pathGraph(12), maxRounds = 20)
      .collect()
    assert(rows.length == 13)
    assert(rows.forall(_.getLong(1) == 0L), rows.mkString(","))
    assert(rows.count(_.getBoolean(2)) == 1) // exactly one canonical doc
    assert(rows.forall(_.getLong(3) == 13L)) // n_members
  }

  test("convergence checks are amortized: ~half the driver actions of per-round checking") {
    val rows = GraphQueries.connectedComponents(pathGraph(12), maxRounds = 30)
      .collect()
    assert(rows.forall(_.getLong(1) == 0L), rows.mkString(","))
    val rounds = GraphQueries.lastCcRounds
    val checks = GraphQueries.lastCcChecks
    // min labels travel one hop per round: 12 rounds to the fixpoint
    assert(rounds >= 12, s"rounds $rounds")
    // one check per CcCheckEvery rounds, plus at most one extra
    assert(checks <= rounds / GraphQueries.CcCheckEvery + 1,
      s"expected ~${rounds / GraphQueries.CcCheckEvery} checks, got $checks")
  }

  test("connectedComponents equals a driver-side union-find on seeded " +
    "random graphs") {
    import spark.implicits._
    for (seed <- Seq(3, 17, 29)) {
      val rng = new scala.util.Random(seed)
      // sparse random pairs over 80 ids (several components), plus a
      // 9-edge path on its own ids whose min label needs 9 rounds
      val random = Seq.fill(45)((rng.nextInt(80).toLong, rng.nextInt(80).toLong))
        .filter { case (a, b) => a != b }
      val path = (100L until 109L).map(i => (i + 1, i))
      val pairs = random ++ path
      val parent = scala.collection.mutable.Map.empty[Long, Long]
      def find(x: Long): Long = {
        val p = parent.getOrElseUpdate(x, x)
        if (p == x) x else { val r = find(p); parent(x) = r; r }
      }
      for ((a, b) <- pairs) {
        val (ra, rb) = (find(a), find(b))
        // the smaller root wins, so every root is its component's min
        if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
      }
      val nodes = pairs.flatMap { case (a, b) => Seq(a, b) }.distinct
      val size = nodes.groupBy(find).map { case (r, ns) => r -> ns.size.toLong }
      val expected = nodes.sorted.map(n =>
        (n, find(n), n == find(n), size(find(n))))
      val got = GraphQueries.connectedComponents(pairs.toDF("doc_a", "doc_b"))
        .as[(Long, Long, Boolean, Long)].collect().toSeq
      assert(size.size > 1, s"seed $seed: one component only")
      assert(GraphQueries.lastCcRounds > 2, s"seed $seed")
      assert(got == expected, s"seed $seed")
    }
  }
}
