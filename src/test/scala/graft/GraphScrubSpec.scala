package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.operators.{GraphQueries, TextQueries}

/** Unit specs for the round-6 operators: integer-exact PageRank
  * (hand-computed recurrence on a path graph + a random-graph
  * driver-side replay) and the cross-document boilerplate scrub
  * (planted shared segment, full-boilerplate doc, untouched doc).
  */
class GraphScrubSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  test("pageRank matches the hand-computed integer recurrence on a path graph") {
    // undirected path 1—2—3: deg(1)=deg(3)=1, deg(2)=2
    val e = Seq((1L, 2L), (2L, 1L), (2L, 3L), (3L, 2L)).toDF("src", "dst")
    val after2 = GraphQueries.pageRank(e, 2)
      .as[(Long, Long)].collect().toMap
    // iter1: r(1)=r(3)=150000+(500000*85)//100=575000
    //        r(2)=150000+(2000000*85)//100=1850000
    // iter2: r(1)=r(3)=150000+(925000*85)//100=936250
    //        r(2)=150000+(1150000*85)//100=1127500
    assert(after2 == Map(1L -> 936250L, 2L -> 1127500L, 3L -> 936250L))
  }

  test("pageRank equals a driver-side integer replay on a random graph") {
    val rng = new scala.util.Random(11)
    val n = 40
    val dir = (0 until 120).map(_ => (rng.nextInt(n).toLong, rng.nextInt(n).toLong))
      .filter { case (a, b) => a != b }.distinct
    val und = (dir ++ dir.map(_.swap)).distinct
    val got = GraphQueries.pageRank(und.toDF("src", "dst"), 4)
      .as[(Long, Long)].collect().toMap
    // driver-side replay of the exact same integer recurrence
    val adjIn = und.groupBy(_._2).map { case (d, es) => d -> es.map(_._1) }
    val deg = und.groupBy(_._1).map { case (s, es) => s -> es.size.toLong }
    var r = deg.keys.map(_ -> 1000000L).toMap
    for (_ <- 1 to 4)
      r = adjIn.map { case (node, ins) =>
        node -> (150000L + ins.map(m => r(m) / deg(m)).sum * 85L / 100L)
      }
    assert(got == r)
  }

  test("labelPropagation finds the two triangles across a bridge") {
    // triangles {1,2,3} and {4,5,6} joined by bridge 3—4: each triangle
    // converges to its min label; the bridge endpoints stay with their
    // own triangle (2 same-community neighbors + self vs 1 across)
    val tri = Seq((1L, 2L), (2L, 3L), (1L, 3L), (4L, 5L), (5L, 6L), (4L, 6L),
      (3L, 4L))
    val e = (tri ++ tri.map(_.swap)).toDF("src", "dst")
    val got = GraphQueries.labelPropagation(e, 4)
      .as[(Long, Long)].collect().toMap
    assert(got == Map(1L -> 1L, 2L -> 1L, 3L -> 1L,
      4L -> 4L, 5L -> 4L, 6L -> 4L))
  }

  test("labelPropagation is stable on a bipartite 4-cycle (self-loop damping)") {
    // pure synchronous LPA 2-cycles on C4; the retention self-loop must
    // converge it instead — everyone reaches the min label 1
    val c4 = Seq((1L, 2L), (2L, 3L), (3L, 4L), (4L, 1L))
    val e = (c4 ++ c4.map(_.swap)).toDF("src", "dst")
    val l3 = GraphQueries.labelPropagation(e, 3).as[(Long, Long)].collect().toMap
    val l4 = GraphQueries.labelPropagation(e, 4).as[(Long, Long)].collect().toMap
    assert(l3 == l4, s"not converged: $l3 vs $l4")
    assert(l4.values.toSet == Set(1L))
  }

  test("scrubBoilerplate drops only cross-document segments, keeps order") {
    val docs = Seq(
      (0L, "a b c d x1 x2 x3 x4"), // "a b c d" shared with doc 1
      (1L, "a b c d y1 y2 y3 y4"),
      (2L, "z1 z2 z3 z4"),         // unique, untouched
      (3L, "a b c d")              // all boilerplate -> empty
    ).toDF("doc_id", "text")
    val got = TextQueries.scrubBoilerplate(docs, 4, 1L)
      .orderBy("doc_id")
      .as[(Long, String, Long, Long)].collect().toSeq
    assert(got == Seq(
      (0L, "x1 x2 x3 x4", 1L, 2L),
      (1L, "y1 y2 y3 y4", 1L, 2L),
      (2L, "z1 z2 z3 z4", 1L, 1L),
      (3L, "", 0L, 1L)))
  }

  test("scrubIncremental drops corpus-seen segments, keeps corpus-unseen ones") {
    val corpus = Seq(
      (10L, "a b c d e f g h"),
      (11L, "a b c d z1 z2 z3 z4")).toDF("doc_id", "text")
    val batch = Seq(
      (0L, "a b c d n1 n2 n3 n4"), // "a b c d" known to corpus -> dropped
      (1L, "p1 p2 p3 p4")          // corpus-unseen -> untouched (df = 0)
    ).toDF("doc_id", "text")
    val got = TextQueries.scrubIncremental(batch, corpus, 4, 0L)
      .orderBy("doc_id")
      .as[(Long, String, Long, Long)].collect().toSeq
    assert(got == Seq(
      (0L, "n1 n2 n3 n4", 1L, 2L),
      (1L, "p1 p2 p3 p4", 1L, 1L)))
  }

  test("scrubIncremental delete path: df decrement equals rebuild " +
    "without the deleted docs (VERDICT r16 #2)") {
    val corpus = Seq(
      (10L, "a b c d e f g h"),     // sole carrier of "a b c d" besides 11
      (11L, "a b c d z1 z2 z3 z4"), // retracted
      (12L, "q1 q2 q3 q4 r1 r2 r3 r4")).toDF("doc_id", "text")
    val batch = Seq(
      (0L, "a b c d n1 n2 n3 n4"),  // df 2 -> 1 after delete: still dropped
      (1L, "z1 z2 z3 z4"),          // sole carrier retracted: comes BACK
      (2L, "q1 q2 q3 q4")           // carrier 12 survives: still dropped
    ).toDF("doc_id", "text")
    val deleted = corpus.filter($"doc_id" === 11L)
    val got = TextQueries.scrubIncremental(batch, corpus, 4, 0L,
        deletedDocs = Some(deleted))
      .orderBy("doc_id")
      .as[(Long, String, Long, Long)].collect().toSeq
    // rebuild over corpus minus doc 11 — the decremented index must
    // reproduce it exactly
    val rebuild = TextQueries.scrubIncremental(batch,
        corpus.filter($"doc_id" =!= 11L), 4, 0L)
      .orderBy("doc_id")
      .as[(Long, String, Long, Long)].collect().toSeq
    assert(got == rebuild)
    assert(got == Seq(
      (0L, "n1 n2 n3 n4", 1L, 2L),
      (1L, "z1 z2 z3 z4", 1L, 1L), // the flipped (recovered) segment
      (2L, "", 0L, 1L)))
  }

  test("scrubIncremental exactly-once enforcement (VERDICT r17 #2): " +
    "a re-submitted takedown list anti-joined against the applied " +
    "ledger leaves df_live and the scrub output bit-identical") {
    val corpus = Seq(
      (10L, "a b c d e f g h"),
      (11L, "a b c d z1 z2 z3 z4"), // retracted once
      (12L, "a b c d w1 w2 w3 w4")).toDF("doc_id", "text")
    val batch = Seq(
      (0L, "a b c d n1 n2 n3 n4"),
      (1L, "z1 z2 z3 z4")).toDF("doc_id", "text")
    val takedown = corpus.filter($"doc_id" === 11L)

    // dfCap 2: "a b c d" carries df 3 (docs 10/11/12) — deleting 11
    // flips it to 2 ≤ cap, so the takedown visibly changes the output
    // and any extra decrement is visible at the cap boundary
    // first application: ledger empty, the decrement lands
    val first = TextQueries.scrubIncremental(batch, corpus, 4, 2L,
        deletedDocs = Some(takedown),
        appliedTakedowns = Some(Seq.empty[Long].toDF("doc_id")))
      .orderBy("doc_id")
      .as[(Long, String, Long, Long)].collect().toSeq

    // RE-SUBMISSION of the same list with doc 11 now on the ledger:
    // the anti-join must skip it, leaving the df the maintained state
    // already carries. Without enforcement the resubmission would
    // decrement AGAIN (df_live 3−1 = 2 ≤ cap → "a b c d" kept),
    // diverging from the ledger-respecting no-op (df 3 → dropped).
    val resubmitted = TextQueries.scrubIncremental(batch, corpus, 4, 2L,
        deletedDocs = Some(takedown),
        appliedTakedowns = Some(Seq(11L).toDF("doc_id")))
      .orderBy("doc_id")
      .as[(Long, String, Long, Long)].collect().toSeq
    val noDelete = TextQueries.scrubIncremental(batch, corpus, 4, 2L)
      .orderBy("doc_id")
      .as[(Long, String, Long, Long)].collect().toSeq
    assert(resubmitted == noDelete,
      "ledgered takedown was applied again (double-decrement)")
    assert(resubmitted != first,
      "test is vacuous: the takedown must change the cap decision " +
        "so a double-decrement would be visible")

    // mixed list at dfCap 0: one new takedown (10) + one already
    // applied (11), against the maintained corpus state that already
    // excludes 11. Only the new doc may decrement: df("a b c d")
    // 2 − 1 = 1 > 0 → dropped, equal to the rebuild without both
    // docs; a double-decrement would yield 2 − 2 = 0 → wrongly kept.
    val mixed = TextQueries.scrubIncremental(
        batch,
        corpus.filter($"doc_id" =!= 11L),
        4, 0L,
        deletedDocs = Some(corpus.filter($"doc_id".isin(10L, 11L))),
        appliedTakedowns = Some(Seq(11L).toDF("doc_id")))
      .orderBy("doc_id")
      .as[(Long, String, Long, Long)].collect().toSeq
    val rebuildBoth = TextQueries.scrubIncremental(batch,
        corpus.filter(!$"doc_id".isin(10L, 11L)), 4, 0L)
      .orderBy("doc_id")
      .as[(Long, String, Long, Long)].collect().toSeq
    assert(mixed == rebuildBoth,
      "mixed new+ledgered takedown list must decrement only the new doc")
  }

  test("scrubBoilerplate reassembles multi-segment survivors in original order") {
    // doc 0: boilerplate at segment 1 of 3 — survivors must re-join as
    // segment0 then segment2
    val docs = Seq(
      (0L, "k1 k2 k3 k4 a b c d m1 m2 m3 m4"),
      (1L, "a b c d q1 q2 q3 q4")
    ).toDF("doc_id", "text")
    val got = TextQueries.scrubBoilerplate(docs, 4, 1L)
      .orderBy("doc_id")
      .as[(Long, String, Long, Long)].collect().toSeq
    assert(got == Seq(
      (0L, "k1 k2 k3 k4 m1 m2 m3 m4", 2L, 3L),
      (1L, "q1 q2 q3 q4", 1L, 2L)))
  }

  test("triangleCounts on K4 plus a pendant edge") {
    // K4 on {1,2,3,4}: four triangles, each node in exactly 3;
    // pendant 5 hangs off 4 and is in none (so absent from output)
    val e = Seq((1L, 2L), (1L, 3L), (1L, 4L), (2L, 3L), (2L, 4L),
      (3L, 4L), (4L, 5L)).toDF("u", "v")
    val got = GraphQueries.triangleCounts(e)
      .as[(Long, Long)].collect().toMap
    assert(got == Map(1L -> 3L, 2L -> 3L, 3L -> 3L, 4L -> 3L))
  }

  test("triangleCounts rejects ids past the packed key's 31-bit u bound") {
    val e = Seq((2147483648L, 2147483649L)).toDF("u", "v")
    val ex = intercept[IllegalArgumentException](GraphQueries.triangleCounts(e))
    assert(ex.getMessage.contains("31 bits"), ex.getMessage)
  }

  test("triangleCounts on an empty edge list returns no rows, same schema") {
    val got = GraphQueries.triangleCounts(Seq.empty[(Long, Long)].toDF("u", "v"))
    assert(got.columns.toSeq == Seq("node", "n_tri"))
    assert(got.collect().isEmpty)
  }

  test("triangleCounts equals the naive all-orderings count on a random graph") {
    val rng = new scala.util.Random(7)
    val n = 30
    val pairs = (for (a <- 0L until n; b <- a + 1 until n
                      if rng.nextDouble() < 0.25) yield (a, b)).toSeq
    val eSet = pairs.toSet
    // naive reference: every id-ordered vertex triple with all 3 edges
    val naive = scala.collection.mutable.Map.empty[Long, Long]
    for (a <- 0L until n; b <- a + 1 until n; c <- b + 1 until n)
      if (eSet((a, b)) && eSet((a, c)) && eSet((b, c)))
        Seq(a, b, c).foreach(x => naive(x) = naive.getOrElse(x, 0L) + 1L)
    val got = GraphQueries.triangleCounts(pairs.toDF("u", "v"))
      .as[(Long, Long)].collect().toMap
    assert(got == naive.toMap)
  }
}
