package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.operators.ScaleOps

/** Plan-shape and equivalence proofs for the 100 TB scale patterns. */
class ScaleOpsSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  private val sf = "/root/testdata/sf0.001"

  test("bucketed tables join without any shuffle exchange") {
    val li = spark.read.parquet(s"$sf/lineitem.parquet")
    val o = spark.read.parquet(s"$sf/orders.parquet")
    ScaleOps.writeBucketed(li, "b_lineitem", "l_orderkey", 8)
    ScaleOps.writeBucketed(o, "b_orders", "o_orderkey", 8)
    val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      val joined = spark.table("b_lineitem")
        .join(spark.table("b_orders"),
          col("l_orderkey") === col("o_orderkey"))
      val plan = joined.queryExecution.executedPlan.toString
      assert(!plan.contains("ShuffleExchange") && !plan.contains("Exchange hashpartitioning"),
        s"expected shuffle-free bucketed join, got:\n$plan")
      // and it is still correct
      assert(joined.count() ==
        li.join(o, col("l_orderkey") === col("o_orderkey")).count())
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
  }

  test("partitioned table writes prune partitions on read") {
    val dir = java.nio.file.Files.createTempDirectory("partdemo").toString
    val o = spark.read.parquet(s"$sf/orders.parquet")
      .withColumn("o_year", year(col("o_orderdate")))
    o.write.mode("overwrite").partitionBy("o_year").parquet(dir)
    val pruned = spark.read.parquet(dir).filter(col("o_year") === 1997)
    val plan = pruned.queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters") &&
      plan.contains("o_year") && !plan.contains("PartitionFilters: []"),
      s"expected partition pruning in:\n$plan")
    assert(pruned.count() == o.filter(col("o_year") === 1997).count())
  }

  test("binned interval join equals the theta join on random intervals") {
    import spark.implicits._
    val rnd = new scala.util.Random(7)
    val points = (1 to 400).map(i =>
      (i.toLong, rnd.nextInt(20).toLong, rnd.nextInt(10000).toLong))
      .toDF("p_id", "p_key", "ts")
    val intervals = (1 to 120).map { i =>
      val lo = rnd.nextInt(10000).toLong
      (i.toLong, rnd.nextInt(20).toLong, lo, lo + 1 + rnd.nextInt(800))
    }.toDF("i_id", "i_key", "lo", "hi")
    val theta = points.join(intervals,
        col("p_key") === col("i_key") &&
          col("lo") <= col("ts") && col("ts") < col("hi"))
      .select("p_id", "i_id").as[(Long, Long)].collect().toSet
    assert(theta.nonEmpty)
    // bin width below / near / far above the typical interval length
    for (binWidth <- Seq(1L, 7L, 256L, 100000L)) {
      val binned = ScaleOps.binnedIntervalJoin(points, intervals,
          Seq("p_key"), Seq("i_key"), "ts", "lo", "hi", binWidth)
        .select("p_id", "i_id").as[(Long, Long)].collect().toSet
      assert(binned == theta, s"binWidth=$binWidth")
    }
    // and the join the bins buy is an equi join, never a nested loop
    val p = ScaleOps.binnedIntervalJoin(points, intervals,
        Seq("p_key"), Seq("i_key"), "ts", "lo", "hi", 64L)
      .queryExecution.executedPlan.toString
    assert(!p.contains("CartesianProduct") &&
      !p.contains("BroadcastNestedLoopJoin"), p)
  }

  test("asofJoin equals the direct max-≤ formulation on random data") {
    import spark.implicits._
    val rnd = new scala.util.Random(11)
    val left = (1 to 300).map(i =>
      (i.toLong, rnd.nextInt(15).toLong, rnd.nextInt(5000).toLong))
      .toDF("l_id", "l_key", "l_ts")
    val right = (1 to 150).map(_ =>
      (rnd.nextInt(15).toLong, rnd.nextInt(5000).toLong))
      .toDF("r_key", "r_ts").withColumn("p_ts", col("r_ts"))
    val asof = ScaleOps.asofJoin(left, right,
      Seq("l_key"), Seq("r_key"), "l_ts", "r_ts", Seq("p_ts"))
    val got = asof.select("l_id", "p_ts")
      .as[(Long, Option[Long])].collect().toMap
    val brute = left.join(right,
        col("l_key") === col("r_key") && col("r_ts") <= col("l_ts"), "left")
      .groupBy(col("l_id")).agg(max(col("r_ts")).as("p_ts"))
      .select("l_id", "p_ts").as[(Long, Option[Long])].collect().toMap
    assert(got.size == 300 && got == brute)
    // the whole point: one shuffle + linear scan, never a range probe
    val p = asof.queryExecution.executedPlan.toString
    assert(!p.contains("CartesianProduct") &&
      !p.contains("BroadcastNestedLoopJoin"), p)
  }

  test("asofJoin returns the newest match's NULL payload, never an older row's value") {
    import spark.implicits._
    val left = Seq((1L, 1L, 100L)).toDF("l_id", "l_key", "l_ts")
    // newest match (ts=50) has a NULL in `a` and a value in `b`; the
    // older row (ts=10) must NOT leak its `a` into the result
    val right = Seq(
      (1L, 10L, Option("old_a"), Option("old_b")),
      (1L, 50L, Option.empty[String], Option("new_b"))
    ).toDF("r_key", "r_ts", "a", "b")
    val got = ScaleOps.asofJoin(left, right, Seq("l_key"), Seq("r_key"),
        "l_ts", "r_ts", Seq("a", "b"))
      .select("a", "b").as[(Option[String], Option[String])].head()
    assert(got == ((None, Some("new_b"))))
  }

  test("asofJoin equals row-of-newest-match on random data with NULL payloads") {
    import spark.implicits._
    import org.apache.spark.sql.expressions.Window
    val rnd = new scala.util.Random(13)
    val left = (1 to 300).map(i =>
      (i.toLong, rnd.nextInt(10).toLong, rnd.nextInt(3000).toLong))
      .toDF("l_id", "l_key", "l_ts")
    // unique (key, ts) per right row → the newest match is deterministic
    val rightRows = (0 until 10).flatMap { k =>
      rnd.shuffle((0 until 3000).toList).take(40).map { ts =>
        (k.toLong, ts.toLong,
          if (rnd.nextBoolean()) Option(rnd.nextInt(100).toLong) else None,
          if (rnd.nextBoolean()) Option(s"v${rnd.nextInt(100)}") else None)
      }
    }
    val right = rightRows.toDF("r_key", "r_ts", "pa", "pb")
    val got = ScaleOps.asofJoin(left, right, Seq("l_key"), Seq("r_key"),
        "l_ts", "r_ts", Seq("pa", "pb"))
      .select("l_id", "pa", "pb")
      .as[(Long, Option[Long], Option[String])]
      .collect().map(t => t._1 -> ((t._2, t._3))).toMap
    val brute = left.join(right,
        col("l_key") === col("r_key") && col("r_ts") <= col("l_ts"), "left")
      .withColumn("rn", row_number().over(
        Window.partitionBy("l_id").orderBy(col("r_ts").desc_nulls_last)))
      .filter(col("rn") === 1)
      .select("l_id", "pa", "pb")
      .as[(Long, Option[Long], Option[String])]
      .collect().map(t => t._1 -> ((t._2, t._3))).toMap
    assert(got.size == 300 && got == brute)
  }

  test("salted aggregation equals plain aggregation") {
    val li = spark.read.parquet(s"$sf/lineitem.parquet")
    val salted = ScaleOps.saltedSum(li, Seq("l_returnflag"), "l_quantity", salts = 8)
      .orderBy("l_returnflag").collect()
    val plain = li.groupBy("l_returnflag")
      .agg(sum("l_quantity").as("s"), count(lit(1)).as("n"))
      .orderBy("l_returnflag").collect()
    salted.zip(plain).foreach { case (s, p) =>
      assert(s.getString(0) == p.getString(0))
      assert(math.abs(s.getDouble(1) - p.getDouble(1)) < 1e-6)
      assert(s.getLong(2) == p.getLong(2))
    }
  }

  test("blocked fuzzy join equals the brute-force first-char-blocked filter, " +
    "each pair exactly once") {
    import spark.implicits._
    // deterministic short strings over a 3-letter alphabet so near
    // matches, cross-band pairs, and shared first chars all occur
    val rnd = new scala.util.Random(42)
    val strs = (0 until 120).map { i =>
      val len = 1 + rnd.nextInt(8)
      (i.toLong, (0 until len).map(_ => "abc"(rnd.nextInt(3))).mkString)
    }
    val a = strs.toDF("id_a", "s_a")
    val b = strs.toDF("id_b", "s_b")
    val rows = ScaleOps.blockedFuzzyJoin(a, b, "s_a", "s_b", maxDist = 2)
      .select("id_a", "id_b", "dist").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
    // blocking completeness: lev <= d implies |Δlen| <= d, and the ±1
    // neighbour-band emission then guarantees the pair meets in exactly
    // one block — so blocked == { same first char && lev <= d }
    val brute = a.crossJoin(b)
      .withColumn("dist", levenshtein(col("s_a"), col("s_b")).cast("long"))
      .filter(substring(col("s_a"), 1, 1) === substring(col("s_b"), 1, 1) &&
        col("dist") <= 2)
      .select("id_a", "id_b", "dist").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(rows.toSet == brute)
    assert(rows.length == rows.toSet.size,
      "neighbour-band emission produced duplicate pairs")
    // salting is physical only: identical pair set, no duplicates
    val salted = ScaleOps.blockedFuzzyJoin(a, b, "s_a", "s_b",
        maxDist = 2, salts = 5)
      .select("id_a", "id_b", "dist").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
    assert(salted.toSet == brute && salted.length == salted.toSet.size,
      "salted blocked fuzzy join must equal the unsalted result")
    // hot-only salting (blocks above the occupancy cut get salted,
    // cold blocks keep salt 0 on both sides) is also physical only:
    // same pair set, no duplicates — at a cut of 5 this corpus has a
    // mix of hot and cold blocks, so both paths are exercised
    val hotOnly = ScaleOps.blockedFuzzyJoin(a, b, "s_a", "s_b",
        maxDist = 2, salts = 5, saltHotOnlyAbove = 5L)
      .select("id_a", "id_b", "dist").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
    assert(hotOnly.toSet == brute && hotOnly.length == hotOnly.toSet.size,
      "hot-only salted blocked fuzzy join must equal the unsalted result")
    // a longer blocking prefix trades recall for selectivity, exactly
    // along the documented line: blocked == { same first-2-chars && lev <= d }
    val p2 = ScaleOps.blockedFuzzyJoin(a, b, "s_a", "s_b",
        maxDist = 2, prefixLen = 2)
      .select("id_a", "id_b", "dist").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    val brute2set = a.crossJoin(b)
      .withColumn("dist", levenshtein(col("s_a"), col("s_b")).cast("long"))
      .filter(substring(col("s_a"), 1, 2) === substring(col("s_b"), 1, 2) &&
        col("dist") <= 2)
      .select("id_a", "id_b", "dist").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(p2 == brute2set,
      "prefixLen=2 blocking must equal the first-2-chars brute filter")
    // derived verify granularity is physical only: widening the join
    // far past the session constant yields the identical pair set
    val widened = ScaleOps.blockedFuzzyJoin(a, b, "s_a", "s_b",
        maxDist = 2, salts = 5, saltHotOnlyAbove = 5L, partitions = 257)
      .select("id_a", "id_b", "dist").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
    assert(widened.toSet == brute && widened.length == widened.toSet.size,
      "partition-widened blocked fuzzy join must equal the unsalted result")
  }

  test("qgram fuzzy join equals full brute force (guaranteed recall) " +
    "across alphabets, q, maxDist, and the short-string fallback") {
    import spark.implicits._
    // adversarial mix: lengths 0..14 over a 2-letter alphabet (dense
    // near-matches, heavy gram repetition — the degenerate same-gram
    // case of the prefix theorem), plus a 3-letter batch with longer
    // strings. Lengths straddle the short-string cutoff q·(d+1) on
    // every (q, d) tried, so both candidate paths run.
    for ((alpha, seed) <- Seq(("ab", 7), ("abc", 11))) {
      val rnd = new scala.util.Random(seed)
      val strs = (0 until 150).map { i =>
        val len = rnd.nextInt(15)
        (i.toLong + 1000L * seed,
          (0 until len).map(_ => alpha(rnd.nextInt(alpha.length))).mkString)
      }.distinct
      val a = strs.toDF("id_a", "s_a")
      val b = strs.toDF("id_b", "s_b")
      for ((q, d) <- Seq((2, 2), (2, 4), (3, 1), (1, 2))) {
        val brute = a.crossJoin(b)
          .withColumn("dist", levenshtein(col("s_a"), col("s_b")).cast("long"))
          .filter(col("dist") <= d)
          .select("id_a", "id_b", "dist").collect()
          .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
        val got = ScaleOps.qgramFuzzyJoin(a, b, "s_a", "s_b",
            maxDist = d, q = q)
          .select("id_a", "id_b", "dist").collect()
          .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
        assert(got.length == got.toSet.size,
          s"duplicate pairs at alpha=$alpha q=$q d=$d")
        assert(got.toSet == brute,
          s"alpha=$alpha q=$q d=$d: missing=${(brute -- got.toSet).take(5)} " +
            s"extra=${(got.toSet -- brute).take(5)}")
      }
    }
  }

  test("materializePinned advisor: under-budget estimates pin, " +
    "over-budget estimates stay lazy, results identical either way") {
    import spark.implicits._
    val NONE = org.apache.spark.storage.StorageLevel.NONE
    val df1 = (1 to 100).toDF("x").withColumn("y", col("x") * 2)
    val small = ScaleOps.materializePinned(df1, estBytes = 1024L)
    try {
      assert(small.storageLevel != NONE,
        "an estimate under the budget must pin")
      val df2 = (1 to 100).toDF("x").withColumn("y", col("x") * 3)
      val big = ScaleOps.materializePinned(df2, estBytes = Long.MaxValue)
      assert(big.storageLevel == NONE,
        "an estimate past the budget must stay lazy")
      // the branch is purely physical
      assert(small.agg(sum("y")).head.getLong(0) == 10100L)
      assert(big.agg(sum("y")).head.getLong(0) == 15150L)
      // default (no estimate) keeps the unconditional r19 pin
      val df3 = (1 to 10).toDF("x")
      val uncond = ScaleOps.materializePinned(df3)
      assert(uncond.storageLevel != NONE)
    } finally graft.operators.ScaleOps.releaseAll()
  }

  test("deriveIterParts: latency regime narrows by size, throughput " +
    "regime keeps the session floor, heap rule still widens") {
    val cores = spark.sparkContext.defaultParallelism
    val parts = spark.conf.get("spark.sql.shuffle.partitions").toInt
    // latency regime: table under 8 MB/core (here local[4] -> 32 MB)
    // narrows below the session floor
    assert(ScaleOps.deriveIterParts(spark, 20L << 20) < parts)
    assert(ScaleOps.deriveIterParts(spark, 1L) == 1)
    // throughput regime: at/above 8 MB/core -> session constant floor
    val big = cores.toLong * (8L << 20)
    assert(ScaleOps.deriveIterParts(spark, big) >= parts)
    // heap rule dominates in both regimes (same cap as the wide twin)
    assert(ScaleOps.deriveIterParts(spark, Long.MaxValue / 4096) == 4096)
  }

  test("qgram fuzzy join: location-reduced prefixes keep exact recall " +
    "on long high-entropy keys (the gate shape) and never widen q·d+1") {
    import spark.implicits._
    // the q_fuzzy_match_qgram corpus shape: 20-char high-entropy keys
    // where df-rare grams scatter, so the Ed-Join stabbing bound cuts
    // the prefix well below q·d+1 — exactly where a reduction bug
    // would silently drop pairs the dense 2-letter corpus can't expose.
    // Includes planted single-edit mutants (guaranteed matches) and a
    // shared 6-char block (guaranteed multi-gram overlaps).
    val alpha = "abcdefghijklmnop"
    val rnd = new scala.util.Random(42)
    val base = (0 until 120).map { i =>
      val block = if (i % 3 == 0) "QWERTY" else ""
      (i.toLong,
        block + (0 until 20 - block.length)
          .map(_ => alpha(rnd.nextInt(alpha.length))).mkString)
    }
    val mutants = base.collect { case (i, s) if i % 4 == 0 =>
      val p = rnd.nextInt(s.length)
      (i + 10000L, s.updated(p, if (s(p) == 'z') 'y' else 'z'))
    }
    val strs = (base ++ mutants).distinct
    val a = strs.toDF("id_a", "s_a")
    val b = strs.toDF("id_b", "s_b")
    // dfVocab = -1 keeps the lazy df-join plan; a generous vocab bound
    // routes dfOrder = true through the collected-df-map per-row
    // prefix instead — all three physical prefix paths must equal
    // brute force ((df, gram, pos) lazy, (df, gram, pos) collected,
    // and the r20 no-df (gram, pos) route)
    for ((q, d) <- Seq((4, 4), (3, 2), (2, 4));
         (dfOrder, dfVocab) <- Seq((true, -1L), (true, 100000L),
           (false, -1L))) {
      val brute = a.crossJoin(b)
        .withColumn("dist", levenshtein(col("s_a"), col("s_b")).cast("long"))
        .filter(col("dist") <= d)
        .select("id_a", "id_b", "dist").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
      val got = ScaleOps.qgramFuzzyJoin(a, b, "s_a", "s_b",
          maxDist = d, q = q, dfOrder = dfOrder, dfVocab = dfVocab)
        .select("id_a", "id_b", "dist").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
      assert(got.length == got.toSet.size,
        s"duplicate pairs at q=$q d=$d dfOrder=$dfOrder dfVocab=$dfVocab")
      assert(got.toSet == brute,
        s"q=$q d=$d dfOrder=$dfOrder dfVocab=$dfVocab: " +
          s"missing=${(brute -- got.toSet).take(5)} " +
          s"extra=${(got.toSet -- brute).take(5)}")
    }
  }

  test("segment fuzzy join equals full brute force (guaranteed recall) " +
    "on both physical paths, incl. short strings and maxDist=0") {
    import spark.implicits._
    // same adversarial shape as the qgram pin: dense near-matches over
    // tiny alphabets, lengths 0..14 straddling the d+1 short cutoff so
    // the zero-length-segment fallback runs on every d tried
    for ((alpha, seed) <- Seq(("ab", 7), ("abc", 11))) {
      val rnd = new scala.util.Random(seed)
      val strs = (0 until 150).map { i =>
        val len = rnd.nextInt(15)
        (i.toLong + 1000L * seed,
          (0 until len).map(_ => alpha(rnd.nextInt(alpha.length))).mkString)
      }.distinct
      val a = strs.toDF("id_a", "s_a")
      val b = strs.toDF("id_b", "s_b")
      for (d <- Seq(0, 1, 2, 4)) {
        val brute = a.crossJoin(b)
          .withColumn("dist", levenshtein(col("s_a"), col("s_b")).cast("long"))
          .filter(col("dist") <= d)
          .select("id_a", "id_b", "dist").collect()
          .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
        for (bcast <- Seq(true, false); sym <- Seq(false, true)) {
          val got = ScaleOps.segmentFuzzyJoin(a, b, "s_a", "s_b",
              maxDist = d, broadcastIndex = bcast,
              partitions = if (bcast) 0 else 257, symmetric = sym)
            .select("id_a", "id_b", "dist").collect()
            .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
          assert(got.length == got.toSet.size,
            s"duplicate pairs at alpha=$alpha d=$d bcast=$bcast sym=$sym")
          assert(got.toSet == brute,
            s"alpha=$alpha d=$d bcast=$bcast sym=$sym: " +
              s"missing=${(brute -- got.toSet).take(5)} " +
              s"extra=${(got.toSet -- brute).take(5)}")
        }
      }
    }
  }

  test("deriveSegmentJoin: broadcast under the heap budget, derived " +
    "shuffle width above it") {
    import spark.implicits._
    val small = (0 until 50).map(i => (i.toLong, s"string number $i"))
      .toDF("id", "k")
    val plan = ScaleOps.deriveSegmentJoin(small, "k", maxDist = 4)
    assert(plan.broadcastIndex,
      "a 50-row index must fit any heap's broadcast budget")
    assert(plan.partitions >= spark.conf
      .get("spark.sql.shuffle.partitions").toInt || plan.partitions > 0)
  }

  test("qgram fuzzy join: derived partitions are physical only; " +
    "maxDist=0 degenerates to the exact join") {
    import spark.implicits._
    val rnd = new scala.util.Random(3)
    val strs = (0 until 100).map { i =>
      val len = rnd.nextInt(12)
      (i.toLong, (0 until len).map(_ => "ab"(rnd.nextInt(2))).mkString)
    }.distinct
    val a = strs.toDF("id_a", "s_a")
    val b = strs.toDF("id_b", "s_b")
    val plain = ScaleOps.qgramFuzzyJoin(a, b, "s_a", "s_b", maxDist = 2)
      .select("id_a", "id_b", "dist").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    val widened = ScaleOps.qgramFuzzyJoin(a, b, "s_a", "s_b", maxDist = 2,
        partitions = 257)
      .select("id_a", "id_b", "dist").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(widened == plain,
      "partition-widened qgram join must equal the unwidened result")
    val exact = ScaleOps.qgramFuzzyJoin(a, b, "s_a", "s_b", maxDist = 0)
      .select("id_a", "id_b").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val bruteEq = strs.flatMap { case (i, s) =>
      strs.collect { case (j, t) if s == t => (i, j) } }.toSet
    assert(exact == bruteEq, "maxDist=0 must equal the exact self-match")
  }

  test("exactQuantiles equals the sorted-array type-1 definition on " +
    "random multisets (ties, skew, nulls, p=1.0)") {
    import spark.implicits._
    for (seed <- Seq(1, 2, 3)) {
      val rnd = new scala.util.Random(seed)
      // heavy ties (mod 17) so the min-v-at-cum rule is actually
      // exercised, plus nulls that must be excluded
      val vals = (0 until 500).map(_ => rnd.nextInt(200).toLong % 17 *
        (1 + rnd.nextInt(9)))
      val df = (vals.map(Option(_)) ++ Seq.fill(25)(Option.empty[Long]))
        .toDF("x")
      val ps = Seq(0.01, 0.25, 0.5, 2.0 / 3.0, 0.9, 1.0)
      val got = ScaleOps.exactQuantiles(df, "x", ps)
        .collect().map(r => (r.getDouble(0), r.getLong(1))).toMap
      val sorted = vals.sorted
      ps.foreach { p =>
        val want = sorted(math.ceil(p * sorted.length).toInt - 1)
        assert(got(p) == want, s"seed=$seed p=$p: got ${got(p)}, want $want")
      }
    }
    // empty / all-null input → no rows, not a crash
    import spark.implicits._
    assert(ScaleOps.exactQuantiles(
      Seq.empty[Option[Long]].toDF("x"), "x", Seq(0.5)).count() == 0)
  }

  test("deriveShufflePartitions: session constant below threshold, scales " +
    "with bytes above it, capped at 4096") {
    val parts = spark.conf.get("spark.sql.shuffle.partitions").toInt
    val conc = spark.sparkContext.defaultParallelism
    val heap = Runtime.getRuntime.maxMemory
    // tiny volume → the session constant (gate-scale degeneration)
    assert(ScaleOps.deriveShufflePartitions(spark, 1L) == parts)
    assert(ScaleOps.deriveShufflePartitions(spark, 0L) == parts)
    // a volume demanding more than the session constant → the ceiling
    // of bytes·conc / (heap/10), i.e. concurrent tasks together hold
    // at most a tenth of the heap
    val big = heap // per-slot share = heap/conc ≫ heap/10/conc target
    val expect = math.ceil(big.toDouble * conc / (0.1 * heap)).toLong
    assert(expect > parts, "fixture must exceed the session constant")
    assert(ScaleOps.deriveShufflePartitions(spark, big) ==
      math.min(4096L, expect).toInt)
    // absurd volume → the 4096 task-overhead cap
    assert(ScaleOps.deriveShufflePartitions(spark, Long.MaxValue / 1024) == 4096)
  }

  test("deriveFuzzyBlocking picks the smallest prefix meeting the occupancy " +
    "target and salts the residual") {
    import spark.implicits._
    // 260 rows over 26 two-char-diverse prefixes: occupancy is 260/26=10
    // at p=1 for a target of 10 → p=1, salts=1
    val diverse = (0 until 260).map { i =>
      ("abcdefghijklmnopqrstuvwxyz" (i % 26).toString + "x" + i, i.toLong)
    }.toDF("s", "id")
    val b1 = ScaleOps.deriveFuzzyBlocking(diverse, "s", targetRowsPerBlock = 10)
    assert((b1.prefixLen, b1.salts) == ((1, 1)))
    // gate-scale corpora degenerate the verify granularity to the
    // session constant — the widened-join branch never fires here
    assert(b1.partitions ==
      spark.conf.get("spark.sql.shuffle.partitions").toInt)
    // saturated prefixes (chars 1–4 all repeat the same letter): every
    // prefix length has the same 26 distinct keys, so occupancy stays
    // 260/26 = 10 — p grows to pMax without ever meeting a target of 5
    // and the residual occupancy splits across salts = ceil(10/5) = 2
    val saturated = (0 until 260).map { i =>
      ("abcdefghijklmnopqrstuvwxyz" (i % 26).toString * 4 + "_" + i, i.toLong)
    }.toDF("s", "id")
    val b2 = ScaleOps.deriveFuzzyBlocking(saturated, "s",
      targetRowsPerBlock = 5, pMax = 3)
    assert((b2.prefixLen, b2.salts) == ((3, 2)))
    // monoculture corpus (single shared prefix): only salting helps
    val mono = (0 until 100).map(i => ("zzzz" + i, i.toLong)).toDF("s", "id")
    val b3 = ScaleOps.deriveFuzzyBlocking(mono, "s",
      targetRowsPerBlock = 10, pMax = 4)
    assert((b3.prefixLen, b3.salts) == ((4, 10)))
    // derivation is one aggregate returning one row — value-equivalent
    // to the documented integer formula replayed in the oracle SQL
    val n = 260L
    val d1 = 26L
    assert(n / d1 == 10L)
  }

  test("compactFiles merges a small-files directory to the byte target, values intact") {
    val dir = java.nio.file.Files.createTempDirectory("compact").toString
    val docs = spark.read.parquet(s"$sf/documents.parquet")
    // simulate micro-batch accumulation: 64 tiny files
    docs.repartition(64).write.mode("overwrite").parquet(s"$dir/small")
    def parquetFiles(d: String) = new java.io.File(d).listFiles()
      .filter(f => f.isFile && f.getName.endsWith(".parquet"))
    assert(parquetFiles(s"$dir/small").length == 64)
    val totalBytes = parquetFiles(s"$dir/small").map(_.length).sum
    val n = ScaleOps.compactFiles(spark, s"$dir/small", s"$dir/big",
      targetBytes = totalBytes / 4 + 1)
    assert(n >= 3 && n <= 5, s"expected ~4 outputs, got $n")
    assert(parquetFiles(s"$dir/big").length == n)
    // same rows, nothing lost or duplicated
    val a = spark.read.parquet(s"$dir/big").orderBy("doc_id").collect()
    val b = docs.orderBy("doc_id").collect()
    assert(a.length == b.length && a.sameElements(b))
    // degenerate direction: a huge target merges to ONE file
    assert(ScaleOps.compactFiles(spark, s"$dir/small", s"$dir/one",
      targetBytes = Long.MaxValue) == 1)
    assert(parquetFiles(s"$dir/one").length == 1)
  }

  test("salted join equals plain join") {
    val li = spark.read.parquet(s"$sf/lineitem.parquet")
    val p = spark.read.parquet(s"$sf/part.parquet")
      .withColumnRenamed("p_partkey", "l_partkey")
    val salted = ScaleOps.saltedJoin(li, p, "l_partkey", salts = 8)
    val plain = li.join(p, Seq("l_partkey"))
    assert(salted.count() == plain.count())
    // spot-check a grouped aggregate over the salted result
    val a = salted.groupBy("p_brand").count().orderBy("p_brand").collect()
    val b = plain.groupBy("p_brand").count().orderBy("p_brand").collect()
    assert(a.map(r => (r.getString(0), r.getLong(1))).toSeq ==
      b.map(r => (r.getString(0), r.getLong(1))).toSeq)
  }
}
