package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Iterative graph scoring over edge tables — the Pregel-on-DataFrame
  * shape beyond [[DedupQueries]]' connected components. Motivating
  * pipeline use: domain-authority weighting of a web corpus (rank the
  * host graph, weight documents by their host's score) — a standard
  * curation signal next to the quality classifiers in
  * [[CurationQueries]].
  *
  * All arithmetic is INTEGER (ranks in millionths, floor division for
  * both the out-degree split and the damping factor), so the result is
  * bit-identical regardless of aggregation order — summing doubles
  * across partitions would make every run engine- and plan-dependent.
  */
object GraphQueries {
  import Q._

  /** Release everything the last query holds: every pin and broadcast
    * in the [[ScaleOps]] registry (graph edge/degree caches, the
    * triangle close array, shingle-set and LM-score pins, the q-gram
    * df map). The one release hook — Bench, Verify, PlanDump and the
    * specs call it once the query's FINAL result has materialized:
    * releasing earlier would silently recompute the iterative joins
    * from lineage. Non-blocking — eviction proceeds in the background
    * while the next query plans. Process-wide: see the registry's
    * sequential-harness note in [[ScaleOps]]. */
  def unpersistAll(): Unit = ScaleOps.synchronized {
    ScaleOps.pinnedFrames.foreach(_.unpersist(blocking = false))
    ScaleOps.pinnedFrames.clear()
    ScaleOps.pinnedBroadcasts.foreach(_.destroy()) // non-blocking in Spark 3+
    ScaleOps.pinnedBroadcasts.clear()
  }

  /** Fixed iteration count for the gate — unrolled as explicit CTEs in
    * the DuckDB oracle, so keep the two in sync. */
  val PageRankIters = 3

  /** Integer-exact PageRank over an `(src, dst)` edge table.
    *
    * Every node must appear as a source (feed an undirected /
    * symmetrized edge list, as the gate does) — that rules out dangling
    * nodes, whose lost mass would otherwise need a global redistribution
    * term per iteration. Update rule, all in Long millionths:
    *
    *   r₀(n)    = 1_000_000
    *   rₖ₊₁(n) = 150_000 + (85 · Σ_{(m,n)∈E} (rₖ(m) div deg(m))) div 100
    *
    * i.e. damping 0.85 with floor division at both steps. Each
    * iteration is ONE shuffle join (ranks onto edges by src) + ONE
    * aggregate (sum by dst) — at a 100 TB edge list this is the
    * standard iterative-join PageRank: the degree table is computed
    * once and reused, only (node, rank) pairs (16 B) travel per round,
    * and AQE handles hub-node skew on the dst aggregate. Edges and
    * degrees are materialized ONCE (`localCheckpoint`, the
    * [[DedupQueries.connectedComponents]] pattern) — without it every
    * iteration's plan re-derives the edge subtree, tripling the scan
    * work at 3 rounds and growing without bound beyond; ranks are
    * likewise checkpointed every few rounds so deep runs don't carry
    * the whole join lineage.
    */
  def pageRank(edges: DataFrame, iters: Int,
               checkpointEvery: Int = 4): DataFrame = {
    // Callers pass the edge list PRE-HASH-PARTITIONED by src (r19, guide
    // §2.4 "remove shuffles outright"): the cache then reports
    // hashpartitioning(src) and EVERY iteration's ranks join streams the
    // edges straight off the cache — the r18 executed plan paid one
    // Exchange hashpartitioning(src) of the full cached edge list PER
    // ITERATION (plan_ids 598/415/368 in plans/r19/…_before capture)
    // because the cache carried the distinct's (src, dst) partitioning,
    // which no per-round operator could consume. The deg aggregate
    // below also becomes exchange-free (clustered by src already) and
    // deg's cache inherits hash(src), so the per-round deg attach is
    // exchange-free too. Results are bit-identical — partitioning only.
    val e = ScaleOps.materializePinned(edges.select(col("src"), col("dst")))
    val deg = ScaleOps.materializePinned(
      e.groupBy(col("src")).agg(count(lit(1)).as("d")))
    var ranks = deg.select(col("src").as("node"), lit(1000000L).as("r"))
    for (k <- 1 to iters) {
      ranks = e.join(ranks, e("src") === ranks("node"))
        .join(deg, "src")
        .select(col("dst"), expr("r div d").as("c"))
        .groupBy(col("dst"))
        .agg(sum(col("c")).as("s"))
        .select(col("dst").as("node"),
          (lit(150000L) + expr("(s * 85) div 100")).as("r"))
      if (k % checkpointEvery == 0 && k < iters)
        ranks = ranks.localCheckpoint()
    }
    ranks
  }

  /** Fixed iteration count for the LPA gate row — keep in sync with
    * the unrolled oracle CTEs. */
  val LpaIters = 3

  /** Deterministic synchronous label propagation over an `(src, dst)`
    * edge table — community detection for domain/host clustering (the
    * curation counterpart of PageRank's authority weighting: LPA
    * groups, PageRank ranks).
    *
    * Every node starts with its own id as label; each round a node
    * adopts the most frequent label among its neighbors, ties broken
    * toward the SMALLEST label — with a SELF-LOOP added per node so a
    * node's current label competes too (the standard retention variant;
    * without it synchronous LPA provably oscillates 2-cycles on
    * bipartite graphs, and the gate graph IS bipartite).
    * All state is (node, label) longs — no floats, bit-identical
    * across aggregation orders. Per round: ONE shuffle join (labels
    * onto edges) + ONE (dst, label) count + ONE windowless arg-max
    * per node. The arg-max packs (count, label) into a single long —
    * `c·2³² + (2³²−1−lab)` — so it is a PRIMITIVE `max` that stays in
    * HashAggregate with map-side partials (a `max(struct(c, -lab))`
    * formulation is semantically identical but degrades to a
    * SortAggregate pair per round — measured 1.6× slower on the gate
    * graph; LpaPlanProbe pins the plan). The packing needs label ids
    * < 2³²−1 and per-(node, label) counts < 2³¹ — checked ONCE against
    * the materialized edges, loud throw beyond (use an unpacked
    * variant past 4 B nodes). Edges are materialized once; labels
    * checkpoint every few rounds ([[pageRank]]'s lineage pattern).
    */
  def labelPropagation(edges: DataFrame, iters: Int,
                       checkpointEvery: Int = 4, np: Int = 0): DataFrame = {
    val PackShift = 4294967296L // 2^32
    val sym = edges.select(col("src"), col("dst"))
    val nodes = sym.select(col("src")).distinct()
    // hash(src)-partitioned cache (r19, guide §2.4): rounds 2+ join
    // labels onto edges by src — with the cache partitioned by src the
    // join consumes the cached partitioning and no round re-shuffles
    // the |E|+|V| self-looped edge list (the r18 executed plan carried
    // one Exchange hashpartitioning(src) over the cache for the label
    // joins). The union output had no usable partitioning before, so
    // the repartition replaces a per-query shuffle, not adds one.
    // np > 0 (r20): size-derived cache partition count from the caller
    // (ScaleOps.deriveIterParts) — per-round stages launch one task per
    // cache partition, so the session constant over-tasks small graphs
    // (see the pagerank spec's derivation note). 0 keeps the session
    // default.
    val symSelf = sym.union(nodes.select(col("src"), col("src").as("dst")))
    val e = ScaleOps.materializePinned(
      if (np > 0) symSelf.repartition(np, col("src"))
      else symSelf.repartition(col("src")))
    val bounds = e.agg(max(col("src")).as("mx"), count(lit(1)).as("n")).head()
    require(bounds.getLong(0) >= 0 && bounds.getLong(0) < PackShift - 1 &&
      bounds.getLong(1) < (1L << 31),
      s"labelPropagation: node ids must fit 32 bits and |E| < 2^31 for " +
        s"the packed arg-max (got max id ${bounds.getLong(0)}, " +
        s"|E| ${bounds.getLong(1)})")
    var labs = nodes.select(col("src").as("node"), col("src").as("lab"))
    for (k <- 1 to iters) {
      // round 1's label map is the identity (lab(n) = n), so the first
      // round reads labels straight off the edge list instead of paying
      // a |E| ⋈ |V| join for a no-op mapping
      val contrib =
        if (k == 1) e.select(col("dst"), col("src").as("lab"))
        else e.join(labs, e("src") === labs("node"))
          .select(col("dst"), col("lab"))
      // NOT fused to one exchange (r19 measured): repartitioning the
      // raw contributions by dst would satisfy both aggregates'
      // clustering and drop the second exchange, but it also forfeits
      // the map-side partial counts — measured a wash at gate scale
      // (5.27 vs 5.11 s) and partial aggregation is the safer shape
      // under hub skew at 100 TB, so the two-exchange form stays.
      labs = contrib
        .groupBy(col("dst"), col("lab"))
        .agg(count(lit(1)).as("c"))
        .groupBy(col("dst"))
        .agg(max(col("c") * PackShift + (lit(PackShift - 1) - col("lab")))
          .as("m"))
        .select(col("dst").as("node"),
          (lit(PackShift - 1) - (col("m") % PackShift)).as("lab"))
      if (k % checkpointEvery == 0 && k < iters)
        labs = labs.localCheckpoint()
    }
    labs
  }

  /** Exact triangle-participation counts over an undirected edge table
    * given in canonical form (`u < v`, distinct) — the clustering
    * signal beside PageRank's authority and LPA's grouping: a node in
    * many triangles sits in a tight community (link-farm / mirror-site
    * detection in a host graph; co-citation density in a citation
    * graph).
    *
    * Algorithm: degree-ordered node-iterator ("compact-forward").
    * Orient every edge from the (degree, id)-smaller endpoint to the
    * larger; every triangle then has exactly ONE apex whose two edges
    * both point outward, so joining the apex's out-wedges `(a, b)`
    * back against the canonical edge set counts each triangle once.
    * The orientation bounds out-degree by O(√m), so wedge volume is
    * O(m^1.5) instead of Σ deg² — the difference between feasible and
    * not on a power-law host graph whose hubs have 10⁷ neighbors.
    * At 100 TB: edges and the oriented list are materialized once
    * (reused by two joins each); the wedge self-join shuffles on the
    * apex, whose fan-out the orientation just bounded, and AQE's skew
    * split handles the residual √m hot apexes. All-integer state —
    * bit-identical across plans and aggregation orders.
    */
  def triangleCounts(edges: DataFrame): DataFrame = {
    val e = ScaleOps.materializePinned(edges.select(col("u"), col("v")))
    val smallerFirst = col("du") < col("dv") ||
      (col("du") === col("dv") && col("u") < col("v"))
    val ss = edges.sparkSession
    // ONE agg off the cache: the edge count m drives every derivation
    // below, and the key bounds decide whether (u, v) packs into a
    // single long (u into the high 32 bits) — the compact closing-probe
    // key (r20). All replica scales keep ids far under 2³¹; the guard
    // makes the generic API safe for any caller.
    val eStats = e.agg(count(lit(1)).as("m"),
      min(col("u")).cast("long").as("nu"), max(col("u")).cast("long").as("mu"),
      min(col("v")).cast("long").as("nv"), max(col("v")).cast("long").as("mv"))
      .head()
    val m = eStats.getLong(0)
    val packable = m > 0 && !eStats.isNullAt(1) && !eStats.isNullAt(3) &&
      eStats.getLong(1) >= 0 && eStats.getLong(2) < (1L << 31) &&
      eStats.getLong(3) >= 0 && eStats.getLong(4) < (1L << 32)
    def packed(a: Column, b: Column): Column =
      shiftleft(a.cast("long"), 32).bitwiseOR(b.cast("long"))
    val parts = ScaleOps.sessionPartitions(ss)
    // task slots bound build concurrency REGARDLESS of partition count
    // (min(slots, parts) would undercount exactly when
    // shuffle.partitions < cores, the fixed-32-partition config that
    // motivated this derivation) — but the slots that matter are the
    // ones SHARING ONE HEAP, which is what ScaleOps.heapPartitions
    // divides by (cluster-wide parallelism against one executor's heap
    // would inflate `needed` by the executor count and flip this join
    // to the SMJ fallback on exactly the large deployments it exists
    // for)
    // deg is MATERIALIZED (r20): both attach joins consume it, and the
    // pin makes |V| exactly knowable, which gates the broadcast attach
    // below — the |V|-sized table beside an |E|-sized cache is never
    // the memory problem.
    val deg = ScaleOps.materializePinned(e.select(col("u").as("n"))
      .union(e.select(col("v").as("n")))
      .groupBy(col("n")).agg(count(lit(1)).as("d")))
    val nV = deg.count() // cache-backed
    // Deg attach (r20, guide §3.1): BROADCAST the |V|-sized deg table
    // when it fits the per-executor budget (the deriveSegmentJoin
    // 1/16-heap rule, ~48 B/row hashed) — the |E|-sized edge stream
    // then never shuffles for the attaches (r19's SHUFFLE_HASH form
    // still paid both e-side exchanges; AQE only converted the join
    // strategy after the shuffle files were written). Past the budget
    // — the 100 TB regime — fall back to SHUFFLE_HASH at a width where
    // every concurrent |V|/np build fits the same tenth-of-heap bound
    // as the wedge builds (ADVICE r19 #3: the deg joins now share the
    // wedge joins' derivation instead of riding the session default).
    val degBcast = ScaleOps.fitsBroadcast(ss, nV * 48L)
    val npDeg =
      math.max(parts.toLong, ScaleOps.heapPartitions(ss, nV * 48L)).toInt
    def degSide(k: String, d: String): DataFrame = {
      val p = deg.select(col("n").as(k), col("d").as(d))
      if (degBcast) broadcast(p)
      else if (npDeg > parts) p.repartition(npDeg, col(k)).hint("SHUFFLE_HASH")
      else p.hint("SHUFFLE_HASH")
    }
    def widenE(df: DataFrame, k: Column): DataFrame =
      if (!degBcast && npDeg > parts) df.repartition(npDeg, k) else df
    val o = widenE(widenE(e, col("u"))
      .join(degSide("u", "du"), "u"), col("v"))
      .join(degSide("v", "dv"), "v")
      .select(
        when(smallerFirst, col("u")).otherwise(col("v")).as("s"),
        when(smallerFirst, col("v")).otherwise(col("u")).as("t"))
    // SHUFFLE_HASH on the O(m^1.5) wedge self-join: the wedge stream is
    // ~35× the edge list, and a sort-merge plan would SORT it — measured
    // 1.9× slower on the sf0.1 basket graph, and at the 100×-replica-
    // on-8 g probe the SMJ fallback's wedge-stream sort spills
    // actually EXHAUSTED 78 GB of scratch disk. But a shuffled-hash
    // build map cannot spill either: the same probe OOMed the
    // original fixed-32-partition hash plan (32 concurrent ~150 MB
    // builds on an 8 g heap). The resolution is that per-task build
    // footprint scales as m / numPartitions: DERIVE the join
    // partition count from the materialized edge count (~96 B/row
    // hashed) so every concurrent build fits a conservative tenth of
    // the executor heap, and repartition the m-sized join inputs by
    // their join keys to that count (same-key same-count hash
    // partitioning — the join consumes it with no extra exchange).
    // At gate scales this degenerates to the session default (plan
    // unchanged); at 100×-on-8 g it widens the builds to ~190
    // partitions and the query completes with bounded memory AND
    // bounded disk. Only if the derivation overflows the 4096-
    // partition cap does the spillable sort-merge plan take over.
    val needed = ScaleOps.heapPartitions(ss, m * 96L)
    val np = math.max(parts.toLong, needed).toInt
    val hashFits = needed <= 4096L
    def hinted(df: DataFrame): DataFrame =
      if (hashFits) df.hint("SHUFFLE_HASH") else df
    val oP = if (hashFits && np > parts) o.repartition(np, col("s")) else o
    val w = oP.as("o1").join(hinted(oP.as("o2")),
        col("o1.s") === col("o2.s") && col("o1.t") < col("o2.t"))
      .select(col("o1.s").as("apex"),
        least(col("o1.t"), col("o2.t")).as("a"),
        greatest(col("o1.t"), col("o2.t")).as("b"))
    // CLOSING probe (r20, the r19 "round-2 candidate"): the wedge→edge
    // join's only job is an EXISTENCE check of (a, b) against the
    // distinct edge set, yet the SHUFFLE_HASH form repartitions the
    // ~35×m wedge stream by (a, b) — by far the widest exchange in the
    // query (the r19 Bloom prefilter attacked the same exchange and
    // lost because it kept it; this removes it). When the packed edge
    // longs fit the broadcast budget (8 B/edge exact + one serialized
    // copy, same 1/16-heap rule), ship them ONCE as a sorted long
    // array and probe map-side by binary search — the wedge stream
    // never shuffles, and matched triangles flow straight into the
    // partial aggregate. The array is 5× smaller than a hashed
    // relation (no per-row object or map overhead), which is exactly
    // what keeps the 10× replica inside the budget. Past the budget,
    // fall back to the shuffled join — on the packed single-long key
    // when ids allow (compact LongHashedRelation build, 16 B wedge
    // keys instead of 24 B), else the original two-column form.
    val closeBcast = packable && ScaleOps.fitsBroadcast(ss, m * 16L)
    val tri =
      if (closeBcast) {
        val arr = e.select(packed(col("u"), col("v")).as("__uv"))
          .collect().map(_.getLong(0))
        java.util.Arrays.sort(arr)
        val bc = ScaleOps.broadcastPinned(ss, arr)
        val isEdge = udf((ab: Long) =>
          java.util.Arrays.binarySearch(bc.value, ab) >= 0)
        w.filter(isEdge(packed(col("a"), col("b"))))
      } else if (packable) {
        val ePk = e.select(packed(col("u"), col("v")).as("__uv"))
        val wPk = w.withColumn("__ab", packed(col("a"), col("b")))
        val ePkP = if (hashFits && np > parts)
          ePk.repartition(np, col("__uv")) else ePk
        val wPkP = if (hashFits && np > parts)
          wPk.repartition(np, col("__ab")) else wPk
        wPkP.join(hinted(ePkP), col("__ab") === col("__uv"))
      } else {
        val eP = if (hashFits && np > parts)
          e.repartition(np, col("u"), col("v")) else e
        w.join(hinted(eP), col("a") === col("u") && col("b") === col("v"))
      }
    tri.select(explode(array(col("apex"), col("a"), col("b"))).as("node"))
      .groupBy(col("node")).agg(count(lit(1)).as("n_tri"))
  }

  private def lpIterSql(prev: String, cur: String): String =
    s"""${cur}_c AS (
         SELECT e.dst, $prev.lab, COUNT(*) AS c
         FROM e JOIN $prev ON e.src = $prev.node
         GROUP BY e.dst, $prev.lab),
       $cur AS (
         SELECT dst AS node, min(lab) AS lab FROM (
           SELECT dst, lab, c, max(c) OVER (PARTITION BY dst) AS mc
           FROM ${cur}_c) x
         WHERE c = mc GROUP BY dst)"""

  private def prIterSql(prev: String, cur: String): String =
    s"""$cur AS (
         SELECT e.dst AS node,
                CAST(150000 + (SUM($prev.r // deg.d) * 85) // 100 AS BIGINT) AS r
         FROM e JOIN $prev ON e.src = $prev.node JOIN deg ON e.src = deg.src
         GROUP BY e.dst)"""

  val specs: Seq[Spec] = Seq(
    // Customer↔supplier trade graph from the star schema (undirected,
    // suppliers offset into their own id space), ranked for
    // PageRankIters rounds; top-100 by rank. The oracle unrolls the
    // identical integer recurrence as chained CTEs — bit-equal because
    // no float ever enters the computation.
    Spec("q_graph_pagerank",
      (s, dir) => {
        val o = t(s, dir, "orders")
        val li = t(s, dir, "lineitem")
        val e0 = o.join(li, o("o_orderkey") === li("l_orderkey"))
          .select(col("o_custkey").as("src"),
            (col("l_suppkey") + lit(1000000L)).as("dst"))
          .distinct()
        // no distinct after symmetrizing: customer ids and offset
        // supplier ids live in disjoint key spaces (also under the
        // ScaleUp replica's per-copy shifts), so a forward row can
        // never equal a swapped row — the union is already
        // duplicate-free and the extra 2|E|-row shuffle would be
        // pure waste
        // pre-partition by src so the iteration cache is join-consumable
        // (see pageRank's scaladoc note; physical only, result unchanged).
        // Partition COUNT derived by size, not the session constant
        // (ScaleOps.deriveIterParts, r20): each iteration stage launches
        // one task per cache partition. The bytes bound comes from the
        // optimizer's lineitem file size, NO driver job — a li.count()
        // here measured +0.7 s per graph row at the 10× replica, pure
        // added job latency. ×6 ≈ (2 symmetrized edge rows × 48 B
        // in-flight per lineitem row, distinct only shrinks) over
        // ~16 B/row compressed parquet; only the order of magnitude at
        // the derivation's regime boundary matters (gate: 11 MB × 6 =
        // 66 MB → latency regime, 3 partitions; 10×: 103 MB × 6 →
        // throughput regime, session count — both measured endpoints).
        val npIter = ScaleOps.deriveIterParts(s, ScaleOps.planBytes(li, 6))
        val e = e0.union(e0.select(col("dst").as("src"), col("src").as("dst")))
          .repartition(npIter, col("src"))
        pageRank(e, PageRankIters)
          .orderBy(col("r").desc, col("node"))
          .limit(100)
          .select(col("node"), col("r").as("rank"))
      },
      Some(s"""WITH e0 AS (
                 SELECT DISTINCT o_custkey AS src, l_suppkey + 1000000 AS dst
                 FROM orders JOIN lineitem ON o_orderkey = l_orderkey),
               e AS (SELECT src, dst FROM e0
                     UNION ALL SELECT dst, src FROM e0),
               deg AS (SELECT src, COUNT(*) AS d FROM e GROUP BY src),
               r0 AS (SELECT src AS node, CAST(1000000 AS BIGINT) AS r FROM deg),
               ${prIterSql("r0", "r1")},
               ${prIterSql("r1", "r2")},
               ${prIterSql("r2", "r3")}
               SELECT node, r AS rank FROM r3
               ORDER BY rank DESC, node LIMIT 100""")),

    // Label-propagation communities over the same trade graph — the
    // grouping signal beside PageRank's ranking one. The oracle
    // unrolls the identical integer recurrence (count → max-count →
    // min-label) as chained CTEs; the self-loop makes the synchronous
    // rounds stable on this bipartite graph. All-long state, so the
    // result is bit-equal regardless of plan or aggregation order.
    Spec("q_graph_communities",
      (s, dir) => {
        val o = t(s, dir, "orders")
        val li = t(s, dir, "lineitem")
        val e0 = o.join(li, o("o_orderkey") === li("l_orderkey"))
          .select(col("o_custkey").as("src"),
            (col("l_suppkey") + lit(1000000L)).as("dst"))
          .distinct()
        val e = e0.union(e0.select(col("dst").as("src"), col("src").as("dst")))
        // size-derived iteration-cache granularity (same bound as the
        // pagerank spec; the self-loop rows add |V| ≤ |E| slack the
        // 32 MB target absorbs)
        labelPropagation(e, LpaIters,
            np = ScaleOps.deriveIterParts(s, ScaleOps.planBytes(li, 6)))
          .orderBy(col("node"))
          .select(col("node"), col("lab"))
      },
      Some(s"""WITH e0 AS (
                 SELECT DISTINCT o_custkey AS src, l_suppkey + 1000000 AS dst
                 FROM orders JOIN lineitem ON o_orderkey = l_orderkey),
               sym AS (SELECT src, dst FROM e0
                       UNION ALL SELECT dst, src FROM e0),
               e AS (SELECT src, dst FROM sym
                     UNION ALL
                     SELECT DISTINCT src, src FROM sym),
               l0 AS (SELECT DISTINCT src AS node, src AS lab FROM sym),
               ${lpIterSql("l0", "l1")},
               ${lpIterSql("l1", "l2")},
               ${lpIterSql("l2", "l3")}
               SELECT node, lab FROM l3 ORDER BY node""")),

    // Market-basket projection of the star schema: parts co-ordered in
    // the same order form an edge; triangle counts per part measure
    // basket-cluster density (the trade graph is bipartite — zero
    // triangles — so the projection is the honest triangle substrate).
    // The per-order self-join's fan-out is bounded by order size
    // (≤ C(7,2) pairs/order), and the oracle replays the identical
    // degree-ordered orientation, so the two engines count the exact
    // same apex per triangle.
    Spec("q_graph_triangles",
      (s, dir) => {
        val li = t(s, dir, "lineitem")
        val a = li.select(col("l_orderkey").as("k"), col("l_partkey").as("u"))
        val b = li.select(col("l_orderkey").as("k"), col("l_partkey").as("v"))
        val e = a.join(b, "k").where(col("u") < col("v"))
          .select(col("u"), col("v")).distinct()
        triangleCounts(e)
          .orderBy(col("node"))
          .select(col("node"), col("n_tri"))
      },
      Some("""WITH e AS (
                 SELECT DISTINCT a.l_partkey AS u, b.l_partkey AS v
                 FROM lineitem a JOIN lineitem b
                   ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey),
               d AS (SELECT n, COUNT(*) AS deg FROM (
                       SELECT u AS n FROM e UNION ALL SELECT v FROM e)
                     GROUP BY n),
               o AS (SELECT
                       CASE WHEN du.deg < dv.deg
                              OR (du.deg = dv.deg AND e.u < e.v)
                            THEN e.u ELSE e.v END AS s,
                       CASE WHEN du.deg < dv.deg
                              OR (du.deg = dv.deg AND e.u < e.v)
                            THEN e.v ELSE e.u END AS t
                     FROM e JOIN d du ON du.n = e.u JOIN d dv ON dv.n = e.v),
               w AS (SELECT o1.s AS apex,
                            least(o1.t, o2.t) AS a, greatest(o1.t, o2.t) AS b
                     FROM o o1 JOIN o o2 ON o1.s = o2.s AND o1.t < o2.t),
               tri AS (SELECT apex, a, b
                       FROM w JOIN e ON e.u = w.a AND e.v = w.b),
               n AS (SELECT apex AS node FROM tri
                     UNION ALL SELECT a FROM tri
                     UNION ALL SELECT b FROM tri)
               SELECT node, COUNT(*) AS n_tri FROM n
               GROUP BY node ORDER BY node"""))
  )
}
