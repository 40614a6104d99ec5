package graft.operators

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._
import graft.functions.TextFunctions._
import graft.functions.VectorFunctions

/** Deduplication operators (SURVEY §2.9 X1) over the `documents` and
  * `embeddings` tables: exact, MinHash+LSH, n-gram Jaccard, SimHash,
  * and embedding-cosine near-dup.
  *
  * Scale design: every variant avoids the O(n²) all-pairs comparison —
  * exact dedup is a hash groupBy on the text (one shuffle); MinHash
  * groups by band-bucket so candidate pairs are generated per bucket;
  * n-gram Jaccard uses an inverted shingle index (self-join on shingle,
  * never a cross join); embedding near-dup at scale goes through the
  * hyperplane-bucket path (see SimilarityQueries) — the exact-subset
  * variant here exists to oracle-check the math.
  */
object DedupQueries {
  import Q._

  private val Bands = 4
  private val RowsPerBand = 2
  private val MinhashJaccardThreshold = 0.5
  private val SimhashHammingMax = 12

  /** Jaccard threshold for the exact prefix-filter join — interpolated
    * into BOTH the Spark prefix length and the brute-force oracle. */
  private val PrefixFilterThreshold = 0.5

  /** Downward slack for the prefix-filter boundary arithmetic:
    * double(thr)·n can exceed the rational product by a few ulps
    * (0.55·20 = 11.000000000000002), which would shorten the prefix /
    * tighten the prunes past the theorem's bound and drop TRUE pairs.
    * 1e-7 dominates the rounding error (≈ 1.1e-16·n, i.e. < 1e-9 even
    * at a billion shingles per doc) while staying far below the
    * 1-integer quantum the bounds are compared against, so it only
    * ever ADMITS borderline candidates — the exact verify step removes
    * any that don't truly reach thr. */
  private val BoundEps = 1e-7

  /** The PPJoin prefix of a doc whose `n` elements are the `(df, sh)`
    * structs of `ts`: its first `n − ceil(n·thr) + 1` elements in
    * ascending (df, sh) order, posexploded as `(pos, p)`. The
    * [[BoundEps]] slack under ceil can only LENGTHEN the prefix. */
  private def prefixSlice(ts: Column, n: Column, thr: Double): Column =
    posexplode(slice(array_sort(ts), lit(1),
      (n - ceil(n * lit(thr) - lit(BoundEps)) + 1).cast("int")))
      .as(Seq("pos", "p"))

  /** The PPJoin length and positional prunes over a candidate row with
    * both sides' set sizes (`na`, `nb`) and 1-based prefix positions
    * (`pa`, `pb`); see [[prefixFilterCandidates]] for why they never
    * drop a pair reaching `thr`. */
  private def ppjoinPrunes(thr: Double): Column =
    least(col("na"), col("nb")) >=
      greatest(col("na"), col("nb")) * lit(thr) - lit(BoundEps) &&
      lit(1) + least(col("na") - col("pa"), col("nb") - col("pb")) >=
        (col("na") + col("nb")) * lit(thr / (1.0 + thr)) - lit(BoundEps)

  /** DuckDB replay of the md5-derived 60-bit SimHash signature — same
    * per-token hash, votes, and bit assembly as
    * [[graft.plans.SimHashSigExpr]]. */
  private def simhashSigCte: String =
    s"""WITH th AS (
  SELECT doc_id, list_transform(string_split(text, ' '),
    tok -> CAST(('0x' || substr(md5(tok), 1, 15)) AS BIGINT)) AS hs
  FROM documents),
v AS (
  SELECT doc_id, list_transform(generate_series(0, 59),
    b -> list_sum(list_transform(hs, h -> ((h >> b) & 1) * 2 - 1))) AS votes
  FROM th),
sig AS (
  SELECT doc_id, CAST(list_sum(list_transform(generate_series(0, 59),
    b -> CASE WHEN votes[b + 1] > 0
              THEN (CAST(1 AS BIGINT) << b) ELSE 0 END)) AS BIGINT) AS sig
  FROM v)"""

  /** DuckDB replay of the identical MinHash pipeline: same md5→31-bit
    * shingle hash, same affine coefficients, same base-P band packing —
    * signatures match bit-for-bit. Generated so the constants stay in
    * lockstep with the Spark side. `withPrefix` lets the clusters query
    * prepend WITH RECURSIVE. */
  /** Shared prefix of the MinHash oracles: everything through the
    * per-document `bands` CTE (and the `sh` shingle sets the verify
    * step re-joins). The pair queries and the incremental batch-vs-
    * corpus query append their own `cand`/`scored` tails. */
  private def minhashBandsCte(withPrefix: String): String = {
    import graft.functions.TextFunctions.{MinhashP, minhashCoefs}
    val coefs = minhashCoefs(Bands * RowsPerBand)
    val mhCols = coefs.zipWithIndex.map { case ((a, b), i) =>
      s"list_min(list_transform(h, v -> ($a * v + $b) % $MinhashP)) AS mh$i"
    }.mkString(",\n    ")
    val bandSelects = (0 until Bands).map { b =>
      val hi = s"mh${b * RowsPerBand}"
      val lo = s"mh${b * RowsPerBand + 1}"
      s"SELECT doc_id, $b AS band, $hi * $MinhashP + $lo AS bh FROM sig"
    }.mkString("\n  UNION ALL\n  ")
    s"""$withPrefix toks AS (
  SELECT doc_id, text, string_split(text, ' ') AS t FROM documents),
sh AS (
  SELECT doc_id, list_distinct(
    CASE WHEN len(t) >= 3
         THEN list_transform(generate_series(1, len(t) - 2),
                i -> concat_ws(' ', t[i], t[i+1], t[i+2]))
         ELSE [text] END) AS s
  FROM toks),
hs AS (
  SELECT doc_id, s,
    list_transform(s, x ->
      CAST(('0x' || substr(md5(x), 1, 15)) AS BIGINT) % $MinhashP) AS h
  FROM sh),
sig AS (
  SELECT doc_id, s,
    $mhCols
  FROM hs),
bands AS (
  $bandSelects)"""
  }

  private def minhashScoredCte(withPrefix: String): String = {
    s"""${minhashBandsCte(withPrefix)},
cand AS (
  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
  FROM bands a JOIN bands b ON a.band = b.band AND a.bh = b.bh
                           AND a.doc_id < b.doc_id),
scored AS (
  SELECT doc_a, doc_b,
    CAST(len(list_intersect(sa.s, sb.s)) AS DOUBLE)
      / (len(sa.s) + len(sb.s) - len(list_intersect(sa.s, sb.s))) AS jac
  FROM cand
  JOIN sh sa ON sa.doc_id = doc_a
  JOIN sh sb ON sb.doc_id = doc_b)"""
  }

  private def minhashOracle: String =
    s"""${minhashScoredCte("WITH")}
SELECT doc_a, doc_b, round(jac, 4) AS jaccard
FROM scored WHERE jac >= $MinhashJaccardThreshold
ORDER BY doc_a, doc_b"""

  /** Connected components over the near-dup pairs in DuckDB: a
    * recursive walk over the symmetric edge set; each node's cluster is
    * the minimum id it can reach — identical to the Spark side's
    * min-label propagation fixpoint. */
  private def clustersOracle: String =
    s"""${minhashScoredCte("WITH RECURSIVE")},
dup_pairs AS (
  SELECT doc_a, doc_b FROM scored WHERE jac >= $MinhashJaccardThreshold),
edges AS (
  SELECT doc_a AS src, doc_b AS dst FROM dup_pairs
  UNION ALL
  SELECT doc_b AS src, doc_a AS dst FROM dup_pairs),
walk(id, reach) AS (
  SELECT DISTINCT src, src FROM edges
  UNION
  SELECT e.src, w.reach FROM walk w JOIN edges e ON e.dst = w.id),
cc AS (
  SELECT id AS doc_id, min(reach) AS cluster_id FROM walk GROUP BY id)
SELECT c.doc_id, c.cluster_id, c.doc_id = c.cluster_id AS is_canonical,
       n.n_members
FROM cc c
JOIN (SELECT cluster_id, count(*) AS n_members
      FROM cc GROUP BY cluster_id) n USING (cluster_id)
ORDER BY doc_id"""

  /** Stateless contamination flag against a driver-materialized
    * benchmark shingle set. The benchmark side of a contamination scan
    * is always tiny relative to the corpus, so it ships as a broadcast
    * literal — which makes the flag a pure map: it runs unchanged on a
    * batch frame and on a Structured-Streaming frame (append mode),
    * proven stream==batch in StreamingSpec. The q_contamination gate
    * row is the join-shaped equivalent for when the benchmark set is a
    * table rather than a constant.
    */
  def contaminationFlag(docs: org.apache.spark.sql.DataFrame,
                        benchShingles: Seq[String],
                        minOverlap: Int): org.apache.spark.sql.DataFrame =
    docs.select(col("doc_id"),
      (size(array_intersect(shingleSetFast(col("text")),
        typedLit(benchShingles))) >= minOverlap).as("contaminated"))

  /** DuckDB replay of the full dedup pipeline's keep set: recursive
    * connected components over the verified near-dup pairs, then every
    * document except non-canonical cluster members. */
  private def corpusOracle: String =
    s"""${minhashScoredCte("WITH RECURSIVE")},
dup_pairs AS (
  SELECT doc_a, doc_b FROM scored WHERE jac >= $MinhashJaccardThreshold),
edges AS (
  SELECT doc_a AS src, doc_b AS dst FROM dup_pairs
  UNION ALL
  SELECT doc_b AS src, doc_a AS dst FROM dup_pairs),
walk(id, reach) AS (
  SELECT DISTINCT src, src FROM edges
  UNION
  SELECT e.src, w.reach FROM walk w JOIN edges e ON e.dst = w.id),
cc AS (
  SELECT id AS doc_id, min(reach) AS cluster_id FROM walk GROUP BY id)
SELECT d.doc_id, md5(d.text) AS fp
FROM documents d
WHERE d.doc_id NOT IN (SELECT doc_id FROM cc WHERE doc_id <> cluster_id)
ORDER BY d.doc_id"""

  /** Diagnostics for the spec: rounds run / convergence checks issued
    * by the most recent connectedComponents call in this JVM. */
  @volatile private[graft] var lastCcRounds: Int = 0
  @volatile private[graft] var lastCcChecks: Int = 0

  /** Connected components over undirected pairs (doc_a, doc_b) by
    * iterative min-label propagation: each round every node takes the
    * minimum label among itself and its neighbors; fixpoint in
    * O(cluster diameter) rounds (near-dup clusters are shallow). Each
    * round is two joins (edges ⋈ labels for the neighbours' minimum,
    * then labels ⋈ that minimum) and one aggregation, materialized by a
    * localCheckpoint that truncates the growing plan lineage (at
    * cluster scale this — not the data — is what kills iterative Spark
    * jobs). At sf0.01 under AQE a round is 7 Spark jobs: six
    * query-stage jobs and the checkpoint; a convergence check adds two.
    *
    * Fails loudly if `maxRounds` is reached before the fixpoint —
    * returning partially-propagated labels would be silently-wrong
    * cluster ids (a component of diameter > maxRounds would keep two
    * labels). Diameter > 25 is implausible for near-dup clusters, so
    * hitting the cap means something is broken, not slow.
    *
    * Convergence is checked every `checkEvery` rounds, not every
    * round: propagation is monotone, so a round past the fixpoint is a
    * cheap no-op, and halving the driver-side `changed`-count actions
    * matters more on deep clusters than the odd extra round.
    */
  def connectedComponents(pairs: org.apache.spark.sql.DataFrame,
                          maxRounds: Int = 25,
                          checkEvery: Int = 2): org.apache.spark.sql.DataFrame = {
    require(checkEvery >= 1, "checkEvery must be >= 1")
    // symmetric edge set, materialized once — every iteration reuses
    // it rather than recomputing signatures
    val edges = pairs.union(
      pairs.select(col("doc_b").as("doc_a"), col("doc_a").as("doc_b")))
      .localCheckpoint()
    var labels = edges.select(col("doc_a").as("id")).distinct()
      .select(col("id"), col("id").as("label"))
      .localCheckpoint()
    var changed = 1L
    var rounds = 0
    var checks = 0
    while (changed > 0 && rounds < maxRounds) {
      // convergence gets verified on check rounds and always on the
      // final permitted round (so the non-convergence throw is never
      // based on a stale count)
      val doCheck = (rounds + 1) % checkEvery == 0 || rounds + 1 == maxRounds
      val nb = edges.join(
          labels.select(col("id").as("nid"), col("label").as("nlabel")),
          col("doc_b") === col("nid"))
        .groupBy(col("doc_a")).agg(min(col("nlabel")).as("nb_min"))
      val merged = labels.join(nb, col("id") === col("doc_a"), "left")
        .select(col("id"),
          least(col("label"), coalesce(col("nb_min"), col("label")))
            .as("label"),
          (col("label") > coalesce(col("nb_min"), col("label")))
            .cast("long").as("chg"))
      val next = merged.localCheckpoint()
      if (doCheck) {
        changed = next.agg(coalesce(sum(col("chg")), lit(0L))).head().getLong(0)
        checks += 1
      }
      labels = next.select("id", "label")
      rounds += 1
    }
    lastCcRounds = rounds
    lastCcChecks = checks
    if (changed > 0)
      throw new IllegalStateException(
        s"connectedComponents did not converge in $maxRounds rounds " +
          s"($changed labels still changing) — component diameter exceeds " +
          "the round cap; raise maxRounds")
    val sizes = labels.groupBy(col("label").as("cluster_id"))
      .agg(count(lit(1)).as("n_members"))
    labels.select(col("id").as("doc_id"), col("label").as("cluster_id"))
      .join(sizes, "cluster_id")
      .select(col("doc_id"), col("cluster_id"),
        (col("doc_id") === col("cluster_id")).as("is_canonical"),
        col("n_members"))
      .orderBy(col("doc_id"))
  }

  /** Co-occurrence pairs from an inverted (doc_id, sh) index with a
    * document-frequency cap: a shingle shared by m docs contributes
    * m·(m−1)/2 candidate pairs, and real corpora carry boilerplate
    * shingles with huge m — so shingles with df > cap are dropped
    * BEFORE the self-join, bounding every shingle's contribution at
    * cap²/2 pairs. The hot set is tiny by construction (only
    * boilerplate exceeds the cap), so the drop is a broadcast anti-join
    * that never shuffles the index; intersection counts for pairs
    * sharing a dropped shingle undercount by exactly those shingles —
    * the standard, documented trade (a boilerplate shingle carries no
    * dedup signal). Returns (doc_a < doc_b, inter). */
  def invertedIndexPairs(inv: org.apache.spark.sql.DataFrame,
                         dfCap: Int): org.apache.spark.sql.DataFrame = {
    val hot = inv.groupBy(col("sh")).agg(count(lit(1)).as("df"))
      .filter(col("df") > dfCap).select(col("sh"))
    val kept = inv.join(broadcast(hot), Seq("sh"), "left_anti")
    kept.as("x")
      .join(kept.as("y"), col("x.sh") === col("y.sh") &&
        col("x.doc_id") < col("y.doc_id"))
      .groupBy(col("x.doc_id").as("doc_a"), col("y.doc_id").as("doc_b"))
      .agg(count(lit(1)).as("inter"))
  }

  /** df > NgramDfCap shingles are boilerplate: mirrored as the HAVING
    * threshold in the q_dedup_ngram_jaccard oracle — keep in sync. */
  val NgramDfCap = 20

  /** Prefix-filter candidate pairs (PPJoin family) for an EXACT
    * Jaccard-threshold self-join. `docs` is (doc_id, s: array<string>)
    * with distinct set elements. Elements are ranked globally by
    * ascending document frequency (ties by value — a total order);
    * each doc keeps only its first p = n − ceil(thr·n) + 1 elements in
    * that order, and candidates are pairs sharing ≥ 1 PREFIX element.
    * Guarantee (no false negatives): if J(A,B) ≥ thr then
    * |A∩B| ≥ ceil(thr·nA); were the smallest-ranked common element
    * outside A's prefix, the whole intersection would fit in A's
    * suffix of size ceil(thr·nA) − 1 — contradiction; symmetrically
    * for B, so the pair shares a prefix element. Prefix elements are
    * the RAREST per doc, so join buckets stay small without any
    * df-cap approximation — the exact counterpart of
    * [[invertedIndexPairs]]' capped heuristic. */
  /** `np > 0` widens the prefix self-join's shuffle to that partition
    * count — the derived-granularity rule (ScaleOps
    * .deriveShufflePartitions, VERDICT r9 #4). Results are identical
    * at any np; 0 keeps the session constant. */
  def prefixFilterCandidates(docs: org.apache.spark.sql.DataFrame,
                             thr: Double,
                             np: Int = 0): org.apache.spark.sql.DataFrame = {
    val inv = docs.select(col("doc_id"), explode(col("s")).as("sh"))
    val dfTab = inv.groupBy(col("sh")).agg(count(lit(1)).as("df"))
    // keep (set size, 1-based prefix position, df) on every prefix row:
    // they feed the three pruning predicates below. df = 1 rows can't
    // pair with anything and are dropped before they reach the join.
    // (collect_list + array_sort + posexplode measured FASTER than the
    // two-window row_number/count alternative — one object aggregate vs
    // two window passes inside the same exchange — and than a packed
    // zero-padded-string sort key, whose concat/lpad allocation cost
    // more than the struct ordering saved.)
    // FP-safe boundary arithmetic: double(thr)·n can land a hair ABOVE
    // the rational value (thr=0.55, n=20 → 11.000000000000002), making
    // ceil one too big and the prefix one element too SHORT — a missed
    // true pair. Subtracting a small epsilon before ceil can only
    // lengthen the prefix (false positives, removed by the exact
    // verify), never shorten it, so the zero-false-negative theorem
    // holds for arbitrary user thresholds, not just binary-exact ones.
    val prefixes = inv.join(dfTab, "sh")
      .groupBy(col("doc_id"))
      .agg(collect_list(struct(col("df"), col("sh"))).as("ts"),
        count(lit(1)).as("n"))
      .select(col("doc_id"), col("n"), prefixSlice(col("ts"), col("n"), thr))
      .filter(col("p.df") > 1)
      .select(col("doc_id"), col("n"), (col("pos") + 1).as("pp"),
        col("p.sh").as("sh"))
    // PPJoin pruning, applied map-side on the joined rows BEFORE the
    // distinct shuffle (on a low-diversity vocabulary the raw bucket
    // cartesians are the whole cost — these filters only remove pairs
    // that provably cannot reach the threshold, so exactness holds):
    //  - length filter: J ≥ t ⇒ |A∩B| ≤ min(nA,nB) and
    //    |A∩B| ≥ t·max(nA,nB), so min ≥ t·max;
    //  - positional filter with the TIGHT overlap bound:
    //    J ≥ t ⟺ |A∩B| ≥ t/(1+t)·(nA+nB) (exact algebra of
    //    J = I/(nA+nB−I)), which dominates t·max for every
    //    length-surviving pair; a pair witnessed at 1-based prefix
    //    positions (pA, pB) has overlap ≤ 1 + min(nA−pA, nB−pB); the
    //    pair's smallest-ranked common element always yields a witness
    //    row satisfying the bound, so true pairs survive. The two
    //    sides are canonically identical subtrees, so AQE stage reuse
    //    executes the prefix pipeline once at runtime even though the
    //    static plan prints it twice.
    // both prunes slackened by the same epsilon: at J exactly equal to
    // thr the double product can exceed the rational bound (min=11,
    // max=20, thr=0.55 → 11 < 11.000000000000002 would prune a TRUE
    // pair); the slack admits only provably-borderline candidates and
    // the exact-Jaccard verify discards any that don't reach thr.
    // np > session parts: ONE widened exchange on the base prefix
    // table replaces the join's own pair of exchanges (both sides
    // derive from the same repartitioned frame, so exchange reuse
    // still executes the prefix pipeline once); per-task sorted
    // streams shrink np/parts-fold at replica scale. The downstream
    // distinct deliberately stays at the session constant — its input
    // is partially aggregated map-side BEFORE that exchange, and an
    // explicit repartition there would shuffle the raw pair stream
    // instead of the partially-deduped one.
    val prefixesW = ScaleOps.widenIfAbove(prefixes, np, col("sh"))
    prefixesW.select(col("doc_id").as("doc_a"), col("sh"),
        col("n").as("na"), col("pp").as("pa"))
      .join(prefixesW.select(col("doc_id").as("doc_b"), col("sh"),
        col("n").as("nb"), col("pp").as("pb")), "sh")
      .filter(col("doc_a") < col("doc_b"))
      .filter(ppjoinPrunes(thr))
      .select(col("doc_a"), col("doc_b")).distinct()
  }

  /** EXACT incremental near-dup (batch vs corpus) via prefix filtering
    * — the deterministic counterpart of [[incrementalKeep]]'s LSH
    * form: a batch doc is dropped iff its exact Jaccard against SOME
    * corpus doc reaches `thr`, with zero false negatives by the same
    * prefix theorem (any consistent total element order works; here
    * it's (corpus df, element), batch-only elements at df 0 — they
    * sort first but can never witness a cross match, which is
    * harmless). At scale the corpus side is a maintained
    * (element → doc) prefix index bucketed by element: a daily batch
    * joins it without rescanning corpus text, exactly like the band
    * index — but when a match must never be missed (legal/contractual
    * dedup, benchmark decontamination), this path is the guarantee
    * the probabilistic bands can't give. Returns the kept batch rows.
    *
    * `tombstones` = the DELETE path (VERDICT r16 missing #2, the
    * dedup dual of `q_ann_delete`): takedown/retraction doc_ids whose
    * postings are subtracted from the maintained corpus index with
    * one anti-join ([[ScaleOps.tombstone]]) — a deleted corpus doc
    * can no longer witness a batch drop. The df table is DELIBERATELY
    * left stale (computed over the full corpus, deleted docs
    * included): df only defines the element ORDER the prefix theorem
    * needs, and the theorem holds for ANY consistent total order —
    * both sides rank by the same stale table, so recall stays
    * guaranteed and the exact-Jaccard verify (against surviving docs
    * only) makes the OUTPUT identical to a from-scratch
    * rebuild-without-deleted; only candidate-pruning efficiency
    * drifts as df staleness grows, which is a compaction concern
    * (BASELINE.md "Tombstone carry-vs-compact crossover, r17"), not a
    * correctness one.
    * The q_dedup_prefix_delete oracle proves the equality — DuckDB
    * brute-forces batch × (corpus ∖ deleted).
    */
  def prefixFilterIncremental(batch: org.apache.spark.sql.DataFrame,
                              corpus: org.apache.spark.sql.DataFrame,
                              thr: Double,
                              np: Int = 0,
                              tombstones: Option[org.apache.spark.sql.DataFrame] = None)
      : org.apache.spark.sql.DataFrame = {
    // np > session parts widens the cross prefix join and the two
    // set-attach joins — [[prefixFilterPairs]]' derived-granularity
    // rule applied to the batch-vs-corpus form (same ×40 in-flight
    // byte argument; physical only, DedupSpec pins identical results)
    def widen(df: org.apache.spark.sql.DataFrame, keys: Column*) =
      ScaleOps.widenIfAbove(df, np, keys: _*)
    def withSets(df: org.apache.spark.sql.DataFrame) =
      df.select(col("doc_id"), shingleSetFast(col("text")).as("s"))
    // pin both shingle-set tables once (r19, same rationale as
    // prefixFilterPairs): the batch sets feed its prefix pipeline +
    // the verify attach, the corpus sets feed the df table, the live
    // postings, and the verify attach — each arm re-shingled the full
    // text before the pin. Physical only; DedupSpec pins results.
    // r20 (VERDICT #2): the pin is GATED on a hydrated-size estimate —
    // optimizer plan bytes (parquet file size; no driver job) × 8 ≈
    // (×2.5 parquet text decompression) × (×3 word-3-shingle blowup:
    // each word lands in ~3 space-joined shingle strings) — against
    // the cluster storage budget; a 100 TB corpus stays lazy instead
    // of spilling a corpus-sized array column to executor disk.
    def hydratedEst(df: org.apache.spark.sql.DataFrame): Long =
      ScaleOps.planBytes(df, 8)
    val bs = ScaleOps.materializePinned(withSets(batch), hydratedEst(batch))
    val cs = ScaleOps.materializePinned(withSets(corpus), hydratedEst(corpus))
    val corpusInv = cs.select(col("doc_id"), explode(col("s")).as("sh"))
    // df over the FULL corpus — stale under tombstones, by design (see
    // the Scaladoc's order-consistency argument)
    val dfTab = corpusInv.groupBy(col("sh")).agg(count(lit(1)).as("df"))
    // live postings / live sets: one broadcast anti-join each
    val corpusInvLive = tombstones.fold(corpusInv)(tb =>
      ScaleOps.tombstone(corpusInv, tb, "doc_id"))
    val csLive = tombstones.fold(cs)(tb =>
      ScaleOps.tombstone(cs, tb, "doc_id"))
    def prefixes(inv: org.apache.spark.sql.DataFrame) =
      inv.join(dfTab, Seq("sh"), "left")
        .withColumn("df", coalesce(col("df"), lit(0L)))
        .groupBy(col("doc_id"))
        .agg(collect_list(struct(col("df"), col("sh"))).as("ts"),
          count(lit(1)).as("n"))
        .select(col("doc_id"), col("n"), prefixSlice(col("ts"), col("n"), thr))
        .select(col("doc_id"), col("n"), (col("pos") + 1).as("pp"),
          col("p.sh").as("sh"))
    val cand = widen(prefixes(
        bs.select(col("doc_id"), explode(col("s")).as("sh")))
      .select(col("doc_id").as("new_id"), col("sh"),
        col("n").as("nb"), col("pp").as("pb")), col("sh"))
      .join(widen(prefixes(corpusInvLive)
        .select(col("doc_id").as("old_id"), col("sh"),
          col("n").as("na"), col("pp").as("pa")), col("sh")), "sh")
      .filter(ppjoinPrunes(thr))
      .select(col("new_id"), col("old_id")).distinct()
    val dropIds = widen(cand, col("new_id"))
      .join(widen(bs, col("doc_id"))
        .select(col("doc_id").as("new_id"), col("s").as("sb")), "new_id")
      .transform(d => widen(d, col("old_id")))
      .join(widen(csLive, col("doc_id"))
        .select(col("doc_id").as("old_id"), col("s").as("sa")), "old_id")
      .filter(size(array_intersect(col("sa"), col("sb"))).cast("double") /
        (size(col("sa")) + size(col("sb")) -
          size(array_intersect(col("sa"), col("sb")))) >= thr)
      .select(col("new_id").as("doc_id")).distinct()
    // no broadcast hint: the drop set is proportional to the batch's
    // duplicate count, and a highly-duplicated batch can exceed the
    // broadcast limit and fail the job. A shuffled left_anti on doc_id
    // is safe at any drop-set size; AQE still picks broadcast at
    // runtime when the set is actually small.
    batch.join(dropIds, Seq("doc_id"), "left_anti")
  }

  /** Verified exact-threshold pairs: [[prefixFilterCandidates]] with
    * the shingle sets re-attached and exact Jaccard applied — equal by
    * theorem to the brute-force all-pairs join at the same threshold
    * (the q_dedup_prefix_filter oracle IS that brute force). */
  def prefixFilterPairs(docs: org.apache.spark.sql.DataFrame,
                        thr: Double,
                        np: Int = 0): org.apache.spark.sql.DataFrame = {
    // np > session parts (ScaleOps.deriveShufflePartitions over the
    // corpus' own byte volume — VERDICT r9 #4): the set-attach joins
    // shuffle the FULL shingle-set arrays, the widest rows in the
    // query; explicit repartition by each join key replaces the
    // joins' own exchanges (the join consumes the partitioning), so
    // the only change is granularity — per-task sorted array streams
    // fit executor memory at replica scale instead of spilling.
    // Projection preserves the hash partitioning through the rename,
    // so the sets side shuffles once per key. Results are identical
    // at any np (DedupSpec pins this).
    def widen(df: org.apache.spark.sql.DataFrame, keys: Column*) =
      ScaleOps.widenIfAbove(df, np, keys: _*)
    // NOT pinned (r19 measured, unlike prefixFilterIncremental): the
    // SELF-join form's two prefix-pipeline sides are canonically
    // identical subtrees that AQE stage reuse executes once at
    // runtime; a materializePinned of the set table here measured a
    // gate-scale wash (3.1–3.3 s vs the 3.21 s quiet record) and a
    // ~1.5× REGRESSION on the 10× replica (7.2 → 11–15 s, both with
    // the widened and the narrow cache) — the columnar array
    // decode + lost subtree overlap outweigh the saved shingling.
    // The batch-vs-corpus form keeps its pin: there the four arms are
    // NOT mutually reusable subtrees and the pin wins at both scales.
    val setsA = widen(docs, col("doc_id"))
      .select(col("doc_id").as("doc_a"), col("s").as("sa"))
    val setsB = widen(docs, col("doc_id"))
      .select(col("doc_id").as("doc_b"), col("s").as("sb"))
    widen(prefixFilterCandidates(docs, thr, np), col("doc_a"))
      .join(setsA, "doc_a")
      .transform(d => widen(d, col("doc_b")))
      .join(setsB, "doc_b")
      .select(col("doc_a"), col("doc_b"),
        size(array_intersect(col("sa"), col("sb"))).as("inter"),
        size(col("sa")).as("na"), size(col("sb")).as("nb"))
      .withColumn("jac", col("inter").cast("double") /
        (col("na") + col("nb") - col("inter")))
      .filter(col("jac") >= thr)
      .select(col("doc_a"), col("doc_b"), round(col("jac"), 4).as("jaccard"))
  }

  /** Per-document LSH band index (doc_id, band, bh) — as a maintained
    * corpus artifact this is THE incremental-dedup enabler: a corpus
    * table bucketed by (band, bh) that new batches equi-join against
    * without ever rescanning corpus text (see incrementalKeep). */
  def bandIndex(docs: org.apache.spark.sql.DataFrame)
      : org.apache.spark.sql.DataFrame =
    docs
      .select(col("doc_id"),
        minhashSigFast(col("text"), Bands * RowsPerBand).as("mh"))
      .select(col("doc_id"),
        posexplode(lshBands(col("mh"), Bands, RowsPerBand)).as(Seq("band", "bh")))

  /** The LSH band-candidate leg on its own: signatures → per-band
    * (band, bandHash) keys → self-equi-join → raw (doc_a < doc_b)
    * candidates (NOT distinct'd — callers dedup). Its behaviour under
    * a deliberately hot band bucket is measured in BASELINE.md
    * "Skewed-key dedup robustness: AQE skew-split on a hot band
    * bucket, r5". */
  private def bandCandidates(docs: org.apache.spark.sql.DataFrame)
      : org.apache.spark.sql.DataFrame = {
    val sig = bandIndex(docs)
    val a = sig.select(col("doc_id").as("doc_a"), col("band"), col("bh"))
    val b = sig.select(col("doc_id").as("doc_b"), col("band").as("band_b"),
      col("bh").as("bh_b"))
    a.join(b, col("band") === col("band_b") &&
        col("bh") === col("bh_b") && col("doc_a") < col("doc_b"))
      .select(col("doc_a"), col("doc_b"))
  }

  /** Incremental (batch-vs-corpus) near-dup dedup — the production
    * shape: dedup each NEW ingest batch against the full historical
    * corpus without re-processing the corpus. The corpus side is the
    * maintained [[bandIndex]] table (plus a (doc_id, shingle-set)
    * store for verify); per batch, the work is: signature the batch,
    * equi-join its bands against the index (co-partitioned when the
    * index is bucketed by (band, bh) — zero corpus shuffle), verify
    * the candidates with exact Jaccard fetching ONLY the candidates'
    * corpus sets by id, then broadcast-anti-join the tiny drop set.
    * Batch-internal dups are q_dedup_corpus's job — compose the two
    * (dedup the batch, then this) for a full ingest pipeline.
    * Returns the kept subset of `batch` (all its columns). */
  def incrementalKeep(batch: org.apache.spark.sql.DataFrame,
                      corpus: org.apache.spark.sql.DataFrame)
      : org.apache.spark.sql.DataFrame = {
    val bIdx = bandIndex(batch)
      .select(col("doc_id").as("new_id"), col("band"), col("bh"))
    val cIdx = bandIndex(corpus)
      .select(col("doc_id").as("old_id"), col("band").as("band_c"),
        col("bh").as("bh_c"))
    val cand = bIdx.join(cIdx,
        col("band") === col("band_c") && col("bh") === col("bh_c"))
      .select(col("new_id"), col("old_id")).distinct()
    val bSets = batch.select(col("doc_id").as("new_id"),
      shingleSetFast(col("text")).as("sa"))
    val cSets = corpus.select(col("doc_id").as("old_id"),
      shingleSetFast(col("text")).as("sb"))
    val inter = size(array_intersect(col("sa"), col("sb")))
    val jac = inter.cast("double") /
      (size(col("sa")) + size(col("sb")) - inter)
    val drops = cand
      .join(bSets, "new_id")
      .join(cSets, "old_id")
      .filter(jac >= MinhashJaccardThreshold)
      .select(col("new_id")).distinct()
    batch.join(broadcast(drops), col("doc_id") === col("new_id"), "left_anti")
  }

  /** Verified MinHash near-dup pairs (doc_a < doc_b, jaccard ≥
    * threshold), shared by the pair and cluster queries. Candidate
    * generation is a self-equi-join on (band, bandHash) — at scale a
    * plain shuffle join on a key whose cardinality grows with the
    * corpus, so no quadratic blowup; candidates then verified with
    * exact Jaccard on the shingle sets. Only ids travel through the
    * band join + distinct (shuffling the shingle sets there would be
    * the 100 TB mistake); sets are re-attached afterwards for verify.
    * Uses the native single-pass expressions (graft.plans) — the HOF
    * chain is interpreted per element and was the whole-query
    * bottleneck. */
  private def minhashPairs(s: org.apache.spark.sql.SparkSession,
                           dir: String): org.apache.spark.sql.DataFrame = {
    // NOT pinned (r19 measured): the two verify attaches re-evaluate
    // shingleSetFast, but their subtrees overlap other stages of the
    // same job on idle task slots — a materializePinned barrier plus
    // the columnar encode/decode of the set arrays measured SLOWER
    // (q_dedup_minhash 0.87 → 1.37 s, family total 14.4 → ~16.4 s
    // contention-normalized) than the duplicate map work it removed.
    // Contrast prefixFilterPairs, where FOUR arms consume the sets and
    // the pin wins large.
    val docs = t(s, dir, "documents")
      .select(col("doc_id"), shingleSetFast(col("text")).as("s"))
    val cand = bandCandidates(t(s, dir, "documents")).distinct()
    val inter = size(array_intersect(col("sa"), col("sb")))
    val jac = inter.cast("double") /
      (size(col("sa")) + size(col("sb")) - inter)
    cand
      .join(docs.select(col("doc_id").as("doc_a"), col("s").as("sa")), "doc_a")
      .join(docs.select(col("doc_id").as("doc_b"), col("s").as("sb")), "doc_b")
      .select(col("doc_a"), col("doc_b"), jac.as("jac"))
      .filter(col("jac") >= MinhashJaccardThreshold)
  }

  /** Corpus-membership bloom over content digests, built with Spark's
    * own BloomFilterAggregate (the runtime-filter machinery) over
    * xxhash64(md5(text)) and collected as ONE serialized byte blob —
    * a compressed corpus summary on the driver, like a codebook. At
    * 100 TB this is MBs standing in for the corpus digest table on the
    * arrival hot path. */
  def digestBloom(corpus: org.apache.spark.sql.DataFrame,
                  expectedItems: Long, numBits: Long): Array[Byte] = {
    import org.apache.spark.sql.graftbridge.ColumnBridge
    import org.apache.spark.sql.catalyst.expressions.{Literal, XxHash64}
    import org.apache.spark.sql.catalyst.expressions.aggregate.BloomFilterAggregate
    val hash = XxHash64(Seq(ColumnBridge.expression(md5(col("text")))), 42L)
    val agg = new BloomFilterAggregate(hash,
      Literal(expectedItems), Literal(numBits)).toAggregateExpression()
    corpus.select(ColumnBridge.column(agg).as("bf"))
      .head().getAs[Array[Byte]](0)
  }

  /** EXACT incremental dedup with a bloom membership pre-filter: the
    * broadcast bloom drops almost every non-duplicate arrival MAP-SIDE
    * (no false negatives, so nothing is wrongly dropped); only the
    * bloom-positive sliver — true duplicates plus the fpp share —
    * pays the digest equi-join that removes false positives. The
    * result is bit-identical to the plain anti-join (the oracle
    * replays that plain form), but the arrival-side shuffle shrinks
    * from |batch| to ~|dups|. Complements [[incrementalKeep]] (near
    * dups); compose both for a full ingest path. */
  def incrementalExactKeep(batch: org.apache.spark.sql.DataFrame,
                           corpus: org.apache.spark.sql.DataFrame,
                           expectedItems: Long = 1L << 16,
                           numBits: Long = 1L << 22)
      : org.apache.spark.sql.DataFrame = {
    import org.apache.spark.sql.graftbridge.ColumnBridge
    import org.apache.spark.sql.catalyst.expressions.{BloomFilterMightContain, Literal, XxHash64}
    val bloom = digestBloom(corpus, expectedItems, numBits)
    def might = ColumnBridge.column(BloomFilterMightContain(
      Literal(bloom),
      XxHash64(Seq(ColumnBridge.expression(md5(col("text")))), 42L)))
    val clear = batch.filter(!might)
    val verified = batch.filter(might)
      .join(corpus.select(md5(col("text")).as("__cfp")).distinct(),
        md5(col("text")) === col("__cfp"), "left_anti")
    clear.unionByName(verified)
  }

  /** SemDeDup-style semantic dedup core: nearest-centroid cell
    * assignment (broadcast of the tiny `nCells`-row codebook — the
    * first `nCells` corpus vectors as the fixed deterministic init),
    * within-cell pairwise cosine ≥ `theta`, greedy keep-lowest-id.
    * Returns the kept (vec_id, label). `nCells` must scale with the
    * corpus (SemDeDup's contract: cells stay constant-size) — 10×
    * data with 10× cells keeps the per-cell pair work flat (BASELINE.md
    * "10× scale ratios for the r5 operators", q_dedup_semantic). */
  def semanticKeep(e: org.apache.spark.sql.DataFrame, nCells: Int,
                   theta: Double): org.apache.spark.sql.DataFrame = {
    val drops = cellBlockedCosinePairs(e, nCells, theta)
      .select(col("b_id")).distinct()
    e.join(broadcast(drops), col("vec_id") === col("b_id"), "left_anti")
      .select(col("vec_id"), col("label"))
  }

  /** Data-derived cell count for [[cellBlockedCosinePairs]] — the
    * SemDeDup contract (cells ∝ corpus, constant expected cell size)
    * as a derivation instead of a manual knob, the same move
    * ScaleOps.deriveFuzzyBlocking makes for the fuzzy-join prefix:
    * `greatest(8, n div targetCellSize)`. One count() scalar; integer
    * arithmetic so an oracle replays it exactly. At the gate corpora
    * this lands on the historical 8 (500 vecs ÷ 64 → 8); at 10×/100×
    * replicas it scales to 312 / 3125 cells, keeping within-cell pair
    * volume LINEAR in the corpus while the fixed-8 form grows
    * quadratically (702 s at the 100× replica — measured, r8). */
  def deriveCells(e: org.apache.spark.sql.DataFrame,
                  targetCellSize: Long = 64L): Int =
    math.max(8L, e.count() / targetCellSize).toInt

  /** Cell-blocked cosine near-dup PAIRS — the scale leg of
    * embedding-cosine dedup (VERDICT r7 #5: q_dedup_embed_cosine's
    * bounded all-pairs form is the math gate; THIS is the shape that
    * ships). Nearest-centroid assignment (broadcast `nCells`-row
    * codebook, fixed deterministic init = first nCells corpus vectors),
    * then within-cell pairwise fused cosine ≥ `theta` — a plain
    * equi-join on cent_id, so pair volume is Σ cell² not n², and
    * `nCells` grows with the corpus to keep cells constant-size
    * (SemDeDup's contract; see [[semanticKeep]] for the measurement).
    * Returns (a_id, b_id, cos). [[semanticKeep]] derives its drop set
    * from these pairs. */
  def cellBlockedCosinePairs(e: org.apache.spark.sql.DataFrame, nCells: Int,
                             theta: Double): org.apache.spark.sql.DataFrame = {
    val cents = e.filter(col("vec_id") < nCells)
      .select(col("vec_id").as("cent_id"),
        VectorFunctions.asDouble(col("embedding")).as("cv"))
    def d(a: org.apache.spark.sql.Column, b: org.apache.spark.sql.Column) =
      VectorFunctions.dot(a, b)
    // argmin as filter(row_number = 1) over the n × nCells candidate
    // grid: Spark's InferWindowGroupLimit rewrites the rank filter into
    // a map-side per-key top-1 (WindowGroupLimitExec) BEFORE the window
    // exchange, so the grid never sorts at full volume — measured at
    // the 100× replica this beats a min(struct(d, cent_id)) hash-agg
    // 2× (49.9 s vs 107.1 s; the struct comparator drops the agg out
    // of whole-stage codegen, while the group-limit path stays native).
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col("vec_id"))
      .orderBy(col("__d"), col("cent_id"))
    val assigned = e.select(col("vec_id"), col("embedding"))
      .crossJoin(broadcast(cents))
      .withColumn("__d",
        d(col("embedding"), col("embedding"))
          - lit(2) * d(col("embedding"), col("cv"))
          + d(col("cv"), col("cv")))
      .withColumn("__rn", row_number().over(w))
      .filter(col("__rn") === 1)
      .select(col("vec_id"), col("cent_id"), col("embedding"))
    val a = assigned.select(col("cent_id"), col("vec_id").as("a_id"),
      col("embedding").as("va"))
    val b = assigned.select(col("cent_id").as("cent_b"),
      col("vec_id").as("b_id"), col("embedding").as("vb"))
    a.join(b, col("cent_id") === col("cent_b") && col("a_id") < col("b_id"))
      .withColumn("cos", VectorFunctions.cosine(col("va"), col("vb")))
      .filter(col("cos") >= theta)
      .select(col("a_id"), col("b_id"), col("cos"))
  }

  val specs: Seq[Spec] = Seq(

    // Exact dedup: hash groupBy on the CONTENT DIGEST, not the text —
    // the shuffle ships 16-byte md5 keys instead of whole documents
    // (at 100 TB the difference between shuffling ~32 B/doc and
    // shuffling the corpus).
    Spec("q_dedup_exact",
      (s, dir) => t(s, dir, "documents")
        .groupBy(md5(col("text")).as("fp"))
        .agg(min(col("doc_id")).as("doc_id"), count(lit(1)).as("n_dups"))
        .select(col("doc_id"), col("n_dups"), col("fp"))
        .orderBy(col("doc_id")),
      Some("""SELECT min(doc_id) AS doc_id, count(*) AS n_dups, md5(text) AS fp
             FROM documents GROUP BY md5(text) ORDER BY doc_id""")),

    // MinHash + LSH banding near-dup detection. Candidate generation is
    // a self-equi-join on (band, bandHash) — at scale a plain shuffle
    // join on a key whose cardinality grows with the corpus, so no
    // quadratic blowup; candidates then verified with exact Jaccard on
    // the shingle sets.
    Spec("q_dedup_minhash",
      (s, dir) => minhashPairs(s, dir)
        .select(col("doc_a"), col("doc_b"), round(col("jac"), 4).as("jaccard"))
        .orderBy(col("doc_a"), col("doc_b")),
      Some(minhashOracle)),

    // Incremental batch-vs-corpus dedup: every 5th document plays the
    // role of today's ingest batch, the rest the historical corpus.
    // The batch's bands equi-join the corpus band index; candidates
    // verify with exact Jaccard; survivors pass through. At corpus
    // scale the index is a maintained (band, bh)-bucketed table, so
    // a daily batch never rescans or reshuffles the corpus.
    Spec("q_dedup_incremental",
      (s, dir) => {
        val docs = t(s, dir, "documents")
        val batch = docs.filter(pmod(col("doc_id"), lit(5)) === 0)
        val corpus = docs.filter(pmod(col("doc_id"), lit(5)) =!= 0)
        incrementalKeep(batch, corpus)
          .select(col("doc_id"), col("lang"), col("source"))
          .orderBy(col("doc_id"))
      },
      Some(s"""${minhashBandsCte("WITH")},
cand AS (
  SELECT DISTINCT b.doc_id AS new_id, a.doc_id AS old_id
  FROM bands b JOIN bands a ON b.band = a.band AND b.bh = a.bh
  WHERE b.doc_id % 5 = 0 AND a.doc_id % 5 <> 0),
drops AS (
  SELECT DISTINCT new_id FROM cand
  JOIN sh sa ON sa.doc_id = new_id
  JOIN sh sb ON sb.doc_id = old_id
  WHERE CAST(len(list_intersect(sa.s, sb.s)) AS DOUBLE)
          / (len(sa.s) + len(sb.s) - len(list_intersect(sa.s, sb.s)))
        >= $MinhashJaccardThreshold)
SELECT doc_id, lang, source FROM documents
WHERE doc_id % 5 = 0 AND doc_id NOT IN (SELECT new_id FROM drops)
ORDER BY doc_id""")),

    // Duplicate-cluster resolution on top of the MinHash pairs: the
    // step that turns a pair detector into a usable dedup pipeline —
    // one canonical (minimum-id) document per near-dup cluster.
    // Connected components by iterative min-label propagation: each
    // round every node takes the minimum label among itself and its
    // neighbors; fixpoint in O(cluster diameter) rounds (near-dup
    // clusters are shallow). Each round is two joins and one
    // aggregation; localCheckpoint truncates the growing plan lineage
    // (at cluster scale this — not the data — is what kills iterative
    // Spark jobs).
    Spec("q_dedup_clusters",
      (s, dir) => connectedComponents(
        minhashPairs(s, dir).select(col("doc_a"), col("doc_b"))),
      Some(clustersOracle)),

    // The COMPOSED dedup pipeline — what a user actually runs: MinHash
    // candidate pairs → exact-Jaccard verify → connected components →
    // keep one canonical (minimum-id) document per cluster plus every
    // non-duplicated document. Anti-join of the corpus against the
    // non-canonical member set; at 100 TB the member set is tiny
    // relative to the corpus (duplicates only), so the anti-join
    // broadcasts.
    Spec("q_dedup_corpus",
      (s, dir) => {
        val clusters = connectedComponents(
          minhashPairs(s, dir).select(col("doc_a"), col("doc_b")))
        val drop = clusters.filter(!col("is_canonical")).select(col("doc_id"))
        t(s, dir, "documents")
          .join(broadcast(drop), Seq("doc_id"), "left_anti")
          .select(col("doc_id"), md5(col("text")).as("fp"))
          .orderBy(col("doc_id"))
      },
      Some(corpusOracle)),

    // Benchmark-contamination check (the train/test leakage scan every
    // LM data pipeline runs): does a corpus document share ≥ 3 distinct
    // 3-token shingles with the benchmark set? The benchmark set is
    // always small relative to the corpus, so its distinct shingles
    // BROADCAST and the scan is one map-side join + aggregate — at
    // 100 TB the corpus never shuffles. Here docs < 20 stand in as the
    // benchmark.
    Spec("q_contamination",
      (s, dir) => {
        val docs = spread(s, t(s, dir, "documents"))
          .select(col("doc_id"), shingleSetFast(col("text")).as("sh"))
        val bench = docs.filter(col("doc_id") < 20)
          .select(explode(col("sh")).as("sh")).distinct()
        docs.filter(col("doc_id") >= 20)
          .select(col("doc_id"), explode(col("sh")).as("sh"))
          .join(broadcast(bench), "sh")
          .groupBy(col("doc_id"))
          .agg(count(lit(1)).as("n_overlap"))
          .filter(col("n_overlap") >= 3)
          .orderBy(col("doc_id"))
      },
      Some("""WITH toks AS (
               SELECT doc_id, text, string_split(text, ' ') AS t FROM documents),
             sh AS (
               SELECT doc_id, list_distinct(
                 CASE WHEN len(t) >= 3
                      THEN list_transform(generate_series(1, len(t) - 2),
                             i -> concat_ws(' ', t[i], t[i+1], t[i+2]))
                      ELSE [text] END) AS s
               FROM toks),
             bench AS (
               SELECT DISTINCT unnest(s) AS shingle FROM sh WHERE doc_id < 20),
             corpus AS (
               SELECT doc_id, unnest(s) AS shingle FROM sh WHERE doc_id >= 20)
             SELECT c.doc_id, count(*) AS n_overlap
             FROM corpus c JOIN bench b ON c.shingle = b.shingle
             GROUP BY c.doc_id HAVING count(*) >= 3
             ORDER BY doc_id""")),

    // Verbatim-SPAN contamination (the character-level complement of
    // the word-shingle scan above): winnowing fingerprints — min md5
    // per sliding window of w=4 consecutive char-8-gram hashes — so
    // any literal shared substring of ≥ 11 chars between a corpus doc
    // and any benchmark doc guarantees a shared selected fingerprint
    // (Schleimer et al. winnowing). The benchmark fingerprint set
    // broadcasts; the corpus never shuffles. The ≥120 threshold sits
    // above this synthetic vocabulary's high base rate (median 67
    // shared fps from 40 shared words) and flags the heavy-overlap
    // tail; a natural corpus would use a small absolute threshold.
    Spec("q_contamination_span",
      (s, dir) => {
        val docs = spread(s, t(s, dir, "documents"))
          .select(col("doc_id"), winnowSetFast(col("text")).as("ws"))
        val bench = docs.filter(col("doc_id") < 20)
          .select(explode(col("ws")).as("wfp")).distinct()
        docs.filter(col("doc_id") >= 20)
          .select(col("doc_id"), explode(col("ws")).as("wfp"))
          .join(broadcast(bench.withColumn("__hit", lit(1))),
            Seq("wfp"), "left")
          .groupBy(col("doc_id"))
          .agg(count(col("__hit")).as("n_shared"))
          .select(col("doc_id"), col("n_shared"),
            (col("n_shared") >= 120).as("contaminated"))
          .orderBy(col("doc_id"))
      },
      Some("""WITH g AS (
               SELECT doc_id, list_transform(
                 generate_series(1, greatest(length(text) - 7, 0)),
                 i -> md5(substr(text, i, 8))) AS grams
               FROM documents),
             wf AS (
               SELECT doc_id, list_distinct(list_transform(
                 generate_series(1, len(grams) - 3),
                 j -> list_min(grams[j:j+3]))) AS ws
               FROM g),
             bench AS (
               SELECT DISTINCT unnest(ws) AS wfp FROM wf WHERE doc_id < 20),
             corpus AS (
               SELECT doc_id, unnest(ws) AS wfp FROM wf WHERE doc_id >= 20)
             SELECT c.doc_id, count(b.wfp) AS n_shared,
                    count(b.wfp) >= 120 AS contaminated
             FROM corpus c LEFT JOIN bench b ON c.wfp = b.wfp
             GROUP BY c.doc_id ORDER BY c.doc_id""")),

    // Leakage-aware train/val/test split: assignment is keyed on the
    // near-dup CLUSTER id (canonical min doc_id; singletons are their
    // own group), so two near-duplicate documents can never land in
    // different splits — the contamination mode a naive per-doc hash
    // split invites. Hash-threshold on the group id, replayable on any
    // engine; the cluster map is tiny (duplicates only) and broadcasts.
    Spec("q_split_by_cluster",
      (s, dir) => {
        val clusters = connectedComponents(
            minhashPairs(s, dir).select(col("doc_a"), col("doc_b")))
          .select(col("doc_id"), col("cluster_id"))
        val bucket = conv(substring(md5(concat(lit("csplit|"),
          col("group_id").cast("string"))), 1, 15), 16, 10)
          .cast("long") % 100
        t(s, dir, "documents").select(col("doc_id"))
          .join(broadcast(clusters), Seq("doc_id"), "left")
          .select(col("doc_id"),
            coalesce(col("cluster_id"), col("doc_id")).as("group_id"))
          .select(col("doc_id"), col("group_id"),
            when(bucket < 80, "train").when(bucket < 90, "val")
              .otherwise("test").as("split"))
          .orderBy(col("doc_id"))
      },
      Some(s"""${minhashScoredCte("WITH RECURSIVE")},
dup_pairs AS (
  SELECT doc_a, doc_b FROM scored WHERE jac >= $MinhashJaccardThreshold),
edges AS (
  SELECT doc_a AS src, doc_b AS dst FROM dup_pairs
  UNION ALL
  SELECT doc_b AS src, doc_a AS dst FROM dup_pairs),
walk(id, reach) AS (
  SELECT DISTINCT src, src FROM edges
  UNION
  SELECT e.src, w.reach FROM walk w JOIN edges e ON e.dst = w.id),
cc AS (
  SELECT id AS doc_id, min(reach) AS cluster_id FROM walk GROUP BY id),
grouped AS (
  SELECT d.doc_id, coalesce(cc.cluster_id, d.doc_id) AS group_id
  FROM documents d LEFT JOIN cc USING (doc_id))
SELECT doc_id, group_id,
       CASE WHEN CAST(('0x' || substr(md5('csplit|' || CAST(group_id AS VARCHAR)), 1, 15)) AS BIGINT) % 100 < 80 THEN 'train'
            WHEN CAST(('0x' || substr(md5('csplit|' || CAST(group_id AS VARCHAR)), 1, 15)) AS BIGINT) % 100 < 90 THEN 'val'
            ELSE 'test' END AS split
FROM grouped ORDER BY doc_id""")),

    // The SQL registration path as a gate row: the same native
    // expressions the pipelines use, but invoked THROUGH
    // `spark.sql(...)` against the GraftExtensions-registered function
    // names — so the SQL surface (name resolution, arg binding, the
    // array return types) is oracle-checked, not just unit-tested.
    // Values replay in DuckDB via the same md5→31-bit machinery as the
    // MinHash oracle above.
    Spec("q_sql_native_fns",
      (s, dir) => {
        graft.plans.GraftExtensions.register(s)
        t(s, dir, "documents").filter(col("doc_id") < 50)
          .createOrReplaceTempView("sql_fn_docs")
        t(s, dir, "embeddings").filter(col("vec_id") <= 50)
          .createOrReplaceTempView("sql_fn_vecs")
        s.sql("""SELECT d.doc_id,
                   CAST(size(shingle_set(d.text)) AS BIGINT) AS n_shingles,
                   minhash_sig(d.text, 4)[0] AS mh0,
                   minhash_sig(d.text, 4)[3] AS mh3,
                   round(vec_dot(a.embedding, b.embedding), 4) AS dot_next,
                   round(vec_cosine(a.embedding, b.embedding), 4) AS cos_next,
                   round(vec_l2(a.embedding, b.embedding), 4) AS l2_next
                 FROM sql_fn_docs d
                 JOIN sql_fn_vecs a ON a.vec_id = d.doc_id
                 JOIN sql_fn_vecs b ON b.vec_id = d.doc_id + 1
                 ORDER BY d.doc_id""")
      },
      Some {
        import graft.functions.TextFunctions.{MinhashP, minhashCoefs}
        val coefs = minhashCoefs(4)
        def mh(i: Int) = {
          val (a, b) = coefs(i)
          s"list_min(list_transform(h, v -> ($a * v + $b) % $MinhashP))"
        }
        s"""WITH toks AS (
             SELECT doc_id, text, string_split(text, ' ') AS t
             FROM documents WHERE doc_id < 50),
           sh AS (
             SELECT doc_id, list_distinct(
               CASE WHEN len(t) >= 3
                    THEN list_transform(generate_series(1, len(t) - 2),
                           i -> concat_ws(' ', t[i], t[i+1], t[i+2]))
                    ELSE [text] END) AS s
             FROM toks),
           hs AS (
             SELECT doc_id, s, list_transform(s, x ->
               CAST(('0x' || substr(md5(x), 1, 15)) AS BIGINT) % $MinhashP) AS h
             FROM sh),
           ev AS (
             SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v
             FROM embeddings WHERE vec_id <= 50)
           SELECT doc_id, CAST(len(s) AS BIGINT) AS n_shingles,
                  ${mh(0)} AS mh0, ${mh(3)} AS mh3,
                  round(list_dot_product(a.v, b.v), 4) AS dot_next,
                  round(list_dot_product(a.v, b.v)
                        / (sqrt(list_dot_product(a.v, a.v))
                           * sqrt(list_dot_product(b.v, b.v))), 4) AS cos_next,
                  round(sqrt(list_sum(list_transform(
                        generate_series(1, len(a.v)),
                        i -> (a.v[i] - b.v[i]) * (a.v[i] - b.v[i])))), 4)
                    AS l2_next
           FROM hs
           JOIN ev a ON a.vec_id = doc_id
           JOIN ev b ON b.vec_id = doc_id + 1
           ORDER BY doc_id"""
      }),

    // Direct n-gram Jaccard via an inverted shingle index on a bounded
    // subset: explode distinct shingles, self-join on the shingle, count
    // co-occurrences per pair. Never materializes non-overlapping pairs,
    // and hot (boilerplate) shingles are df-capped before the self-join
    // — see invertedIndexPairs.
    Spec("q_dedup_ngram_jaccard",
      (s, dir) => {
        val docs = t(s, dir, "documents").filter(col("doc_id") < 200)
          .select(col("doc_id"), shingleSetFast(col("text")).as("s"))
        val sizes = docs.select(col("doc_id"), size(col("s")).as("n"))
        val pairs = invertedIndexPairs(
          docs.select(col("doc_id"), explode(col("s")).as("sh")), NgramDfCap)
        pairs
          .join(sizes.select(col("doc_id").as("doc_a"), col("n").as("na")), "doc_a")
          .join(sizes.select(col("doc_id").as("doc_b"), col("n").as("nb")), "doc_b")
          .select(col("doc_a"), col("doc_b"),
            (col("inter").cast("double") / (col("na") + col("nb") - col("inter")))
              .as("jac"))
          .filter(col("jac") >= 0.03)
          .select(col("doc_a"), col("doc_b"), round(col("jac"), 4).as("jaccard"))
          .orderBy(col("doc_a"), col("doc_b"))
      },
      Some("""WITH sh AS (
               SELECT doc_id, list_distinct(
                 CASE WHEN len(string_split(text,' ')) >= 3
                      THEN list_transform(
                             generate_series(1, len(string_split(text,' ')) - 2),
                             i -> concat_ws(' ', string_split(text,' ')[i],
                                            string_split(text,' ')[i+1],
                                            string_split(text,' ')[i+2]))
                      ELSE [text] END) AS s
               FROM documents WHERE doc_id < 200),
             inv AS (SELECT doc_id, unnest(s) AS shingle FROM sh),
             kept AS (
               SELECT * FROM inv WHERE shingle NOT IN (
                 SELECT shingle FROM inv GROUP BY shingle
                 HAVING count(*) > 20)),
             pairs AS (
               SELECT x.doc_id AS doc_a, y.doc_id AS doc_b, count(*) AS inter
               FROM kept x JOIN kept y
                 ON x.shingle = y.shingle AND x.doc_id < y.doc_id
               GROUP BY x.doc_id, y.doc_id),
             scored AS (
               SELECT doc_a, doc_b,
                      CAST(inter AS DOUBLE) / (len(sa.s) + len(sb.s) - inter) AS jac
               FROM pairs
               JOIN sh sa ON sa.doc_id = doc_a
               JOIN sh sb ON sb.doc_id = doc_b)
             SELECT doc_a, doc_b, round(jac, 4) AS jaccard
             FROM scored WHERE jac >= 0.03 ORDER BY doc_a, doc_b""")),

    // EXACT-threshold set-similarity self-join via prefix filtering
    // (the PPJoin family) — the deterministic complement of MinHash
    // LSH: zero false negatives by theorem, no banding probabilities.
    // Order the corpus vocabulary by ascending document frequency
    // (rarest first); a doc whose shingle set has n elements keeps
    // only its first p = n − ceil(t·n) + 1 shingles in that order as
    // its "prefix". If J(A,B) ≥ t then |A∩B| ≥ ceil(t·max(nA,nB)),
    // and the smallest-ranked common shingle must sit inside BOTH
    // prefixes (were it outside A's, the whole intersection would fit
    // in A's suffix of size ceil(t·nA) − 1 < |A∩B|) — so an equi-join
    // on prefix shingles finds every qualifying pair. At 100 TB the
    // shapes are: one df aggregation (shuffle on shingle), one rank
    // attach (equi-join on shingle), and a self-equi-join on PREFIX
    // shingles only — which are the rarest per doc by construction,
    // so bucket sizes stay small without any df-cap approximation.
    // The oracle is deliberately the BRUTE-FORCE all-pairs Jaccard
    // over the full table: the gate proves the pruned join loses
    // nothing vs exhaustive comparison, not merely that DuckDB can
    // replay the same blocking.
    Spec("q_dedup_prefix_filter",
      (s, dir) => {
        val raw = t(s, dir, "documents")
        // verify-join granularity from the corpus' own byte volume
        // (VERDICT r9 #4): one cheap columnar aggregate over raw text
        // bytes BEFORE shingling (re-shingling for the stat would
        // double the dominant map cost). The ×40 factor converts text
        // bytes to IN-FLIGHT verify bytes: every text byte reappears
        // in the sorted streams as part of a 3-gram shingle (each
        // input word sits in ~3 shingles ⇒ ~3× text in shingle chars)
        // inside UnsafeRow structs/arrays with per-element offsets,
        // ids and df/position columns — measured at the 100×-on-8 g
        // replica, ×40 is the point where per-task sorts actually fit:
        // memory spill collapsed 59 GB → 2.6 GB and disk spill
        // 23 GB → 0.1 GB (93.7 s vs 130.5 s for the r9 session-constant
        // plan), while a ×6 estimate still spilled the full 59 GB.
        // Degenerates to the session constant at gate scale (sf0.1
        // corpus ≈ 2.5 MB text → plan unchanged; quiet records intact).
        val st = raw.agg(sum(octet_length(col("text"))).as("b")).head()
        val textBytes = if (st.isNullAt(0)) 0L else st.getLong(0)
        val np = ScaleOps.deriveShufflePartitions(s, textBytes * 40L)
        prefixFilterPairs(
            raw.select(col("doc_id"), shingleSetFast(col("text")).as("s")),
            PrefixFilterThreshold, np)
          .orderBy(col("doc_a"), col("doc_b"))
      },
      Some(s"""WITH sh AS (
               SELECT doc_id, list_distinct(
                 CASE WHEN len(string_split(text,' ')) >= 3
                      THEN list_transform(
                             generate_series(1, len(string_split(text,' ')) - 2),
                             i -> concat_ws(' ', string_split(text,' ')[i],
                                            string_split(text,' ')[i+1],
                                            string_split(text,' ')[i+2]))
                      ELSE [text] END) AS s
               FROM documents),
             p AS (
               SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
                      len(list_intersect(a.s, b.s)) AS inter,
                      len(a.s) AS na, len(b.s) AS nb
               FROM sh a JOIN sh b ON a.doc_id < b.doc_id)
             SELECT doc_a, doc_b,
                    round(CAST(inter AS DOUBLE) / (na + nb - inter), 4) AS jaccard
             FROM p WHERE CAST(inter AS DOUBLE) / (na + nb - inter) >= $PrefixFilterThreshold
             ORDER BY doc_a, doc_b""")),

    // The incremental (batch-vs-corpus) form of the exact join above,
    // mirroring q_dedup_incremental's split: every 5th doc is the
    // arriving batch, the rest the corpus. Same brute-force oracle
    // discipline — DuckDB compares every batch doc against every
    // corpus doc, so the gate proves the guaranteed-recall claim, not
    // just blocking replay.
    Spec("q_dedup_prefix_incremental",
      (s, dir) => {
        val docs = t(s, dir, "documents")
        // same ×40 in-flight-bytes derivation as q_dedup_prefix_filter
        // (measured there: spill 59 GB → 2.6 GB at 100×-on-8 g)
        val st = docs.agg(sum(octet_length(col("text"))).as("b")).head()
        val textBytes = if (st.isNullAt(0)) 0L else st.getLong(0)
        prefixFilterIncremental(
            docs.filter(pmod(col("doc_id"), lit(5)) === 0),
            docs.filter(pmod(col("doc_id"), lit(5)) =!= 0),
            PrefixFilterThreshold,
            np = ScaleOps.deriveShufflePartitions(s, textBytes * 40L))
          .select(col("doc_id"), col("lang"), col("source"))
          .orderBy(col("doc_id"))
      },
      Some(s"""WITH sh AS (
               SELECT doc_id, list_distinct(
                 CASE WHEN len(string_split(text,' ')) >= 3
                      THEN list_transform(
                             generate_series(1, len(string_split(text,' ')) - 2),
                             i -> concat_ws(' ', string_split(text,' ')[i],
                                            string_split(text,' ')[i+1],
                                            string_split(text,' ')[i+2]))
                      ELSE [text] END) AS s
               FROM documents),
             drops AS (
               SELECT DISTINCT b.doc_id AS new_id
               FROM sh b JOIN sh a
                 ON b.doc_id % 5 = 0 AND a.doc_id % 5 <> 0
               WHERE CAST(len(list_intersect(b.s, a.s)) AS DOUBLE)
                       / (len(b.s) + len(a.s) - len(list_intersect(b.s, a.s)))
                     >= $PrefixFilterThreshold)
             SELECT doc_id, lang, source FROM documents
             WHERE doc_id % 5 = 0 AND doc_id NOT IN (SELECT new_id FROM drops)
             ORDER BY doc_id""")),

    // DELETE path for the maintained dedup prefix index (VERDICT r16
    // missing #2, second half — the dedup dual of q_ann_delete): a
    // retracted crawl (corpus doc_ids 80–129, chosen because docs in
    // that range are the SOLE Jaccard witnesses for batch docs at
    // every gate SF, so deletions here flip real keep/drop decisions)
    // is tombstoned out of the corpus postings with one broadcast
    // anti-join; the df table stays deliberately STALE (see
    // prefixFilterIncremental's order-consistency argument — df only
    // defines the prefix ordering, and any consistent order preserves
    // the zero-false-negative guarantee). The DuckDB oracle
    // brute-forces batch × (corpus ∖ deleted) — a hash match proves
    // tombstone-with-stale-df == rebuild-without-deleted: a batch doc
    // whose only witnesses were retracted is now KEPT.
    Spec("q_dedup_prefix_delete",
      (s, dir) => {
        val docs = t(s, dir, "documents")
        val st = docs.agg(sum(octet_length(col("text"))).as("b")).head()
        val textBytes = if (st.isNullAt(0)) 0L else st.getLong(0)
        val corpus = docs.filter(pmod(col("doc_id"), lit(5)) =!= 0)
        val tomb = corpus
          .filter(col("doc_id") >= 80 && col("doc_id") < 130)
          .select(col("doc_id"))
        prefixFilterIncremental(
            docs.filter(pmod(col("doc_id"), lit(5)) === 0),
            corpus,
            PrefixFilterThreshold,
            np = ScaleOps.deriveShufflePartitions(s, textBytes * 40L),
            tombstones = Some(tomb))
          .select(col("doc_id"), col("lang"), col("source"))
          .orderBy(col("doc_id"))
      },
      Some(s"""WITH sh AS (
               SELECT doc_id, list_distinct(
                 CASE WHEN len(string_split(text,' ')) >= 3
                      THEN list_transform(
                             generate_series(1, len(string_split(text,' ')) - 2),
                             i -> concat_ws(' ', string_split(text,' ')[i],
                                            string_split(text,' ')[i+1],
                                            string_split(text,' ')[i+2]))
                      ELSE [text] END) AS s
               FROM documents),
             drops AS (
               SELECT DISTINCT b.doc_id AS new_id
               FROM sh b JOIN sh a
                 ON b.doc_id % 5 = 0 AND a.doc_id % 5 <> 0
               -- rebuild WITHOUT the retracted corpus docs: a deleted
               -- doc can no longer witness a drop
               WHERE NOT (a.doc_id >= 80 AND a.doc_id < 130)
                 AND CAST(len(list_intersect(b.s, a.s)) AS DOUBLE)
                       / (len(b.s) + len(a.s) - len(list_intersect(b.s, a.s)))
                     >= $PrefixFilterThreshold)
             SELECT doc_id, lang, source FROM documents
             WHERE doc_id % 5 = 0 AND doc_id NOT IN (SELECT new_id FROM drops)
             ORDER BY doc_id""")),

    // Verbatim-span near-dup PAIRS: the char-level complement of the
    // word n-gram Jaccard above — two docs pair when they share ≥ 20
    // winnowing-selected fingerprints after the df-cap drops the
    // vocabulary-level boilerplate fps (same inverted-index + cap
    // machinery; every shared fp witnesses an aligned literal span of
    // ≥ 11 chars). Bounded subset for the oracle; the scale path is
    // the same capped equi-join, whose key cardinality grows with the
    // corpus.
    Spec("q_dedup_span_pairs",
      (s, dir) => {
        val docs = t(s, dir, "documents").filter(col("doc_id") < 200)
          .select(col("doc_id"), winnowSetFast(col("text")).as("ws"))
        invertedIndexPairs(
            docs.select(col("doc_id"), explode(col("ws")).as("sh")), NgramDfCap)
          .filter(col("inter") >= 20)
          .select(col("doc_a"), col("doc_b"), col("inter").as("n_shared"))
          .orderBy(col("doc_a"), col("doc_b"))
      },
      Some("""WITH g AS (
               SELECT doc_id, list_transform(
                 generate_series(1, greatest(length(text) - 7, 0)),
                 i -> md5(substr(text, i, 8))) AS grams
               FROM documents WHERE doc_id < 200),
             wf AS (
               SELECT doc_id, list_distinct(list_transform(
                 generate_series(1, len(grams) - 3),
                 j -> list_min(grams[j:j+3]))) AS ws
               FROM g),
             inv AS (SELECT doc_id, unnest(ws) AS wfp FROM wf),
             kept AS (
               SELECT * FROM inv WHERE wfp NOT IN (
                 SELECT wfp FROM inv GROUP BY wfp HAVING count(*) > 20)),
             pairs AS (
               SELECT x.doc_id AS doc_a, y.doc_id AS doc_b,
                      count(*) AS n_shared
               FROM kept x JOIN kept y
                 ON x.wfp = y.wfp AND x.doc_id < y.doc_id
               GROUP BY x.doc_id, y.doc_id)
             SELECT doc_a, doc_b, n_shared FROM pairs
             WHERE n_shared >= 20 ORDER BY doc_a, doc_b""")),

    // SimHash signatures + 16-bit prefix buckets. The 60-bit signature
    // is derived from one md5 per token (graft.plans.SimHashSigExpr),
    // so the DuckDB oracle replays it bit-identically — the same
    // md5-replay pattern as the MinHash oracle above.
    Spec("q_dedup_simhash",
      (s, dir) => t(s, dir, "documents")
        .select(col("doc_id"), simhashFast(col("text")).as("sig"))
        .withColumn("bucket", call_function("shiftright", col("sig"), lit(44)))
        .orderBy(col("doc_id")),
      Some(s"""$simhashSigCte
             SELECT doc_id, sig, sig >> 44 AS bucket
             FROM sig ORDER BY doc_id""")),

    // SimHash Hamming near-dup pairs: candidate generation is an
    // equi-join on the 16-bit signature prefix (the LSH bucket — at
    // scale a plain shuffle join, never all-pairs), then exact Hamming
    // verification on the full 60-bit signatures. Prefix bucketing
    // trades recall for the bucketed join shape, the standard SimHash
    // dedup deployment.
    Spec("q_dedup_simhash_pairs",
      (s, dir) => {
        val sigs = t(s, dir, "documents")
          .select(col("doc_id"), simhashFast(col("text")).as("sig"))
          .withColumn("bucket", call_function("shiftright", col("sig"), lit(44)))
        val a = sigs.select(col("doc_id").as("doc_a"), col("sig").as("sig_a"),
          col("bucket"))
        val b = sigs.select(col("doc_id").as("doc_b"), col("sig").as("sig_b"),
          col("bucket").as("bucket_b"))
        a.join(b, col("bucket") === col("bucket_b") && col("doc_a") < col("doc_b"))
          .select(col("doc_a"), col("doc_b"),
            hamming64(col("sig_a"), col("sig_b")).cast("long").as("hamming"))
          .filter(col("hamming") <= SimhashHammingMax)
          .orderBy(col("doc_a"), col("doc_b"))
      },
      Some(s"""$simhashSigCte,
             b AS (SELECT doc_id, sig, sig >> 44 AS bucket FROM sig)
             SELECT x.doc_id AS doc_a, y.doc_id AS doc_b,
                    CAST(bit_count(xor(x.sig, y.sig)) AS BIGINT) AS hamming
             FROM b x JOIN b y ON x.bucket = y.bucket AND x.doc_id < y.doc_id
             WHERE bit_count(xor(x.sig, y.sig)) <= $SimhashHammingMax
             ORDER BY doc_a, doc_b""")),

    // Embedding-cosine near-duplicates, exact on a bounded subset
    // (oracle for the math; the scalable path is q_ann_lsh's bucketed
    // join).
    Spec("q_dedup_embed_cosine",
      (s, dir) => {
        val e = t(s, dir, "embeddings").filter(col("vec_id") < 200)
        val a = e.select(col("vec_id").as("a_id"), col("embedding").as("va"))
        val b = e.select(col("vec_id").as("b_id"), col("embedding").as("vb"))
        val cos = VectorFunctions.cosine(col("va"), col("vb"))
        a.join(b, col("a_id") < col("b_id"))
          .select(col("a_id"), col("b_id"), cos.as("cos"))
          .filter(col("cos") >= 0.4)
          .select(col("a_id"), col("b_id"), round(col("cos"), 4).as("cos_sim"))
          .orderBy(col("a_id"), col("b_id"))
      },
      Some("""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v
                        FROM embeddings WHERE vec_id < 200),
             pairs AS (
               SELECT a.vec_id AS a_id, b.vec_id AS b_id,
                      list_dot_product(a.v, b.v)
                        / (sqrt(list_dot_product(a.v, a.v))
                           * sqrt(list_dot_product(b.v, b.v))) AS cos
               FROM e a JOIN e b ON a.vec_id < b.vec_id)
             SELECT a_id, b_id, round(cos, 4) AS cos_sim
             FROM pairs WHERE cos >= 0.4 ORDER BY a_id, b_id""")),

    // The SCALE leg of embedding-cosine dedup (VERDICT r7 #5): same
    // cosine-threshold pair semantics as q_dedup_embed_cosine, but
    // candidates come from cell blocking (nearest-centroid assignment,
    // broadcast codebook) instead of all-pairs — within-cell pair
    // volume is Σ cell², and nCells grows with the corpus so cells
    // stay constant-size. The oracle replays the identical blocking
    // (fixed init, same distance expansion, same tie-break), so the
    // deliberate cross-cell recall trade-off is part of the declared
    // semantics, exactly as q_dedup_simhash_pairs declares its prefix
    // buckets. q_dedup_embed_cosine remains the bounded all-pairs math
    // gate; THIS row is the one the 10×/100× scale tables track. The
    // cell count is DATA-DERIVED (deriveCells: n div 64, floor 8) so
    // the row carries its own operating point to any scale — the
    // oracle replays the same integer derivation.
    Spec("q_dedup_embed_blocked",
      (s, dir) => {
        val e = t(s, dir, "embeddings")
        cellBlockedCosinePairs(e, nCells = deriveCells(e), theta = 0.4)
          .select(col("a_id"), col("b_id"), round(col("cos"), 4).as("cos_sim"))
          .orderBy(col("a_id"), col("b_id"))
      },
      Some("""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v
                        FROM embeddings),
             c AS (SELECT vec_id AS cent_id, v AS cv FROM e
                   WHERE vec_id < (SELECT greatest(8, count(*) // 64) FROM e)),
             asn AS (
               SELECT vec_id, cent_id FROM (
                 SELECT e.vec_id, c.cent_id,
                        row_number() OVER (PARTITION BY e.vec_id ORDER BY
                          list_dot_product(e.v, e.v)
                            - 2 * list_dot_product(e.v, c.cv)
                            + list_dot_product(c.cv, c.cv), c.cent_id) AS rn
                 FROM e, c) x WHERE rn = 1)
             SELECT a.vec_id AS a_id, b.vec_id AS b_id,
                    round(list_dot_product(ea.v, eb.v)
                            / (sqrt(list_dot_product(ea.v, ea.v))
                               * sqrt(list_dot_product(eb.v, eb.v))), 4)
                      AS cos_sim
             FROM asn a JOIN asn b ON a.cent_id = b.cent_id
                                  AND a.vec_id < b.vec_id
             JOIN e ea ON ea.vec_id = a.vec_id
             JOIN e eb ON eb.vec_id = b.vec_id
             WHERE list_dot_product(ea.v, eb.v)
                     / (sqrt(list_dot_product(ea.v, ea.v))
                        * sqrt(list_dot_product(eb.v, eb.v))) >= 0.4
             ORDER BY a_id, b_id""")),

    // Exact incremental dedup through the bloom membership pre-filter:
    // result must be bit-identical to the plain digest anti-join the
    // oracle runs — a single wrongly-dropped arrival (a mishandled
    // bloom positive) fails this row. True-drop and pruning behaviour
    // are spec'd with synthetic duplicates (BloomDedupSpec).
    Spec("q_dedup_exact_incremental",
      (s, dir) => {
        val docs = t(s, dir, "documents")
        val batch = docs.filter(pmod(col("doc_id"), lit(5)) === 0)
        val corpus = docs.filter(pmod(col("doc_id"), lit(5)) =!= 0)
        incrementalExactKeep(batch, corpus)
          .select(col("doc_id"), col("lang"))
          .orderBy(col("doc_id"))
      },
      Some("""SELECT doc_id, lang FROM documents d
             WHERE doc_id % 5 = 0
               AND md5(text) NOT IN (SELECT md5(text) FROM documents
                                     WHERE doc_id % 5 <> 0)
             ORDER BY doc_id""")),

    // SemDeDup-style semantic dedup (Abbas et al. 2023): k-means cells
    // as the blocking key, then within-cell pairwise cosine with
    // greedy keep-lowest-id. The cell assignment is a broadcast of the
    // tiny codebook (same fixed deterministic init as q_ann_ivf); the
    // within-cell pair join is a plain equi-join on cent_id. At corpus
    // scale the cell count grows with the corpus (SemDeDup uses 10k+
    // clusters) so cells stay bounded and the pair join stays
    // blocked — the count is DATA-DERIVED (deriveCells: n div 64,
    // floor 8, same derivation as q_dedup_embed_blocked) so the row
    // carries its own operating point to any scale; the oracle replays
    // the identical integer derivation. At the gate corpus (500
    // vectors) this lands on the historical 8. Scoring is the native
    // fused cosine.
    Spec("q_dedup_semantic",
      (s, dir) => {
        val e = t(s, dir, "embeddings")
        semanticKeep(e, nCells = deriveCells(e), theta = 0.4)
          .orderBy(col("vec_id"))
      },
      Some("""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v, label
                        FROM embeddings),
             c AS (SELECT vec_id AS cent_id, v AS cv FROM e
                   WHERE vec_id < (SELECT greatest(8, count(*) // 64) FROM e)),
             asn AS (
               SELECT vec_id, cent_id FROM (
                 SELECT e.vec_id, c.cent_id,
                        row_number() OVER (PARTITION BY e.vec_id ORDER BY
                          list_dot_product(e.v, e.v)
                            - 2 * list_dot_product(e.v, c.cv)
                            + list_dot_product(c.cv, c.cv), c.cent_id) AS rn
                 FROM e, c) x WHERE rn = 1),
             drops AS (
               SELECT DISTINCT b.vec_id
               FROM asn a JOIN asn b ON a.cent_id = b.cent_id
                                    AND a.vec_id < b.vec_id
               JOIN e ea ON ea.vec_id = a.vec_id
               JOIN e eb ON eb.vec_id = b.vec_id
               WHERE list_dot_product(ea.v, eb.v)
                       / (sqrt(list_dot_product(ea.v, ea.v))
                          * sqrt(list_dot_product(eb.v, eb.v))) >= 0.4)
             SELECT vec_id, label FROM embeddings
             WHERE vec_id NOT IN (SELECT vec_id FROM drops)
             ORDER BY vec_id""")),

    canonicalSpec,

    canonicalKeepBestSpec
  )

  /** Normalization → digest, the map-only front half of canonical
    * dedup: lowercase, strip punctuation to spaces, collapse runs,
    * trim, md5. Stateless per row — it runs unchanged as a structured
    * stream (StreamingSpec), and composes with
    * `dropDuplicatesWithinWatermark` on the digest for the streaming
    * dedup path. */
  def canonicalDigest(docs: org.apache.spark.sql.DataFrame)
      : org.apache.spark.sql.DataFrame =
    docs.select(col("doc_id"),
      canonicalDigestFast(col("text")).as("canon_digest"))

  // Canonicalizing exact dedup: real pipelines normalize before
  // hashing (case, punctuation, whitespace runs) so trivially-
  // different copies of one document collapse to one canonical hash.
  // The canonicalization is map-side; as with q_dedup_exact only the
  // 16-byte digest ever shuffles — the grouped projection is the
  // digest plus the 8-byte doc_id, never the text.
  private def canonicalSpec: Spec =
    Spec("q_dedup_canonical",
      (s, dir) => {
        canonicalDigest(t(s, dir, "documents"))
          .groupBy(col("canon_digest"))
          .agg(min(col("doc_id")).as("keep_id"),
            count(lit(1)).as("n_members"))
          .orderBy(col("keep_id"))
      },
      Some("""WITH canon AS (
               SELECT doc_id,
                      md5(trim(regexp_replace(regexp_replace(
                        lower(text), '[^a-z0-9 ]', ' ', 'g'),
                        ' +', ' ', 'g'))) AS canon_digest
               FROM documents)
             SELECT canon_digest, min(doc_id) AS keep_id,
                    count(*) AS n_members
             FROM canon GROUP BY canon_digest ORDER BY keep_id"""))

  // Cluster-representative selection: after near-dup clustering,
  // production pipelines keep the BEST member of each cluster (by a
  // quality signal), not the arbitrary lowest id. Selection is a
  // partial-aggregatable groupBy max(struct(quality, -doc_id)) —
  // deterministic arg-max with a smallest-id tie-break, no window
  // function, so map-side combine bounds the shuffle at any corpus
  // size. Singletons are their own cluster (coalesce), same as the
  // split row above.
  private def canonicalKeepBestSpec: Spec =
    Spec("q_dedup_keep_best",
      (s, dir) => {
        val clusters = connectedComponents(
            minhashPairs(s, dir).select(col("doc_a"), col("doc_b")))
          .select(col("doc_id"), col("cluster_id"))
        t(s, dir, "documents").select(col("doc_id"), col("n_chars"))
          .join(broadcast(clusters), Seq("doc_id"), "left")
          .select(col("doc_id"), col("n_chars"),
            coalesce(col("cluster_id"), col("doc_id")).as("group_id"))
          .groupBy(col("group_id"))
          .agg(max(struct(col("n_chars").as("c"),
              (-col("doc_id")).as("negid"))).as("b"),
            count(lit(1)).as("n_members"))
          .select(col("group_id").as("cluster_id"),
            (-col("b.negid")).as("keep_doc"),
            col("b.c").as("best_chars"), col("n_members"))
          .orderBy(col("cluster_id"))
      },
      Some(s"""${minhashScoredCte("WITH RECURSIVE")},
dup_pairs AS (
  SELECT doc_a, doc_b FROM scored WHERE jac >= $MinhashJaccardThreshold),
edges AS (
  SELECT doc_a AS src, doc_b AS dst FROM dup_pairs
  UNION ALL
  SELECT doc_b AS src, doc_a AS dst FROM dup_pairs),
walk(id, reach) AS (
  SELECT DISTINCT src, src FROM edges
  UNION
  SELECT e.src, w.reach FROM walk w JOIN edges e ON e.dst = w.id),
cc AS (
  SELECT id AS doc_id, min(reach) AS cluster_id FROM walk GROUP BY id),
grouped AS (
  SELECT d.doc_id, d.n_chars, coalesce(cc.cluster_id, d.doc_id) AS group_id
  FROM documents d LEFT JOIN cc USING (doc_id))
SELECT group_id AS cluster_id, doc_id AS keep_doc,
       n_chars AS best_chars, n_members
FROM (SELECT *,
        row_number() OVER (PARTITION BY group_id
                           ORDER BY n_chars DESC, doc_id) AS rn,
        count(*) OVER (PARTITION BY group_id) AS n_members
      FROM grouped) x
WHERE rn = 1 ORDER BY cluster_id"""))
}
