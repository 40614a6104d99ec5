package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.functions.VectorFunctions._

/** IVF-style ANN + TF-IDF (COVERAGE §2.9 X2/X4 extras).
  *
  * The IVF codebook is TRAINED: a fixed deterministic init (the first
  * `NCentroids` corpus vectors) refined by `LloydIters` Lloyd
  * iterations — assign every training vector to its nearest centroid,
  * recompute each centroid as the element-wise mean of its cell. Every
  * step is replayed verbatim by the DuckDB oracle (fixed init, the
  * identical three-dot distance expansion, ties on cent_id), so the
  * trained codebook is gate-checked, not just the probe mechanics.
  * At 100 TB this is the honest k-means shape: per-iteration cost is
  * one broadcast-assign pass plus a (cent_id, pos)-keyed mean — the
  * aggregate output is k×dim values, never corpus-sized — and the cell
  * assignment is the shuffle key that turns full-corpus scans into
  * ~1/C cell scans.
  */
object ExtraSimilarityQueries {
  import Q._
  import SimilarityQueries.{K, cosSql}
  import VectorQueries.{adcRecallSql, adcSql, adcTopK, codesLutSql, pqCodes,
    pqLut, pqSqd, pqSub, sampledCbSql, sampledCodebook, subSql}

  private final val NCentroids = 8
  // the oracles' Lloyd chain is generated from this ([[lloydChainSql]])
  private final val LloydIters = 2
  // IVF probes per query (the recall knob; cells disjoint → no dups)
  private final val NProbe = 2

  /** Nearest-centroid assignment: broadcast the k×dim codebook, rank by
    * the same ‖a−b‖² dot expansion the oracle computes (sqrt omitted:
    * monotonic), ties broken on cent_id. Adds `cent_id` to `df`;
    * `keepN > 1` keeps the N nearest cells per row (one output row per
    * cell) — the IVF `nprobe` search knob: probing more cells trades
    * candidate volume for recall, the corpus side always keeps 1. */
  private[graft] def assignTo(cents: org.apache.spark.sql.DataFrame,
                              keepN: Int = 1)(
      df: org.apache.spark.sql.DataFrame, idCol: String,
      vCol: String): org.apache.spark.sql.DataFrame = {
    val w = Window.partitionBy(col(idCol))
      .orderBy(col("__d"), col("cent_id"))
    df.crossJoin(broadcast(cents))
      .withColumn("__d",
        dot(col(vCol), col(vCol)) - lit(2) * dot(col(vCol), col("cv"))
          + dot(col("cv"), col("cv")))
      .withColumn("__rn", row_number().over(w))
      .filter(col("__rn") <= keepN)
      .drop("__d", "__rn", "cv")
  }

  /** Cell assignment of `df`'s (vec_id, embedding) rows:
    * (vec_id, ev, cent_id). */
  private def cellsOf(cents: DataFrame)(df: DataFrame): DataFrame =
    assignTo(cents)(df.select(col("vec_id"), col("embedding").as("ev")),
      "vec_id", "ev")

  /** `LloydIters` Lloyd refinements of the fixed init codebook (the
    * first `NCentroids` vectors of `e`) over the `corpus` (vec_id,
    * embedding) rows. The mean is computed long-form (posexplode →
    * avg per (cent_id, pos) → re-assemble sorted by pos) so it stays a
    * pair of tiny aggregations; an emptied cell keeps its previous
    * centroid. The codebook is snapped to the micros grid
    * ([[snapMicros]]) after EVERY iteration — an unquantized mean is
    * shuffle-merge-order sensitive in its last ULP, which can flip a
    * near-tie arg-min assignment downstream and break hash equality
    * against the oracle replay (the defect class the r14 pqTrain fix
    * eliminated; [[meansSql]] mirrors the per-iteration floor).
    * Returns (cent_id, cv: array<double>), always on the grid. */
  private def lloydCentroids(e: DataFrame, corpus: DataFrame): DataFrame =
    lloydTrain(
      corpus.select(col("vec_id"), col("embedding").as("ev")),
      e.filter(col("vec_id") < NCentroids)
        .select(col("vec_id").as("cent_id"), asDouble(col("embedding")).as("cv")),
      LloydIters)

  /** The parameterized trainer behind [[lloydCentroids]]. The ANN
    * operating curve (`bench/ann_curve_10x_r13.jsonl`,
    * `bench/ann_curve_10x_r14.jsonl`) swept cell counts over this SAME
    * production training path the gate exercises.
    * `corpus` = (vec_id, ev), `init` = (cent_id, cv double[]). */
  private[graft] def lloydTrain(corpus: org.apache.spark.sql.DataFrame,
                                init: org.apache.spark.sql.DataFrame,
                                iters: Int): org.apache.spark.sql.DataFrame = {
    // pin the corpus vectors across the Lloyd passes (r20): every
    // iteration's assign re-executed the scan lineage. Gated on the
    // hydrated estimate (plan bytes × 2) against the storage budget;
    // released per query by the harness unpersist hook. Physical only
    // — the caller's own passes over an equal plan reuse the cache via
    // the CacheManager's plan match.
    val corpusP =
      if (iters > 0)
        ScaleOps.materializePinned(corpus, ScaleOps.planBytes(corpus, 2))
      else corpus
    var cents = init
    for (_ <- 0 until iters) {
      val means = assignTo(cents)(corpusP, "vec_id", "ev")
        .select(col("cent_id"),
          posexplode(graft.functions.VectorFunctions.asDouble(col("ev")))
            .as(Seq("pos", "val")))
        .groupBy("cent_id", "pos").agg(avg("val").as("m"))
        .groupBy("cent_id")
        .agg(transform(array_sort(collect_list(struct(col("pos"), col("m")))),
          x => x.getField("m")).as("cv_new"))
      cents = snapMicros(cents.join(means, Seq("cent_id"), "left")
        .select(col("cent_id"), coalesce(col("cv_new"), col("cv")).as("cv")))
    }
    // materialize the trained codebook on the driver (the standard
    // k-means pattern — centers ARE driver state: nCells × dim doubles,
    // KBs). Without this, every consumer branch (corpus assign, query
    // assign, recall legs) re-executes the whole Lloyd lineage.
    val spark = corpus.sparkSession
    import spark.implicits._
    cents.select(col("cent_id"), col("cv")).collect()
      .map(r => (r.getLong(0), r.getSeq[Double](1)))
      .toSeq.toDF("cent_id", "cv")
  }

  /** DuckDB replay of one nearest-centroid assignment (`maxRank` > 1 =
    * the nprobe multi-cell assignment of the query side). */
  private def assignSql(cents: String, idAs: String, flt: String,
                        maxRank: Int = 1): String =
    s"""SELECT $idAs, v, cent_id FROM (
       SELECT e.vec_id AS $idAs, e.v, c.cent_id,
              row_number() OVER (PARTITION BY e.vec_id
                ORDER BY list_dot_product(e.v, e.v)
                         - 2 * list_dot_product(e.v, c.cv)
                         + list_dot_product(c.cv, c.cv), c.cent_id) AS rn
       FROM e, $cents c WHERE $flt) x WHERE rn <= $maxRank"""

  /** DuckDB replay of one Lloyd mean step (zipped unnest gives
    * (value, position) pairs; emptied cells keep the previous
    * centroid via the left-join coalesce). The whole coalesced
    * codebook is floored to the micros grid, mirroring
    * [[lloydTrain]]'s per-iteration [[snapMicros]] — both engines
    * apply the identical IEEE floor/×1e6/÷1e6 chain the same number
    * of times, so the replay is bit-equal even where an unquantized
    * mean would differ in its last ULP. */
  private def meansSql(assigned: String, prev: String): String =
    s"""SELECT p.cent_id,
              [floor(x * 1000000) / 1000000 FOR x IN coalesce(m.cv, p.cv)] AS cv
       FROM $prev p LEFT JOIN (
         SELECT cent_id, list(m ORDER BY pos) AS cv FROM (
           SELECT cent_id, pos, avg(val) AS m FROM (
             SELECT cent_id, unnest(v) AS val,
                    unnest(range(1, len(v) + 1)) AS pos
             FROM $assigned) GROUP BY cent_id, pos)
         GROUP BY cent_id) m ON p.cent_id = m.cent_id"""

  /** DuckDB replay of [[lloydCentroids]] trained on the `e` rows
    * passing `flt`: the fixed init `c0`, then one assign CTE `a{i}`
    * and one mean CTE `c{i}` per Lloyd iteration, ending in
    * [[centsCte]]. */
  private def lloydChainSql(flt: String): String =
    (s"c0 AS (SELECT vec_id AS cent_id, v AS cv FROM e WHERE vec_id < $NCentroids)" +:
      (1 to LloydIters).map(i =>
        s"""a$i AS (${assignSql(s"c${i - 1}", "vid", flt)}),
           c$i AS (${meansSql(s"a$i", s"c${i - 1}")})""")).mkString(",\n")

  /** The trained codebook CTE of [[lloydChainSql]]. */
  private def centsCte: String = s"c$LloydIters"

  /** DuckDB replay of [[ivfQueries]]: CTE `queries` (query_id, q_cent),
    * plus the query vector `v` when `withVec`. */
  private def queriesSql(withVec: Boolean = false): String =
    s"""queries AS (
         SELECT vid AS query_id,${if (withVec) " v," else ""} cent_id AS q_cent FROM (
           ${assignSql(centsCte, "vid",
             s"e.vec_id >= $NCentroids AND e.vec_id < 13",
             maxRank = NProbe)}) z)"""

  /** DuckDB replay of a top-K leg: CTE `name` with, per query id `qid`,
    * the K (query_id, vec_id) pairs of `from` first under `order`, ties
    * on `c.vec_id`. */
  private[operators] def topKSql(name: String, qid: String, order: String,
                                 from: String): String =
    s"""$name AS (
         SELECT query_id, vec_id FROM (
           SELECT $qid AS query_id, c.vec_id, row_number() OVER (
               PARTITION BY $qid ORDER BY $order, c.vec_id) AS rn
           FROM $from) x WHERE rn <= $K)"""

  /** DuckDB replay of [[bruteTopK]] by exact L2: CTE `brute` for the
    * `e` queries passing `queryFlt` (alias `q`) against the vec_id ≥ 20
    * corpus. */
  private[operators] def bruteL2Sql(queryFlt: String): String =
    topKSql("brute", "q.vec_id",
      """list_dot_product(c.v, c.v)
           - 2 * list_dot_product(q.v, c.v)
           + list_dot_product(q.v, q.v)""",
      s"e q CROSS JOIN e c WHERE $queryFlt AND c.vec_id >= 20")

  /** DuckDB replay of [[bruteTopK]] by cosine: CTE `brute` over the
    * query CTE `q` (query_id, v) and the corpus CTE `c` (vec_id, v). */
  private def bruteCosSql: String =
    topKSql("brute", "q.query_id", s"$cosSql DESC", "q, c")

  /** DuckDB replay of [[recallTable]] over the CTEs `brute` and
    * `approx`. */
  private[operators] def recallSql(approx: String): String =
    s"""SELECT b.query_id, count(*) AS n_brute,
              count(p.vec_id) AS n_recovered,
              round(CAST(count(p.vec_id) AS DOUBLE) / count(*), 4) AS recall
       FROM brute b LEFT JOIN $approx p
         ON b.query_id = p.query_id AND b.vec_id = p.vec_id
       GROUP BY b.query_id ORDER BY b.query_id"""

  /** Micros-grid snap of a trained codebook (the pqTrain convention):
    * centroid means are shuffle-merge-order sensitive in the last ULP,
    * and the RESIDUAL composition feeds them through subtraction into
    * every downstream arg-min/LUT — quantizing makes the whole
    * residual chain bit-replayable cross-engine. */
  private[graft] def snapMicros(cents: org.apache.spark.sql.DataFrame)
      : org.apache.spark.sql.DataFrame =
    cents.select(col("cent_id"),
      transform(col("cv"), x => floor(x * 1e6) / 1e6).as("cv"))

  /** Centroid subvectors: (cent_id, m, csv) — the per-subspace slices
    * of each IVF centroid, for residualizing PQ subvectors. */
  private[graft] def centroidSub(cents: org.apache.spark.sql.DataFrame,
                                 m: Int, subDim: Int)
      : org.apache.spark.sql.DataFrame =
    cents.select(col("cent_id"), expr(
      s"""inline(transform(sequence(0, ${m - 1}), mi -> named_struct(
           'm', CAST(mi AS BIGINT),
           'csv', slice(cv, mi*$subDim+1, $subDim))))"""))

  /** Residualize PQ subvectors against their assigned cell's centroid
    * (the IVF-ADC encoding of Jegou/Douze/Schmid's PQ paper §IV):
    * `sub` = (idCol, m, sv), `assign` = (idCol, centKey) — one row per
    * (id, probed cell) — `csub` = [[centroidSub]] keyed by `centKey`.
    * Output (idCol, centKey, m, sv − csv). Corpus side has one cell
    * per vector; the query side keeps nprobe rows so each probed cell
    * gets its own residual LUT. */
  private[graft] def residualSub(sub: org.apache.spark.sql.DataFrame,
                                 assign: org.apache.spark.sql.DataFrame,
                                 csub: org.apache.spark.sql.DataFrame,
                                 idCol: String, centKey: String)
      : org.apache.spark.sql.DataFrame =
    sub.join(assign, Seq(idCol))
      .join(broadcast(csub.withColumnRenamed("cent_id", centKey)),
        Seq(centKey, "m"))
      .select(col(idCol), col(centKey), col("m"),
        zip_with(col("sv"), col("csv"), (a, b) => a - b).as("sv"))

  /** `q_ann_delete`'s tombstone set — a retracted-crawl id range plus
    * two point takedowns that seeded the frozen PQ codebook — shared
    * by the gate and AnnDeleteSpec so the Scala sites cannot drift
    * (review r17); the DuckDB oracle
    * keeps its own SQL transcription of the same predicate. */
  private[graft] def annDeleteTombstonePred(
      id: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    id.isin(21L, 28L) || (id >= 100 && id < 200)

  /** The frozen-codebook incremental index state shared by
    * `q_ann_incremental` (ingest proof) and `q_ann_delete` (delete
    * proof): Lloyd IVF codebook + PQ sub-codebooks trained on the
    * PRE-EXISTING corpus only (vec_id % 5 <> 0; % 5 = 0 is
    * "tomorrow's batch") and FROZEN; corpus and batch cells/codes are
    * TWO separate assign/encode passes over the frozen artifacts,
    * unioned — corpus state is never recomputed when a batch
    * arrives. */
  // private[graft]: RtbfDemo audits its ANN takedown over the SAME
  // production index construction the gates exercise
  private[graft] final case class FrozenAnnIndex(
      cents: org.apache.spark.sql.DataFrame,
      cb: org.apache.spark.sql.DataFrame,
      cells: org.apache.spark.sql.DataFrame,
      codes: org.apache.spark.sql.DataFrame)

  private[graft] def frozenAnnIndex(e: DataFrame): FrozenAnnIndex = {
    val corpusE = e.filter(col("vec_id") >= 20 &&
        pmod(col("vec_id"), lit(5)) =!= 0)
      .select(col("vec_id"), col("embedding"))
    val batchE = e.filter(col("vec_id") >= 20 &&
        pmod(col("vec_id"), lit(5)) === 0)
      .select(col("vec_id"), col("embedding"))
    // frozen codebooks: Lloyd IVF cells and sampled PQ sub-codebooks,
    // both from the corpus side only
    val cents = lloydCentroids(e, corpusE)
    val corpusSub = pqSub(corpusE, "vec_id", 8, 8)
    val cb = sampledCodebook(corpusSub)
    // the INCREMENTAL path: corpus artifacts and batch artifacts are
    // two separate assign/encode passes over the frozen codebooks,
    // unioned — corpus state is never recomputed when a batch arrives
    def cells(df: DataFrame) =
      cellsOf(cents)(df).select(col("vec_id"), col("cent_id"))
    FrozenAnnIndex(cents, cb,
      cells(corpusE).unionByName(cells(batchE)),
      pqCodes(corpusSub, cb, "vec_id")
        .unionByName(pqCodes(pqSub(batchE, "vec_id", 8, 8), cb, "vec_id")))
  }

  /** The IVF rows' query set: vec_id in [NCentroids, 13). */
  private def ivfQueryRows(e: DataFrame): DataFrame =
    e.filter(col("vec_id") >= NCentroids && col("vec_id") < 13)

  /** The IVF query side: each [[ivfQueryRows]] query (query_id, qv)
    * assigned to its `NProbe` nearest cells — the nprobe recall knob;
    * cells are disjoint, so candidates never dup — one row per probed
    * cell `q_cent`. */
  private def ivfQueries(e: DataFrame, cents: DataFrame): DataFrame =
    assignTo(cents, keepN = NProbe)(
        ivfQueryRows(e).select(col("vec_id").as("query_id"),
          col("embedding").as("qv")),
        "query_id", "qv")
      .withColumnRenamed("cent_id", "q_cent")

  /** The IVF probe: [[ivfQueries]] equi-joined to the corpus `cells`
    * (vec_id, cent_id, …) on the probed cell. The query batch
    * (queries × nprobe rows) is small by contract and broadcast
    * explicitly — the corpus-scale cell table is scanned once and
    * never shuffles; left to AQE, the build side followed whichever
    * small stage finished first, so identical runs planned
    * differently. */
  private def probe(queries: DataFrame, cells: DataFrame): DataFrame =
    broadcast(queries).join(cells, col("q_cent") === col("cent_id"))

  /** The IVF cosine candidates: (query_id, vec_id, cos) for every
    * vec_id ≥ 20 corpus vector in a probed cell. */
  private def ivfScored(e: DataFrame, cents: DataFrame): DataFrame =
    probe(ivfQueries(e, cents), cellsOf(cents)(e.filter(col("vec_id") >= 20)))
      .select(col("query_id"), col("vec_id"),
        cosine(col("qv"), col("ev")).as("cos"))

  /** The composed IVF+PQ search over externally supplied cell/code
    * tables: ADC summed ONLY over the (query, candidate) pairs the
    * probed cells admit — candidate volume is the IVF-pruned set,
    * never the corpus — against the per-query LUT from `cb` (queries ×
    * m × ks rows, broadcast). Output of [[adcTopK]]. */
  private def ivfPqTopK(e: DataFrame, cents: DataFrame, cb: DataFrame,
                        cells: DataFrame, codes: DataFrame): DataFrame =
    adcTopK(
      probe(ivfQueries(e, cents), cells)
        .select(col("query_id"), col("vec_id"))
        .join(codes, Seq("vec_id")),
      pqLut(pqSub(ivfQueryRows(e), "query_id", 8, 8), cb, "query_id"),
      Seq("query_id", "m", "code"))

  /** [[ivfPqTopK]] over a frozen index, ranked. Output: (query_id,
    * rank, vec_id, is_new, adc) with `is_new` marking batch-side
    * rows. */
  private def ivfPqSearch(e: DataFrame, idx: FrozenAnnIndex): DataFrame = {
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("adc"), col("vec_id"))
    ivfPqTopK(e, idx.cents, idx.cb, idx.cells, idx.codes)
      .withColumn("rank", row_number().over(w).cast("long"))
      .select(col("query_id"), col("rank"), col("vec_id"),
        (pmod(col("vec_id"), lit(5)) === 0).as("is_new"), col("adc"))
      .orderBy(col("query_id"), col("rank"))
  }

  /** The K best (query_id, vec_id) per query of `scored` under
    * `order`, ties on vec_id, through the native TopKPerKey —
    * membership only, so no residual rank window. */
  private def topKOf(scored: DataFrame, order: Column): DataFrame =
    ScaleOps.topKPerKey(scored,
        Seq(col("query_id")), Seq(order, col("vec_id")), K)
      .select(col("query_id"), col("vec_id"))

  /** The exact top-K leg of the recall audits: every `corpus` row
    * scored against every broadcast `queries` row by `score` (over
    * their columns); `ascending` for a distance, else a similarity.
    * Output (query_id, vec_id). */
  private[operators] def bruteTopK(queries: DataFrame, corpus: DataFrame,
                                   score: Column,
                                   ascending: Boolean): DataFrame =
    topKOf(
      corpus.crossJoin(broadcast(queries))
        .select(col("query_id"), col("vec_id"), score.as("score")),
      if (ascending) col("score") else col("score").desc)

  /** The exact-L2 top-K of the IVF queries, the truth of the IVF+PQ
    * recall rows. */
  private def ivfBruteL2(e: DataFrame): DataFrame =
    bruteTopK(
      ivfQueryRows(e).select(col("vec_id").as("query_id"),
        asDouble(col("embedding")).as("qv")),
      e.filter(col("vec_id") >= 20).select(col("vec_id"),
        asDouble(col("embedding")).as("cv")),
      pqSqd(col("qv"), col("cv")), ascending = true)

  /** Per-query recall of an approximate top-K against the exact one:
    * `brute` ⟕ `approx` on (query_id, vec_id), then `n_brute`,
    * `n_recovered` and their ratio `recall` rounded to 4 places,
    * ordered by query_id. A query the approximate leg missed entirely
    * keeps its row with n_recovered = 0. */
  private[graft] def recallTable(brute: DataFrame,
                                 approx: DataFrame): DataFrame =
    brute.join(
        approx.select(col("query_id").as("query_id_a"),
          col("vec_id").as("vec_id_a")),
        col("query_id") === col("query_id_a") &&
          col("vec_id") === col("vec_id_a"), "left")
      .groupBy(col("query_id"))
      .agg(count(lit(1)).as("n_brute"),
        count(col("vec_id_a")).as("n_recovered"))
      .select(col("query_id"), col("n_brute"), col("n_recovered"),
        round(col("n_recovered").cast("double") / col("n_brute"), 4)
          .as("recall"))
      .orderBy(col("query_id"))

  /** DuckDB replay of [[ivfPqSearch]] over the frozen index trained on
    * the `vec_id % 5 <> 0` corpus side, rebuilt in ONE pass: the
    * caller's CTE `cells`, and `codes` for the `sub` rows passing
    * `codeFlt`. */
  private def frozenSearchSql(codeFlt: String): String =
    s"""${queriesSql()},
       $subSql,
       ${sampledCbSql("cb", "sub",
         "vec_id >= 20 AND vec_id < 36 AND vec_id % 5 <> 0")},
       ${codesLutSql("cb", "sub", codeFlt,
         "sub", s"s.vec_id >= $NCentroids AND s.vec_id < 13")},
       ${adcSql(Seq("query_id"))}
       SELECT query_id, CAST(rank AS BIGINT) AS rank, vec_id,
              (vec_id % 5 = 0) AS is_new, CAST(adc AS BIGINT) AS adc
       FROM (SELECT query_id, vec_id, adc, row_number() OVER (
               PARTITION BY query_id ORDER BY adc, vec_id) AS rank
             FROM adc) y
       WHERE rank <= $K ORDER BY query_id, rank"""

  val specs: Seq[Spec] = Seq(

    Spec("q_ann_ivf",
      (s, dir) => {
        val e = t(s, dir, "embeddings")
        // final top-k through the native TopKPerKey (shuffle pruned to
        // ≤ k rows per query per mapper; see SimilarityQueries.topKRanked)
        SimilarityQueries.topKRanked(
          ivfScored(e, lloydCentroids(e, e.filter(col("vec_id") >= 20))), K)
      },
      Some(s"""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
             ${lloydChainSql("e.vec_id >= 20")},
             corpus AS (${assignSql(centsCte, "vec_id", "e.vec_id >= 20")}),
             ${queriesSql(withVec = true)},
             scored AS (
               SELECT q.query_id, c.vec_id,
                      list_dot_product(q.v, c.v)
                        / (sqrt(list_dot_product(q.v, q.v))
                           * sqrt(list_dot_product(c.v, c.v))) AS cos,
                      row_number() OVER (PARTITION BY q.query_id ORDER BY
                        list_dot_product(q.v, c.v)
                          / (sqrt(list_dot_product(q.v, q.v))
                             * sqrt(list_dot_product(c.v, c.v))) DESC, c.vec_id) AS rank
               FROM queries q JOIN corpus c ON q.q_cent = c.cent_id)
             SELECT query_id, CAST(rank AS BIGINT) AS rank, vec_id,
                    round(cos, 4) AS cos_sim
             FROM scored WHERE rank <= $K ORDER BY query_id, rank""")),

    // Recall audit for the IVF path: per query, how many of the exact
    // top-k the nprobe-cell search recovered — the metric that justifies
    // (or indicts) a given (cells, nprobe) operating point at scale.
    Spec("q_ann_ivf_recall",
      (s, dir) => {
        val e = t(s, dir, "embeddings")
        val corpusE = e.filter(col("vec_id") >= 20)
        recallTable(
          bruteTopK(
            ivfQueryRows(e).select(col("vec_id").as("query_id"),
              col("embedding").as("qv")),
            corpusE.select(col("vec_id"), col("embedding").as("cv")),
            cosine(col("qv"), col("cv")), ascending = false),
          topKOf(ivfScored(e, lloydCentroids(e, corpusE)), col("cos").desc))
      },
      Some(s"""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
             ${lloydChainSql("e.vec_id >= 20")},
             corpus AS (${assignSql(centsCte, "vec_id", "e.vec_id >= 20")}),
             ${queriesSql(withVec = true)},
             q AS (SELECT vec_id AS query_id, v FROM e
                   WHERE vec_id >= $NCentroids AND vec_id < 13),
             c AS (SELECT vec_id, v FROM e WHERE vec_id >= 20),
             $bruteCosSql,
             ${topKSql("ivfc", "q.query_id", s"$cosSql DESC",
               "queries q JOIN corpus c ON q.q_cent = c.cent_id")}
             ${recallSql("ivfc")}""")),

    // The COMPOSED production ANN shape — IVF cell routing to bound
    // the candidate set, then PQ asymmetric-distance (ADC) scoring
    // INSIDE the probed cells instead of full-precision vectors. At
    // 100 TB this is the only tier that scales on both axes at once:
    // IVF cuts candidates to ~nprobe/C of the corpus (measured 1.6 %
    // at nprobe 1, `bench/ann_curve_10x_r13.jsonl`) and PQ cuts the
    // bytes TOUCHED per candidate 32x (8-byte codes vs 256-byte raw
    // vectors), so scan cost drops on volume x width. Recall is
    // audited against the exact-L2 brute top-k (ADC approximates L2),
    // so the row prices the composed approximation: cell-pruning
    // misses AND quantization misses land in the same recall number.
    // Every stage reuses an oracle-proven production path: the trained
    // Lloyd codebook + nprobe assignment of q_ann_ivf_recall, the
    // pqSub/pqCodes/pqLut blocks of q_ann_pq_recall.
    Spec("q_ann_ivfpq_recall",
      (s, dir) => {
        val e = t(s, dir, "embeddings")
        val corpusE = e.filter(col("vec_id") >= 20)
        // IVF tier: trained cells; PQ tier: the q_ann_pq_recall
        // codebook/codes over the same corpus
        val cents = lloydCentroids(e, corpusE)
        val corpusSub = pqSub(corpusE, "vec_id", 8, 8)
        val cb = sampledCodebook(corpusSub)
        // exact-L2 brute reference over the FULL corpus
        recallTable(ivfBruteL2(e),
          ivfPqTopK(e, cents, cb,
            cellsOf(cents)(corpusE).select(col("vec_id"), col("cent_id")),
            pqCodes(corpusSub, cb, "vec_id")))
      },
      Some(s"""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
             ${lloydChainSql("e.vec_id >= 20")},
             cells AS (${assignSql(centsCte, "vec_id", "e.vec_id >= 20")}),
             ${queriesSql()},
             $subSql,
             ${sampledCbSql("cb", "sub", "vec_id >= 20 AND vec_id < 36")},
             ${codesLutSql("cb", "sub", "s.vec_id >= 20",
               "sub", s"s.vec_id >= $NCentroids AND s.vec_id < 13")},
             ${adcRecallSql(Seq("query_id"),
               s"q.vec_id >= $NCentroids AND q.vec_id < 13")}""")),

    // RESIDUAL IVF+PQ (IVF-ADC proper — Jegou/Douze/Schmid, TPAMI'11
    // §IV; r14, motivated by the clustered-manifold probe): identical
    // composition to q_ann_ivfpq_recall, but PQ encodes each vector's
    // RESIDUAL (v − its cell centroid) instead of the raw vector, and
    // each query builds one LUT PER PROBED CELL from (q − that cell's
    // centroid). On clustered corpora raw-vector codes spend their
    // resolution separating clusters — information the IVF routing
    // already paid for — while residuals re-center every cell at the
    // origin so all code resolution goes to within-cell geometry
    // (measured on the clustered mixture: raw-PQ recall 0.06–0.10 vs
    // residual's recovery, bench/clustered_ann_r14.jsonl). Cost shape
    // is unchanged: same candidate volume, same 8-byte codes, the LUT
    // grows nprobe× (still queries × nprobe × m × ks — broadcast-tiny).
    // The cell centroids arrive already snapped to the micros grid —
    // since r15 [[lloydTrain]] itself snaps after every iteration (the
    // pqTrain ADVICE r13 convention, finished per VERDICT r14 #1) —
    // which matters doubly here because residual SUBTRACTION
    // propagates centroid ULPs into every downstream arg-min. Snapped,
    // the whole chain is bit-replayable and the oracle unrolls it
    // end-to-end (Lloyd chain → quantize → residualize → codes/LUT →
    // ADC → recall). No OUTER re-snap: floor∘floor is not idempotent
    // off the exact grid (x·1e6 can round below the integer), so a
    // second application could shift a value the oracle floors once.
    Spec("q_ann_ivfpq_residual_recall",
      (s, dir) => {
        val e = t(s, dir, "embeddings")
        val corpusE = e.filter(col("vec_id") >= 20)
        val cents = lloydCentroids(e, corpusE)
        val corpusCells =
          cellsOf(cents)(corpusE).select(col("vec_id"), col("cent_id"))
        val queries = ivfQueries(e, cents)
        val csub = centroidSub(cents, 8, 8)
        // corpus residual subvectors + residual-space codebook/codes
        val rsub = residualSub(pqSub(corpusE, "vec_id", 8, 8),
          corpusCells, csub, "vec_id", "cent_id")
        val cb = sampledCodebook(rsub)
        val codes = pqCodes(
          rsub.select(col("vec_id"), col("m"), col("sv")), cb, "vec_id")
        // per-(query, probed cell) residual LUT
        val lut = pqLut(
          residualSub(pqSub(ivfQueryRows(e), "query_id", 8, 8),
            queries, csub, "query_id", "q_cent"),
          cb, "query_id", "q_cent")
        // composed search: candidates carry the admitting cell so ADC
        // picks that cell's residual LUT
        recallTable(ivfBruteL2(e),
          adcTopK(
            probe(queries, corpusCells)
              .select(col("query_id"), col("q_cent"), col("vec_id"))
              .join(codes, Seq("vec_id")),
            lut, Seq("query_id", "q_cent", "m", "code")))
      },
      Some(s"""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
             ${lloydChainSql("e.vec_id >= 20")},
             cells AS (${assignSql(centsCte, "vec_id", "e.vec_id >= 20")}),
             ${queriesSql()},
             $subSql,
             csub AS (SELECT cent_id, CAST(mi AS BIGINT) AS m,
                             cv[mi*8+1 : mi*8+8] AS csv
                      FROM $centsCte, UNNEST(generate_series(0, 7)) AS t(mi)),
             rsub AS (SELECT s.vec_id, s.m,
                             [s.sv[i] - cs.csv[i] FOR i IN generate_series(1, 8)] AS sv
                      FROM sub s JOIN cells a ON s.vec_id = a.vec_id
                      JOIN csub cs ON cs.cent_id = a.cent_id AND cs.m = s.m
                      WHERE s.vec_id >= 20),
             ${sampledCbSql("cb", "rsub", "vec_id < 36")},
             qr AS (SELECT s.vec_id, q.q_cent, s.m,
                           [s.sv[i] - cs.csv[i] FOR i IN generate_series(1, 8)] AS sv
                    FROM sub s JOIN queries q ON s.vec_id = q.query_id
                    JOIN csub cs ON cs.cent_id = q.q_cent AND cs.m = s.m),
             ${codesLutSql("cb", "rsub", "", "qr", "", lutKey = ", s.q_cent")},
             ${adcRecallSql(Seq("query_id", "q_cent"),
               s"q.vec_id >= $NCentroids AND q.vec_id < 13")}""")),

    // INCREMENTAL ANN ingest (VERDICT r15 #2) — the batch-vs-corpus
    // form every dedup-family operator already has
    // (prefixFilterIncremental's contract), applied to the ANN index:
    // a 100 TB corpus appends batches daily, and rebuilding
    // codebook+codes+LUTs per arrival is a full-corpus pass nobody
    // runs. Instead the trained artifacts are FROZEN — the Lloyd IVF
    // codebook and the PQ sub-codebooks, both trained on the
    // PRE-EXISTING corpus only (here vec_id % 5 <> 0; the % 5 = 0 rows
    // are "tomorrow's batch") — and the arrivals batch is assigned
    // (cells) and encoded (codes) against them in one batch-sized
    // pass, never touching corpus state. Queries then search
    // corpus ∪ batch. Because cell assignment and code assignment are
    // PURE FUNCTIONS of the frozen centers, the incremental append is
    // exactly equal to a full rebuild under the same frozen codebook —
    // and this row PROVES that equality cross-engine: the Spark side
    // computes corpus and batch cells/codes in two separate passes and
    // unions them (the incremental path); the DuckDB oracle encodes
    // the whole union in ONE pass against the same frozen CTEs (the
    // full-rebuild path). A hash match means the two paths agree
    // bit-for-bit. WHEN to retrain is not decided here: the drift
    // it would key on (cell-explained variance, 0.89–0.98 clustered vs
    // 0.14 isotropic) is recorded in BASELINE.md "ANN:
    // composed-with-TRAINED-PQ + clustered-manifold probe, r14". Scale shape:
    // the arrival pass costs one broadcast-assign + one broadcast-
    // encode over the BATCH only; the search is the composed
    // q_ann_ivfpq plan over union'd cell/code tables.
    Spec("q_ann_incremental",
      (s, dir) => {
        val e = t(s, dir, "embeddings")
        // frozen codebooks + two-pass union'd cells/codes, then the
        // composed search over corpus ∪ batch (the q_ann_ivfpq plan) —
        // state construction shared with the delete dual q_ann_delete
        ivfPqSearch(e, frozenAnnIndex(e))
      },
      Some(s"""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
             ${lloydChainSql("e.vec_id >= 20 AND e.vec_id % 5 <> 0")},
             -- FULL REBUILD against the frozen $centsCte/cb: one assignment
             -- pass over corpus AND batch together — a hash match with
             -- the Spark side's two-pass union proves the incremental
             -- append equals the rebuild
             cells AS (${assignSql(centsCte, "vec_id", "e.vec_id >= 20")}),
             ${frozenSearchSql("s.vec_id >= 20")}""")),

    // DELETE path for the incremental index (VERDICT r16 missing #2):
    // the exact dual of q_ann_incremental's ingest proof. A real
    // 100 TB pipeline takes removals — takedowns, right-to-be-
    // forgotten, retracted crawls — and the index must answer queries
    // over (corpus ∪ batch) − deleted WITHOUT a full rebuild: deleted
    // ids go into a tombstone table and every read subtracts them with
    // one broadcast anti-join ([[ScaleOps.tombstone]]). Because
    // cell/code postings are pure per-id functions of the FROZEN
    // codebook, index ∖ tombstones equals the index a from-scratch
    // rebuild over the surviving ids would produce — and this row
    // PROVES it cross-engine: the Spark side carries the union'd
    // incremental state and anti-joins the tombstones at read time
    // (the tombstone path); the DuckDB oracle builds cells and codes
    // from scratch WITHOUT the deleted rows against the SAME frozen
    // c2/cb CTEs (the rebuild path). Hash match = tombstone==rebuild.
    // The deleted set is the two real-world shapes: a CONTIGUOUS id
    // range (a retracted crawl, ids 100–199 — spans corpus and batch
    // rows and intersects the pre-delete top-k at every gate SF, so
    // the exclusions are load-bearing, never vacuous) plus two point
    // takedowns (21, 28) that seeded the frozen PQ codebook: deleting
    // a training row removes its POSTINGS, never the frozen codebook —
    // retraining is not the delete path's call. WHEN to stop carrying
    // tombstones and rewrite instead is measured in BASELINE.md
    // "Tombstone carry-vs-compact crossover, r17" (break-even 2–6
    // reads); AnnDeleteSpec pins the engine-internal tombstone==rebuild
    // equality.
    Spec("q_ann_delete",
      (s, dir) => {
        val e = t(s, dir, "embeddings")
        val idx = frozenAnnIndex(e)
        val tomb = e.filter(annDeleteTombstonePred(col("vec_id")))
          .select(col("vec_id"))
        ivfPqSearch(e, idx.copy(
          cells = ScaleOps.tombstone(idx.cells, tomb, "vec_id"),
          codes = ScaleOps.tombstone(idx.codes, tomb, "vec_id")))
      },
      Some(s"""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
             ${lloydChainSql("e.vec_id >= 20 AND e.vec_id % 5 <> 0")},
             -- FULL REBUILD WITHOUT the deleted rows, against the SAME
             -- frozen $centsCte/cb (trained pre-delete, deleted rows
             -- included): a hash match with the Spark side's
             -- tombstone anti-join proves delete-then-query equals
             -- rebuild-without-deleted
             cells AS (${assignSql(centsCte, "vec_id",
               "e.vec_id >= 20 AND NOT (e.vec_id IN (21, 28) " +
                 "OR (e.vec_id >= 100 AND e.vec_id < 200))")}),
             ${frozenSearchSql("s.vec_id >= 20 AND NOT (s.vec_id IN (21, 28) " +
               "OR (s.vec_id >= 100 AND s.vec_id < 200))")}""")),

    // Recall audit for the approximate path: per query, how many of the
    // exact top-k the hyperplane-LSH bucket search recovered. The
    // operational metric for tuning bits-vs-recall at scale.
    Spec("q_ann_recall",
      (s, dir) => {
        val e = t(s, dir, "embeddings")
        val planes = SimilarityQueries.Planes
        val q = e.filter(col("vec_id") < 20)
          .select(col("vec_id").as("query_id"), col("embedding").as("qv"),
            hyperplaneBucket(col("embedding"), planes).as("qb"))
        val c = e.filter(col("vec_id") >= 20)
          .select(col("vec_id"), col("embedding").as("cv"),
            hyperplaneBucket(col("embedding"), planes).as("cb"))
        recallTable(
          bruteTopK(q.select(col("query_id"), col("qv")), c,
            cosine(col("qv"), col("cv")), ascending = false),
          topKOf(q.join(c, col("qb") === col("cb"))
            .select(col("query_id"), col("vec_id"),
              cosine(col("qv"), col("cv")).as("cos")), col("cos").desc))
      },
      Some(s"""WITH e AS (
               SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v,
                      ${SimilarityQueries.bucketSql("CAST(embedding AS DOUBLE[])")} AS bucket
               FROM embeddings),
             q AS (SELECT vec_id AS query_id, v, bucket FROM e WHERE vec_id < 20),
             c AS (SELECT vec_id, v, bucket FROM e WHERE vec_id >= 20),
             $bruteCosSql,
             ${topKSql("lsh", "q.query_id", s"$cosSql DESC",
               "q JOIN c ON q.bucket = c.bucket")}
             ${recallSql("lsh")}""")),

    // Johnson–Lindenstrauss distortion audit: the lemma promises
    // DISTANCE preservation — ‖proj(a)−proj(b)‖ ≈ √k·‖a−b‖ (in the
    // projection's micro units) within concentration bounds — NOT
    // top-k rank preservation; on this isotropic synthetic corpus all
    // pairwise distances nearly coincide, so ranks are meaningless but
    // the distance ratio concentrates exactly as theory says (k = 8 →
    // median ratio ≈ 0.9, ~⅔ of pairs within ±50 %). Per query this
    // row audits the ratio r = d_proj / (√8·1e6·d_orig) over every
    // corpus pair, floor-scaled to ppm: both engines compute the two
    // l2 legs with the SAME left-fold order and the same IEEE
    // division/sqrt, so the doubles — and their floors — are
    // bit-identical. At scale this is the audit you run once per
    // (d, k) before switching ANN/clustering to the projected space;
    // the audit itself is a broadcast-bounded brute pass.
    Spec("q_jl_distortion",
      (s, dir) => {
        val e = t(s, dir, "embeddings")
          .select(col("vec_id"), col("embedding"),
            jlProject(col("embedding"), 8).as("pv"))
        val q = e.filter(col("vec_id") < 20)
          .select(col("vec_id").as("query_id"), col("embedding").as("qv"),
            col("pv").as("qp"))
        val c = e.filter(col("vec_id") >= 20)
          .select(col("vec_id"), col("embedding").as("cv"),
            col("pv").as("cp"))
        val rPpm = floor(
          l2Distance(col("qp"), col("cp")) /
            (sqrt(lit(8.0)) * lit(1000000.0) * l2Distance(col("qv"), col("cv")))
            * 1000000).cast("long")
        // identical vectors (distance 0) carry no distortion ratio —
        // and real corpora HAVE identical vectors (mirrored docs; the
        // 10× replica surfaced this as an ANSI divide-by-zero)
        c.crossJoin(broadcast(q))
          .where(l2Distance(col("qv"), col("cv")) > 0)
          .select(col("query_id"), rPpm.as("r_ppm"))
          .groupBy(col("query_id"))
          .agg(count(lit(1)).as("n_pairs"),
            expr("sum(r_ppm) div count(1)").as("mean_ratio_ppm"),
            count(when(abs(col("r_ppm") - 1000000L) <= 500000L, lit(1)))
              .as("n_within50"))
          .orderBy(col("query_id"))
      },
      Some(s"""WITH long AS (
               SELECT vec_id, CAST(i AS BIGINT) - 1 AS dim0,
                      CAST(floor(CAST(embedding[i] AS DOUBLE) * 1000000)
                           AS BIGINT) AS qq
               FROM embeddings,
                    UNNEST(generate_series(1, len(embedding))) AS t(i)),
             signs AS (
               SELECT dim0, j,
                      CASE WHEN CAST(('0x' || substr(
                             md5(CAST(j AS VARCHAR) || '|' || CAST(dim0 AS VARCHAR)),
                             1, 15)) AS BIGINT) % 2 = 0
                           THEN 1 ELSE -1 END AS s
               FROM (SELECT DISTINCT dim0 FROM long),
                    UNNEST(generate_series(0, 7)) AS tt(j)),
             pvec AS (
               SELECT vec_id,
                      list(CAST(p AS DOUBLE) ORDER BY j) AS pv
               FROM (SELECT vec_id, j, CAST(sum(qq * s) AS BIGINT) AS p
                     FROM long JOIN signs USING (dim0)
                     GROUP BY vec_id, j)
               GROUP BY vec_id),
             e AS (
               SELECT m.vec_id, CAST(m.embedding AS DOUBLE[]) AS v, p.pv
               FROM embeddings m JOIN pvec p ON m.vec_id = p.vec_id),
             q AS (SELECT vec_id AS query_id, v, pv FROM e WHERE vec_id < 20),
             c AS (SELECT vec_id, v, pv FROM e WHERE vec_id >= 20),
             pairs0 AS (
               SELECT q.query_id,
                      sqrt(list_dot_product(
                        list_transform(list_zip(q.pv, c.pv),
                          x -> CAST(x[1] - x[2] AS DOUBLE)),
                        list_transform(list_zip(q.pv, c.pv),
                          x -> CAST(x[1] - x[2] AS DOUBLE)))) AS dp,
                      sqrt(list_dot_product(
                        list_transform(list_zip(q.v, c.v),
                          x -> x[1] - x[2]),
                        list_transform(list_zip(q.v, c.v),
                          x -> x[1] - x[2]))) AS dorig
               FROM q, c),
             pairs AS (
               SELECT query_id,
                      CAST(floor(dp / ((sqrt(8.0) * 1000000.0) * dorig)
                        * 1000000) AS BIGINT) AS r_ppm
               FROM pairs0 WHERE dorig > 0)
             SELECT query_id, count(*) AS n_pairs,
                    CAST(sum(r_ppm) AS BIGINT) // count(*) AS mean_ratio_ppm,
                    count(*) FILTER (abs(r_ppm - 1000000) <= 500000)
                      AS n_within50
             FROM pairs GROUP BY query_id ORDER BY query_id""")),

    // TF-IDF: tokens exploded once; document frequency from the same
    // exploded relation; top-3 most characteristic tokens per doc.
    Spec("q_tfidf",
      (s, dir) => {
        val docs = t(s, dir, "documents")
        val toks = docs.select(col("doc_id"),
          explode(split(col("text"), " ")).as("token"))
        val tf = toks.groupBy(col("doc_id"), col("token"))
          .agg(count(lit(1)).as("tf"))
        val df_ = toks.select(col("doc_id"), col("token")).distinct()
          .groupBy(col("token")).agg(count(lit(1)).as("df"))
        val n = docs.select(countDistinct(col("doc_id")).as("n_docs"))
        val w = Window.partitionBy(col("doc_id"))
          .orderBy(col("tfidf").desc, col("token"))
        val scored = tf.join(df_, "token")
          .crossJoin(broadcast(n))
          .withColumn("tfidf",
            col("tf") * log(col("n_docs").cast("double") / col("df")))
        // top-3 per doc via the native TopKPerKey: the window that
        // remains ranks ≤ 3 rows per doc, not every token
        ScaleOps.topKPerKey(scored, Seq(col("doc_id")),
            Seq(col("tfidf").desc, col("token")), 3)
          .withColumn("rank", row_number().over(w))
          .select(col("doc_id"), col("rank").cast("long").as("rank"),
            col("token"), round(col("tfidf"), 4).as("tfidf"))
          .orderBy(col("doc_id"), col("rank"))
      },
      Some("""WITH toks AS (
               SELECT doc_id, unnest(string_split(text, ' ')) AS token
               FROM documents),
             tf AS (SELECT doc_id, token, count(*) AS tf
                    FROM toks GROUP BY doc_id, token),
             df AS (SELECT token, count(*) AS df FROM
                      (SELECT DISTINCT doc_id, token FROM toks) GROUP BY token),
             n AS (SELECT count(DISTINCT doc_id) AS n_docs FROM documents),
             scored AS (
               SELECT tf.doc_id, tf.token,
                      tf.tf * ln(CAST(n.n_docs AS DOUBLE) / df.df) AS tfidf
               FROM tf JOIN df ON tf.token = df.token CROSS JOIN n),
             ranked AS (
               SELECT doc_id, token, tfidf,
                      row_number() OVER (PARTITION BY doc_id
                        ORDER BY tfidf DESC, token) AS rank
               FROM scored)
             SELECT doc_id, CAST(rank AS BIGINT) AS rank, token,
                    round(tfidf, 4) AS tfidf
             FROM ranked WHERE rank <= 3 ORDER BY doc_id, rank""")),

    // Maximal-marginal-relevance diversified top-k (Carbonell &
    // Goldstein 1998) — the retrieval-side answer to near-duplicate
    // result lists: after the corpus-scale relevance pass prunes to a
    // BOUNDED candidate set per query (native TopKPerKey, ≤8 rows),
    // K−1 greedy rounds re-rank by λ·rel − (1−λ)·max sim-to-selected.
    // All scoring is integer (floor(cos·10⁴) longs, λ = 0.7 as 7/3
    // integer weights), ties broken on vec_id, so the greedy chain is
    // engine-replayable — the oracle unrolls all three selection
    // rounds as CTEs. Scale: the greedy rounds touch only the
    // candidate table (queries × 8 rows); corpus cost is exactly the
    // one brute/ANN relevance leg, whatever index supplies it.
    Spec("q_mmr_diversify",
      (s, dir) => {
        val e = t(s, dir, "embeddings")
        val qraw = e.filter(col("vec_id") >= 8 && col("vec_id") < 13)
          .select(col("vec_id").as("query_id"), col("embedding").as("qv"))
        val craw = e.filter(col("vec_id") >= 20)
          .select(col("vec_id"), col("embedding").as("cv"))
        val cand = ScaleOps.topKPerKey(
          craw.crossJoin(broadcast(qraw))
            .select(col("query_id"), col("vec_id"), col("cv"),
              floor(cosine(col("qv"), col("cv")) * 10000).cast("long")
                .as("rel")),
          Seq(col("query_id")), Seq(col("rel").desc, col("vec_id")), 8)
        val wPick = Window.partitionBy(col("query_id"))
          .orderBy(col("mmr_scaled").desc, col("vec_id"))
        var selected = cand
          .withColumn("mmr_scaled", col("rel") * 7)
          .withColumn("rn", row_number().over(wPick))
          .filter(col("rn") === 1)
          .select(col("query_id"), lit(1L).as("rank"), col("vec_id"),
            col("cv"), col("mmr_scaled"))
        var remaining = cand.join(
          selected.select(col("query_id"), col("vec_id")),
          Seq("query_id", "vec_id"), "left_anti")
        for (r <- 2 to 3) {
          val sims = remaining
            .join(selected.select(col("query_id"), col("cv").as("sv")),
              "query_id")
            .groupBy(col("query_id"), col("vec_id"))
            .agg(max(floor(cosine(col("cv"), col("sv")) * 10000)
              .cast("long")).as("maxsim"))
          val pick = remaining.join(sims, Seq("query_id", "vec_id"))
            .withColumn("mmr_scaled",
              col("rel") * 7 - col("maxsim") * 3)
            .withColumn("rn", row_number().over(wPick))
            .filter(col("rn") === 1)
            .select(col("query_id"), lit(r.toLong).as("rank"),
              col("vec_id"), col("cv"), col("mmr_scaled"))
          selected = selected.unionByName(pick)
          remaining = remaining.join(
            pick.select(col("query_id"), col("vec_id")),
            Seq("query_id", "vec_id"), "left_anti")
        }
        selected
          .select(col("query_id"), col("rank"), col("vec_id"),
            col("mmr_scaled"))
          .orderBy(col("query_id"), col("rank"))
      },
      Some("""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v
                        FROM embeddings),
             q AS (SELECT vec_id AS query_id, v AS qv FROM e
                   WHERE vec_id >= 8 AND vec_id < 13),
             c AS (SELECT vec_id, v AS cv FROM e WHERE vec_id >= 20),
             sc AS (SELECT query_id, vec_id, cv,
                      CAST(floor(list_dot_product(qv, cv)
                        / (sqrt(list_dot_product(qv, qv))
                           * sqrt(list_dot_product(cv, cv)))
                        * 10000) AS BIGINT) AS rel
                    FROM q CROSS JOIN c),
             cand AS (SELECT query_id, vec_id, cv, rel FROM (
                        SELECT *, row_number() OVER (PARTITION BY query_id
                          ORDER BY rel DESC, vec_id) AS rn FROM sc) x
                      WHERE rn <= 8),
             s1 AS (SELECT query_id, vec_id, cv, rel,
                           7 * rel AS mmr_scaled FROM (
                      SELECT *, row_number() OVER (PARTITION BY query_id
                        ORDER BY rel DESC, vec_id) AS rn FROM cand) x
                    WHERE rn = 1),
             m2 AS (SELECT cand.query_id, cand.vec_id, cand.cv, cand.rel,
                           7 * cand.rel - 3 * CAST(floor(
                             list_dot_product(cand.cv, s1.cv)
                             / (sqrt(list_dot_product(cand.cv, cand.cv))
                                * sqrt(list_dot_product(s1.cv, s1.cv)))
                             * 10000) AS BIGINT) AS mmr_scaled
                    FROM cand JOIN s1 ON cand.query_id = s1.query_id
                      AND cand.vec_id <> s1.vec_id),
             s2 AS (SELECT query_id, vec_id, cv, rel, mmr_scaled FROM (
                      SELECT *, row_number() OVER (PARTITION BY query_id
                        ORDER BY mmr_scaled DESC, vec_id) AS rn FROM m2) x
                    WHERE rn = 1),
             sel12 AS (SELECT query_id, vec_id, cv FROM s1
                       UNION ALL SELECT query_id, vec_id, cv FROM s2),
             m3 AS (SELECT cand.query_id, cand.vec_id, cand.rel,
                           max(CAST(floor(list_dot_product(cand.cv, s.cv)
                             / (sqrt(list_dot_product(cand.cv, cand.cv))
                                * sqrt(list_dot_product(s.cv, s.cv)))
                             * 10000) AS BIGINT)) AS maxsim
                    FROM cand JOIN sel12 s ON cand.query_id = s.query_id
                    WHERE NOT EXISTS (SELECT 1 FROM sel12 z
                      WHERE z.query_id = cand.query_id
                        AND z.vec_id = cand.vec_id)
                    GROUP BY cand.query_id, cand.vec_id, cand.rel),
             s3 AS (SELECT query_id, vec_id,
                           7 * rel - 3 * maxsim AS mmr_scaled FROM (
                      SELECT *, row_number() OVER (PARTITION BY query_id
                        ORDER BY 7 * rel - 3 * maxsim DESC, vec_id) AS rn
                      FROM m3) x WHERE rn = 1)
             SELECT query_id, CAST(1 AS BIGINT) AS rank, vec_id, mmr_scaled
             FROM s1
             UNION ALL SELECT query_id, 2, vec_id, mmr_scaled FROM s2
             UNION ALL SELECT query_id, 3, vec_id, mmr_scaled FROM s3
             ORDER BY query_id, rank"""))
  )
}
