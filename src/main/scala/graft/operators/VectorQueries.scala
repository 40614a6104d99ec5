package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.functions.VectorFunctions.asDouble
import SimilarityQueries.K
import ExtraSimilarityQueries.{bruteL2Sql, bruteTopK, recallSql, recallTable,
  topKSql}

/** Vector-column analytics over `embeddings` (SURVEY §2.9 X2
  * adjacency): the aggregate/transform ops a training pipeline runs on
  * embedding columns besides similarity search — per-class centroids
  * and scalar quantization.
  *
  * Scale shape: both queries explode the vector ONCE into (row, dim,
  * value) and work in long form. Centroids shuffle on (label, dim) —
  * cardinality #labels × 64, a tiny aggregate no matter the corpus
  * size. Quantization joins the corpus against a 64-row per-dim stats
  * table — broadcast, no fact shuffle.
  */
object VectorQueries {
  import Q._

  /** Parameterized PQ building blocks, shared by the `q_ann_pq_recall`
    * gate (m = 8, subDim = 8 — the oracle-replayed operating point)
    * and the ANN operating curve, which swept `m` over the SAME
    * production path (`bench/ann_curve_10x_r14.jsonl`). */
  private[graft] def pqSqd(a: org.apache.spark.sql.Column,
                           b: org.apache.spark.sql.Column): org.apache.spark.sql.Column = {
    val d = graft.functions.VectorFunctions.dot _
    d(a, a) - lit(2) * d(a, b) + d(b, b)
  }

  /** Subvector explode: (idAs, m, sv) — `m` subspaces of `subDim`
    * dims each over the `embedding` column. */
  private[graft] def pqSub(df: org.apache.spark.sql.DataFrame, idAs: String,
                           m: Int, subDim: Int): org.apache.spark.sql.DataFrame =
    df.select(col("vec_id").as(idAs), expr(
      s"""inline(transform(sequence(0, ${m - 1}), mi -> named_struct(
           'm', CAST(mi AS BIGINT),
           'sv', slice(CAST(embedding AS ARRAY<DOUBLE>), mi*$subDim+1, $subDim))))"""))

  /** Code assignment: arg-min sub-centroid per (id, m) as a PARTIAL
    * aggregate (min over a (dist, code) struct — state never leaves
    * the mapper). `cb` = (cb_m, code, cv). */
  private[graft] def pqCodes(sub: org.apache.spark.sql.DataFrame,
                             cb: org.apache.spark.sql.DataFrame,
                             idCol: String): org.apache.spark.sql.DataFrame =
    sub.join(broadcast(cb), col("m") === col("cb_m"))
      .withColumn("__d", pqSqd(col("sv"), col("cv")))
      .groupBy(col(idCol), col("m"))
      .agg(min(struct(col("__d").as("d"), col("code").as("c"))).as("mn"))
      .select(col(idCol), col("m"), col("mn.c").as("code"))

  /** Per-query ADC lookup table: floor-scaled integer-micros partial
    * squared distances per (keys, m, code) — order-free exact sums. */
  private[graft] def pqLut(sub: org.apache.spark.sql.DataFrame,
                           cb: org.apache.spark.sql.DataFrame,
                           keys: String*): org.apache.spark.sql.DataFrame =
    sub.join(broadcast(cb), col("m") === col("cb_m"))
      .select(keys.map(col) ++ Seq(col("m"), col("code"),
        floor(pqSqd(col("sv"), col("cv")) * 1000000).cast("long").as("pd")): _*)

  /** The sampled PQ codebook: each `sub` subvector of vec_id < 36 is
    * one code, (cb_m, code = its vec_id, cv). */
  private[graft] def sampledCodebook(sub: DataFrame): DataFrame =
    sub.filter(col("vec_id") < 36)
      .select(col("m").as("cb_m"), col("vec_id").as("code"),
        col("sv").as("cv"))

  /** ADC search: `pairs` (query_id, vec_id, m, code, …) joined to the
    * broadcast [[pqLut]] on `keys`, the integer-micros partial
    * distances summed per (query_id, vec_id) as `adc`, and the K
    * nearest per query (ties on vec_id) kept through the native
    * TopKPerKey. Output (query_id, vec_id, adc). */
  private[graft] def adcTopK(pairs: DataFrame, lut: DataFrame,
                             keys: Seq[String]): DataFrame =
    ScaleOps.topKPerKey(
      pairs.join(broadcast(lut), keys)
        .groupBy(col("query_id"), col("vec_id"))
        .agg(sum(col("pd")).as("adc")),
      Seq(col("query_id")), Seq(col("adc"), col("vec_id")), K)

  /** The PQ recall audit of the three PQ rows: the ADC top-K of the
    * `querySub` queries over `corpusSub` encoded against `cb`, scored
    * against the exact-L2 top-K of the raw vectors (queries
    * vec_id < 20, corpus vec_id ≥ 20). */
  private def pqRecall(e: DataFrame, corpusSub: DataFrame,
                       querySub: DataFrame, cb: DataFrame): DataFrame =
    recallTable(
      bruteTopK(
        e.filter(col("vec_id") < 20).select(col("vec_id").as("query_id"),
          asDouble(col("embedding")).as("qv")),
        e.filter(col("vec_id") >= 20).select(col("vec_id"),
          asDouble(col("embedding")).as("cv")),
        pqSqd(col("qv"), col("cv")), ascending = true),
      adcTopK(pqCodes(corpusSub, cb, "vec_id"),
        pqLut(querySub, cb, "query_id"), Seq("m", "code")))

  /** DuckDB replay of [[pqSub]] at m = 8, subDim = 8: CTE `sub`. */
  private[operators] final val subSql =
    """sub AS (SELECT vec_id, CAST(mi AS BIGINT) AS m,
                      v[mi*8+1 : mi*8+8] AS sv
               FROM e, UNNEST(generate_series(0, 7)) AS t(mi))"""

  /** DuckDB replay of [[sampledCodebook]]: CTE `name` over the `sub`
    * rows passing `flt`. */
  private[operators] def sampledCbSql(name: String, sub: String,
                                      flt: String): String =
    s"$name AS (SELECT m, vec_id AS code, sv AS cv FROM $sub WHERE $flt)"

  /** DuckDB replay of [[pqSqd]]. */
  private def sqdSql(a: String, b: String): String =
    s"list_dot_product($a, $a) - 2 * list_dot_product($a, $b) + list_dot_product($b, $b)"

  private def where(flt: String): String =
    if (flt.isEmpty) "" else s" WHERE $flt"

  /** DuckDB replay of [[pqCodes]]' arg-min (ties on code) for the `sub`
    * rows passing `flt` against codebook CTE `cb`; `keepSv` also keeps
    * each subvector (the training chain's assign step). */
  private def nearestCodeSql(sub: String, cb: String, flt: String,
                             keepSv: Boolean = false): String = {
    val (sv, ssv) = if (keepSv) (", sv", ", s.sv") else ("", "")
    s"""SELECT vec_id, m, code$sv FROM (
          SELECT s.vec_id, s.m, c.code$ssv, row_number() OVER (
              PARTITION BY s.vec_id, s.m ORDER BY
                ${sqdSql("s.sv", "c.cv")}, c.code) AS rn
          FROM $sub s JOIN $cb c ON s.m = c.m${where(flt)}) x WHERE rn = 1"""
  }

  /** DuckDB replay of [[pqCodes]] and [[pqLut]] against codebook CTE
    * `cb`: CTE `codes` over the `codeSub` rows passing `codeFlt`, CTE
    * `lut` over the `lutSub` rows passing `lutFlt` (their vec_id is
    * the query_id; `lutKey` lists further columns carried as keys). */
  private[operators] def codesLutSql(cb: String, codeSub: String,
      codeFlt: String, lutSub: String, lutFlt: String,
      lutKey: String = ""): String =
    s"""codes AS (${nearestCodeSql(codeSub, cb, codeFlt)}),
       lut AS (
         SELECT s.vec_id AS query_id$lutKey, s.m, c.code,
                CAST(floor((${sqdSql("s.sv", "c.cv")}) * 1000000)
                  AS BIGINT) AS pd
         FROM $lutSub s JOIN $cb c ON s.m = c.m${where(lutFlt)})"""

  /** DuckDB replay of [[adcTopK]]'s sum: CTE `adc` over `codes` ⋈
    * `lut`. With `candKeys` it first builds CTE `cand`, the
    * (`candKeys`, vec_id) pairs the probed `cells` admit for each
    * `queries` row, and sums only over those, the LUT joined on
    * `candKeys` too; without, every code is scored. */
  private[operators] def adcSql(candKeys: Seq[String] = Nil): String = {
    val cand =
      if (candKeys.isEmpty) ""
      else s"""cand AS (SELECT ${candKeys.map("q." + _).mkString(", ")}, c.vec_id
                FROM queries q JOIN cells c ON q.q_cent = c.cent_id),
            """
    val from =
      if (candKeys.isEmpty) "codes cd"
      else "cand x JOIN codes cd ON x.vec_id = cd.vec_id"
    val on = candKeys.map(k => s"l.$k = x.$k AND ").mkString
    s"""${cand}adc AS (
         SELECT l.query_id, cd.vec_id, sum(l.pd) AS adc
         FROM $from
         JOIN lut l ON ${on}cd.m = l.m AND cd.code = l.code
         GROUP BY l.query_id, cd.vec_id)"""
  }

  /** DuckDB replay of an ADC recall audit's tail: [[adcSql]], its top-K
    * CTE `pq`, the exact-L2 `brute` CTE for the queries passing
    * `queryFlt`, and the recall table. */
  private[operators] def adcRecallSql(candKeys: Seq[String],
                                      queryFlt: String): String =
    s"""${adcSql(candKeys)},
       ${topKSql("pq", "c.query_id", "c.adc", "adc c")},
       ${bruteL2Sql(queryFlt)}
       ${recallSql("pq")}"""

  /** DuckDB replay of [[pqRecall]] over the subvector CTE `sub` and
    * codebook CTE `cb`. */
  private def pqRecallSql(sub: String, cb: String): String =
    s"""${codesLutSql(cb, sub, "s.vec_id >= 20", sub, "s.vec_id < 20")},
       ${adcRecallSql(Nil, "q.vec_id < 20")}"""

  /** Lloyd iterations of the trained-codebook row's [[pqTrain]]; its
    * oracle's assign/mean chain ([[pqTrainChainSql]]) is generated
    * from the same constant. */
  private final val PqTrainIters = 2

  /** DuckDB replay of [[pqTrain]] from the codebook CTE `cb0`: `a{i}`
    * assigns the corpus subvectors with the encoder's arg-min, `cb{i}`
    * is the micros-floored element-wise mean per (m, code), an emptied
    * code keeping its previous centroid; ends in CTE
    * `cb{PqTrainIters}`. */
  private def pqTrainChainSql: String =
    (1 to PqTrainIters).map { i =>
      s"""a$i AS (${nearestCodeSql("sub", s"cb${i - 1}", "s.vec_id >= 20",
          keepSv = true)}),
         cb$i AS (
           SELECT p.m, p.code, coalesce(mm.cv, p.cv) AS cv
           FROM cb${i - 1} p LEFT JOIN (
             SELECT m, code, list(mv ORDER BY pos) AS cv FROM (
               SELECT m, code, pos, floor(avg(val) * 1000000) / 1000000 AS mv FROM (
                 SELECT m, code, unnest(sv) AS val,
                        unnest(range(1, len(sv) + 1)) AS pos
                 FROM a$i) q1 GROUP BY m, code, pos) q2
             GROUP BY m, code) mm
           ON p.m = mm.m AND p.code = mm.code)"""
    }.mkString(",\n")

  /** Per-subspace Lloyd refinement of a PQ codebook — the TRAINED
    * alternative to the sampled first-ks convention, after the r13
    * ks sweep showed sampling saturates (16→256 codes bought +0.4 pts
    * recall at 10×, `bench/ann_curve_10x_r13.jsonl`): assign every
    * corpus subvector to its nearest sub-centroid (the same arg-min
    * [[pqCodes]] the encoder runs), recompute each (m, code)
    * sub-centroid as the element-wise mean of its cell; emptied codes
    * keep their previous centroid. Cost shape at 100 TB matches the
    * IVF trainer: per iteration one broadcast-assign pass over the
    * subvectors plus an (m, code, pos)-keyed mean whose output is
    * m × ks × subDim values — never corpus-sized. The result is
    * driver-materialized (KBs) like [[ExtraSimilarityQueries]]'
    * Lloyd codebook so consumer branches don't re-run the lineage.
    * `cb0` = (cb_m, code, cv double[]). */
  private[graft] def pqTrain(corpusSub: org.apache.spark.sql.DataFrame,
                             cb0: org.apache.spark.sql.DataFrame,
                             iters: Int): org.apache.spark.sql.DataFrame = {
    val spark = corpusSub.sparkSession
    import spark.implicits._
    // driver-materialize the codebook after EVERY iteration, not just
    // at the end (r15): each loop pass broadcasts `cb` twice (assign +
    // join-back), and an unmaterialized cb_i re-executes the whole
    // cb_{i-1} chain inside each broadcast — measured EXPONENTIAL in
    // iters on the ceiling sweep (2 iters 7.9 s, 4 iters 31.8 s,
    // 8 iters >8 min before the fix). The codebook is ks × m rows of
    // subDim doubles — KBs of legitimate driver state, same contract
    // as the Lloyd codebook.
    def materialize(df: org.apache.spark.sql.DataFrame)
        : org.apache.spark.sql.DataFrame =
      df.select(col("cb_m"), col("code"), col("cv")).collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getSeq[Double](2)))
        .toSeq.toDF("cb_m", "code", "cv")
    // Measured NON-optimization, recorded (r20): pinning corpusSub
    // across the training passes (materializePinned, plan bytes × 3)
    // read −5% at gate but +8% on the 10× replica's trained row
    // (5.88 → 6.34 s, both windows quiet, tmp/b_annpin10x_*) — the
    // columnar encode of the m-exploded struct/double[] table costs
    // more than the per-iteration rescans it saves, the same
    // inversion the r19 prefix self-join pin measured. The plain
    // (vec_id, ev) pin inside lloydTrain (flat 10×, −8% gate on the
    // residual row) is where the family's reuse win actually lives.
    var cb = cb0
    for (_ <- 0 until iters) {
      val assigned = pqCodes(corpusSub, cb, "vec_id")
      val means = assigned.join(corpusSub, Seq("vec_id", "m"))
        .select(col("m"), col("code"),
          posexplode(col("sv")).as(Seq("pos", "val")))
        .groupBy(col("m"), col("code"), col("pos"))
        // snap each mean to the micros grid (ADVICE r13): avg over
        // doubles is shuffle-merge-order sensitive in the last ULP,
        // and a raw double feeding the next iteration's arg-min (or
        // the final LUT's floor(x*1e6)) can flip a near-tie across
        // runs/engines — the same order-free integer convention pqLut
        // already uses keeps the trained codebook bit-stable
        .agg((floor(avg(col("val")) * 1e6) / 1e6).as("v"))
        .groupBy(col("m"), col("code"))
        .agg(transform(array_sort(collect_list(struct(col("pos"), col("v")))),
          x => x.getField("v")).as("cv_new"))
        .select(col("m").as("mm_m"), col("code").as("mm_code"), col("cv_new"))
      cb = materialize(cb.join(means,
          col("cb_m") === col("mm_m") && col("code") === col("mm_code"),
          "left")
        .select(col("cb_m"), col("code"),
          coalesce(col("cv_new"), col("cv")).as("cv")))
    }
    // iters == 0 keeps the driver-materialized contract too
    if (iters == 0) materialize(cb) else cb
  }

  val specs: Seq[Spec] = Seq(

    // Per-label mean embedding (the k-means "update centroids" step /
    // class prototypes). Long-form output (label, dim, value): the
    // driver gate needs scalar cells. floor4 instead of round: the two
    // engines accumulate the mean in different orders, floor of the
    // same-to-1e-15 double is stable where round-at-half is not.
    Spec("q_vector_centroids",
      (s, dir) => t(s, dir, "embeddings")
        .select(col("label"), posexplode(col("embedding")).as(Seq("pos", "v")))
        .groupBy(col("label"), (col("pos") + 1).cast("long").as("dim"))
        .agg((floor(avg(col("v").cast("double")) * 10000) / 10000)
          .as("centroid"))
        .orderBy(col("label"), col("dim")),
      Some("""SELECT label, CAST(i AS BIGINT) AS dim,
                    floor(avg(CAST(embedding[i] AS DOUBLE)) * 10000) / 10000
                      AS centroid
             FROM embeddings,
                  UNNEST(generate_series(1, len(embedding))) AS t(i)
             GROUP BY label, i ORDER BY label, dim""")),

    // Int8 scalar quantization: per-dimension min/max over the corpus
    // (64-row stats table, broadcast), each value mapped to
    // floor((v-min)/(max-min)*254)-127 ∈ [-127,127]. min/max are exact
    // float selections (no accumulation), so the arithmetic is
    // bit-identical across engines — exact oracle, no rounding fudge.
    // A constant dimension (d_max = d_min) would be 0/0 = NaN, which
    // the engines cast differently (Spark NULL, DuckDB error) — both
    // sides pin it to q = -127 explicitly.
    Spec("q_vector_quantize",
      (s, dir) => {
        val long = t(s, dir, "embeddings")
          .select(col("vec_id"), posexplode(col("embedding")).as(Seq("pos", "v")))
          .select(col("vec_id"), (col("pos") + 1).cast("long").as("dim"),
            col("v").cast("double").as("v"))
        val stats = long.groupBy(col("dim").as("s_dim"))
          .agg(min(col("v")).as("d_min"), max(col("v")).as("d_max"))
        long.filter(col("vec_id") < 20)
          .join(broadcast(stats), col("dim") === col("s_dim"))
          .select(col("vec_id"), col("dim"),
            when(col("d_max") === col("d_min"), lit(-127L))
              .otherwise((floor((col("v") - col("d_min")) /
                (col("d_max") - col("d_min")) * 254) - 127).cast("long"))
              .as("q"))
          .orderBy(col("vec_id"), col("dim"))
      },
      Some("""WITH long AS (
               SELECT vec_id, CAST(i AS BIGINT) AS dim,
                      CAST(embedding[i] AS DOUBLE) AS v
               FROM embeddings,
                    UNNEST(generate_series(1, len(embedding))) AS t(i)),
             stats AS (
               SELECT dim, min(v) AS d_min, max(v) AS d_max
               FROM long GROUP BY dim)
             SELECT vec_id, dim,
                    CASE WHEN d_max = d_min THEN CAST(-127 AS BIGINT)
                         ELSE CAST(floor((v - d_min) / (d_max - d_min) * 254)
                                   - 127 AS BIGINT) END AS q
             FROM long JOIN stats USING (dim)
             WHERE vec_id < 20 ORDER BY vec_id, dim""")),

    // Johnson–Lindenstrauss random projection 64 → 8 dims — the
    // standard pre-ANN/clustering dimensionality reduction. The native
    // expression fuses the whole matrix multiply into ONE map-only
    // per-row pass (the relational formulation below, which the oracle
    // replays, explodes n·d·k rows through a shuffle — correct but 8×
    // the data in motion at corpus scale). Elements are floored to
    // integer micros and the Rademacher signs come from md5("j|i")
    // parity, so every addend is an integer and both engines agree
    // bit-for-bit with no float-order hazard. Long-form output: the
    // driver gate needs scalar cells.
    Spec("q_vector_project",
      (s, dir) => {
        import graft.functions.VectorFunctions.jlProject
        t(s, dir, "embeddings")
          .select(col("vec_id"),
            posexplode(jlProject(col("embedding"), 8)).as(Seq("j0", "p")))
          .select(col("vec_id"), col("j0").cast("long").as("j"), col("p"))
          .orderBy(col("vec_id"), col("j"))
      },
      Some("""WITH long AS (
               SELECT vec_id, CAST(i AS BIGINT) - 1 AS dim0,
                      CAST(floor(CAST(embedding[i] AS DOUBLE) * 1000000)
                           AS BIGINT) AS q
               FROM embeddings,
                    UNNEST(generate_series(1, len(embedding))) AS t(i)),
             signs AS (
               SELECT dim0, j,
                      CASE WHEN CAST(('0x' || substr(
                             md5(CAST(j AS VARCHAR) || '|' || CAST(dim0 AS VARCHAR)),
                             1, 15)) AS BIGINT) % 2 = 0
                           THEN 1 ELSE -1 END AS s
               FROM (SELECT DISTINCT dim0 FROM long),
                    UNNEST(generate_series(0, 7)) AS tt(j))
             SELECT vec_id, j, CAST(sum(q * s) AS BIGINT) AS p
             FROM long JOIN signs USING (dim0)
             GROUP BY vec_id, j ORDER BY vec_id, j""")),

    // Product quantization (PQ) — the compression half of the
    // canonical IVF-PQ stack (Jégou et al. 2011): split each 64-dim
    // vector into M=8 contiguous 8-dim subvectors and replace each
    // subvector with the id of its nearest sub-centroid, turning a
    // 256-byte float vector into an M-byte code. Codebook = fixed
    // deterministic init (the subvectors of the first 16 corpus
    // vectors — the same init convention the IVF trainer refines).
    // The arg-min is a PARTIAL AGGREGATE (min over a (dist, code)
    // struct — lexicographic, ties on code), not a window: per-vector
    // state never leaves the mapper. 100 TB: the codebook is M×Ks
    // subvectors (KBs, broadcast); assignment is one map-side pass +
    // one (vec_id, m)-keyed agg whose output is M small ints per
    // vector — the corpus floats are read once and never shuffle.
    Spec("q_vector_pq",
      (s, dir) => {
        val sub = t(s, dir, "embeddings").select(col("vec_id"), expr(
          """inline(transform(sequence(0, 7), mi -> named_struct(
               'm', CAST(mi AS BIGINT),
               'sv', slice(CAST(embedding AS ARRAY<DOUBLE>), mi*8+1, 8))))"""))
        val cb = sub.filter(col("vec_id") < 16)
          .select(col("m").as("cb_m"), col("vec_id").as("code"),
            col("sv").as("cv"))
        val d = graft.functions.VectorFunctions.dot _
        sub.join(broadcast(cb), col("m") === col("cb_m"))
          .withColumn("__d",
            d(col("sv"), col("sv")) - lit(2) * d(col("sv"), col("cv"))
              + d(col("cv"), col("cv")))
          .groupBy(col("vec_id"), col("m"))
          .agg(min(struct(col("__d").as("d"), col("code").as("c"))).as("mn"))
          .select(col("vec_id"), col("m"), col("mn.c").as("code"))
          .orderBy(col("vec_id"), col("m"))
      },
      Some("""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v
                        FROM embeddings),
             sub AS (SELECT vec_id, CAST(mi AS BIGINT) AS m,
                            v[mi*8+1 : mi*8+8] AS sv
                     FROM e, UNNEST(generate_series(0, 7)) AS t(mi)),
             cb AS (SELECT m, vec_id AS code, sv AS cv FROM sub
                    WHERE vec_id < 16),
             d AS (SELECT s.vec_id, s.m, cb.code,
                          list_dot_product(s.sv, s.sv)
                            - 2 * list_dot_product(s.sv, cb.cv)
                            + list_dot_product(cb.cv, cb.cv) AS dist
                   FROM sub s JOIN cb ON s.m = cb.m),
             r AS (SELECT vec_id, m, code, row_number() OVER (
                     PARTITION BY vec_id, m ORDER BY dist, code) AS rn
                   FROM d)
             SELECT vec_id, m, code FROM r WHERE rn = 1
             ORDER BY vec_id, m""")),

    // PQ asymmetric-distance (ADC) recall audit: score every corpus
    // vector from its M-byte code against each query's precomputed
    // lookup table (per-query: M×Ks partial squared distances), then
    // compare the ADC top-k with the exact-L2 top-k — the metric that
    // prices the compression. Per-subspace distances are floor-scaled
    // to integer micros BEFORE the per-(query, vector) sum, so the sum
    // is order-free and bit-exact cross-engine (a double sum would
    // depend on Spark's partial-aggregation order). 100 TB: the LUT is
    // queries × M × Ks rows (broadcast); the corpus side joins it
    // map-side by (m, code) and the only shuffle is the
    // (query, vector)-keyed integer sum; both top-k legs ride the
    // native TopKPerKey. In the full stack this composes with
    // q_ann_ivf's cell routing so each query scores only its probed
    // cells, not the whole corpus.
    Spec("q_ann_pq_recall",
      (s, dir) => {
        val e = t(s, dir, "embeddings")
        val corpusSub = pqSub(e.filter(col("vec_id") >= 20), "vec_id", 8, 8)
        pqRecall(e, corpusSub,
          pqSub(e.filter(col("vec_id") < 20), "query_id", 8, 8),
          sampledCodebook(corpusSub))
      },
      Some(s"""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v
                        FROM embeddings),
             $subSql,
             ${sampledCbSql("cb", "sub", "vec_id >= 20 AND vec_id < 36")},
             ${pqRecallSql("sub", "cb")}""")),

    // PQ recall with the VARIANCE-BALANCED (snake) subspace
    // permutation (r16, `bench/clustered_ann_r16.jsonl`): plain
    // contiguous slicing hands subspace 0 the highest-variance dims
    // and the last subspace the lowest, so on any decaying-spectrum
    // corpus half the codebook capacity quantizes noise — the probe
    // measured +0.33 recall@10 at m=8 from balancing alone, with the
    // learned rotation adding nothing and the boustrophedon ("snake")
    // deal within ±0.02 of greedy bin-packing. The permutation is
    // derived from the CORPUS: per-dimension variance snapped to
    // integer micros (the codebase's cross-engine float convention),
    // dims ranked (variance desc, dim asc), dealt m-at-a-time with
    // alternating direction — pure rank arithmetic, which is what
    // makes the full derivation DuckDB-replayable below (the greedy
    // packer's sequential bin state is not). On this near-isotropic
    // gate corpus the permutation is recall-neutral by measurement
    // (the r15 flat-spectrum null); the row gates the DERIVATION and
    // the permuted encode path bit-exactly, the probe supplies the
    // geometry where it pays (BASELINE.md "OPQ decomposed on
    // correlated residual geometries, r16"). Scale shape:
    // the variance pass is one 64-key aggregate; the permutation is
    // driver state (64 ints); everything downstream is the gated PQ
    // path unchanged.
    Spec("q_ann_pq_balanced_recall",
      (s, dir) => {
        val e = t(s, dir, "embeddings")
        val corpusRaw = e.filter(col("vec_id") >= 20)
        // per-dim variance over the corpus, micros-snapped, driver-
        // materialized (64 longs) — then the snake deal
        val dv = corpusRaw
          .select(posexplode(asDouble(col("embedding"))).as(Seq("pos", "x")))
          .groupBy("pos")
          .agg(floor((avg(col("x") * col("x"))
            - avg(col("x")) * avg(col("x"))) * 1e6).cast("long").as("v"))
          .collect().map(r => (r.getInt(0), r.getLong(1)))
        val m = 8
        val subDim = 8
        val bins = Array.fill(m)(List.empty[Int])
        dv.sortBy { case (pos, v) => (-v, pos) }.zipWithIndex.foreach {
          case ((pos, _), r) =>
            val (round, k) = (r / m, r % m)
            val b = if (round % 2 == 0) k else m - 1 - k
            bins(b) = bins(b) :+ pos
        }
        val perm = bins.toSeq.flatten // bin-major, round order within
        def permuted(df: DataFrame) =
          df.select(col("vec_id"),
            array(perm.map(p =>
              col("embedding").getItem(p).cast("double")): _*)
              .as("embedding"))
        val corpusSub = pqSub(permuted(corpusRaw), "vec_id", m, subDim)
        // brute truth on the ORIGINAL vectors (inside pqRecall): the
        // permutation is orthogonal, so exact L2 and its top-k are
        // untouched
        pqRecall(e, corpusSub,
          pqSub(permuted(e.filter(col("vec_id") < 20)), "query_id", m, subDim),
          sampledCodebook(corpusSub))
      },
      Some(s"""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v
                        FROM embeddings),
             dv AS (
               SELECT CAST(i AS INT) AS pos,
                      CAST(floor((avg(v[CAST(i AS INT)] * v[CAST(i AS INT)])
                          - avg(v[CAST(i AS INT)]) * avg(v[CAST(i AS INT)]))
                        * 1000000) AS BIGINT) AS var_m
               FROM e, UNNEST(generate_series(1, 64)) AS t(i)
               WHERE vec_id >= 20 GROUP BY i),
             ranked AS (
               SELECT pos, row_number() OVER (ORDER BY var_m DESC, pos) AS r
               FROM dv),
             perm AS (
               SELECT pos, (r - 1) // 8 AS rnd,
                      CASE WHEN ((r - 1) // 8) % 2 = 0 THEN (r - 1) % 8
                           ELSE 7 - ((r - 1) % 8) END AS bin
               FROM ranked),
             sub AS (
               SELECT e.vec_id, CAST(p.bin AS BIGINT) AS m,
                      list(e.v[p.pos] ORDER BY p.rnd) AS sv
               FROM e, perm p GROUP BY e.vec_id, p.bin),
             ${sampledCbSql("cb", "sub", "vec_id >= 20 AND vec_id < 36")},
             ${pqRecallSql("sub", "cb")}""")),

    // TRAINED-codebook PQ recall audit: identical search to
    // q_ann_pq_recall but the codebook is refined by PqTrainIters
    // per-subspace Lloyd iterations ([[pqTrain]]) from the same sampled
    // init — the estimator the r13 ks sweep identified as the real
    // next knob (sampling saturated: 16→256 codes bought +0.4 pts).
    // The oracle replays every training iteration as a CTE pair
    // generated from the same constant ([[pqTrainChainSql]]: assign
    // with the arg-min the encoder runs, element-wise mean per
    // (m, code), emptied codes keep their previous centroid — the IVF
    // oracle's Lloyd chain keyed by (m, code) instead of cent_id), so
    // the trained codebook itself is gate-checked, not just the
    // search over it.
    Spec("q_ann_pq_trained_recall",
      (s, dir) => {
        val e = t(s, dir, "embeddings")
        val corpusSub = pqSub(e.filter(col("vec_id") >= 20), "vec_id", 8, 8)
        pqRecall(e, corpusSub,
          pqSub(e.filter(col("vec_id") < 20), "query_id", 8, 8),
          pqTrain(corpusSub, sampledCodebook(corpusSub), PqTrainIters))
      },
      Some(s"""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v
                        FROM embeddings),
             $subSql,
             ${sampledCbSql("cb0", "sub", "vec_id >= 20 AND vec_id < 36")},
             $pqTrainChainSql,
             ${pqRecallSql("sub", s"cb$PqTrainIters")}"""))
  )
}
