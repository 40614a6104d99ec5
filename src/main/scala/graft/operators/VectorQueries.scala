package graft.operators

import org.apache.spark.sql.functions._

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
    * squared distances per (id, m, code) — order-free exact sums. */
  private[graft] def pqLut(sub: org.apache.spark.sql.DataFrame,
                           cb: org.apache.spark.sql.DataFrame,
                           idCol: String): org.apache.spark.sql.DataFrame =
    sub.join(broadcast(cb), col("m") === col("cb_m"))
      .select(col(idCol), col("m"), col("code"),
        floor(pqSqd(col("sv"), col("cv")) * 1000000).cast("long").as("pd"))

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
        def sqd(a: org.apache.spark.sql.Column, b: org.apache.spark.sql.Column) =
          pqSqd(a, b)
        val corpusSub = pqSub(e.filter(col("vec_id") >= 20), "vec_id", 8, 8)
        val cb = corpusSub.filter(col("vec_id") < 36)
          .select(col("m").as("cb_m"), col("vec_id").as("code"),
            col("sv").as("cv"))
        val codes = pqCodes(corpusSub, cb, "vec_id")
        val lut = pqLut(
          pqSub(e.filter(col("vec_id") < 20), "query_id", 8, 8), cb, "query_id")
        val adc = codes.join(broadcast(lut), Seq("m", "code"))
          .groupBy(col("query_id"), col("vec_id"))
          .agg(sum(col("pd")).as("adc"))
        val pqTop = ScaleOps.topKPerKey(adc,
            Seq(col("query_id")), Seq(col("adc"), col("vec_id")), 5)
          .select(col("query_id").as("query_id_p"), col("vec_id").as("vec_id_p"))
        val qraw = e.filter(col("vec_id") < 20)
          .select(col("vec_id").as("query_id"),
            graft.functions.VectorFunctions.asDouble(col("embedding")).as("qv"))
        val craw = e.filter(col("vec_id") >= 20)
          .select(col("vec_id"),
            graft.functions.VectorFunctions.asDouble(col("embedding")).as("cv"))
        val brute = ScaleOps.topKPerKey(
            craw.crossJoin(broadcast(qraw))
              .select(col("query_id"), col("vec_id"),
                sqd(col("qv"), col("cv")).as("d2")),
            Seq(col("query_id")), Seq(col("d2"), col("vec_id")), 5)
          .select(col("query_id"), col("vec_id"))
        brute.join(pqTop,
            col("query_id") === col("query_id_p") &&
              col("vec_id") === col("vec_id_p"), "left")
          .groupBy(col("query_id"))
          .agg(count(lit(1)).as("n_brute"),
            count(col("vec_id_p")).as("n_recovered"))
          .select(col("query_id"), col("n_brute"), col("n_recovered"),
            round(col("n_recovered").cast("double") / col("n_brute"), 4)
              .as("recall"))
          .orderBy(col("query_id"))
      },
      Some("""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v
                        FROM embeddings),
             sub AS (SELECT vec_id, CAST(mi AS BIGINT) AS m,
                            v[mi*8+1 : mi*8+8] AS sv
                     FROM e, UNNEST(generate_series(0, 7)) AS t(mi)),
             cb AS (SELECT m, vec_id AS code, sv AS cv FROM sub
                    WHERE vec_id >= 20 AND vec_id < 36),
             codes AS (
               SELECT vec_id, m, code FROM (
                 SELECT s.vec_id, s.m, cb.code, row_number() OVER (
                     PARTITION BY s.vec_id, s.m ORDER BY
                       list_dot_product(s.sv, s.sv)
                         - 2 * list_dot_product(s.sv, cb.cv)
                         + list_dot_product(cb.cv, cb.cv), cb.code) AS rn
                 FROM sub s JOIN cb ON s.m = cb.m
                 WHERE s.vec_id >= 20) x WHERE rn = 1),
             lut AS (
               SELECT s.vec_id AS query_id, s.m, cb.code,
                      CAST(floor((list_dot_product(s.sv, s.sv)
                          - 2 * list_dot_product(s.sv, cb.cv)
                          + list_dot_product(cb.cv, cb.cv)) * 1000000)
                        AS BIGINT) AS pd
               FROM sub s JOIN cb ON s.m = cb.m
               WHERE s.vec_id < 20),
             adc AS (
               SELECT l.query_id, c.vec_id, sum(l.pd) AS adc
               FROM codes c JOIN lut l ON c.m = l.m AND c.code = l.code
               GROUP BY l.query_id, c.vec_id),
             pq AS (
               SELECT query_id, vec_id FROM (
                 SELECT query_id, vec_id, row_number() OVER (
                     PARTITION BY query_id ORDER BY adc, vec_id) AS rn
                 FROM adc) y WHERE rn <= 5),
             brute AS (
               SELECT query_id, vec_id FROM (
                 SELECT q.vec_id AS query_id, c.vec_id, row_number() OVER (
                     PARTITION BY q.vec_id ORDER BY
                       list_dot_product(c.v, c.v)
                         - 2 * list_dot_product(q.v, c.v)
                         + list_dot_product(q.v, q.v), c.vec_id) AS rn
                 FROM e q CROSS JOIN e c
                 WHERE q.vec_id < 20 AND c.vec_id >= 20) z WHERE rn <= 5)
             SELECT b.query_id, count(*) AS n_brute,
                    count(p.vec_id) AS n_recovered,
                    round(CAST(count(p.vec_id) AS DOUBLE) / count(*), 4)
                      AS recall
             FROM brute b LEFT JOIN pq p
               ON b.query_id = p.query_id AND b.vec_id = p.vec_id
             GROUP BY b.query_id ORDER BY b.query_id""")),

    // TRAINED-codebook PQ recall audit: identical search to
    // q_ann_pq_recall but the codebook is refined by two per-subspace
    // Lloyd iterations ([[pqTrain]]) from the same sampled init — the
    // estimator the r13 ks sweep identified as the real next knob
    // (sampling saturated: 16→256 codes bought +0.4 pts). The oracle
    // replays BOTH training iterations as unrolled CTEs (assign with
    // the arg-min the encoder runs, element-wise mean per (m, code),
    // emptied codes keep their previous centroid — the IVF oracle's
    // a1/c1/a2/c2 pattern keyed by (m, code) instead of cent_id), so
    // the trained codebook itself is gate-checked, not just the
    // search over it.
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
          .select(posexplode(
            graft.functions.VectorFunctions.asDouble(col("embedding")))
            .as(Seq("pos", "x")))
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
        def permuted(df: org.apache.spark.sql.DataFrame) =
          df.select(col("vec_id"),
            array(perm.map(p =>
              col("embedding").getItem(p).cast("double")): _*)
              .as("embedding"))
        val corpusSub = pqSub(permuted(corpusRaw), "vec_id", m, subDim)
        val cb = corpusSub.filter(col("vec_id") < 36)
          .select(col("m").as("cb_m"), col("vec_id").as("code"),
            col("sv").as("cv"))
        val codes = pqCodes(corpusSub, cb, "vec_id")
        val lut = pqLut(
          pqSub(permuted(e.filter(col("vec_id") < 20)), "query_id", m, subDim),
          cb, "query_id")
        val adc = codes.join(broadcast(lut), Seq("m", "code"))
          .groupBy(col("query_id"), col("vec_id"))
          .agg(sum(col("pd")).as("adc"))
        val pqTop = ScaleOps.topKPerKey(adc,
            Seq(col("query_id")), Seq(col("adc"), col("vec_id")), 5)
          .select(col("query_id").as("query_id_p"), col("vec_id").as("vec_id_p"))
        // brute truth on the ORIGINAL vectors: the permutation is
        // orthogonal, so exact L2 and its top-k are untouched
        val qraw = e.filter(col("vec_id") < 20)
          .select(col("vec_id").as("query_id"),
            graft.functions.VectorFunctions.asDouble(col("embedding")).as("qv"))
        val craw = corpusRaw
          .select(col("vec_id"),
            graft.functions.VectorFunctions.asDouble(col("embedding")).as("cv"))
        val brute = ScaleOps.topKPerKey(
            craw.crossJoin(broadcast(qraw))
              .select(col("query_id"), col("vec_id"),
                pqSqd(col("qv"), col("cv")).as("d2")),
            Seq(col("query_id")), Seq(col("d2"), col("vec_id")), 5)
          .select(col("query_id"), col("vec_id"))
        brute.join(pqTop,
            col("query_id") === col("query_id_p") &&
              col("vec_id") === col("vec_id_p"), "left")
          .groupBy(col("query_id"))
          .agg(count(lit(1)).as("n_brute"),
            count(col("vec_id_p")).as("n_recovered"))
          .select(col("query_id"), col("n_brute"), col("n_recovered"),
            round(col("n_recovered").cast("double") / col("n_brute"), 4)
              .as("recall"))
          .orderBy(col("query_id"))
      },
      Some("""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v
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
             cb AS (SELECT m, vec_id AS code, sv AS cv FROM sub
                    WHERE vec_id >= 20 AND vec_id < 36),
             codes AS (
               SELECT vec_id, m, code FROM (
                 SELECT s.vec_id, s.m, c.code, row_number() OVER (
                     PARTITION BY s.vec_id, s.m ORDER BY
                       list_dot_product(s.sv, s.sv)
                         - 2 * list_dot_product(s.sv, c.cv)
                         + list_dot_product(c.cv, c.cv), c.code) AS rn
                 FROM sub s JOIN cb c ON s.m = c.m
                 WHERE s.vec_id >= 20) x WHERE rn = 1),
             lut AS (
               SELECT s.vec_id AS query_id, s.m, c.code,
                      CAST(floor((list_dot_product(s.sv, s.sv)
                          - 2 * list_dot_product(s.sv, c.cv)
                          + list_dot_product(c.cv, c.cv)) * 1000000)
                        AS BIGINT) AS pd
               FROM sub s JOIN cb c ON s.m = c.m
               WHERE s.vec_id < 20),
             adc AS (
               SELECT l.query_id, c.vec_id, sum(l.pd) AS adc
               FROM codes c JOIN lut l ON c.m = l.m AND c.code = l.code
               GROUP BY l.query_id, c.vec_id),
             pq AS (
               SELECT query_id, vec_id FROM (
                 SELECT query_id, vec_id, row_number() OVER (
                     PARTITION BY query_id ORDER BY adc, vec_id) AS rn
                 FROM adc) y WHERE rn <= 5),
             brute AS (
               SELECT query_id, vec_id FROM (
                 SELECT q.vec_id AS query_id, c.vec_id, row_number() OVER (
                     PARTITION BY q.vec_id ORDER BY
                       list_dot_product(c.v, c.v)
                         - 2 * list_dot_product(q.v, c.v)
                         + list_dot_product(q.v, q.v), c.vec_id) AS rn
                 FROM e q CROSS JOIN e c
                 WHERE q.vec_id < 20 AND c.vec_id >= 20) z WHERE rn <= 5)
             SELECT b.query_id, count(*) AS n_brute,
                    count(p.vec_id) AS n_recovered,
                    round(CAST(count(p.vec_id) AS DOUBLE) / count(*), 4)
                      AS recall
             FROM brute b LEFT JOIN pq p
               ON b.query_id = p.query_id AND b.vec_id = p.vec_id
             GROUP BY b.query_id ORDER BY b.query_id""")),

    Spec("q_ann_pq_trained_recall",
      (s, dir) => {
        val e = t(s, dir, "embeddings")
        val corpusSub = pqSub(e.filter(col("vec_id") >= 20), "vec_id", 8, 8)
        val cb0 = corpusSub.filter(col("vec_id") < 36)
          .select(col("m").as("cb_m"), col("vec_id").as("code"),
            col("sv").as("cv"))
        val cb = pqTrain(corpusSub, cb0, 2)
        val codes = pqCodes(corpusSub, cb, "vec_id")
        val lut = pqLut(
          pqSub(e.filter(col("vec_id") < 20), "query_id", 8, 8), cb, "query_id")
        val adc = codes.join(broadcast(lut), Seq("m", "code"))
          .groupBy(col("query_id"), col("vec_id"))
          .agg(sum(col("pd")).as("adc"))
        val pqTop = ScaleOps.topKPerKey(adc,
            Seq(col("query_id")), Seq(col("adc"), col("vec_id")), 5)
          .select(col("query_id").as("query_id_p"), col("vec_id").as("vec_id_p"))
        val qraw = e.filter(col("vec_id") < 20)
          .select(col("vec_id").as("query_id"),
            graft.functions.VectorFunctions.asDouble(col("embedding")).as("qv"))
        val craw = e.filter(col("vec_id") >= 20)
          .select(col("vec_id"),
            graft.functions.VectorFunctions.asDouble(col("embedding")).as("cv"))
        val brute = ScaleOps.topKPerKey(
            craw.crossJoin(broadcast(qraw))
              .select(col("query_id"), col("vec_id"),
                pqSqd(col("qv"), col("cv")).as("d2")),
            Seq(col("query_id")), Seq(col("d2"), col("vec_id")), 5)
          .select(col("query_id"), col("vec_id"))
        brute.join(pqTop,
            col("query_id") === col("query_id_p") &&
              col("vec_id") === col("vec_id_p"), "left")
          .groupBy(col("query_id"))
          .agg(count(lit(1)).as("n_brute"),
            count(col("vec_id_p")).as("n_recovered"))
          .select(col("query_id"), col("n_brute"), col("n_recovered"),
            round(col("n_recovered").cast("double") / col("n_brute"), 4)
              .as("recall"))
          .orderBy(col("query_id"))
      },
      Some("""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v
                        FROM embeddings),
             sub AS (SELECT vec_id, CAST(mi AS BIGINT) AS m,
                            v[mi*8+1 : mi*8+8] AS sv
                     FROM e, UNNEST(generate_series(0, 7)) AS t(mi)),
             cb0 AS (SELECT m, vec_id AS code, sv AS cv FROM sub
                     WHERE vec_id >= 20 AND vec_id < 36),
             a1 AS (
               SELECT vec_id, m, code, sv FROM (
                 SELECT s.vec_id, s.m, c.code, s.sv, row_number() OVER (
                     PARTITION BY s.vec_id, s.m ORDER BY
                       list_dot_product(s.sv, s.sv)
                         - 2 * list_dot_product(s.sv, c.cv)
                         + list_dot_product(c.cv, c.cv), c.code) AS rn
                 FROM sub s JOIN cb0 c ON s.m = c.m
                 WHERE s.vec_id >= 20) x WHERE rn = 1),
             cb1 AS (
               SELECT p.m, p.code, coalesce(mm.cv, p.cv) AS cv
               FROM cb0 p LEFT JOIN (
                 SELECT m, code, list(mv ORDER BY pos) AS cv FROM (
                   SELECT m, code, pos, floor(avg(val) * 1000000) / 1000000 AS mv FROM (
                     SELECT m, code, unnest(sv) AS val,
                            unnest(range(1, len(sv) + 1)) AS pos
                     FROM a1) q1 GROUP BY m, code, pos) q2
                 GROUP BY m, code) mm
               ON p.m = mm.m AND p.code = mm.code),
             a2 AS (
               SELECT vec_id, m, code, sv FROM (
                 SELECT s.vec_id, s.m, c.code, s.sv, row_number() OVER (
                     PARTITION BY s.vec_id, s.m ORDER BY
                       list_dot_product(s.sv, s.sv)
                         - 2 * list_dot_product(s.sv, c.cv)
                         + list_dot_product(c.cv, c.cv), c.code) AS rn
                 FROM sub s JOIN cb1 c ON s.m = c.m
                 WHERE s.vec_id >= 20) x WHERE rn = 1),
             cb2 AS (
               SELECT p.m, p.code, coalesce(mm.cv, p.cv) AS cv
               FROM cb1 p LEFT JOIN (
                 SELECT m, code, list(mv ORDER BY pos) AS cv FROM (
                   SELECT m, code, pos, floor(avg(val) * 1000000) / 1000000 AS mv FROM (
                     SELECT m, code, unnest(sv) AS val,
                            unnest(range(1, len(sv) + 1)) AS pos
                     FROM a2) q1 GROUP BY m, code, pos) q2
                 GROUP BY m, code) mm
               ON p.m = mm.m AND p.code = mm.code),
             codes AS (
               SELECT vec_id, m, code FROM (
                 SELECT s.vec_id, s.m, c.code, row_number() OVER (
                     PARTITION BY s.vec_id, s.m ORDER BY
                       list_dot_product(s.sv, s.sv)
                         - 2 * list_dot_product(s.sv, c.cv)
                         + list_dot_product(c.cv, c.cv), c.code) AS rn
                 FROM sub s JOIN cb2 c ON s.m = c.m
                 WHERE s.vec_id >= 20) x WHERE rn = 1),
             lut AS (
               SELECT s.vec_id AS query_id, s.m, c.code,
                      CAST(floor((list_dot_product(s.sv, s.sv)
                          - 2 * list_dot_product(s.sv, c.cv)
                          + list_dot_product(c.cv, c.cv)) * 1000000)
                        AS BIGINT) AS pd
               FROM sub s JOIN cb2 c ON s.m = c.m
               WHERE s.vec_id < 20),
             adc AS (
               SELECT l.query_id, c.vec_id, sum(l.pd) AS adc
               FROM codes c JOIN lut l ON c.m = l.m AND c.code = l.code
               GROUP BY l.query_id, c.vec_id),
             pq AS (
               SELECT query_id, vec_id FROM (
                 SELECT query_id, vec_id, row_number() OVER (
                     PARTITION BY query_id ORDER BY adc, vec_id) AS rn
                 FROM adc) y WHERE rn <= 5),
             brute AS (
               SELECT query_id, vec_id FROM (
                 SELECT q.vec_id AS query_id, c.vec_id, row_number() OVER (
                     PARTITION BY q.vec_id ORDER BY
                       list_dot_product(c.v, c.v)
                         - 2 * list_dot_product(q.v, c.v)
                         + list_dot_product(q.v, q.v), c.vec_id) AS rn
                 FROM e q CROSS JOIN e c
                 WHERE q.vec_id < 20 AND c.vec_id >= 20) z WHERE rn <= 5)
             SELECT b.query_id, count(*) AS n_brute,
                    count(p.vec_id) AS n_recovered,
                    round(CAST(count(p.vec_id) AS DOUBLE) / count(*), 4)
                      AS recall
             FROM brute b LEFT JOIN pq p
               ON b.query_id = p.query_id AND b.vec_id = p.vec_id
             GROUP BY b.query_id ORDER BY b.query_id"""))
  )
}
