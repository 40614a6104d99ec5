package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** The composed corpus pipeline as a BATTERY ROW (VERDICT r9 #8):
  * `q_pipeline_composed` runs the doc-survival chain of
  * [[graft.examples.CorpusPipelineDemo]] — quality (repetition +
  * classifier) → canonical exact dedup → per-domain cap → domain
  * wholesale quality → LM-perplexity tail drop → DSIR selection →
  * MinHash near-dup keep set → leakage-aware split — and returns one
  * row per stage with its surviving-doc count, plus the intersection
  * ("surviving") and its per-split sizes. The DuckDB oracle replays
  * every stage end-to-end by embedding the member queries' own oracle
  * SQL as subqueries and re-deriving the same counts — so pipeline
  * COMPOSITION itself (the joins between stage keep-sets, not just
  * each stage in isolation) is rows+schema+hash-checked, the one gate
  * the per-stage rows can't provide.
  *
  * Each stage reuses the member Spec's `run` (or the same public
  * operator call the demo makes), so a drift between a stage's Spark
  * semantics and its oracle shows here even if it cancels out in the
  * stage's own row. Since r11 the LM stage gates the demo's OWN
  * policy — the adaptive cut at the corpus' 2/3 avg_nll quantile —
  * because [[ScaleOps.exactQuantiles]] makes that cut a deterministic
  * function of the score multiset (r10's `approxQuantile` sketch
  * depended on partition merge order and forced the gate to keep an
  * absolute cut instead; that documented demo/battery divergence is
  * now closed — demo and gate run the same quantile policy).
  */
object PipelineQueries {
  import Q._

  private def member(specs: Seq[Spec], name: String): Spec =
    specs.find(_.name == name)
      .getOrElse(sys.error(s"missing member spec $name"))

  private def stageCount(df: DataFrame, stage: String): DataFrame =
    df.agg(count(lit(1)).as("n")).select(lit(stage).as("stage"), col("n"))

  /** Member oracle embedded as a derived table (DuckDB supports a full
    * WITH/WITH RECURSIVE query inside parentheses; inner CTE names
    * shadow outer ones). */
  private def sub(specs: Seq[Spec], name: String): String =
    s"(${member(specs, name).oracle.getOrElse(
      sys.error(s"member spec $name has no oracle"))})"

  /** LM scoring over ALL documents (the demo scores the full corpus
    * against the half-trained LM; the q_lm_perplexity gate row scores
    * only the held-out half) — q_lm_perplexity's oracle with the
    * scoring-side split predicate removed, training side unchanged.
    * Emits the 10⁴-scaled integer score (`nll4`) the quantile cut
    * operates on. */
  private def lmAllDocsSql: String =
    s"""WITH tk AS (
         SELECT doc_id, unnest(string_split(text, ' ')) AS tok
         FROM documents),
       freq AS (
         SELECT tok, COUNT(*) AS c FROM tk
         WHERE CAST(('0x' || substr(md5('lm|' || CAST(doc_id AS VARCHAR)), 1, 15)) AS BIGINT) % 100 < 50
         GROUP BY tok),
       scal AS (SELECT CAST(SUM(c) AS BIGINT) AS T,
                       CAST(COUNT(*) AS BIGINT) AS V FROM freq),
       pdt AS (
         SELECT doc_id, tok, COUNT(*) AS m FROM tk GROUP BY doc_id, tok),
       sc AS (
         SELECT doc_id, CAST(SUM(m) AS BIGINT) AS n_toks,
                SUM(CAST(m AS DOUBLE) *
                    (ln(CAST(s.T AS DOUBLE) + CAST(s.V AS DOUBLE)) -
                     ln(CAST(COALESCE(f.c, 0) AS DOUBLE) + 1.0))) AS s
         FROM pdt LEFT JOIN freq f USING (tok) CROSS JOIN scal s
         GROUP BY doc_id)
       SELECT doc_id,
              CAST(floor(s / CAST(n_toks AS DOUBLE) * 10000) AS BIGINT)
                AS nll4
       FROM sc"""

  val specs: Seq[Spec] = Seq(
    Spec("q_pipeline_composed",
      (s, dir) => {
        val docs = t(s, dir, "documents")
        // quality: non-repetitive AND classifier-kept (demo stage 2)
        val quality = member(TextQueries.specs, "q_text_repetition")
          .run(s, dir).filter(!col("is_repetitive")).select("doc_id")
          .join(member(TextQueries.specs, "q_quality_classifier")
            .run(s, dir).filter(col("keep")).select("doc_id"), Seq("doc_id"))
        // canonical exact dedup: min doc_id per canon digest (demo 2b)
        val canon = DedupQueries.canonicalDigest(docs)
          .groupBy(col("canon_digest")).agg(min(col("doc_id")).as("doc_id"))
          .select("doc_id")
        // per-domain cap: best 40 per source by (n_chars desc, doc_id)
        // through the native TopKPerKey (demo 2c)
        val cap = ScaleOps.topKPerKey(
            docs.select(col("doc_id"), col("source"), col("n_chars")),
            Seq(col("source")), Seq(col("n_chars").desc, col("doc_id")), 40)
          .select("doc_id")
        // domain wholesale quality (demo 2d)
        val domq = member(CurationQueries.specs, "q_domain_quality_filter")
          .run(s, dir).filter(col("kept")).select("doc_id")
        // LM perplexity over ALL docs, cut at the corpus' OWN 2/3
        // avg_nll quantile (demo 2e) — since r11 the EXACT
        // deterministic quantile (ScaleOps.exactQuantiles over the
        // 10⁴-scaled integer score), so the adaptive threshold itself
        // is oracle-replayable and the one documented demo/battery
        // divergence (approxQuantile's merge-order dependence) is
        // closed. Ties at the cut value are kept — deterministic, and
        // the kept fraction is ≥ 2/3 by the type-1 definition.
        val (lmFreq, lmScal) = TextQueries.trainUnigramLm(docs)
        // NOT pinned (r19 measured): exactQuantiles' eager pass and the
        // final DAG each compute this score table, but the final-DAG
        // copy overlaps the other member subtrees on idle slots — a
        // materializePinned barrier measured SLOWER on the composed row
        // (7.6 → ~8.4 s contention-normalized) than the overlap it
        // removed. At true corpus scale a deployment would persist the
        // score table; the gate keeps the overlap-friendly lazy form.
        val lmScored = TextQueries.scoreAgainstLm(docs, lmFreq, lmScal)
          .select(col("doc_id"),
            round(col("avg_nll") * 10000).cast("long").as("nll4"))
        val lmCut = ScaleOps.exactQuantiles(
            lmScored.select(col("nll4")), "nll4", Seq(2.0 / 3.0))
          .select(col("value").as("__cut"))
        val lm = lmScored.crossJoin(broadcast(lmCut))
          .filter(col("nll4") <= col("__cut")).select("doc_id")
        // DSIR: target (en) docs ride through, raw docs iff selected
        // (demo 2f; the two legs are disjoint by construction)
        val dsir = docs.filter(col("lang") === "en").select("doc_id")
          .union(CurationQueries.dsirWeights(docs, col("lang") === "en")
            .filter(col("selected")).select("doc_id"))
        // MinHash near-dup keep set (demo 3)
        val keep = member(DedupQueries.specs, "q_dedup_corpus")
          .run(s, dir).select("doc_id")
        // leakage-aware split (demo 4)
        val splits = member(DedupQueries.specs, "q_split_by_cluster")
          .run(s, dir).select(col("doc_id"), col("split"))
        val surv = docs.select("doc_id")
          .join(quality, Seq("doc_id")).join(canon, Seq("doc_id"))
          .join(cap, Seq("doc_id")).join(domq, Seq("doc_id"))
          .join(lm, Seq("doc_id")).join(dsir, Seq("doc_id"))
          .join(keep, Seq("doc_id")).join(splits, Seq("doc_id"))
        stageCount(docs, "00_docs")
          .unionByName(stageCount(quality, "01_quality"))
          .unionByName(stageCount(canon, "02_canonical"))
          .unionByName(stageCount(cap, "03_domain_cap"))
          .unionByName(stageCount(domq, "04_domain_quality"))
          .unionByName(stageCount(lm, "05_lm_ppl"))
          .unionByName(stageCount(dsir, "06_dsir"))
          .unionByName(stageCount(keep, "07_dedup_keep"))
          .unionByName(stageCount(surv, "08_surviving"))
          .unionByName(surv.groupBy(col("split"))
            .agg(count(lit(1)).as("n"))
            .select(concat(lit("09_"), col("split")).as("stage"), col("n")))
          .orderBy(col("stage"))
      },
      Some(s"""WITH
        rep AS (SELECT doc_id FROM ${sub(TextQueries.specs, "q_text_repetition")} WHERE NOT is_repetitive),
        clf AS (SELECT doc_id FROM ${sub(TextQueries.specs, "q_quality_classifier")} WHERE keep),
        quality AS (SELECT rep.doc_id FROM rep JOIN clf USING (doc_id)),
        canon AS (SELECT keep_id AS doc_id FROM ${sub(DedupQueries.specs, "q_dedup_canonical")}),
        cap AS (SELECT doc_id FROM (
                  SELECT doc_id, row_number() OVER (
                    PARTITION BY source ORDER BY n_chars DESC, doc_id) AS rn
                  FROM documents) WHERE rn <= 40),
        domq AS (SELECT doc_id FROM ${sub(CurationQueries.specs, "q_domain_quality_filter")} WHERE kept),
        lmsc AS (SELECT doc_id, nll4 FROM ($lmAllDocsSql)),
        lmcnt AS (SELECT nll4 AS v, count(*) AS cnt FROM lmsc
                  WHERE nll4 IS NOT NULL GROUP BY 1),
        lmcum AS (SELECT v, sum(cnt) OVER (ORDER BY v) AS cum FROM lmcnt),
        lmtot AS (SELECT sum(cnt) AS n FROM lmcnt),
        lmcut AS (SELECT min(v) AS cutv FROM lmcum, lmtot
                  WHERE cum >= CAST(ceiling((2.0/3.0) * CAST(n AS DOUBLE))
                                    AS BIGINT)),
        lmk AS (SELECT doc_id FROM lmsc, lmcut WHERE nll4 <= cutv),
        dsir AS (SELECT doc_id FROM documents WHERE lang = 'en'
                 UNION ALL
                 SELECT doc_id FROM ${sub(CurationQueries.specs, "q_dsir_weights")} WHERE selected),
        keepset AS (SELECT doc_id FROM ${sub(DedupQueries.specs, "q_dedup_corpus")}),
        splits AS (SELECT doc_id, split FROM ${sub(DedupQueries.specs, "q_split_by_cluster")}),
        surv AS (SELECT d.doc_id, s.split FROM documents d
                 JOIN quality USING (doc_id) JOIN canon USING (doc_id)
                 JOIN cap USING (doc_id) JOIN domq USING (doc_id)
                 JOIN lmk USING (doc_id) JOIN dsir USING (doc_id)
                 JOIN keepset USING (doc_id) JOIN splits s USING (doc_id))
        SELECT stage, n FROM (
          SELECT '00_docs' AS stage, count(*) AS n FROM documents
          UNION ALL SELECT '01_quality', count(*) FROM quality
          UNION ALL SELECT '02_canonical', count(*) FROM canon
          UNION ALL SELECT '03_domain_cap', count(*) FROM cap
          UNION ALL SELECT '04_domain_quality', count(*) FROM domq
          UNION ALL SELECT '05_lm_ppl', count(*) FROM lmk
          UNION ALL SELECT '06_dsir', count(*) FROM dsir
          UNION ALL SELECT '07_dedup_keep', count(*) FROM keepset
          UNION ALL SELECT '08_surviving', count(*) FROM surv
          UNION ALL SELECT '09_' || split, count(*) FROM surv GROUP BY split
        ) ORDER BY stage""")),

    // The OTHER composed family (examples.WarehousePipelineDemo),
    // gated the same way: per-stage row counts PLUS value-carrying
    // cross-stage aggregates — including a genuine cross-stage join
    // (every open SCD2 version's customer must resolve to a golden
    // record: the "current state is publishable" invariant a nightly
    // maintenance job actually checks). Each stage is the member
    // Spec's own run; the oracle embeds the member oracle SQL.
    Spec("q_warehouse_composed",
      (s, dir) => {
        val profile = member(WarehouseQueries.specs, "q_profile_columns")
          .run(s, dir)
        val checksFailed = member(CurationQueries.specs, "q_expectations")
          .run(s, dir).filter(!col("passed"))
        val scd2 = member(WarehouseQueries.specs, "q_scd2_history").run(s, dir)
        val open = scd2.filter(col("valid_to").isNull)
        val golden = member(WarehouseQueries.specs, "q_golden_record")
          .run(s, dir)
        val openWithGolden = open.select(col("o_custkey"))
          .join(golden.select(col("o_custkey")), Seq("o_custkey"))
        val agg = member(WarehouseQueries.specs, "q_incremental_agg")
          .run(s, dir)
        val diff = member(AdvancedQueries.specs, "q_snapshot_diff").run(s, dir)
        val churn = diff.filter(col("status") =!= "unchanged")
          .agg(coalesce(sum(col("n")), lit(0L)).as("n"))
          .select(lit("08_diff_churn").as("stage"), col("n"))
        val funnel = member(AnalyticsQueries.specs, "q_event_funnel")
          .run(s, dir)
        val cohort = member(AnalyticsQueries.specs, "q_cohort_retention")
          .run(s, dir)
        val week0 = cohort.filter(col("week_offset") === 0)
          .agg(coalesce(sum(col("n_users")), lit(0L)).as("n"))
          .select(lit("12_cohort_week0_users").as("stage"), col("n"))
        stageCount(profile, "00_profile_cols")
          .unionByName(stageCount(checksFailed, "01_checks_failed"))
          .unionByName(stageCount(scd2, "02_versions"))
          .unionByName(stageCount(open, "03_open_versions"))
          .unionByName(stageCount(golden, "04_golden"))
          .unionByName(stageCount(openWithGolden, "05_open_with_golden"))
          .unionByName(stageCount(agg, "06_agg_rows"))
          .unionByName(stageCount(diff, "07_diff_statuses"))
          .unionByName(churn)
          .unionByName(stageCount(funnel, "09_funnel_users"))
          .unionByName(stageCount(funnel.filter(col("reached") === 4),
            "10_funnel_converted"))
          .unionByName(stageCount(cohort, "11_cohort_cells"))
          .unionByName(week0)
          .orderBy(col("stage"))
      },
      Some(s"""WITH
        scd2 AS (SELECT * FROM ${sub(WarehouseQueries.specs, "q_scd2_history")}),
        open_v AS (SELECT * FROM scd2 WHERE valid_to IS NULL),
        golden AS (SELECT * FROM ${sub(WarehouseQueries.specs, "q_golden_record")}),
        diff AS (SELECT * FROM ${sub(AdvancedQueries.specs, "q_snapshot_diff")}),
        funnel AS (SELECT * FROM ${sub(AnalyticsQueries.specs, "q_event_funnel")}),
        cohort AS (SELECT * FROM ${sub(AnalyticsQueries.specs, "q_cohort_retention")})
        SELECT stage, n FROM (
          SELECT '00_profile_cols' AS stage, count(*) AS n
          FROM ${sub(WarehouseQueries.specs, "q_profile_columns")}
          UNION ALL SELECT '01_checks_failed', count(*)
          FROM ${sub(CurationQueries.specs, "q_expectations")} WHERE NOT passed
          UNION ALL SELECT '02_versions', count(*) FROM scd2
          UNION ALL SELECT '03_open_versions', count(*) FROM open_v
          UNION ALL SELECT '04_golden', count(*) FROM golden
          UNION ALL SELECT '05_open_with_golden', count(*)
          FROM (SELECT o_custkey FROM open_v) o
          JOIN (SELECT o_custkey FROM golden) g USING (o_custkey)
          UNION ALL SELECT '06_agg_rows', count(*)
          FROM ${sub(WarehouseQueries.specs, "q_incremental_agg")}
          UNION ALL SELECT '07_diff_statuses', count(*) FROM diff
          UNION ALL SELECT '08_diff_churn',
            CAST(coalesce(sum(n), 0) AS BIGINT)
          FROM diff WHERE status <> 'unchanged'
          UNION ALL SELECT '09_funnel_users', count(*) FROM funnel
          UNION ALL SELECT '10_funnel_converted', count(*)
          FROM funnel WHERE reached = 4
          UNION ALL SELECT '11_cohort_cells', count(*) FROM cohort
          UNION ALL SELECT '12_cohort_week0_users',
            CAST(coalesce(sum(n_users), 0) AS BIGINT)
          FROM cohort WHERE week_offset = 0
        ) ORDER BY stage""")),

    // The composed GRAPH session (VERDICT r10 #7): "materialize once,
    // analyze many" — the symmetrized trade graph is pinned ONE time
    // (ScaleOps.materializePinned, the same pin and release as the
    // per-algorithm caches) and PageRank + LPA both run off the shared
    // copy, instead of each gate row re-scanning parquet, re-joining
    // orders⋈lineitem, and re-caching its own edges. The three member
    // GATES are untouched — their honest per-query cold cost stays the
    // record (the r10 re-baseline rationale); this row is the separate
    // composed form, with a genuine cross-analysis join (top-ranked
    // nodes ⋈ their communities: "how concentrated is authority across
    // communities" — rank and grouping signals combined). Triangles
    // run off their own co-order projection (a different graph by
    // construction). The oracle embeds the member oracles verbatim, so
    // the composition joins are rows+schema+hash-gated like every
    // other composed row.
    Spec("q_graph_composed",
      (s, dir) => {
        // the shared trade graph, pinned hash(src)-partitioned (r19):
        // pageRank's iteration joins consume the cached partitioning
        // directly, and pageRank pins it as given, so both phases read
        // this one copy — see GraphQueries.pageRank
        val e = ScaleOps.materializePinned(GraphQueries.tradeGraph(s, dir))
        val nEdges = e.count()
        // Each phase's SMALL result (top-100 / |V| labels / per-node
        // counts) is eagerly localCheckpoint'ed, so the phase's
        // iterative shuffle lineage becomes unreachable the moment the
        // phase ends. Without the truncation the final union holds every
        // phase's shuffle files ALIVE simultaneously: disk cost = the
        // SUM of phase footprints instead of their MAX, which at the
        // 100× replica filled the box (r11, 76 GB free → ENOSPC). The
        // ContextCleaner then reclaims the dead files mid-query
        // (periodicGC.interval is lowered in graft.Sessions for
        // exactly this row).
        // The PageRank, LPA AND triangle phases are independent until
        // the final stats union — run all three CONCURRENTLY from
        // driver threads (guide §2.6 "overlap independent jobs"): the
        // two trade phases' iterative rounds leave most task slots
        // idle at gate scale (per-round state is |V| rows over few
        // partitions), and the triangle phase's co-order build + wedge
        // stages back-fill those slots instead of waiting for the full
        // PR/LPA wall (r19 ran triangles strictly after — the verdict's
        // #1 item). Disk footprint of holding both graph caches at
        // once (the r11 ENOSPC argument for serializing) was re-probed
        // at 10× AFTER the r20 closing-probe change removed the wedge
        // stream's closing exchange — the dominant scratch consumer —
        // and the two columnar pins are each a fraction of the old
        // shuffle footprint (numbers in OPTIMIZATION_r20.md). Each
        // phase's own plan, arithmetic (integer-exact) and result are
        // untouched; all phase results are localCheckpoint'ed so the
        // iterative shuffle lineage stays collectable mid-query.
        // Thread-safety: Spark supports concurrent actions from driver
        // threads, and the pin-and-broadcast registry (ScaleOps) is
        // synchronized.
        import scala.concurrent.{Await, Future}
        import scala.concurrent.duration.Duration
        import scala.util.Try
        val pool = java.util.concurrent.Executors.newFixedThreadPool(3)
        implicit val ec: scala.concurrent.ExecutionContext =
          scala.concurrent.ExecutionContext.fromExecutorService(pool)
        val prF = Future {
          GraphQueries.pageRank(e, GraphQueries.PageRankIters)
            .orderBy(col("r").desc, col("node")).limit(100)
            .select(col("node"), col("r").as("rank"))
            .localCheckpoint()
        }
        val lpaF = Future {
          GraphQueries.labelPropagation(e, GraphQueries.LpaIters)
            .select(col("node"), col("lab"))
            .localCheckpoint()
        }
        val triF = Future {
          val eTri = ScaleOps.materializePinned(GraphQueries.coorderGraph(s, dir))
          val nCo = eTri.count()
          val triDf = GraphQueries.triangleCounts(eTri)
            .select(col("node"), col("n_tri"))
            .localCheckpoint()
          (nCo, triDf)
        }
        // Await EVERY phase to completion before surfacing any failure
        // (ADVICE r19 #1): rethrowing while a sibling future still runs
        // would let its Spark jobs outlive the harness' finally-side
        // releaseAll — silently recomputing released caches inside
        // the NEXT query's timing window. Try-wrapped awaits never
        // throw, so all three phases are finished (or failed) before
        // any .get below rethrows the first error.
        val prT = Try(Await.result(prF, Duration.Inf))
        val lpaT = Try(Await.result(lpaF, Duration.Inf))
        // both trade-phase consumers are done (checkpointed or failed)
        // — release the shared trade pin NOW, while the triangle phase
        // may still be running off its own co-order pin (the scoped
        // form of the r11 "don't hold both graphs" rule; the co-order
        // pin is released by the harness' end-of-query releaseAll)
        ScaleOps.release(e)
        val triT = Try(Await.result(triF, Duration.Inf))
        pool.shutdown()
        val ranksTop = prT.get
        val labs = lpaT.get
        val (nCoorder, tri) = triT.get
        def stat(name: String, df: DataFrame): DataFrame =
          df.select(lit(name).as("stat"), col("value").cast("long").as("value"))
        val ss = e.sparkSession
        // edge counts were captured at materialization time — reading
        // `e`/`eTri` here, after their pins are released, would silently
        // recompute both graphs from lineage for a count
        def statLit(name: String, v: Long): DataFrame = {
          import ss.implicits._
          Seq((name, v)).toDF("stat", "value")
        }
        statLit("00_trade_edges_sym", nEdges)
          .unionByName(stat("01_top100_rank_mass",
            ranksTop.agg(sum(col("rank")).as("value"))))
          .unionByName(stat("02_top100_communities",
            ranksTop.join(labs, Seq("node"))
              .agg(countDistinct(col("lab")).as("value"))))
          .unionByName(statLit("03_coorder_edges", nCoorder))
          .unionByName(stat("04_triangles_total",
            tri.agg(coalesce(sum(col("n_tri")), lit(0L)).as("value"))))
          .unionByName(stat("05_triangles_max",
            tri.agg(coalesce(max(col("n_tri")), lit(0L)).as("value"))))
          .orderBy(col("stat"))
      },
      Some(s"""WITH
        pr AS (SELECT * FROM ${sub(GraphQueries.specs, "q_graph_pagerank")}),
        lpa AS (SELECT * FROM ${sub(GraphQueries.specs, "q_graph_communities")}),
        tri AS (SELECT * FROM ${sub(GraphQueries.specs, "q_graph_triangles")}),
        e0 AS (SELECT DISTINCT o_custkey AS src, l_suppkey + 1000000 AS dst
               FROM orders JOIN lineitem ON o_orderkey = l_orderkey),
        co AS (SELECT DISTINCT a.l_partkey AS u, b.l_partkey AS v
               FROM lineitem a JOIN lineitem b
                 ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey)
        SELECT stat, value FROM (
          SELECT '00_trade_edges_sym' AS stat,
                 CAST(2 * count(*) AS BIGINT) AS value FROM e0
          UNION ALL SELECT '01_top100_rank_mass',
            CAST(sum(rank) AS BIGINT) FROM pr
          UNION ALL SELECT '02_top100_communities',
            CAST(count(DISTINCT lab) AS BIGINT) FROM pr JOIN lpa USING (node)
          UNION ALL SELECT '03_coorder_edges',
            CAST(count(*) AS BIGINT) FROM co
          UNION ALL SELECT '04_triangles_total',
            CAST(coalesce(sum(n_tri), 0) AS BIGINT) FROM tri
          UNION ALL SELECT '05_triangles_max',
            CAST(coalesce(max(n_tri), 0) AS BIGINT) FROM tri
        ) ORDER BY stat"""))
  )
}
