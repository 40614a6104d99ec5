package graft.operators

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Warehouse-maintenance operators the reference reaches through its
  * delegated-SQL surface (ref `functions/load_query/main.py:57` hands
  * arbitrary SQL to BigQuery): slowly-changing-dimension history
  * building, single-pass column profiling, and the oracle gate rows
  * for the explicit salting helpers in [[ScaleOps]] (previously only
  * spec-tested — these rows prove the salted two-phase shapes produce
  * byte-identical results to the plain forms DuckDB runs).
  */
object WarehouseQueries {
  import Q._

  /** Columns the profile gate rows and the composed warehouse demo
    * profile on the `orders` snapshot. */
  val ProfiledOrderCols: Seq[String] =
    Seq("o_orderkey", "o_custkey", "o_orderstatus", "o_orderpriority")

  /** One-scan column profile: null count, distinct count, min/max (as
    * strings, for a uniform long-table schema) per profiled column,
    * unpivoted via stack.
    *
    * The distinct counts are exact COUNT(DISTINCT)s, which cost one
    * Expand (×|cols| row replication before partial aggregation) — the
    * oracle anchor, and the source of the warehouse DAG's entire 7.3 GB
    * spill at the 8 g/100× probe (VERDICT r10; BASELINE.md keeps the
    * r11 measurement of the HLL swap). q_profile_columns_approx gates
    * the sketched form against these exact values. */
  def profileColumns(df: org.apache.spark.sql.DataFrame,
                     cols: Seq[String]): org.apache.spark.sql.DataFrame = {
    val stackArgs = cols.map(c =>
      s"'$c', null_$c, dist_$c, min_$c, max_$c").mkString(", ")
    profileRow(df, cols)
      .selectExpr(s"stack(${cols.size}, $stackArgs) AS " +
        "(col_name, n_null, n_distinct, min_v, max_v)")
      .orderBy(col("col_name"))
  }

  /** The one-row aggregate behind [[profileColumns]] and
    * q_profile_columns_approx: per profiled column `c`, `null_c`,
    * the exact `dist_c`, and `min_c`/`max_c` as strings. */
  private def profileRow(df: org.apache.spark.sql.DataFrame,
                         cols: Seq[String]): org.apache.spark.sql.DataFrame = {
    // STRING-buffered aggregates (min/max over string columns) are
    // split into their own grouping-free aggregate (r19, guide §7.2
    // "read the plan"): HashAggregate requires mutable fixed-size
    // buffer types, so one string min anywhere in the aggregate list
    // demotes the WHOLE aggregate — including the
    // multi-countDistinct Expand — to SortAggregate, which SORTS the
    // ×|cols|-expanded row stream twice (measured as the entire cost
    // of the profile gate rows: the executed plan carried Sort+
    // SortAggregate pairs over the Expand). Split, the distinct/null
    // leg stays in HashAggregate (long buffers only) and the string
    // min/max leg is a grouping-free SortAggregate that never sorts;
    // the two 1-row results glue with the same broadcast crossJoin the
    // sketch leg already uses. Values and schema are identical —
    // min-then-cast equals the old cast-inside-agg expression.
    val strCols = cols.filter(c => df.schema(c).dataType ==
      org.apache.spark.sql.types.StringType).toSet
    val mainAggs = cols.flatMap { c =>
      Seq(sum(when(col(c).isNull, 1L).otherwise(0L)).as(s"null_$c"),
        countDistinct(col(c)).as(s"dist_$c")) ++
        (if (strCols(c)) Nil
         else Seq(min(col(c)).cast("string").as(s"min_$c"),
           max(col(c)).cast("string").as(s"max_$c")))
    }
    val strAggs = cols.filter(strCols).flatMap { c =>
      Seq(min(col(c)).cast("string").as(s"min_$c"),
        max(col(c)).cast("string").as(s"max_$c"))
    }
    val main = df.agg(mainAggs.head, mainAggs.tail: _*)
    // empty-guard (ADVICE r19 #2): a profiled column set with no string
    // column must skip the string leg instead of throwing at
    // strAggs.head during plan construction
    if (strAggs.isEmpty) main
    else main.crossJoin(broadcast(df.agg(strAggs.head, strAggs.tail: _*)))
  }

  def specs: Seq[Q.Spec] = Seq(

    // Salted two-phase aggregation gate: ScaleOps.saltedSum spreads a
    // hot group key over 16 (key, salt) reducers and merges partials.
    // The oracle is the PLAIN GROUP BY — the gate is exactly the
    // algebraic-equivalence claim (sum/count re-associate freely), and
    // rounding absorbs the changed double accumulation order. At
    // 100 TB this is the fallback for skew the optimizer can't see;
    // AQE skew-join handles the visible cases (BASELINE.md skew
    // section).
    Spec("q_salted_agg",
      (s, dir) =>
        ScaleOps.saltedSum(t(s, dir, "lineitem"), Seq("l_returnflag"),
            "l_quantity", salts = 16)
          .select(col("l_returnflag"),
            round(col("sum_l_quantity"), 2).as("sum_qty"),
            col("count").as("n_rows"))
          .orderBy(col("l_returnflag")),
      Some("""SELECT l_returnflag, round(sum(l_quantity), 2) AS sum_qty,
                    count(*) AS n_rows
             FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""")),

    // Salted join gate: replicate the small side across 16 salts so a
    // hot fact key fans out over 16 reducers; each fact row still
    // matches exactly one replica, so the result is the plain inner
    // join the oracle runs. The aggregate on top keeps the gate row
    // small and proves no row was dropped or doubled.
    Spec("q_salted_join",
      (s, dir) => {
        val li = t(s, dir, "lineitem")
          .select(col("l_suppkey").as("k"), col("l_quantity"))
        val sup = t(s, dir, "supplier")
          .select(col("s_suppkey").as("k"), col("s_nationkey"))
        ScaleOps.saltedJoin(li, sup, "k", salts = 16)
          .groupBy(col("s_nationkey"))
          .agg(round(sum(col("l_quantity")), 2).as("sum_qty"),
            count(lit(1)).as("n_rows"))
          .orderBy(col("s_nationkey"))
      },
      Some("""SELECT s_nationkey, round(sum(l_quantity), 2) AS sum_qty,
                    count(*) AS n_rows
             FROM lineitem JOIN supplier ON l_suppkey = s_suppkey
             GROUP BY s_nationkey ORDER BY s_nationkey""")),

    // Runtime bloom-filter join pruning (Catalyst's InjectRuntimeFilter):
    // when a shuffle join's build side carries a selective predicate,
    // the optimizer plants bloom_filter_agg(build keys) as a scalar
    // subquery and wraps the probe side in might_contain(...), so probe
    // rows that cannot match are dropped BEFORE the shuffle — at 100 TB
    // that's the difference between shuffling the whole fact table and
    // shuffling only the fraction that can join. Broadcast is disabled
    // with SHUFFLE_MERGE hints so the runtime filter (not a broadcast)
    // is what bounds the shuffle, and the conf lives on a CHILD session
    // (newSession: shared context, private SQLConf) so lowering the
    // 10 GB application-side gate for the demo can't leak bloom
    // injection into other battery plans. PlanAssertSpec pins
    // might_contain in the executed plan.
    Spec("q_join_bloom_pruned",
      (s, dir) => {
        val s2 = s.newSession()
        s2.conf.set("spark.sql.optimizer.runtime.bloomFilter.enabled", "true")
        // the default gates target real clusters (build < 10 MB, probe
        // > 10 GB); open them so the sf-scale demo exercises the path
        s2.conf.set(
          "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold", "0")
        s2.conf.set(
          "spark.sql.optimizer.runtime.bloomFilter.creationSideThreshold", "100MB")
        // InjectRuntimeFilter skips joins it could broadcast (a
        // broadcast already avoids the probe-side shuffle); at demo SF
        // everything is broadcastable, so pin the shuffle path — which
        // is the only path that exists when both sides are huge
        s2.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        val o = t(s2, dir, "orders")
          .filter(col("o_orderpriority") === "1-URGENT")
          .select(col("o_orderkey"), col("o_custkey"))
        val li = t(s2, dir, "lineitem")
          .select(col("l_orderkey"), col("l_quantity"))
        li.hint("SHUFFLE_MERGE")
          .join(o.hint("SHUFFLE_MERGE"), li("l_orderkey") === o("o_orderkey"))
          .groupBy(col("o_custkey"))
          .agg(count(lit(1)).as("n_items"),
            round(sum(col("l_quantity").cast("decimal(20,10)")), 2)
              .cast("double").as("sum_qty"))
          .orderBy(col("o_custkey"))
      },
      Some("""SELECT o_custkey, count(*) AS n_items,
                    CAST(round(sum(CAST(l_quantity AS DECIMAL(20,10))), 2)
                         AS DOUBLE) AS sum_qty
             FROM lineitem JOIN orders ON l_orderkey = o_orderkey
             WHERE o_orderpriority = '1-URGENT'
             GROUP BY o_custkey ORDER BY o_custkey""")),

    // SCD2 effective-dating: compress each customer's order-status
    // stream to its CHANGE points (lag ≠ current), then close each
    // version with the next change's date (lead) — valid_to IS NULL
    // marks the open current version. Both windows share one
    // partitioning (o_custkey) and ordering, so the whole history
    // build is a single sort within one shuffle — at 100 TB the
    // standard one-pass dimension-history shape. o_orderkey rides
    // along as the deterministic tiebreak for same-date changes and
    // makes the output ORDER BY total.
    Spec("q_scd2_history",
      (s, dir) => {
        val w = Window.partitionBy(col("o_custkey"))
          .orderBy(col("o_orderdate"), col("o_orderkey"))
        t(s, dir, "orders").filter(col("o_custkey") < 100)
          .withColumn("prev", lag(col("o_orderstatus"), 1).over(w))
          .filter(col("prev").isNull || col("prev") =!= col("o_orderstatus"))
          .withColumn("valid_to", lead(col("o_orderdate"), 1).over(w))
          .select(col("o_custkey"), col("o_orderkey").as("change_id"),
            col("o_orderstatus").as("status"),
            col("o_orderdate").as("valid_from"), col("valid_to"))
          .orderBy(col("o_custkey"), col("valid_from"), col("change_id"))
      },
      Some("""WITH ordered AS (
               SELECT o_custkey, o_orderkey, o_orderstatus, o_orderdate,
                      lag(o_orderstatus) OVER w AS prev
               FROM orders WHERE o_custkey < 100
               WINDOW w AS (PARTITION BY o_custkey
                            ORDER BY o_orderdate, o_orderkey)),
             changes AS (
               SELECT * FROM ordered
               WHERE prev IS NULL OR prev <> o_orderstatus)
             SELECT o_custkey, o_orderkey AS change_id,
                    o_orderstatus AS status, o_orderdate AS valid_from,
                    lead(o_orderdate) OVER w AS valid_to
             FROM changes
             WINDOW w AS (PARTITION BY o_custkey
                          ORDER BY o_orderdate, o_orderkey)
             ORDER BY o_custkey, valid_from, change_id""")),

    // Single-pass column profiling: null count, distinct count,
    // min/max (as strings, for a uniform long-table schema) for every
    // profiled column in ONE scan, unpivoted via stack — see
    // [[profileColumns]]. This row gates the exact profile (the oracle
    // anchor); q_profile_columns_approx below gates the HLL sketch
    // against it.
    Spec("q_profile_columns",
      (s, dir) => profileColumns(t(s, dir, "orders"), ProfiledOrderCols),
      Some("""SELECT 'o_orderkey' AS col_name,
                    count(*) FILTER (WHERE o_orderkey IS NULL) AS n_null,
                    count(DISTINCT o_orderkey) AS n_distinct,
                    CAST(min(o_orderkey) AS VARCHAR) AS min_v,
                    CAST(max(o_orderkey) AS VARCHAR) AS max_v
             FROM orders
             UNION ALL
             SELECT 'o_custkey',
                    count(*) FILTER (WHERE o_custkey IS NULL),
                    count(DISTINCT o_custkey),
                    CAST(min(o_custkey) AS VARCHAR),
                    CAST(max(o_custkey) AS VARCHAR)
             FROM orders
             UNION ALL
             SELECT 'o_orderstatus',
                    count(*) FILTER (WHERE o_orderstatus IS NULL),
                    count(DISTINCT o_orderstatus),
                    CAST(min(o_orderstatus) AS VARCHAR),
                    CAST(max(o_orderstatus) AS VARCHAR)
             FROM orders
             UNION ALL
             SELECT 'o_orderpriority',
                    count(*) FILTER (WHERE o_orderpriority IS NULL),
                    count(DISTINCT o_orderpriority),
                    CAST(min(o_orderpriority) AS VARCHAR),
                    CAST(max(o_orderpriority) AS VARCHAR)
             FROM orders
             ORDER BY col_name""")),

    // Sketch-mode profile gate (VERDICT r10 #3): the same one-scan
    // profile with approx_count_distinct — the form a 100 TB profile
    // would run, because HLL++ partials merge without the exact
    // profile's Expand (the attributed source of the warehouse DAG's
    // entire 7.3 GB spill at 8 g/100×). Gated like
    // q_agg_approx_distinct: the row carries the EXACT distincts plus
    // a bounded-error boolean on the sketch (5 % = 5 sd at the
    // explicit rsd 0.01 — the default 0.05 rsd measurably exceeds 5 %
    // on the 15 k-distinct key), which the oracle replays as TRUE. The
    // sketch itself still runs on the Spark side every time the row
    // does. The exact and sketch sides are SEPARATE one-row aggregates
    // glued by a 1×1 crossJoin: putting countDistinct and the rsd-0.01
    // sketch in ONE aggregate drags the 4×2731-word HLL buffers
    // through the multi-distinct Expand rewrite, which abandons
    // HashAggregate for an interpreted SortAggregate that copies the
    // ~11k-field buffer row per input row — measured 18.6 s vs 1.9 s
    // for the split at sf0.01 (r11 ProfProbe).
    Spec("q_profile_columns_approx",
      (s, dir) => {
        val cols = ProfiledOrderCols
        val orders = t(s, dir, "orders")
        val sketchAggs = cols.map(c =>
          approx_count_distinct(col(c), 0.01).as(s"approx_$c"))
        val stackArgs = cols.map(c =>
          s"'$c', null_$c, dist_$c, approx_$c, min_$c, max_$c")
          .mkString(", ")
        profileRow(orders, cols)
          .crossJoin(orders.agg(sketchAggs.head, sketchAggs.tail: _*))
          .selectExpr(s"stack(${cols.size}, $stackArgs) AS " +
            "(col_name, n_null, n_distinct, approx, min_v, max_v)")
          .select(col("col_name"), col("n_null"), col("n_distinct"),
            (abs(col("approx") - col("n_distinct")).cast("double") /
              col("n_distinct") <= 0.05).as("approx_ok"),
            col("min_v"), col("max_v"))
          .orderBy(col("col_name"))
      },
      Some("""SELECT 'o_orderkey' AS col_name,
                    count(*) FILTER (WHERE o_orderkey IS NULL) AS n_null,
                    count(DISTINCT o_orderkey) AS n_distinct,
                    TRUE AS approx_ok,
                    CAST(min(o_orderkey) AS VARCHAR) AS min_v,
                    CAST(max(o_orderkey) AS VARCHAR) AS max_v
             FROM orders
             UNION ALL
             SELECT 'o_custkey',
                    count(*) FILTER (WHERE o_custkey IS NULL),
                    count(DISTINCT o_custkey), TRUE,
                    CAST(min(o_custkey) AS VARCHAR),
                    CAST(max(o_custkey) AS VARCHAR)
             FROM orders
             UNION ALL
             SELECT 'o_orderstatus',
                    count(*) FILTER (WHERE o_orderstatus IS NULL),
                    count(DISTINCT o_orderstatus), TRUE,
                    CAST(min(o_orderstatus) AS VARCHAR),
                    CAST(max(o_orderstatus) AS VARCHAR)
             FROM orders
             UNION ALL
             SELECT 'o_orderpriority',
                    count(*) FILTER (WHERE o_orderpriority IS NULL),
                    count(DISTINCT o_orderpriority), TRUE,
                    CAST(min(o_orderpriority) AS VARCHAR),
                    CAST(max(o_orderpriority) AS VARCHAR)
             FROM orders
             ORDER BY col_name""")),

    // Golden-record survivorship: merge each customer's order rows
    // into ONE record by per-field rules — modal value (most frequent,
    // ties broken by value) for the priority, recency (max date) for
    // the last order, max for the amount, plus a support count. This
    // is the MDM complement of q_dedup_keep_best: that picks one
    // SOURCE ROW per cluster, this synthesizes a new record field by
    // field. The modal field is a count aggregate + one row_number
    // window (deterministic tie-break), the rest ride a plain
    // aggregate on the same key — two shuffles on the entity key
    // total, both hash-partitioned at any scale.
    Spec("q_golden_record",
      (s, dir) => {
        val o = t(s, dir, "orders").filter(col("o_custkey") < 300)
        val counts = o.groupBy(col("o_custkey"), col("o_orderpriority"))
          .agg(count(lit(1)).as("c"))
        val w = Window.partitionBy(col("o_custkey"))
          .orderBy(col("c").desc, col("o_orderpriority"))
        val modal = counts.withColumn("rn", row_number().over(w))
          .filter(col("rn") === 1)
          .select(col("o_custkey"), col("o_orderpriority").as("modal_priority"))
        o.groupBy(col("o_custkey"))
          .agg(max(col("o_orderdate")).as("last_order"),
            round(max(col("o_totalprice")), 2).as("max_price"),
            count(lit(1)).as("n_orders"))
          .join(modal, "o_custkey")
          .orderBy(col("o_custkey"))
      },
      Some("""WITH o AS (SELECT * FROM orders WHERE o_custkey < 300),
             counts AS (
               SELECT o_custkey, o_orderpriority, count(*) AS c
               FROM o GROUP BY o_custkey, o_orderpriority),
             modal AS (
               SELECT o_custkey, o_orderpriority AS modal_priority
               FROM (SELECT *, row_number() OVER (PARTITION BY o_custkey
                       ORDER BY c DESC, o_orderpriority) AS rn FROM counts)
               WHERE rn = 1),
             agg AS (
               SELECT o_custkey, max(o_orderdate) AS last_order,
                      round(max(o_totalprice), 2) AS max_price,
                      count(*) AS n_orders
               FROM o GROUP BY o_custkey)
             SELECT a.o_custkey, a.last_order, a.max_price, a.n_orders,
                    m.modal_priority
             FROM agg a JOIN modal m USING (o_custkey)
             ORDER BY a.o_custkey""")),

    // k-anonymity audit: every quasi-identifier combination whose
    // group is smaller than k identifies its members to within
    // k−1 candidates — the release-gating check before publishing a
    // dataset keyed on (lang, source, length band). One hash
    // aggregate + HAVING; at 100 TB this is exactly the same
    // partial+final shape as any count rollup, and the flagged set is
    // by definition the small tail. Complements q_text_redact (which
    // scrubs direct identifiers; this catches the indirect ones).
    Spec("q_k_anonymity",
      (s, dir) =>
        t(s, dir, "documents")
          .groupBy(col("lang"), col("source"),
            expr("n_chars div 100").as("len_band"))
          .agg(count(lit(1)).as("group_size"))
          .filter(col("group_size") < 5)
          .orderBy(col("lang"), col("source"), col("len_band")),
      Some("""SELECT lang, source, n_chars // 100 AS len_band,
                    count(*) AS group_size
             FROM documents
             GROUP BY lang, source, n_chars // 100
             HAVING count(*) < 5
             ORDER BY lang, source, len_band""")),

    // l-diversity release audit — k-anonymity's standard companion
    // (Machanavajjhala et al. 2007): a quasi-identifier group can be
    // large (k-anonymous) yet still leak if its SENSITIVE attribute is
    // near-constant. Flags (event_type, value-band) groups whose rows
    // trace back to < 3 distinct users. One grouped exact
    // count-distinct — two hash aggregates on the same key at scale;
    // the audit table is group-cardinality-sized, never row-sized.
    Spec("q_l_diversity",
      (s, dir) =>
        t(s, dir, "events")
          .groupBy(col("event_type"),
            expr("CAST(floor(value / 25) AS BIGINT)").as("value_band"))
          .agg(count(lit(1)).as("group_size"),
            countDistinct(col("user_id")).as("diversity"))
          .filter(col("diversity") < 3)
          .orderBy(col("event_type"), col("value_band")),
      Some("""SELECT event_type,
                    CAST(floor(value / 25) AS BIGINT) AS value_band,
                    CAST(count(*) AS BIGINT) AS group_size,
                    CAST(count(DISTINCT user_id) AS BIGINT) AS diversity
             FROM events
             GROUP BY event_type, CAST(floor(value / 25) AS BIGINT)
             HAVING count(DISTINCT user_id) < 3
             ORDER BY event_type, value_band""")),

    // Incremental aggregate maintenance (materialized-view refresh):
    // the maintained per-key aggregate table absorbs a delta batch by
    // UNION + re-aggregate of two ALREADY-AGGREGATED frames — the
    // corpus is never rescanned, the merge shuffles only per-key
    // partials (sum/count are the mergeable states; avg derives from
    // them at read time). The oracle recomputes from scratch over the
    // full table: the gate is merge == recompute, the algebraic
    // property incremental view maintenance rests on.
    Spec("q_incremental_agg",
      (s, dir) => {
        val li = t(s, dir, "lineitem")
        val base = li.filter(pmod(col("l_orderkey"), lit(10)) =!= 0)
        val delta = li.filter(pmod(col("l_orderkey"), lit(10)) === 0)
        def partials(df: org.apache.spark.sql.DataFrame) =
          df.groupBy(col("l_returnflag"))
            .agg(sum(col("l_quantity")).as("s"), count(lit(1)).as("c"))
        partials(base).unionAll(partials(delta))
          .groupBy(col("l_returnflag"))
          .agg(round(sum(col("s")), 2).as("sum_qty"),
            sum(col("c")).as("n_rows"))
          .withColumn("avg_qty",
            floor(col("sum_qty") / col("n_rows") * 10000) / 10000)
          .orderBy(col("l_returnflag"))
      },
      Some("""SELECT l_returnflag, round(sum(l_quantity), 2) AS sum_qty,
                    count(*) AS n_rows,
                    floor(round(sum(l_quantity), 2) / count(*) * 10000)
                      / 10000 AS avg_qty
             FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag"""))
  )
}
