package graft

import org.scalatest.funsuite.AnyFunSuite

/** Plan-shape regression guard for the most expensive queries: locks in
  * the broadcast / pushdown / no-cartesian expectations so a plan
  * regression fails CI instead of only showing up in the round bench.
  * String-level assertions on the executed plan — coarse on purpose
  * (resilient to Spark version formatting churn, still catches a
  * broadcast silently becoming a shuffle or a bucketed join collapsing
  * to all-pairs).
  */
class PlanAssertSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  private val sf = "/root/testdata/sf0.001"

  private def plan(name: String): String = {
    val df = SparkEntry.queries(name)(spark, sf)
    df.queryExecution.executedPlan.toString
  }

  test("derived verify granularity degenerates at gate scale (no explicit " +
    "repartition nodes) and widens exactly when asked") {
    // gate-scale corpora keep the session constant: the derivation
    // must insert NO repartition exchanges (every Exchange stays
    // ENSURE_REQUIREMENTS) — the "plans unchanged at gate scale" claim
    // as an executable assertion, not prose
    // (an explicit repartition(n, cols) tags its exchange
    // REPARTITION_BY_NUM; none of these three specs uses Q.spread, so
    // any such node could only come from the derivation firing)
    for (q <- Seq("q_dedup_prefix_filter", "q_dedup_prefix_incremental",
        "q_fuzzy_match_blocked")) {
      val p = plan(q)
      assert(!p.contains("REPARTITION_BY_NUM") &&
        !p.contains("REPARTITION_BY_COL"),
        s"$q widened its verify joins at gate scale:\n$p")
    }
    // and the knob is live: an explicit np above the session constant
    // plants the widened hash-partitioned exchanges
    import org.apache.spark.sql.functions._
    import spark.implicits._
    val docs = Seq((1L, Seq("a", "b", "c")), (2L, Seq("b", "c", "d")))
      .toDF("doc_id", "s")
    val widened = graft.operators.DedupQueries
      .prefixFilterPairs(docs, 0.5, np = 63)
      .queryExecution.executedPlan.toString
    assert(widened.contains("REPARTITION_BY_NUM") && widened.contains(", 63)"),
      s"np=63 must appear as explicit repartition exchanges:\n$widened")
  }

  test("q_join_equi broadcasts the customer dim, never nested-loops") {
    val p = plan("q_join_equi")
    assert(p.contains("BroadcastHashJoin"), p)
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"), p)
  }

  test("q_flagship_filter pushes its predicates into the parquet scan") {
    val p = SparkEntry.queries("q_flagship_filter")(spark, sf)
      .queryExecution.executedPlan.toString
    assert(p.contains("PushedFilters: [") &&
      !p.replaceAll("(?s).*PushedFilters: \\[([^\\]]*)].*", "$1").trim.isEmpty,
      s"no pushed filters in:\n$p")
  }

  test("q_dedup_minhash band join is an equi join (no all-pairs fallback)") {
    val p = plan("q_dedup_minhash")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"), p)
  }

  test("q_ann_lsh and q_ann_ivf stay bucketed: scoring joins are equi joins") {
    for (q <- Seq("q_ann_lsh", "q_ann_ivf")) {
      val p = plan(q)
      assert(!p.contains("CartesianProduct"), s"$q:\n$p")
    }
  }

  test("q_fuzzy_match_blocked plans an equi join on the blocking key — " +
    "no cartesian, no nested loop") {
    val p = plan("q_fuzzy_match_blocked")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"), p)
  }

  test("q_dedup_embed_blocked pair join is cell-keyed, never all-pairs") {
    val p = plan("q_dedup_embed_blocked")
    assert(!p.contains("CartesianProduct"), p)
  }

  test("q_window_ntile_month partitions its window exchange on BOTH " +
    "(year, month) keys") {
    val p = plan("q_window_ntile_month")
    assert(p.contains("Window"), p)
    assert(p.contains("hashpartitioning(o_year") && p.contains("o_month"),
      s"window exchange not keyed by (o_year, o_month):\n$p")
  }

  test("q_tfidf broadcasts the scalar corpus count, no cartesian blowup") {
    val p = plan("q_tfidf")
    assert(!p.contains("CartesianProduct"), p)
  }

  test("q_topk uses TakeOrderedAndProject, not a global sort") {
    val p = plan("q_topk")
    assert(p.contains("TakeOrderedAndProject"), p)
  }

  test("q_vector_quantize broadcasts the per-dim stats, never the facts") {
    val p = plan("q_vector_quantize")
    assert(p.contains("BroadcastHashJoin"), p)
    assert(!p.contains("CartesianProduct"), p)
  }

  test("q_balance_classes broadcasts the scalar target") {
    val p = plan("q_balance_classes")
    assert(p.contains("BroadcastNestedLoopJoin") || p.contains("BroadcastHashJoin"), p)
    assert(!p.contains("CartesianProduct"), p)
  }

  test("q_dedup_simhash_pairs bucket join is an equi join") {
    val p = plan("q_dedup_simhash_pairs")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"), p)
  }

  test("q_interval_join_binned plans an equi join, not a nested loop") {
    val p = plan("q_interval_join_binned")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"), p)
  }

  test("packSequences: hierarchical prefix sum equals the single-shard form, " +
    "partition count scales with the shard knob") {
    import org.apache.spark.sql.functions._
    val docs = spark.read.parquet(s"$sf/documents.parquet")
    val sharded = graft.operators.TextQueries.packSequences(docs, 8L)
    val single = graft.operators.TextQueries.packSequences(docs, 1L << 40)
    assert(sharded.collect().toSeq == single.collect().toSeq)
    // the heavy cumulative window partitions on (lang, shard) — shard
    // in the partition spec means parallelism scales with corpus/width,
    // not with the ~5-value lang domain
    val p = sharded.queryExecution.executedPlan.toString
    assert(p.contains("shard"), p)
    val nShardGroups = docs
      .select(col("lang"), expr("doc_id div 8").as("shard"))
      .distinct().count()
    val nLangs = docs.select(col("lang")).distinct().count()
    assert(nShardGroups > nLangs,
      s"shard knob added no parallelism: $nShardGroups groups vs $nLangs langs")
  }

  test("q_balance_classes plans no window at all") {
    val p = plan("q_balance_classes")
    assert(!p.contains("Window"), p)
  }

  test("ANN and TF-IDF top-k route through the native TopKPerKey operator") {
    for (q <- Seq("q_ann_brute", "q_ann_lsh", "q_ann_ivf", "q_tfidf")) {
      val p = plan(q)
      assert(p.contains("TopKPerKeyFinal"), s"$q:\n$p")
      assert(p.contains("TopKPerKeyPartial"), s"$q:\n$p")
    }
  }

  test("q_contamination broadcasts the benchmark shingles — corpus side never shuffles for the join") {
    val p = plan("q_contamination")
    assert(p.contains("BroadcastHashJoin"), p)
    assert(!p.contains("CartesianProduct"), p)
  }

  test("q_dedup_corpus keep-set anti-join is a broadcast") {
    val p = plan("q_dedup_corpus")
    assert(p.contains("BroadcastHashJoin") && p.contains("LeftAnti"), p)
    assert(!p.contains("CartesianProduct"), p)
  }

  test("delete-path tombstones subtract via broadcast anti-joins (r17)") {
    // the whole point of the tombstone contract: index reads pay a
    // map-side hash probe per partition, never a shuffle of the index
    val pa = plan("q_ann_delete")
    assert(pa.contains("LeftAnti"), pa)
    assert(pa.linesIterator.filter(_.contains("LeftAnti"))
      .forall(_.contains("BroadcastHashJoin")),
      s"ANN tombstone anti-join fell off the broadcast path:\n$pa")
    val pd = plan("q_dedup_prefix_delete")
    assert(pd.linesIterator.filter(_.contains("LeftAnti"))
      .exists(_.contains("BroadcastHashJoin")),
      s"prefix tombstone anti-join fell off the broadcast path:\n$pd")
  }

  test("q_ann_recall routes both top-k legs through TopKPerKey") {
    // every recall row: the exact leg and the approximate leg
    for (q <- Seq("q_ann_recall", "q_ann_ivf_recall", "q_ann_ivfpq_recall",
        "q_ann_ivfpq_residual_recall", "q_ann_pq_recall",
        "q_ann_pq_balanced_recall", "q_ann_pq_trained_recall")) {
      val p = plan(q)
      assert(p.sliding("TopKPerKeyFinal".length)
        .count(_ == "TopKPerKeyFinal") == 2, s"$q:\n$p")
    }
    // membership-only consumers: no residual rank window at all
    val p = plan("q_ann_recall")
    assert(!p.contains("row_number"), p)
  }

  test("document queries prune the parquet scan to the columns they read") {
    // documents has 6 columns; a 2-column query must not scan them all
    for (q <- Seq("q_text_token_count", "q_dedup_exact")) {
      val p = plan(q)
      val readSchema = p.replaceAll("(?s).*ReadSchema: struct<([^>]*)>.*", "$1")
      val cols = readSchema.split(",").map(_.trim.takeWhile(_ != ':')).toSet
      assert(cols.subsetOf(Set("doc_id", "text")),
        s"$q scans more than it projects: $cols")
    }
  }

  test("q_dedup_exact shuffles 16-byte digests, not document text") {
    val p = plan("q_dedup_exact")
    // the exchange key is the md5 grouping projection; the partial
    // aggregate computed below it projects text away, so only digests
    // and partial min/count cross the wire
    assert(p.contains("Exchange hashpartitioning(_groupingexpression"), p)
    val partialOut = p.linesIterator
      .filter(_.contains("partial_min")).mkString
    assert(partialOut.nonEmpty && !partialOut.contains("text#"),
      s"text crosses the shuffle:\n$p")
  }

  test("q_join_bloom_pruned injects a runtime bloom filter on the probe side") {
    val p = plan("q_join_bloom_pruned")
    assert(p.contains("might_contain"),
      s"no runtime bloom filter injected (InjectRuntimeFilter gates moved?):\n$p")
    assert(!p.contains("BroadcastHashJoin"),
      s"join fell to broadcast — the bloom demo needs the shuffle path:\n$p")
  }

  test("q_event_funnel rides one user_id partitioning: every hash exchange is keyed on it") {
    val p = plan("q_event_funnel")
    // the staged-minima chain claims a single reusable partitioning —
    // any hashpartitioning exchange that is NOT on user_id would mean a
    // stage re-keyed the stream (at small SF AQE broadcasts the 1-row-
    // per-user stage tables instead, which is strictly better)
    val badKeys = p.linesIterator
      .filter(_.contains("Exchange hashpartitioning("))
      .filterNot(_.contains("user_id"))
      .toList
    assert(badKeys.isEmpty, s"non-user_id hash exchange:\n${badKeys.mkString("\n")}\n$p")
    assert(!p.contains("SortMergeJoin"), s"stage chain fell to sort-merge:\n$p")
  }

  test("q_mm_phash_dedup shuffles hash halves, never payload bytes") {
    val p = plan("q_mm_phash_dedup")
    // after the codec pass the bucket join is keyed on the top hash
    // half and moves only (doc_id, hi, lo) longs — at gate SF the hash
    // table broadcasts (BuildRight on hi), at scale it hash-shuffles;
    // either way no text/payload column may reach a join or exchange
    val joinish = p.linesIterator
      .filter(l => l.contains("Join [hi") || l.contains("Join Inner")
        || l.contains("Exchange hashpartitioning(")).toList
    assert(joinish.exists(l => l.contains("[hi")),
      s"bucket join is not keyed on the hash half:\n$p")
    joinish.foreach(l =>
      assert(!l.contains("text#") && !l.contains("payload"),
        s"payload crosses the join/shuffle: $l"))
  }

  test("battery-wide join-shape sweep: no cartesian products anywhere; " +
    "nested loops only where a side is broadcast-bounded") {
    // queries whose SEMANTICS are non-equi (theta/cross) against a
    // bounded broadcast side — BroadcastNestedLoopJoin is the correct
    // plan there and the build side is constant-size by construction
    val bnljAllowed = Set(
      "q_join_cross",         // tiny distinct side, explicit cross
      "q_range_join",         // 4-row bands build side
      "q_dedup_embed_cosine", // bounded O(n²) oracle variant by design
      "q_fuzzy_match",        // 25-row dim self-candidates
      "q_ann_brute",          // broadcast query set vs corpus
      "q_ann_recall",         // contains the brute leg
      "q_ann_ivf_recall",     // brute leg + 8-row codebook crossJoins
      "q_ann_pq_recall",      // exact-L2 brute leg: 20-row query broadcast
      "q_ann_ivfpq_recall",   // brute leg + 8-row codebook crossJoins
      "q_ann_ivfpq_residual_recall", // same brute leg + codebook crossJoins
      "q_ann_pq_trained_recall", // exact-L2 brute leg: 20-row query broadcast
      "q_ann_pq_balanced_recall", // same brute leg (snake-permuted encode)
      "q_ann_ivf",            // 8-row codebook crossJoin for assignment
      "q_ann_incremental",    // frozen-codebook crossJoin assignment, twice
                              // (corpus + arrivals batch legs)
      "q_ann_delete",         // same frozen-codebook crossJoins as
                              // q_ann_incremental (the tombstone
                              // anti-join itself is a broadcast HASH
                              // join, not a nested loop)
      "q_dedup_semantic",     // 8-row codebook crossJoin for assignment
      "q_dedup_embed_blocked", // same 8-row codebook crossJoin (pairs leg)
      "q_balance_classes",    // 1-row scalar target crossJoin
      "q_mix_sources",        // 1-row token-total crossJoin
      "q_heavy_hitters",      // 1-row broadcast sketch crossJoin
      "q_quality_threshold",  // 1-row broadcast percentile crossJoin
      "q_bm25",               // 1-row broadcast corpus-stats crossJoin
      "q_rrf_fusion",         // bm25 stats + 1-row query-vector crossJoins
      "q_text_commonness",    // 1-row token-total crossJoin
      "q_tfidf",              // 1-row corpus-count crossJoin
      "q_jl_distortion",      // broadcast query set vs corpus (audit row)
      "q_mix_temperature",    // 1-row scalar (T, Σw) crossJoin
      "q_lm_perplexity",      // 1-row broadcast (T, V) LM-normalizer crossJoin
      "q_dsir_weights",       // 1-row broadcast (Tt, Tr) crossJoin
      "q_curation_funnel",    // embeds the perplexity leg's crossJoin
      "q_pipeline_composed",  // embeds the LM (T, V) + DSIR (Tt, Tr) 1-row crossJoins
      "q_chi_square",         // class-margin (|langs| rows) broadcast × vocab grid
      "q_mmr_diversify",      // broadcast query set vs corpus (relevance leg)
      "q_pmi_bigrams",        // 1-row token-total and bigram-total crossJoins
      "q_rolling_distinct",   // 1-row broadcast max-day crossJoin
      "q_exact_quantile",     // tiny broadcast p-table crossJoin
      "q_profile_columns_approx", // 1x1 crossJoins gluing exact+string+sketch agg rows
      "q_profile_columns",    // 1x1 crossJoin gluing the string-min/max agg
                              // row back onto the distinct/null row (r19:
                              // string buffers split out so the Expand
                              // stays in HashAggregate)
      "q_warehouse_composed") // embeds the q_profile_columns member above
    for ((name, fn) <- SparkEntry.queries.toSeq.sortBy(_._1)) {
      val p = fn(spark, sf).queryExecution.executedPlan.toString
      assert(!p.contains("CartesianProduct"),
        s"$name plans a cartesian product:\n$p")
      if (!bnljAllowed(name))
        assert(!p.contains("BroadcastNestedLoopJoin"),
          s"$name plans an unexpected nested loop:\n$p")
    }
  }

  test("q_text_quality runs no interpreted lambda: stop-word count is native") {
    val df = SparkEntry.queries("q_text_quality")(spark, sf)
    val analyzed = df.queryExecution.analyzed.toString
    assert(!analyzed.contains("lambdafunction"),
      s"interpreted HOF survives in q_text_quality:\n$analyzed")
    assert(analyzed.contains("tokeninsetcount"), analyzed)
  }

  test("q_sample_weighted plans a TakeOrdered top-k, not a global sort") {
    val p = plan("q_sample_weighted")
    assert(p.contains("TakeOrderedAndProject"), p)
  }

  test("q_dedup_keep_best arg-max is a partial aggregate, no window") {
    val p = plan("q_dedup_keep_best")
    assert(!p.contains("Window"), p)
    assert(p.contains("partial_max") || p.contains("partial_"), p)
    assert(p.contains("BroadcastHashJoin"), p)
  }

  test("q_keyword_search intersects postings via broadcast equi-join") {
    val p = plan("q_keyword_search")
    assert(p.contains("BroadcastHashJoin"), p)
    assert(!p.contains("CartesianProduct") &&
      !p.contains("BroadcastNestedLoopJoin"), p)
  }

  test("q_bucketed_join runs join AND aggregate with zero hash exchanges") {
    val p = plan("q_bucketed_join")
    // at gate scale the filtered small side may legitimately broadcast
    // (also exchange-free); what bucketing must guarantee is that
    // NOTHING hash-repartitions — the key-grouped aggregate reuses the
    // bucket partitioning either way
    assert(p.contains("SortMergeJoin") || p.contains("BroadcastHashJoin"), p)
    assert(p.contains("Bucketed: true"), p)
    assert(!p.contains("Exchange hashpartitioning"),
      s"bucketed join re-shuffled:\n$p")
  }

  test("q_domain_topk caps per-domain rows through the native TopKPerKey") {
    val p = plan("q_domain_topk")
    assert(p.contains("TopKPerKeyFinal") && p.contains("TopKPerKeyPartial"), p)
    assert(!p.contains("row_number"), p)
  }

  test("q_partitioned_read prunes at the partition level, not per row") {
    val p = plan("q_partitioned_read")
    assert(p.contains("PartitionFilters: ["), p)
    val pf = p.replaceAll("(?s).*PartitionFilters: \\[([^\\]]*)].*", "$1")
    assert(pf.contains("lang"), s"lang not in partition filters: $pf\n$p")
  }

  test("q_rtbf_audit never shuffles the corpus side: broadcast semi " +
    "reduces it map-side, every join is broadcast") {
    val p = plan("q_rtbf_audit")
    // the present-side reduction and both outer joins ride broadcasts
    assert(p.contains("BroadcastHashJoin"), p)
    // no sort-merge / shuffled-hash join anywhere: the corpus-sized
    // side must never be exchanged for this takedown-sized audit
    assert(!p.contains("SortMergeJoin") && !p.contains("ShuffledHashJoin"),
      s"corpus side shuffled:\n$p")
    assert(!p.contains("CartesianProduct") &&
      !p.contains("BroadcastNestedLoopJoin"), p)
  }

  test("Q.spread preserves values while widening parallelism") {
    val df = spark.read.parquet(s"$sf/documents.parquet")
    val spreadDf = graft.operators.Q.spread(spark, df)
    assert(spreadDf.rdd.getNumPartitions ==
      spark.sparkContext.defaultParallelism)
    assert(spreadDf.count() == df.count())
    assert(spreadDf.agg(org.apache.spark.sql.functions.sum("doc_id")).head ==
      df.agg(org.apache.spark.sql.functions.sum("doc_id")).head)
  }
}
