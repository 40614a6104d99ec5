package graft.examples

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

import graft.Sessions
import graft.operators.Q
import graft.operators.ScaleOps
import graft.operators.ScaleOps.materializePinned

/** The LLM-training-data pipeline, composed end-to-end from the
  * operator battery: PII scrub → repetition quality filter → domain
  * wholesale filter → LM-perplexity tail drop → DSIR target selection
  * → near-dup dedup (keep set) → leakage-aware split →
  * temperature-scaled source mixing → sequence packing →
  * sliding-window chunking. Each stage is the same code the oracle
  * gate verifies query-by-query; this main proves they compose into
  * the pipeline a user would actually run, and prints one JSON line of
  * stage counts.
  *
  * Usage: runMain graft.examples.CorpusPipelineDemo [sfDir]
  */
object CorpusPipelineDemo {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.01")
    val spark = Sessions.local(Sessions.cpus(32))
    spark.sparkContext.setLogLevel("WARN")
    // composed-run scale evidence (VERDICT r8 #5): wall / spill /
    // failures / peak for the whole DAG — see [[PipelineProbe]]
    val probe = new PipelineProbe(spark)
    val counts = run(spark, sfDir)
    println(counts)
    println(probe.reportJson("corpus_pipeline_composed", sfDir))
    spark.stop()
  }

  /** Runs the composed pipeline; returns the JSON stage summary. */
  def run(spark: SparkSession, sfDir: String): String = {
    val q = graft.SparkEntry.queries
    // Keep-set caching (r10): the first composed 100× run measured
    // 192 s against a 54 s sum of member-stage per-row times — the gap
    // was shared subtrees RE-EXECUTING across the demo's many actions
    // (each stage count, then the 9-way survivors join, rebuilt every
    // stage's lineage from the scan). A production DAG pins the tiny
    // per-stage keep-sets (doc_id projections) through
    // ScaleOps.materializePinned, so the survivors join and every
    // downstream station reuse them instead of recomputing. The
    // finally releases every pin the run registered, its own and the
    // member queries', on every exit path: the specs share one session.
    try {
      val docs = Q.t(spark, sfDir, "documents")
      val nDocs = docs.count()

      // 1. PII scrub (map-only; audit counts aggregated for the report)
      val scrub = graft.operators.TextQueries.redact(docs)
      val nRedactions = scrub
        .agg(sum(col("n_emails") + col("n_longnums"))).head().getLong(0)

      // 2. quality: drop repetitive docs (Gopher rule) AND docs the
      //    linear classifier rejects (model-based filter, stateless map)
      val qualityIds = materializePinned(
        q("q_text_repetition")(spark, sfDir)
          .filter(!col("is_repetitive")).select("doc_id")
          .join(graft.operators.TextQueries.qualityClassifier(docs)
            .filter(col("keep")).select("doc_id"), Seq("doc_id")))
      val nQuality = qualityIds.count()

      // 2b. canonical exact dedup FIRST (one native byte pass + digest
      //     groupBy): trivially-different copies collapse before the
      //     (more expensive) MinHash machinery ever sees them
      val canonKeep = materializePinned(graft.operators.DedupQueries
        .canonicalDigest(docs)
        .groupBy(col("canon_digest")).agg(min(col("doc_id")).as("doc_id"))
        .select("doc_id"))
      val nCanon = canonKeep.count()

      // 2c. per-domain cap: at most 40 docs per source domain, best by
      //     n_chars (native TopKPerKey — the CommonCrawl host-cap rule)
      val domainCapped = materializePinned(ScaleOps.topKPerKey(
          docs.select(col("doc_id"), col("source"), col("n_chars")),
          Seq(col("source")), Seq(col("n_chars").desc, col("doc_id")), 40)
        .select("doc_id"))
      val nDomainCapped = domainCapped.count()

      // 2d. domain-level WHOLESALE quality: drop every doc of a host
      //     whose aggregate signal is below the bar (host stats are one
      //     keyed aggregate, broadcast back — corpus rows never shuffle)
      val domainOk = materializePinned(
        q("q_domain_quality_filter")(spark, sfDir)
          .filter(col("kept")).select("doc_id"))
      val nDomainOk = domainOk.count()

      // 2e. CCNet-style LM-perplexity filter: train the unigram LM on
      //     the md5 half, score EVERY doc (the LM broadcasts), drop the
      //     worst tercile. The cut is the corpus' own 2/3 avg_nll
      //     QUANTILE (CCNet's actual head/middle/tail rule), not an
      //     absolute threshold: the r10 100×-replica run proved fixed
      //     thresholds corpus-specific — the replica's add-one-smoothed
      //     NLL shifts with ln(T+V) and the absolute 3.41 cut dropped
      //     ALL 500 k docs. The quantile is one extra job returning a
      //     driver scalar (the quality-threshold percentile pattern) and
      //     keeps the stage meaning "the best two thirds" at any scale.
      //     Since r11 the cut is ScaleOps.exactQuantiles over the
      //     10⁴-scaled integer score — EXACT and a deterministic
      //     function of the score multiset (approxQuantile's GK sketch
      //     varied with partition merge order), so this demo stage and
      //     the q_pipeline_composed gate now run the SAME policy.
      val (lmFreq, lmScal) = graft.operators.TextQueries.trainUnigramLm(docs)
      // persist the small (doc_id, nll4) projection BEFORE the
      // quantile: the scoring join (token explode × broadcast LM) is the
      // stage's dominant cost and would otherwise execute twice — once
      // for the quantile job, again for the keep-set filter
      val lmScored = materializePinned(graft.operators.TextQueries
        .scoreAgainstLm(docs, lmFreq, lmScal)
        .select(col("doc_id"),
          round(col("avg_nll") * 10000).cast("long").as("nll4")))
      // empty/all-null scores → exactQuantiles returns no rows — keep
      // everything vacuously rather than crashing the composed run
      val pplCut = ScaleOps
        .exactQuantiles(lmScored.select(col("nll4")), "nll4",
          Seq(2.0 / 3.0))
        .collect().headOption.map(_.getLong(1)).getOrElse(Long.MaxValue)
      val lmOk = materializePinned(
        lmScored.filter(col("nll4") <= pplCut).select("doc_id"))
      val nLmOk = lmOk.count()

      // 2f. DSIR importance selection toward the target domain (en):
      //     target docs ride through; raw docs survive iff their hashed
      //     n-gram log-ratio says they look like the target
      val dsirOk = materializePinned(
        docs.filter(col("lang") === "en").select("doc_id")
          .union(graft.operators.CurationQueries
            .dsirWeights(docs, col("lang") === "en")
            .filter(col("selected")).select("doc_id")))
      val nDsirOk = dsirOk.count()

      // audit: the crawl front door — canonical-URL dedup collapses
      // fetch variants before any content pass (reported, not joined:
      // the demo corpus synthesizes URL variants, so the collapse is a
      // front-door audit rather than a semantic filter on these docs)
      val nCanonicalUrls = q("q_url_canonical")(spark, sfDir).count()

      // 3. dedup keep set (MinHash → verify → clusters → canonical)
      val keepIds =
        materializePinned(q("q_dedup_corpus")(spark, sfDir).select("doc_id"))

      // 4. leakage-aware split (cluster-keyed, so near-dups co-travel)
      val splits = materializePinned(q("q_split_by_cluster")(spark, sfDir)
        .select(col("doc_id"), col("split")))

      val surviving = materializePinned(docs
        .join(qualityIds, Seq("doc_id"))
        .join(canonKeep, Seq("doc_id"))
        .join(domainCapped, Seq("doc_id"))
        .join(domainOk, Seq("doc_id"))
        .join(lmOk, Seq("doc_id"))
        .join(dsirOk, Seq("doc_id"))
        .join(keepIds, Seq("doc_id"))
        .join(splits, Seq("doc_id")))
      val nSurviving = surviving.count()
      val perSplit = surviving.groupBy(col("split")).count()
        .collect().map(r => r.getString(0) -> r.getLong(1)).toMap

      // 4b. incremental arrival: dedup a simulated "tomorrow's batch"
      //     (every 5th doc) against the surviving corpus — the daily
      //     ingest path (batch bands vs the corpus band index)
      val corpusSide = docs.join(surviving.select("doc_id"), Seq("doc_id"))
        .filter(pmod(col("doc_id"), lit(5)) =!= 0)
      val arrivals = docs.filter(pmod(col("doc_id"), lit(5)) === 0)
      val nArrivalsKept = graft.operators.DedupQueries
        .incrementalKeep(arrivals, corpusSide).count()

      // 4c. temperature-scaled mixing (τ = 0.5) of the TRAIN split:
      //     weights derive from the survivors' own per-lang token mass
      //     (w ∝ sqrt(toks), budget T/2) — the multilingual upsampling
      //     rule applied where it belongs, on what is about to be packed
      val train = surviving.filter(col("split") === "train")
      val tok = size(split(col("text"), " ")).cast("long")
      val mixCounts = train.groupBy(col("lang"))
        .agg(sum(tok).as("toks_lang"))
        .withColumn("w",
          floor(sqrt(col("toks_lang").cast("double")) * 1000).cast("long"))
      val mixScal = mixCounts.agg(sum(col("toks_lang")).as("T"),
        sum(col("w")).as("sw"))
      val mixBucket = conv(substring(md5(concat(lit("mixt|"),
        col("doc_id").cast("string"))), 1, 15), 16, 10).cast("long") % 1000000L
      val trainMixed = train
        .join(broadcast(mixCounts), "lang")
        .crossJoin(broadcast(mixScal))
        .filter(mixBucket * col("sw") * col("toks_lang") * 2L <
          col("T") * col("w") * 1000000L)
        .select(train.columns.map(col): _*)
      val nTrainMixed = trainMixed.count()

      // 5. pack the mixed training docs into ~512-token sequences
      val packs = graft.operators.TextQueries
        .packSequences(trainMixed, graft.operators.TextQueries.PackShardWidth)
      val nPacks = packs.select(col("lang"), col("pack_id")).distinct().count()

      // 6. chunk every surviving doc for the retrieval index
      val nChunks = q("q_chunk_overlap")(spark, sfDir)
        .join(surviving.select("doc_id"), Seq("doc_id")).count()

      // 7. publish the train split: write (micro-batch-shaped, many
      //    small files), then compact to ~1 MiB outputs — the
      //    operational final step of every incremental corpus
      val out = java.nio.file.Files.createTempDirectory("corpus_out")
      val nFiles =
        try {
          trainMixed
            .repartition(32).write.mode("overwrite")
            .parquet(s"$out/train_raw")
          ScaleOps.compactFiles(spark,
            s"$out/train_raw", s"$out/train", targetBytes = 1L << 20)
        // the file count is the published fact; reclaim the scratch tree
        // so repeated demo/spec runs don't accumulate /tmp garbage
        } finally graft.operators.Q.deleteTree(out)

      s"""{"n_docs":$nDocs,"n_redactions":$nRedactions,""" +
        s""""after_canonical":$nCanon,"after_domain_cap":$nDomainCapped,""" +
        s""""after_quality":$nQuality,"after_domain_quality":$nDomainOk,""" +
        s""""after_lm_ppl":$nLmOk,"after_dsir":$nDsirOk,""" +
        s""""canonical_urls":$nCanonicalUrls,""" +
        s""""after_dedup_and_split":$nSurviving,""" +
        s""""train":${perSplit.getOrElse("train", 0L)},""" +
        s""""val":${perSplit.getOrElse("val", 0L)},""" +
        s""""test":${perSplit.getOrElse("test", 0L)},""" +
        s""""train_mixed":$nTrainMixed,""" +
        s""""arrivals_kept":$nArrivalsKept,""" +
        s""""train_packs":$nPacks,"chunks":$nChunks,""" +
        s""""train_files":$nFiles}"""
    } finally ScaleOps.releaseAll()
  }
}
