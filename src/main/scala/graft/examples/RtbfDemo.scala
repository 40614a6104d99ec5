package graft.examples

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Sessions
import graft.operators.{DedupQueries, Q, ScaleOps, TakedownAudit, TextQueries,
  ExtraSimilarityQueries => ESQ}
import graft.streaming.ComposedPipeline

/** One-command right-to-be-forgotten demo (VERDICT r17 stretch #7):
  * a single takedown list driven through ALL FOUR delete surfaces —
  *
  *   1. ANN index      — [[ScaleOps.tombstone]] over the frozen-
  *                       codebook cells/codes (q_ann_delete's path);
  *   2. dedup prefix   — [[DedupQueries.prefixFilterIncremental]]
  *                       with `tombstones` (q_dedup_prefix_delete);
  *   3. scrub df       — [[TextQueries.scrubIncremental]] with
  *                       `deletedDocs` + the `appliedTakedowns`
  *                       exactly-once ledger (q_text_scrub_delete);
  *   4. streaming      — [[ComposedPipeline.takedownBatch]] delta=−1
  *                       silver rows (StreamingSpec's leg);
  *
  * with one [[TakedownAudit]] line per surface: ids requested /
  * applied / already-gone / never-present. The list deliberately
  * mixes all three classes — a retracted range, a slice a PRIOR
  * takedown already removed, and ids that never existed — and
  * RtbfSpec asserts the four surfaces agree on the APPLIED set (the
  * compliance statement: one request, one answer, regardless of which
  * index a doc is looked up in). Each surface's delete is actually
  * executed, and the streaming surface's effective −1 rows are
  * required to equal its audited applied set.
  *
  * Usage: runMain graft.examples.RtbfDemo [sfDir] [workDir]
  */
object RtbfDemo {

  /** Drive the list through the four surfaces; returns the audits in
    * surface order (ann, prefix, scrub, stream). `workDir` holds the
    * streaming surface's silver table + ledger. The prior/requested
    * fixtures live on [[TakedownAudit]], shared with the
    * `q_rtbf_audit` gate so the sites cannot drift. */
  def run(spark: SparkSession, sfDir: String, workDir: String)
      : Seq[TakedownAudit.SurfaceAudit] = {
    val docs = Q.t(spark, sfDir, "documents")
    val e = Q.t(spark, sfDir, "embeddings")
    val prior = TakedownAudit.priorIds(spark)
    val requested = TakedownAudit.requestedIds(spark)
    val allTomb = prior.unionByName(requested).distinct()

    // ---- 1. ANN: frozen-codebook index; prior ids already in the
    // tombstone table; present = indexed vec_ids (the index covers
    // vec_id >= 20 — ids below are codebook seeds, never indexed)
    val idx = ESQ.frozenAnnIndex(e)
    val annAudit = TakedownAudit.audit("ann",
      requested.withColumnRenamed("doc_id", "vec_id"),
      idx.cells.select(col("vec_id")),
      prior.withColumnRenamed("doc_id", "vec_id"), idCol = "vec_id")
    // execute: carry the full tombstone set; live view shrinks by
    // exactly applied + already-gone (both physically present here)
    val liveCells = ScaleOps.tombstone(idx.cells,
      allTomb.withColumnRenamed("doc_id", "vec_id"), "vec_id")
    val expectGone = annAudit.applied.size + annAudit.alreadyGone.size
    val shrink = idx.cells.count() - liveCells.count()
    require(shrink == expectGone,
      s"ann delete removed $shrink live postings, audit says $expectGone")

    // ---- 2. dedup prefix index: present = corpus doc_ids (every doc
    // holds postings); prior ids already tombstoned
    val prefixAudit = TakedownAudit.audit("prefix",
      requested, docs.select(col("doc_id")), prior)
    // execute: a small fresh batch deduped against the live postings
    val batch = docs.filter(col("doc_id") < 20)
      .select((col("doc_id") + 1000000L).as("doc_id"), col("text"))
    DedupQueries.prefixFilterIncremental(batch, docs, 0.8,
      tombstones = Some(allTomb)).count()

    // ---- 3. scrub segment-df: count state with the exactly-once
    // ledger — prior ids are ON the ledger (their decrements already
    // in df), so only the fresh slice decrements
    val scrubAudit = TakedownAudit.audit("scrub",
      requested, docs.select(col("doc_id")), prior)
    val deletedDocs = docs.join(broadcast(requested), Seq("doc_id"), "left_semi")
    TextQueries.scrubIncremental(batch, docs, 8, 1L,
      deletedDocs = Some(deletedDocs),
      appliedTakedowns = Some(prior)).count()

    // ---- 4. streaming silver: curate everything, apply the prior
    // takedown, then audit + submit the list and require the new −1
    // rows equal the audited applied set
    val silver = s"$workDir/silver"
    val (freq, scal) = TextQueries.trainUnigramLm(docs)
    ComposedPipeline.curateBatch(docs, 0L, silver,
      freq.localCheckpoint(), scal.localCheckpoint())
    ComposedPipeline.takedownBatch(prior, 0L, silver)
    def silverT = spark.read.schema(ComposedPipeline.SilverSchema)
      .parquet(silver)
    val streamAudit = TakedownAudit.audit("stream",
      requested,
      silverT.filter(col("delta") > 0).select(col("doc_id")),
      silverT.filter(col("delta") < 0).select(col("doc_id")))
    ComposedPipeline.takedownBatch(requested, 1L, silver)
    val minusNow = silverT.filter(col("delta") < 0)
      .join(prior, Seq("doc_id"), "left_anti")
      .select(col("doc_id")).distinct()
      .collect().map(_.getLong(0)).sorted.toSeq
    require(minusNow == streamAudit.applied,
      s"stream applied ${minusNow.size} decrements, audit says " +
        s"${streamAudit.applied.size}")

    // drain-time maintenance (VERDICT r18 next #4): the session ends
    // through the reconcile contract — a curate/takedown race orphan
    // would heal here even if no further takedown batch ever arrived
    // (fresh epoch id per the reconcileTakedowns cadence contract)
    ComposedPipeline.drainAndReconcile(spark, Nil, silver,
      epochBatchId = 9L)

    Seq(annAudit, prefixAudit, scrubAudit, streamAudit)
  }

  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.001")
    val workDir = args.lift(1).getOrElse(
      java.nio.file.Files.createTempDirectory("rtbf").toString)
    val spark = Sessions.local(Sessions.cpus(32))
    spark.sparkContext.setLogLevel("WARN")
    val audits = run(spark, sfDir, workDir)
    println("right-to-be-forgotten audit — one request, four surfaces:")
    audits.foreach(a => println("  " + a.line))
    val agreed = audits.map(_.applied).distinct.size == 1
    println(s"  surfaces agree on applied set: $agreed")
    require(agreed, "delete surfaces disagree on the applied set")
    spark.stop()
  }
}
