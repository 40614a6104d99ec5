package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Right-to-be-forgotten request AUDIT (VERDICT r17 stretch #7): one
  * classification shared by all four delete surfaces — ANN tombstone
  * ([[ScaleOps.tombstone]] over the frozen-codebook cells/codes),
  * dedup prefix tombstone
  * ([[DedupQueries.prefixFilterIncremental]]'s `tombstones`), scrub
  * count-decrement ([[TextQueries.scrubIncremental]]'s `deletedDocs`
  * + `appliedTakedowns` ledger), and the streaming delta=−1 leg
  * ([[graft.streaming.ComposedPipeline.takedownBatch]]). A takedown
  * list submitted to a surface splits three ways:
  *
  *   - APPLIED — present in the surface's state and not yet deleted:
  *     the ids this submission actually removes. The four surfaces
  *     MUST agree on this set when driven by one list against state
  *     built from the same corpus (RtbfSpec asserts it) — that
  *     agreement is the audit a compliance reviewer wants.
  *   - ALREADY GONE — a prior takedown got them; re-submission is a
  *     no-op on every surface (anti-join on tombstones / the applied
  *     ledger / existing −1 rows).
  *   - NEVER PRESENT — never crawled, deduped away before indexing,
  *     or out of range: nothing to remove. The streaming surface
  *     still LEDGERS these so a late arrival is suppressed.
  *
  * Priority: a ledgered/tombstoned id counts as ALREADY GONE even
  * while its dead rows physically remain in a carried index — the
  * carry-vs-compact distinction (BASELINE.md "Tombstone
  * carry-vs-compact crossover, r17") is storage layout, not deletion
  * status.
  *
  * Scale shape: `requested` is takedown-sized by definition; every
  * classification is a semi/anti-join of the request against id-only
  * projections of surface state, and the returned id lists are
  * request-bounded (the collect is part of the audit contract — an
  * audit line IS driver-side output). */
object TakedownAudit {

  final case class SurfaceAudit(surface: String, nRequested: Long,
                                applied: Seq[Long], alreadyGone: Seq[Long],
                                neverPresent: Seq[Long]) {
    /** The one audit line per surface the demo prints. */
    def line: String =
      f"$surface%-10s requested=$nRequested%-5d applied=${applied.size}%-5d " +
        f"already_gone=${alreadyGone.size}%-4d never_present=${neverPresent.size}%-4d " +
        s"applied_ids=[${idsPreview(applied)}]"
    private def idsPreview(ids: Seq[Long]): String =
      if (ids.size <= 8) ids.mkString(",")
      else ids.take(8).mkString(",") + s",… (${ids.size} total)"
  }

  /** The classification as a DataFrame — (idCol, class) with class ∈
    * {applied, already_gone, never_present} — the distributed form
    * [[audit]] collects and the `q_rtbf_audit` gate replays
    * cross-engine. Plan shape for the 100 TB case: `present` is the
    * corpus-sized side, so it is NEVER shuffled or outer-joined —
    * the broadcast REQUEST semi-joins it down to ≤ |request| hit ids
    * in one map-side pass over its scan, and everything after is
    * broadcast joins of takedown-sized tables. */
  def classify(requested: DataFrame, present: DataFrame,
               alreadyGone: DataFrame, idCol: String = "doc_id"): DataFrame = {
    val req = requested.select(col(idCol)).distinct()
    // corpus-side scan reduced map-side: broadcast-semi, no shuffle
    val presHit = present.select(col(idCol))
      .join(broadcast(req), Seq(idCol), "left_semi").distinct()
      .withColumn("__p", lit(1))
    val gone0 = alreadyGone.select(col(idCol)).distinct()
      .withColumn("__g", lit(1))
    req.join(broadcast(gone0), Seq(idCol), "left")
      .join(broadcast(presHit), Seq(idCol), "left")
      .select(col(idCol),
        when(col("__g").isNotNull, lit("already_gone"))
          .when(col("__p").isNotNull, lit("applied"))
          .otherwise(lit("never_present")).as("class"))
  }

  /** Classify one request list against one surface. All three frames
    * must carry the id column `idCol`; `present` is the surface's
    * indexed/counted id projection, `alreadyGone` its deletion record
    * (tombstone table / applied ledger / existing −1 rows). */
  def audit(surface: String, requested: DataFrame, present: DataFrame,
            alreadyGone: DataFrame, idCol: String = "doc_id"): SurfaceAudit = {
    val classed = classify(requested, present, alreadyGone, idCol)
      .collect().map(r => (r.getLong(0), r.getString(1)))
    def ids(cls: String): Seq[Long] =
      classed.collect { case (id, c) if c == cls => id }.sorted.toSeq
    SurfaceAudit(surface, classed.length.toLong,
      ids("applied"), ids("already_gone"), ids("never_present"))
  }

  /** The demo/spec takedown fixtures, shared with RtbfDemo and the
    * `q_rtbf_audit` gate so the Scala sites cannot drift (the DuckDB
    * oracle keeps its own SQL transcription of the same ranges). A
    * PRIOR takedown removed 40–45; the submitted list re-includes
    * them, adds the fresh 46–80 slice, and 11 ids far past any SF's
    * doc range. */
  private[graft] def priorIds(spark: SparkSession): DataFrame =
    spark.range(40, 46).select(col("id").as("doc_id"))

  private[graft] def requestedIds(spark: SparkSession): DataFrame =
    spark.range(40, 81).select(col("id").as("doc_id"))
      .unionByName(spark.range(9000000000L, 9000000011L)
        .select(col("id").as("doc_id")))

  /** `q_rtbf_audit` — the takedown classification, oracle-gated:
    * DuckDB replays the identical request/prior ranges and the CASE
    * classification against the documents table, so the audit every
    * delete surface shares is cross-engine-checked, not just
    * spec-asserted. */
  lazy val specs: Seq[Q.Spec] = Seq(
    Q.Spec("q_rtbf_audit",
      (s, dir) => classify(requestedIds(s),
          Q.t(s, dir, "documents").select(col("doc_id")),
          priorIds(s))
        .orderBy(col("doc_id")),
      Some("""WITH req AS (
               SELECT range AS doc_id FROM range(40, 81)
               UNION ALL
               SELECT range AS doc_id FROM range(9000000000, 9000000011)),
             pres AS (SELECT DISTINCT doc_id FROM documents),
             gone AS (SELECT range AS doc_id FROM range(40, 46))
             SELECT r.doc_id,
               CASE WHEN g.doc_id IS NOT NULL THEN 'already_gone'
                    WHEN p.doc_id IS NOT NULL THEN 'applied'
                    ELSE 'never_present' END AS class
             FROM req r
             LEFT JOIN gone g USING (doc_id)
             LEFT JOIN pres p USING (doc_id)
             ORDER BY r.doc_id""")))
}
