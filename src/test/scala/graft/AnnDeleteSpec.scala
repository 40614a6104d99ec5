package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** The q_ann_delete contract (VERDICT r16 missing #2 / next #2): the
  * delete dual of AnnIncrementalSpec. With the codebook FROZEN,
  * subtracting tombstoned ids from the index tables with one
  * broadcast anti-join ([[graft.operators.ScaleOps.tombstone]]) must
  * equal rebuilding the index from scratch over the surviving ids.
  * The oracle gate proves that cross-engine (DuckDB rebuilds without
  * the deleted rows); this spec proves it engine-internally, pins the
  * end-to-end search invariants (no tombstoned id ever surfaces; the
  * results actually CHANGED vs the pre-delete index, so the test
  * cannot pass vacuously). */
class AnnDeleteSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  private val dir = "/root/testdata/sf0.001"

  test("tombstone anti-join equals rebuild-without-deleted (cells and codes)") {
    import graft.operators.{ExtraSimilarityQueries => ESQ, ScaleOps, VectorQueries => VQ}
    val e = spark.read.parquet(s"$dir/embeddings.parquet")
    val allE = e.filter(col("vec_id") >= 20)
      .select(col("vec_id"), col("embedding"))
    // the q_ann_delete tombstone set (the gate's own shared predicate:
    // a retracted-crawl range plus two point takedowns that seeded the
    // frozen PQ codebook)
    val tombPred = ESQ.annDeleteTombstonePred(col("vec_id"))
    val liveE = allE.filter(!tombPred)
    val tomb = allE.filter(tombPred).select(col("vec_id"))
    // frozen artifacts trained PRE-delete (deleted rows included in
    // training) — exactly the q_ann_delete construction
    val corpusE = allE.filter(pmod(col("vec_id"), lit(5)) =!= 0)
    val cents = ESQ.lloydTrain(
      corpusE.select(col("vec_id"), col("embedding").as("ev")),
      e.filter(col("vec_id") < 8)
        .select(col("vec_id").as("cent_id"),
          graft.functions.VectorFunctions.asDouble(col("embedding")).as("cv")),
      2)
    val cb = VQ.pqSub(corpusE, "vec_id", 8, 8).filter(col("vec_id") < 36)
      .select(col("m").as("cb_m"), col("vec_id").as("code"),
        col("sv").as("cv"))

    def cellsOf(df: org.apache.spark.sql.DataFrame) =
      ESQ.assignTo(cents)(
          df.select(col("vec_id"), col("embedding").as("ev")),
          "vec_id", "ev")
        .select(col("vec_id"), col("cent_id"))
    def codesOf(df: org.apache.spark.sql.DataFrame) =
      VQ.pqCodes(VQ.pqSub(df, "vec_id", 8, 8), cb, "vec_id")

    val tombCells = ScaleOps.tombstone(cellsOf(allE), tomb, "vec_id")
    val rebuiltCells = cellsOf(liveE)
    assert(tombCells.exceptAll(rebuiltCells).isEmpty &&
      rebuiltCells.exceptAll(tombCells).isEmpty,
      "cells: tombstone anti-join must equal rebuild-without-deleted")

    val tombCodes = ScaleOps.tombstone(codesOf(allE), tomb, "vec_id")
    val rebuiltCodes = codesOf(liveE)
    assert(tombCodes.exceptAll(rebuiltCodes).isEmpty &&
      rebuiltCodes.exceptAll(tombCodes).isEmpty,
      "codes: tombstone anti-join must equal rebuild-without-deleted")
  }

  test("q_ann_delete surfaces no tombstoned id and differs from the " +
    "pre-delete index") {
    import graft.operators.{ExtraSimilarityQueries => ESQ}
    val q = SparkEntry.queries
    val del = q("q_ann_delete")(spark, dir)
    val inc = q("q_ann_incremental")(spark, dir)
    // membership from the gate's own shared predicate — no
    // value-level mirror to drift
    val tombIds = spark.read.parquet(s"$dir/embeddings.parquet")
      .filter(ESQ.annDeleteTombstonePred(col("vec_id")))
      .select("vec_id").collect().map(_.getLong(0)).toSet
    def tombstoned(id: Long): Boolean = tombIds(id)
    val delRows = del.collect()
    assert(delRows.nonEmpty, "delete-path search returned no rows")
    assert(!delRows.exists(r => tombstoned(r.getAs[Long]("vec_id"))),
      "a tombstoned vec_id surfaced in delete-path results")
    // the pre-delete index DID surface ids the delete removed — so the
    // delete gate's exclusions are load-bearing, not vacuous
    val incIds = inc.collect().map(_.getAs[Long]("vec_id")).toSet
    assert(incIds.exists(tombstoned),
      "pre-delete results contain no tombstoned ids — the delete test " +
        "would be vacuous; pick a different tombstone predicate")
  }
}
