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
  import AnnDeleteSpec.dir
  private lazy val spark = TestSpark.spark

  test("tombstone anti-join equals rebuild-without-deleted (cells and codes)") {
    import graft.operators.{ExtraSimilarityQueries => ESQ, ScaleOps, VectorQueries => VQ}
    val e = spark.read.parquet(s"$dir/embeddings.parquet")
    // the q_ann_delete tombstone set (the gate's own shared predicate:
    // a retracted-crawl range plus two point takedowns that seeded the
    // frozen PQ codebook)
    val tombPred = ESQ.annDeleteTombstonePred(col("vec_id"))
    val allE = e.filter(col("vec_id") >= 20)
      .select(col("vec_id"), col("embedding"))
    val liveE = allE.filter(!tombPred)
    val tomb = allE.filter(tombPred).select(col("vec_id"))
    // the tombstone side: the production index (frozen artifacts
    // trained PRE-delete, deleted rows included) minus the tombstones
    val idx = ESQ.frozenAnnIndex(e)
    // the rebuild side: the surviving rows assigned/encoded in one
    // pass against the same frozen cents/cb
    val tombCells = ScaleOps.tombstone(idx.cells, tomb, "vec_id")
    val rebuiltCells = ESQ.assignTo(idx.cents)(
        liveE.select(col("vec_id"), col("embedding").as("ev")),
        "vec_id", "ev")
      .select(col("vec_id"), col("cent_id"))
    assert(tombCells.exceptAll(rebuiltCells).isEmpty &&
      rebuiltCells.exceptAll(tombCells).isEmpty,
      "cells: tombstone anti-join must equal rebuild-without-deleted")

    val tombCodes = ScaleOps.tombstone(idx.codes, tomb, "vec_id")
    val rebuiltCodes = VQ.pqCodes(VQ.pqSub(liveE, "vec_id", 8, 8), idx.cb, "vec_id")
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

object AnnDeleteSpec {
  /** The fixture both frozen-index specs read. */
  private[graft] val dir = "/root/testdata/sf0.001"
}
