package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** The q_ann_incremental contract (VERDICT r15 #2, mirroring
  * DedupQueries.prefixFilterIncremental's guaranteed batch-vs-corpus
  * parity): with the IVF codebook and PQ sub-codebooks FROZEN, the
  * incremental path — assign+encode the arrivals batch separately and
  * union with the untouched corpus artifacts — must be row-identical
  * to a full rebuild that assigns+encodes corpus ∪ batch in one pass.
  * The oracle gate already proves this cross-engine (the DuckDB replay
  * IS the one-pass rebuild); this spec proves it engine-internally on
  * both index artifacts of the production construction
  * (`ExtraSimilarityQueries.frozenAnnIndex`), so a change that makes
  * its assignment or encoding depend on batch composition (e.g. a
  * per-batch normalization or codebook) fails here first. */
class AnnIncrementalSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  test("incremental assign/encode against a frozen codebook equals a " +
    "full rebuild (cells and codes)") {
    import graft.operators.{ExtraSimilarityQueries => ESQ, VectorQueries => VQ}
    val e = spark.read.parquet(s"${AnnDeleteSpec.dir}/embeddings.parquet")
    // the incremental side: the production index, frozen artifacts
    // trained on the corpus side, corpus and batch assigned/encoded in
    // two passes and unioned
    val idx = ESQ.frozenAnnIndex(e)
    // the rebuild side: one pass over corpus ∪ batch against the same
    // frozen cents/cb
    val unionE = e.filter(col("vec_id") >= 20)
      .select(col("vec_id"), col("embedding"))
    val rebuildCells = ESQ.assignTo(idx.cents)(
        unionE.select(col("vec_id"), col("embedding").as("ev")),
        "vec_id", "ev")
      .select(col("vec_id"), col("cent_id"))
    assert(idx.cells.exceptAll(rebuildCells).isEmpty &&
      rebuildCells.exceptAll(idx.cells).isEmpty,
      "frozen-codebook cell assignment must not depend on batch composition")

    val rebuildCodes = VQ.pqCodes(VQ.pqSub(unionE, "vec_id", 8, 8), idx.cb, "vec_id")
    assert(idx.codes.exceptAll(rebuildCodes).isEmpty &&
      rebuildCodes.exceptAll(idx.codes).isEmpty,
      "frozen-codebook PQ encoding must not depend on batch composition")

    // and the batch is genuinely non-trivial on this fixture
    val isNew = pmod(col("vec_id"), lit(5)) === 0
    assert(unionE.filter(isNew).count() > 0 && unionE.filter(!isNew).count() > 0)
  }

  test("recallTable keeps every brute query, fully missed ones at recall 0") {
    import spark.implicits._
    import graft.operators.ExtraSimilarityQueries.recallTable
    // query 1 fully recovered, query 2 missed entirely (its only
    // approximate neighbor is not in the exact top-k), query 3 half;
    // query 4 exists only on the approximate side and must not appear
    val brute = Seq((3L, 30L), (1L, 10L), (2L, 21L), (3L, 31L), (1L, 11L),
      (2L, 20L)).toDF("query_id", "vec_id")
    val approx = Seq((1L, 11L), (2L, 99L), (3L, 30L), (1L, 10L), (4L, 40L))
      .toDF("query_id", "vec_id")
    val out = recallTable(brute, approx)
    assert(out.schema.map(f => (f.name, f.dataType.simpleString)) == Seq(
      ("query_id", "bigint"), ("n_brute", "bigint"),
      ("n_recovered", "bigint"), ("recall", "double")))
    val got = out.collect().map(r =>
      (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3))).toSeq
    assert(got == Seq((1L, 2L, 2L, 1.0), (2L, 2L, 0L, 0.0), (3L, 2L, 1L, 0.5)))
  }
}
