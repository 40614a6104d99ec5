package graft.operators

import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.functions.VectorFunctions._

/** Approximate-nearest-neighbor search over the embedding column
  * (SURVEY §2.9 X2): brute-force cosine top-k as the correctness
  * baseline, and a random-hyperplane-bucketed variant as the scale
  * path.
  *
  * Scale design: brute force broadcasts the (always small) query set
  * against the corpus — a map-only pass with a per-partition top-k heap
  * (TakeOrdered after window filter); the LSH variant first equi-joins
  * on the hyperplane bucket so each query only scores its bucket's
  * fraction (~1/2^bits) of a 100 TB corpus.
  */
object SimilarityQueries {
  import Q._

  /** Neighbors per query of every ANN row (brute, LSH, IVF, PQ). */
  private[operators] final val K = 5
  private val NPlanes = 8
  private val Dim = 64
  private[operators] lazy val Planes = hyperplanes(NPlanes, Dim)

  private def planeSqlLiteral(p: Seq[Double]): String =
    p.mkString("[", ", ", "]")

  /** DuckDB replay of the hyperplane bucket: identical literals,
    * identical sign rule. */
  private[operators] def bucketSql(vexpr: String): String =
    Planes.map(p =>
      s"(CASE WHEN list_dot_product($vexpr, CAST(${planeSqlLiteral(p)} AS DOUBLE[])) >= 0 THEN '1' ELSE '0' END)")
      .mkString(" || ")

  private[operators] final val cosSql =
    "list_dot_product(q.v, c.v) / (sqrt(list_dot_product(q.v, q.v)) * sqrt(list_dot_product(c.v, c.v)))"

  /** Per-query top-k over (query_id, vec_id, cos) through the native
    * TopKPerKey operator: the map-side partial pass prunes to ≤ k rows
    * per query per mapper BEFORE the shuffle, where the plain
    * row_number window sorts every query's full candidate list. The
    * residual row_number here ranks only the ≤ k surviving rows per
    * query — same total order (cos desc, vec_id), so ranks and
    * hash-matches are unchanged. */
  private[operators] def topKRanked(scored: org.apache.spark.sql.DataFrame,
                                    k: Int): org.apache.spark.sql.DataFrame = {
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("cos").desc, col("vec_id"))
    ScaleOps.topKPerKey(scored, Seq(col("query_id")),
        Seq(col("cos").desc, col("vec_id")), k)
      .withColumn("rank", row_number().over(w))
      .select(col("query_id"), col("rank").cast("long").as("rank"),
        col("vec_id"), round(col("cos"), 4).as("cos_sim"))
      .orderBy(col("query_id"), col("rank"))
  }

  val specs: Seq[Spec] = Seq(

    // Brute-force exact top-k neighbors for a fixed query set.
    Spec("q_ann_brute",
      (s, dir) => {
        val e = t(s, dir, "embeddings")
        val q = e.filter(col("vec_id") < 5)
          .select(col("vec_id").as("query_id"), col("embedding").as("qv"))
        val c = e.filter(col("vec_id") >= 5)
          .select(col("vec_id"), col("embedding").as("cv"))
        topKRanked(c.crossJoin(broadcast(q))
          .select(col("query_id"), col("vec_id"),
            cosine(col("qv"), col("cv")).as("cos")), K)
      },
      Some(s"""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
             q AS (SELECT vec_id AS query_id, v FROM e WHERE vec_id < 5),
             c AS (SELECT vec_id, v FROM e WHERE vec_id >= 5),
             scored AS (
               SELECT q.query_id, c.vec_id, $cosSql AS cos,
                      row_number() OVER (PARTITION BY q.query_id
                        ORDER BY $cosSql DESC, c.vec_id) AS rank
               FROM q, c)
             SELECT query_id, CAST(rank AS BIGINT) AS rank, vec_id,
                    round(cos, 4) AS cos_sim
             FROM scored WHERE rank <= $K ORDER BY query_id, rank""")),

    // Hyperplane-LSH bucketed ANN: queries only score corpus vectors in
    // their own bucket (recall < 1 by design; the oracle runs the same
    // algorithm, so results still hash-match).
    Spec("q_ann_lsh",
      (s, dir) => {
        val e = t(s, dir, "embeddings")
          .select(col("vec_id"), col("embedding"),
            hyperplaneBucket(col("embedding"), Planes).as("bucket"))
        val q = e.filter(col("vec_id") < 20)
          .select(col("vec_id").as("query_id"), col("embedding").as("qv"),
            col("bucket"))
        val c = e.filter(col("vec_id") >= 20)
          .select(col("vec_id"), col("embedding").as("cv"),
            col("bucket").as("bucket_c"))
        topKRanked(q.join(c, col("bucket") === col("bucket_c"))
          .select(col("query_id"), col("vec_id"),
            cosine(col("qv"), col("cv")).as("cos")), K)
      },
      Some(s"""WITH e AS (
               SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v,
                      ${bucketSql("CAST(embedding AS DOUBLE[])")} AS bucket
               FROM embeddings),
             q AS (SELECT vec_id AS query_id, v, bucket FROM e WHERE vec_id < 20),
             c AS (SELECT vec_id, v, bucket FROM e WHERE vec_id >= 20),
             scored AS (
               SELECT q.query_id, c.vec_id, $cosSql AS cos,
                      row_number() OVER (PARTITION BY q.query_id
                        ORDER BY $cosSql DESC, c.vec_id) AS rank
               FROM q JOIN c ON q.bucket = c.bucket)
             SELECT query_id, CAST(rank AS BIGINT) AS rank, vec_id,
                    round(cos, 4) AS cos_sim
             FROM scored WHERE rank <= $K ORDER BY query_id, rank"""))
  )
}
