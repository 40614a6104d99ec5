package graft.examples

import org.apache.spark.sql.DataFrame

import graft.Sessions
import org.apache.spark.sql.functions._

/** Replicate a testdata SF directory N× with disjoint key domains per
  * copy — synthetic scale-up evidence for the bench (sf0.1 → "sf1.0")
  * when the driver only generates up to sf0.1.
  *
  * Each copy shifts every key column by copyIdx × a per-domain offset,
  * so intra-copy join relationships are preserved exactly (copy k of
  * lineitem joins copy k of orders) while fact volume grows N×.
  * Dimension tables (nation, region) are NOT replicated — more facts
  * per dim value, which is what real scale-up looks like. Document
  * text gets a per-copy marker on EVERY token so near-dup structure
  * replicates within a copy instead of across copies — a suffix on
  * the doc alone leaves cross-copy Jaccard ≈ 0.9, making every copy
  * pair a true near-dup and quadratically inflating the REAL pair
  * count (that measures the data, not the engine).
  *
  * An optional 4th arg appends `hotDocs` boilerplate documents that all
  * share ONE text — every MinHash band of those docs lands in the same
  * band bucket, the worst-case hot key for the dedup band join (real
  * corpora carry exactly this shape: licence headers, cookie banners,
  * templated pages). AQE's skew-split bounding that join's task times
  * was measured on it: BASELINE.md "Skewed-key dedup robustness: AQE
  * skew-split on a hot band bucket, r5".
  *
  * Usage: runMain graft.examples.ScaleUp <srcDir> <destDir> [factor] [hotDocs]
  */
object ScaleUp {
  private val Off = 10000000L // disjoint per-copy key offset
  val HotIdBase = 900000000L
  val HotText: String =
    "terms of service apply to all content provided herein all rights reserved"

  def main(args: Array[String]): Unit = {
    val src = args(0)
    val dest = args(1)
    val factor = if (args.length > 2) args(2).toInt else 10
    val hotDocs = if (args.length > 3) args(3).toInt else 0
    val spark = Sessions.local(Sessions.cpus(32))
    spark.sparkContext.setLogLevel("WARN")

    def copies(df: DataFrame)(shift: (DataFrame, Long) => DataFrame): DataFrame =
      (0 until factor).map(i => shift(df, i.toLong * Off)).reduce(_ unionAll _)

    def shiftCols(df: DataFrame, off: Long, cols: String*): DataFrame =
      cols.foldLeft(df)((d, c) => d.withColumn(c, col(c) + off))

    def read(name: String) = spark.read.parquet(s"$src/$name.parquet")
    def write(df: DataFrame, name: String): Unit =
      df.write.mode("overwrite").parquet(s"$dest/$name.parquet")

    write(read("region"), "region")
    write(read("nation"), "nation")
    write(copies(read("customer"))(shiftCols(_, _, "c_custkey")), "customer")
    write(copies(read("supplier"))(shiftCols(_, _, "s_suppkey")), "supplier")
    write(copies(read("part"))(shiftCols(_, _, "p_partkey")), "part")
    write(copies(read("orders"))(shiftCols(_, _, "o_orderkey", "o_custkey")),
      "orders")
    write(copies(read("lineitem"))(
      shiftCols(_, _, "l_orderkey", "l_partkey", "l_suppkey")), "lineitem")
    write(copies(read("events"))(shiftCols(_, _, "event_id", "user_id")),
      "events")
    val docsScaled = copies(read("documents")) { (df, off) =>
      val shifted = shiftCols(df, off, "doc_id")
      if (off == 0L) shifted
      else shifted.withColumn("text",
        regexp_replace(col("text"), "(\\S+)", "$1c" + (off / Off)))
    }
    val docsOut =
      if (hotDocs == 0) docsScaled
      else docsScaled.unionByName(spark.range(hotDocs.toLong)
        .select((col("id") + HotIdBase).as("doc_id"),
          lit(HotText).as("text"),
          lit("en").as("lang"),
          lit("boilerplate").as("source"),
          lit(HotText.length.toLong).as("n_chars")))
    write(docsOut, "documents")
    write(copies(read("embeddings"))(shiftCols(_, _, "vec_id")), "embeddings")

    println(s"""{"scaled": "$src -> $dest", "factor": $factor}""")
    spark.stop()
  }
}
