package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions.{call_function, lit, unix_micros}
import org.apache.spark.sql.types.{LongType, TimestampNTZType, TimestampType}

/** Shared plumbing for the harness query battery (SURVEY §7 step 5).
  *
  * Every operator in SURVEY §2 is declared as a [[Q.Spec]]: a named
  * Spark query over the `/root/testdata` star schema plus (when the
  * semantics are SQL-expressible) an equivalent DuckDB oracle query.
  * Column names are aligned on both sides (the driver's compare sorts
  * columns by name), every query carries a total ORDER BY so row order
  * is deterministic, and floating aggregates are rounded so the two
  * engines' accumulation orders can't flip a hash.
  */
object Q {
  final case class Spec(
      name: String,
      run: (SparkSession, String) => DataFrame,
      oracle: Option[String])

  /** Load one star-schema table from the per-SF dir (TESTDATA.md). */
  def t(s: SparkSession, dir: String, name: String): DataFrame =
    s.read.parquet(s"$dir/$name.parquet")

  /** Spread a narrow source across the cluster before CPU-heavy per-row
    * work. A parquet scan cannot split below one row group, so a
    * single-row-group file serializes everything downstream onto one
    * task no matter how expensive the map is; an explicit round-robin
    * repartition costs one tiny shuffle of the raw rows and buys full
    * parallelism for the hash/regex work that follows. At real scale
    * (many files/row groups) the same call is a cheap no-op-ish
    * rebalance rather than a correctness risk — it changes partitioning
    * only, never values. */
  def spread(s: SparkSession, df: DataFrame): DataFrame =
    df.repartition(s.sparkContext.defaultParallelism)

  /** A fresh temp directory for a once-per-JVM fixture, deleted with
    * everything under it when the JVM exits. `File.deleteOnExit`
    * removes only an EMPTY directory, so a fixture holding data (a
    * partitioned or bucketed table copy) would outlive every run. */
  def fixtureDir(prefix: String): java.nio.file.Path = {
    val d = java.nio.file.Files.createTempDirectory(prefix)
    sys.addShutdownHook(deleteTree(d))
    d
  }

  /** Delete `root` and everything under it. Best-effort — a failed
    * delete never fails the run. */
  def deleteTree(root: java.nio.file.Path): Unit =
    try {
      import java.nio.file.Files
      import scala.jdk.CollectionConverters._
      // Files.walk holds a directory handle until closed —
      // materialize the paths, then close before deleting.
      val walk = Files.walk(root)
      val paths =
        try walk.iterator().asScala.toSeq
        finally walk.close()
      paths.reverseIterator.foreach(p => Files.deleteIfExists(p))
    } catch { case _: Throwable => () }

  /** Column yielding `events.ts` as epoch MICROSECONDS, adaptive to
    * both generations of driver testdata: TIMESTAMP(NANOS) parquet
    * surfaced as a nanos Long (`spark.sql.legacy.parquet.nanosAsLong`)
    * or timestamp[us] parquet surfaced as Timestamp/TIMESTAMP_NTZ.
    * Session timezone is UTC battery-wide, so the NTZ→Timestamp cast
    * is micros-identity and both branches match the DuckDB oracles'
    * `epoch_us(ts)` exactly. Integer `div` everywhere — no float.
    *
    * Anchored to `df(c)` (not an unresolved name) so both the schema
    * check and the resolution bind to the SAME frame: applying the
    * result after a self-join can't silently grab the wrong `ts`, and
    * a mismatched frame fails analysis instead of picking a branch by
    * luck. Any third testdata generation (string/double ts) throws
    * here rather than mis-scaling quietly. */
  private def tsUsCol(df: DataFrame, c: String): Column =
    df.schema(c).dataType match {
      case LongType => call_function("div", df(c), lit(1000L))
      case TimestampType | TimestampNTZType =>
        unix_micros(df(c).cast(TimestampType))
      case other =>
        throw new IllegalStateException(
          s"unsupported event-time type $other for column '$c': expected " +
            "LongType (nanosAsLong generation) or Timestamp/TimestampNTZ")
    }

  /** events.ts → epoch µs (schema-adaptive; see [[tsUsCol]]). */
  def tsUs(df: DataFrame, c: String = "ts"): Column = tsUsCol(df, c)

  /** events.ts → epoch µs floor-divided by `divisor` (bucket index),
    * kept as integer-`div` arithmetic on either schema. */
  def tsUsDiv(df: DataFrame, divisor: Long, c: String = "ts"): Column =
    call_function("div", tsUsCol(df, c), lit(divisor))

  /** events.ts → epoch day (floor; testdata timestamps are post-epoch). */
  def tsDay(df: DataFrame, c: String = "ts"): Column =
    tsUsDiv(df, 86400000000L, c)
}
