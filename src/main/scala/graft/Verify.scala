package graft
import java.nio.file.{Files, Paths}

import org.apache.spark.sql.SparkSession
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. Exits 1 if any
  * query failed. */
object Verify {
  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir) = args
    val spark = Sessions.local(Sessions.cpus(4))
    spark.sparkContext.setLogLevel("WARN")
    // optional subset (comma-separated names) for fast local iteration —
    // the dumped oracle json is filtered identically so oracle_check
    // only gates the dumped queries
    val only = sys.env.get("SPARK_GRAFT_ONLY")
      .map(_.split(",").map(_.trim).toSet)
    val failed = try run(spark, sfDir, outDir, only) finally spark.stop()
    if (failed > 0) {
      System.err.println(s"[verify] $failed queries FAILED")
      sys.exit(1)
    }
  }

  /** Dumps each query in `only` (every query when `None`) and the
    * matching oracle_sql.json into `outDir`; returns how many queries
    * failed. */
  def run(spark: SparkSession, sfDir: String, outDir: String,
          only: Option[Set[String]]): Int = {
    new java.io.File(outDir).mkdirs()
    def keep(name: String): Boolean = only.forall(_.contains(name))
    val failed = SparkEntry.queries.filter(p => keep(p._1)).count {
      case (name, fn) =>
        try {
          fn(spark, sfDir).coalesce(1).write.mode("overwrite")
            .parquet(s"$outDir/$name")
          false
        } catch { case e: Throwable =>
          System.err.println(s"[verify] $name failed: ${e.getMessage}")
          true
        }
        finally graft.operators.ScaleOps.releaseAll()
    }
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    val json = SparkEntry.oracleSql.filter(p => keep(p._1))
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    failed
  }
}
