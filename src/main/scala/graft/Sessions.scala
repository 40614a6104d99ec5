package graft

import org.apache.spark.sql.SparkSession

/** The one place a graft entry point builds its SparkSession: Bench,
  * Verify, the example mains and the test harness all get the same
  * settings, so a plan captured by one tool is the plan another runs.
  */
object Sessions {
  /** Local core count: `SPARK_GRAFT_CPUS` if set, else `default`. */
  def cpus(default: Int): Int =
    sys.env.get("SPARK_GRAFT_CPUS").map(_.toInt).getOrElse(default)

  /** A `local[cpus]` session with one shuffle partition per core. */
  def local(cpus: Int, warehouseDir: Option[String] = None): SparkSession = {
    val b = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.adaptive.enabled", "true")
      // kept for TIMESTAMP(NANOS)-generation testdata (maps it to a
      // nanos Long); current timestamp[us] testdata is unaffected, and
      // operators adapt to either via Q.tsUs (EventTimeSchemaSpec)
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      // shuffle files of a GC'd dependency are only deleted after a
      // DRIVER GC processes the ContextCleaner's weak refs; the 30 min
      // default leaves a multi-phase composed query (q_graph_composed:
      // PageRank → LPA → triangles, phases lineage-truncated between)
      // accumulating every phase's shuffle on disk — at 100× that
      // filled the box (r11: "No space left on device" at 76 GB free)
      .config("spark.cleaner.periodicGC.interval", "2min")
    warehouseDir.fold(b)(b.config("spark.sql.warehouse.dir", _))
      .getOrCreate()
  }
}
