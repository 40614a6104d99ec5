package graft

import org.apache.spark.sql.SparkSession

/** One shared local session for all suites (SURVEY §5), built by the
  * same [[Sessions]] factory as Bench and Verify. */
object TestSpark {
  lazy val spark: SparkSession = {
    val s = Sessions.local(4, Some(
      java.nio.file.Files.createTempDirectory("graft-wh").toString))
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  /** Temp dir that is recursively deleted at JVM exit — specs that
    * materialize whole table copies (InputOrderInvarianceSpec,
    * EventTimeSchemaSpec) must not leave orphaned parquet in /tmp
    * across runs (ADVICE r7). */
  def scratchDir(prefix: String): String = {
    val p = java.nio.file.Files.createTempDirectory(prefix)
    Runtime.getRuntime.addShutdownHook(new Thread(() => {
      import java.nio.file._
      import java.util.Comparator
      try Files.walk(p).sorted(Comparator.reverseOrder())
        .forEach(f => { Files.deleteIfExists(f); () })
      catch { case _: Throwable => () }
    }))
    p.toString
  }
}
