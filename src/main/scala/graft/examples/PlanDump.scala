package graft.examples

import org.apache.spark.sql.SparkSession

import graft.Sessions

/** Batch plan dumper for the optimization rounds:
  * `sbt "runMain graft.examples.PlanDump <outDir> <suffix> <q1,q2,...> [--exec]"`
  * writes `<outDir>/<query>_<suffix>.txt` with the `explain("formatted")`
  * output of each named declared query, in ONE session built by
  * [[graft.Sessions]] like the bench's (so the captured plan is the
  * plan the bench runs). AQE means the file holds the INITIAL plan
  * (`isFinalPlan=false`) — join-strategy choices and exchange placement
  * are still visible, which is what the before/after diff needs.
  * Exits non-zero if any query failed.
  */
object PlanDump {
  def main(args: Array[String]): Unit = {
    val outDir = args(0)
    val suffix = args(1)
    val names = args(2).split(",").map(_.trim).filter(_.nonEmpty).toSeq
    val exec = args.length > 3 && args(3) == "--exec"
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = Sessions.local(Sessions.cpus(32))
    spark.sparkContext.setLogLevel("ERROR")
    val failed = try run(spark, sfDir, outDir, suffix, names, exec)
      finally spark.stop()
    if (failed > 0) {
      System.err.println(s"[plan-dump] $failed of ${names.size} queries FAILED")
      sys.exit(1)
    }
  }

  /** Dumps each named query's plan into `outDir`; returns how many
    * failed (an unknown name counts as a failure). `exec` additionally
    * RUNS each query through the noop sink with a
    * QueryExecutionListener attached and appends the FINAL adaptive
    * plan (AQEShuffleRead placement, runtime join strategy, reused
    * exchanges) plus the wall time — the initial plan alone hides
    * what AQE decided at runtime. */
  def run(spark: SparkSession, sfDir: String, outDir: String,
          suffix: String, names: Seq[String], exec: Boolean): Int = {
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(outDir))
    val lastExec = new java.util.concurrent.atomic.AtomicReference[String]("")
    val listener = new org.apache.spark.sql.util.QueryExecutionListener {
      override def onSuccess(funcName: String,
          qe: org.apache.spark.sql.execution.QueryExecution,
          durationNs: Long): Unit =
        lastExec.set(qe.explainString(
          org.apache.spark.sql.execution.ExplainMode.fromString("formatted")))
      override def onFailure(funcName: String,
          qe: org.apache.spark.sql.execution.QueryExecution,
          exception: Exception): Unit = ()
    }
    if (exec) spark.listenerManager.register(listener)
    try names.count { name =>
      try {
        val df = graft.SparkEntry.queries(name)(spark, sfDir)
        // capture the string rather than stdout: explain prints to console
        var plan = df.queryExecution.explainString(
          org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))
        if (exec) {
          lastExec.set("")
          val t0 = System.nanoTime()
          df.write.format("noop").mode("overwrite").save()
          val secs = (System.nanoTime() - t0) / 1e9
          // the listener bus is asynchronous and earlier actions (e.g.
          // graph materialize counts) enqueue before the save — wait
          // until the captured value is STABLE for 1 s so the final
          // event (the save, last in bus order) has landed
          var tries = 0
          var prev = ""
          while ((lastExec.get.isEmpty || lastExec.get != prev) && tries < 60) {
            prev = lastExec.get; Thread.sleep(1000); tries += 1
          }
          plan += f"%n%n== Executed (final adaptive) plan, noop sink, $secs%.2f s ==%n" +
            lastExec.get
          println(f"[plan-dump] $name%-28s $secs%7.2f s")
        }
        java.nio.file.Files.write(
          java.nio.file.Paths.get(outDir, s"${name}_$suffix.txt"),
          plan.getBytes("UTF-8"))
        println(s"[plan-dump] wrote $outDir/${name}_$suffix.txt")
        false
      } catch {
        case e: Throwable =>
          System.err.println(s"[plan-dump] $name FAILED: $e")
          true
      } finally {
        graft.operators.ScaleOps.releaseAll()
      }
    } finally if (exec) spark.listenerManager.unregister(listener)
  }
}
