package graft.examples

import java.util.concurrent.atomic.{AtomicInteger, AtomicLong}

import org.apache.spark.scheduler.{SparkListener, SparkListenerTaskEnd}
import org.apache.spark.sql.SparkSession

/** Composed-run scale instrumentation shared by the pipeline demos
  * (VERDICT r8 #5 / r9 #1 and #7): per-row 100× numbers exist for
  * every stage; what a replica run of a WHOLE DAG adds is the
  * coexistence story — shared scans, concurrent shuffles, stage memory
  * pressure — so record wall / spill / failures / peak execution
  * memory for the composed execution alongside the stage counts.
  * Construct before the pipeline runs, then print [[reportJson]] — one
  * JSON line a probe artifact (and BASELINE.md) can quote verbatim.
  */
final class PipelineProbe(spark: SparkSession) {
  private val memSpill = new AtomicLong(0L)
  private val diskSpill = new AtomicLong(0L)
  private val peakExec = new AtomicLong(0L)
  private val failed = new AtomicInteger(0)
  spark.sparkContext.addSparkListener(new SparkListener {
    override def onTaskEnd(t: SparkListenerTaskEnd): Unit = {
      if (!t.taskInfo.successful) failed.incrementAndGet()
      val m = t.taskMetrics
      if (m != null) {
        memSpill.addAndGet(m.memoryBytesSpilled)
        diskSpill.addAndGet(m.diskBytesSpilled)
        peakExec.updateAndGet(p => math.max(p, m.peakExecutionMemory))
      }
    }
  })
  private val t0 = System.nanoTime()

  /** One JSON line of everything measured since construction. Drains
    * the async listener bus first so metrics of the last action are
    * complete (no sleep-and-hope). */
  def reportJson(probe: String, sfDir: String): String = {
    val wall = (System.nanoTime() - t0) / 1e9
    org.apache.spark.graftbridge.ListenerBridge.drain(spark.sparkContext)
    s"""{"probe":"$probe","sf":"$sfDir","wall_sec":${f"$wall%.1f"},""" +
      s""""heap_mb":${Runtime.getRuntime.maxMemory() / (1024 * 1024)},""" +
      s""""failed_tasks":${failed.get()},""" +
      s""""mem_spill_mb":${memSpill.get() / (1024 * 1024)},""" +
      s""""disk_spill_mb":${diskSpill.get() / (1024 * 1024)},""" +
      s""""peak_exec_mem_mb":${peakExec.get() / (1024 * 1024)}}"""
  }
}
