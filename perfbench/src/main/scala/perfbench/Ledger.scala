package perfbench

import scala.collection.mutable
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener
import org.apache.spark.perfbench.Bridge

/** Work counters for one scope (a pass or one operation). */
final class Counters {
  var jobs, stages, tasks, failedTasks = 0L
  var taskRunMs, taskCpuNs, gcMs = 0L
  var shuffleWrite, shuffleRead, spill = 0L
  var inputRecords, outputBytes = 0L
  var blocksStored, bytesStored = 0L
  var analysisMs, optimizationMs, planningMs = 0L

  def add(o: Counters): Unit = {
    jobs += o.jobs; stages += o.stages; tasks += o.tasks
    failedTasks += o.failedTasks; taskRunMs += o.taskRunMs
    taskCpuNs += o.taskCpuNs; gcMs += o.gcMs
    shuffleWrite += o.shuffleWrite; shuffleRead += o.shuffleRead
    spill += o.spill; inputRecords += o.inputRecords
    outputBytes += o.outputBytes; blocksStored += o.blocksStored
    bytesStored += o.bytesStored; analysisMs += o.analysisMs
    optimizationMs += o.optimizationMs; planningMs += o.planningMs
  }

  def copy(): Counters = { val c = new Counters; c.add(this); c }

  def minus(o: Counters): Counters = {
    val c = copy()
    c.jobs -= o.jobs; c.stages -= o.stages; c.tasks -= o.tasks
    c.failedTasks -= o.failedTasks; c.taskRunMs -= o.taskRunMs
    c.taskCpuNs -= o.taskCpuNs; c.gcMs -= o.gcMs
    c.shuffleWrite -= o.shuffleWrite; c.shuffleRead -= o.shuffleRead
    c.spill -= o.spill; c.inputRecords -= o.inputRecords
    c.outputBytes -= o.outputBytes; c.blocksStored -= o.blocksStored
    c.bytesStored -= o.bytesStored; c.analysisMs -= o.analysisMs
    c.optimizationMs -= o.optimizationMs; c.planningMs -= o.planningMs
    c
  }

  def toMap: Seq[(String, Double)] = Seq(
    "exec.jobs" -> jobs.toDouble, "exec.stages" -> stages.toDouble,
    "exec.tasks" -> tasks.toDouble, "exec.failed_tasks" -> failedTasks.toDouble,
    "exec.task_run_s" -> taskRunMs / 1e3, "exec.task_cpu_s" -> taskCpuNs / 1e9,
    "exec.gc_s" -> gcMs / 1e3,
    "exec.shuffle_write_bytes" -> shuffleWrite.toDouble,
    "exec.shuffle_read_bytes" -> shuffleRead.toDouble,
    "exec.spill_bytes" -> spill.toDouble,
    "exec.input_records" -> inputRecords.toDouble,
    "sources.sink_bytes" -> outputBytes.toDouble,
    "cache.blocks_stored" -> blocksStored.toDouble,
    "cache.bytes_stored" -> bytesStored.toDouble,
    "catalyst.analysis_s" -> analysisMs / 1e3,
    "catalyst.optimization_s" -> optimizationMs / 1e3,
    "catalyst.planning_s" -> planningMs / 1e3)
}

/** One traced interval at a layer boundary. */
final case class Span(id: Int, parent: Int, op: String, name: String,
                      startNs: Long, endNs: Long)

/** Listener-fed counters for the whole run plus, when tracing, per-op
  * attribution through a job tag set around each operation.
  *
  * The untraced run keeps only the run-wide totals (executor CPU and
  * scan rows are end-to-end metrics). The traced run also tags every
  * operation's jobs, records Catalyst phase times from a
  * [[QueryExecutionListener]], and keeps spans in memory until the run
  * ends.
  */
final class Ledger(val traced: Boolean) {
  import Ledger._

  /** Tracing switch; the traced run turns it off for one pass. */
  @volatile var on: Boolean = traced

  private val lock = new Object
  val total = new Counters
  private val perOp = mutable.Map.empty[String, Counters]
  private val stageOp = mutable.Map.empty[Int, String]
  // (jobId) -> (op, startMs, endMs)
  private val jobSpans = mutable.Map.empty[Int, (String, Long, Long)]
  var unattributedJobs = 0L
  @volatile private var currentOp: String = null
  @volatile private var attached: Option[SparkSession] = None

  val spans = mutable.ArrayBuffer.empty[Span]
  private val stack = mutable.Stack.empty[Int]
  private var nextSpan = 0

  private val listener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = lock.synchronized {
      total.jobs += 1
      val tags = Option(e.properties)
        .flatMap(p => Option(p.getProperty("spark.job.tags")))
        .map(_.split(",").toSeq).getOrElse(Nil)
      val op = tags.collectFirst { case t if t.startsWith(OpTag) => t.stripPrefix(OpTag) }
      op match {
        case Some(o) =>
          opCounters(o).jobs += 1
          e.stageIds.foreach(s => stageOp(s) = o)
          jobSpans(e.jobId) = (o, e.time, -1L)
          if (tags.contains(BuildTag)) opCounters(o + BuildSuffix).jobs += 1
        case None =>
          if (currentOp != null) unattributedJobs += 1
          jobSpans(e.jobId) = (Option(currentOp).getOrElse(""), e.time, -1L)
      }
    }

    override def onJobEnd(e: SparkListenerJobEnd): Unit = lock.synchronized {
      jobSpans.get(e.jobId).foreach { case (o, s, _) => jobSpans(e.jobId) = (o, s, e.time) }
    }

    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = lock.synchronized {
      total.stages += 1
      stageOp.get(e.stageInfo.stageId).foreach(o => opCounters(o).stages += 1)
    }

    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = lock.synchronized {
      val targets = Seq(total) ++ stageOp.get(e.stageId).map(opCounters)
      targets.foreach { c =>
        c.tasks += 1
        if (!e.taskInfo.successful) c.failedTasks += 1
        val m = e.taskMetrics
        if (m != null) {
          c.taskRunMs += m.executorRunTime
          c.taskCpuNs += m.executorCpuTime
          c.gcMs += m.jvmGCTime
          c.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
          c.shuffleRead += m.shuffleReadMetrics.totalBytesRead
          c.spill += m.memoryBytesSpilled + m.diskBytesSpilled
          c.inputRecords += m.inputMetrics.recordsRead
          c.outputBytes += m.outputMetrics.bytesWritten
        }
      }
    }

    override def onBlockUpdated(e: SparkListenerBlockUpdated): Unit = lock.synchronized {
      val b = e.blockUpdatedInfo
      if (b.blockId.isRDD && b.storageLevel.isValid) {
        val targets = Seq(total) ++ Option(currentOp).map(opCounters)
        targets.foreach { c =>
          c.blocksStored += 1
          c.bytesStored += b.memSize + b.diskSize
        }
      }
    }
  }

  private val qeListener = new QueryExecutionListener {
    private def record(qe: QueryExecution): Unit = lock.synchronized {
      val ph = qe.tracker.phases
      def ms(p: String) = ph.get(p).map(_.durationMs).getOrElse(0L)
      val targets = Seq(total) ++ Option(currentOp).map(opCounters)
      targets.foreach { c =>
        c.analysisMs += ms("analysis")
        c.optimizationMs += ms("optimization")
        c.planningMs += ms("planning")
      }
    }
    override def onSuccess(f: String, qe: QueryExecution, d: Long): Unit = record(qe)
    override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = record(qe)
  }

  private def opCounters(op: String): Counters = perOp.getOrElseUpdate(op, new Counters)

  def attach(spark: SparkSession): Unit = {
    spark.sparkContext.addSparkListener(listener)
    if (traced) spark.listenerManager.register(qeListener)
    attached = Some(spark)
  }

  def drain(): Unit = attached.foreach(s => Bridge.drain(s.sparkContext))

  def snapshot(): Counters = { drain(); lock.synchronized(total.copy()) }

  /** Runs `body` as operation `op`: its jobs carry the op tag. */
  def inOp[T](spark: SparkSession, op: String)(body: => T): T = {
    if (!on) return body
    val sc = spark.sparkContext
    currentOp = op
    sc.addJobTag(OpTag + op)
    try body
    finally {
      sc.removeJobTag(OpTag + op)
      drain()
      currentOp = null
    }
  }

  /** Marks the jobs `body` starts as derivation jobs of `op`. */
  def inBuild[T](spark: SparkSession)(body: => T): T = {
    if (!on) return body
    spark.sparkContext.addJobTag(BuildTag)
    try body finally spark.sparkContext.removeJobTag(BuildTag)
  }

  def opCountersOf(op: String): Counters = lock.synchronized(opCounters(op).copy())
  def deriveJobs(op: String): Long = lock.synchronized(perOp.get(op + BuildSuffix).map(_.jobs).getOrElse(0L))

  /** Wall time of [startMs, endMs] that no job of `op` covered. */
  def noJobMs(op: String, startMs: Long, endMs: Long): Long = lock.synchronized {
    val iv = jobSpans.values.collect {
      case (o, s, e) if o == op => (math.max(s, startMs), math.min(if (e < 0) endMs else e, endMs))
    }.filter { case (s, e) => e > s }.toSeq.sortBy(_._1)
    var covered = 0L
    var curS = -1L; var curE = -1L
    iv.foreach { case (s, e) =>
      if (s > curE) { if (curE > curS) covered += curE - curS; curS = s; curE = e }
      else curE = math.max(curE, e)
    }
    if (curE > curS) covered += curE - curS
    math.max(0L, (endMs - startMs) - covered)
  }

  /** Analysis time of a built DataFrame, which is analyzed when it is
    * created, before (and apart from) the plan of the action on it. */
  def addAnalysis(qe: QueryExecution): Unit = if (on) lock.synchronized {
    val ms = qe.tracker.phases.get("analysis").map(_.durationMs).getOrElse(0L)
    total.analysisMs += ms
    Option(currentOp).foreach(o => opCounters(o).analysisMs += ms)
  }

  /** Records a span of the current operation around `body` (a no-op
    * when tracing is off). */
  def span[T](name: String)(body: => T): T = {
    if (!on) return body
    val id = { nextSpan += 1; nextSpan }
    val parent = stack.headOption.getOrElse(0)
    stack.push(id)
    val t0 = System.nanoTime()
    try body
    finally {
      stack.pop()
      spans += Span(id, parent, Option(currentOp).getOrElse(""), name, t0, System.nanoTime())
    }
  }
}

object Ledger {
  val OpTag = "perfbench-op-"
  val BuildTag = "perfbench-build"
  private val BuildSuffix = "#build"
}

/** Samples storage memory in use (cached RDD and broadcast blocks) and
  * keeps the peak since the last reset. */
final class StorageSampler extends Thread("perfbench-storage") {
  setDaemon(true)
  @volatile private var peak = 0L
  @volatile private var running = true

  override def run(): Unit = while (running) {
    val b = try Bridge.storageBytes() catch { case _: Exception => 0L }
    if (b > peak) peak = b
    Thread.sleep(2)
  }

  def reset(): Unit = peak = Bridge.storageBytes()
  def peakBytes: Long = math.max(peak, Bridge.storageBytes())
  def shutdown(): Unit = { running = false; join() }
}
