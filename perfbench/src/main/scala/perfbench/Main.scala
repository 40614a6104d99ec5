package perfbench

import java.nio.file.{Files, Path, Paths}
import scala.collection.mutable
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator
import org.apache.spark.perfbench.Bridge

/** Benchmark runner: one workload, one seed, one process.
  *
  * {{{
  * Main --workload <etl_daily|sql_interactive> --seed <n>
  *      --seconds <s> --trace <0|1> --root <checkout> --data <testdata dir>
  * Main --make-digests <out.json> --root <checkout> --data <testdata dir>
  * }}}
  *
  * A run sets up once, cold (session start, input generation and
  * staging, one warm-up pass that also checks outputs), then runs
  * timed passes (three at least, more while `--seconds` allow),
  * verifies, and prints one JSON line. `--trace 0` reports the end-to-end metrics;
  * `--trace 1` tags, spans and per-layer counters, plus the overhead of
  * tracing against one extra untraced pass, and writes the trace file.
  */
object Main {
  val SqlSf = "sf0.01"
  val SqlRows: Seq[String] = Seq(
    "q_flagship_filter", "q_repair_ts_multiformat", "q_join_equi", "q_agg_rollup",
    "q_window_rank", "q_asof_join", "q_dedup_corpus")

  final case class OpRec(id: String, name: String, pass: Int, seconds: Double, ok: Boolean,
                         compileS: Double, noJobS: Double, leakedRdds: Int,
                         leakedBroadcasts: Int, jobsRunning: Int, counters: Counters,
                         deriveJobs: Long)

  def main(args: Array[String]): Unit = {
    val a = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val root = Paths.get(a.getOrElse("root", ".")).toAbsolutePath.normalize
    val data = a.getOrElse("data", "testdata")
    val status =
      try {
        a.get("make-digests") match {
          case Some(out) => makeDigests(root, data, Paths.get(out)); 0
          case None => run(root, data, a("workload"), a("seed").toLong,
            a("seconds").toDouble, a.getOrElse("trace", "0") == "1")
        }
      } catch {
        case e: Throwable =>
          System.err.println(s"[perfbench] aborted: $e"); e.printStackTrace(); 2
      }
    sys.exit(status)
  }

  def cores: Int = Runtime.getRuntime.availableProcessors()

  def session(work: Path): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.cleaner.periodicGC.interval", "2min")
      .config("spark.sql.warehouse.dir", work.resolve("warehouse").toString)
      .config("spark.local.dir", Files.createDirectories(work.resolve("local")).toString)
      .config("spark.driver.host", "127.0.0.1")
      .config("spark.driver.bindAddress", "127.0.0.1")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  def workload(name: String, root: Path): Workload = {
    val expected = Expected.load(root.resolve("perfbench/expected_digests.json"))
    name match {
      case "etl_daily" => new EtlDaily(rowsPerDay = 100000)
      case "sql_interactive" =>
        new QueryWorkload(name, SqlSf, SqlRows, expected.getOrElse(name, Map.empty))
      case other => throw new IllegalArgumentException(s"unknown workload $other")
    }
  }

  def run(root: Path, data: String, wname: String, seed: Long, seconds: Double,
          traced: Boolean): Int = {
    val w = workload(wname, root)
    val work = root.resolve(s".bench_build/run/$wname-s$seed-${ProcessHandle.current.pid}")
    Files.createDirectories(work)
    val ledger = new Ledger(traced)
    val ctx = new Ctx(ledger, work, seed, data)
    val recs = mutable.ArrayBuffer.empty[OpRec]
    // storage is sampled for the traced run's cache.peak_bytes only
    val sampler = new StorageSampler
    if (traced) sampler.start()

    def runOp(op: Op, p: Int): OpRec = {
      val sc = ctx.spark.sparkContext
      val rdds0 = sc.getPersistentRDDs.keySet
      val audit = traced && p == 0
      val bc0 = if (audit) Bridge.broadcastIds() else Set.empty[Long]
      val c0 = CodeGenerator.compileTime
      val t0ms = System.currentTimeMillis()
      var ok = true
      var dt = 0.0
      ledger.inOp(ctx.spark, op.id) {
        val t0 = System.nanoTime()
        try ledger.span("op")(op.run())
        catch {
          case e: Throwable =>
            ok = false
            System.err.println(s"[perfbench] ${op.id} failed: $e")
        }
        dt = (System.nanoTime() - t0) / 1e9
      }
      val running = sc.statusTracker.getActiveJobIds().length
      val leaked = (sc.getPersistentRDDs.keySet -- rdds0).size
      val compile = (CodeGenerator.compileTime - c0) / 1e9
      val leakedBc = if (audit) {
        System.gc(); Thread.sleep(150)
        (Bridge.broadcastIds() -- bc0).size
      } else 0
      w.release()
      val noJob = if (traced) ledger.noJobMs(op.id, t0ms, t0ms + (dt * 1000).toLong) / 1e3 else 0.0
      OpRec(op.id, op.name, p, dt, ok, compile, noJob, leaked, leakedBc, running,
        if (traced) ledger.opCountersOf(op.id) else new Counters,
        if (traced) ledger.deriveJobs(op.id) else 0L)
    }

    // ---- set-up, cold: session start + input staging + warm-up pass
    val t0 = System.nanoTime()
    ctx.spark = session(work)
    ledger.attach(ctx.spark)
    val t1 = System.nanoTime()
    w.stage(ctx)
    val t2 = System.nanoTime()
    w.pass(ctx, -1).foreach(op => runOp(op, -1))
    val setup = (System.nanoTime() - t0) / 1e9
    System.err.println(f"[perfbench] setup: session ${(t1 - t0) / 1e9}%.2f s, " +
      f"staging ${(t2 - t1) / 1e9}%.2f s, warm-up pass ${(System.nanoTime() - t2) / 1e9}%.2f s")
    w.verify(ctx)
    phase("setup verified")
    val note = w.inputNote(ctx)
    val warmFailed = ctx.failedOps.size

    // ---- timed window: closed loop, one client
    val passWall = mutable.ArrayBuffer.empty[Double]
    val passPeak = mutable.ArrayBuffer.empty[Double]
    val window = new Counters
    val unattributed0 = ledger.unattributedJobs
    val windowStart = System.nanoTime()
    var p = 0
    // Stop before a pass would probably end past the window, after
    // three passes at least: run_s is their median, which drops one
    // slow pass (the first is still warming up, 15-20 % slower), and
    // the traced run audits leaks in pass 0 only.
    def elapsed = (System.nanoTime() - windowStart) / 1e9
    while (p < 3 || elapsed * (p + 1) / p <= seconds) {
      val ops = w.pass(ctx, p)
      // each pass starts without the garbage (and the broadcasts only
      // garbage holds) of the one before it; the pause lets the
      // ContextCleaner release them before the clock starts
      System.gc()
      Thread.sleep(300)
      val before = ledger.snapshot()
      sampler.reset()
      val t0 = System.nanoTime()
      ops.foreach(op => recs += runOp(op, p))
      passWall += (System.nanoTime() - t0) / 1e9
      window.add(ledger.snapshot().minus(before))
      passPeak += sampler.peakBytes.toDouble
      p += 1
    }
    val passes = p
    val unattributed = ledger.unattributedJobs - unattributed0

    // ---- traced extras: one untraced pass for the overhead, then probes
    val extra = mutable.LinkedHashMap.empty[String, Double]
    if (traced) {
      ledger.on = false
      val ops = w.pass(ctx, -2)
      val t0 = System.nanoTime()
      ops.foreach { op =>
        try op.run() catch { case e: Throwable => System.err.println(s"[perfbench] ${op.id} failed: $e") }
        w.release()
      }
      val plain = (System.nanoTime() - t0) / 1e9
      val tracedOps = Stats.median((1 until passes).map(q => recs.filter(_.pass == q).map(_.seconds).sum))
      extra("trace.overhead_s") = tracedOps - plain
      extra("trace.overhead_ratio") = tracedOps / plain - 1
      ledger.on = true
      w.probes(ctx)
    }
    phase("window done")
    w.verify(ctx)
    phase("verified")
    if (traced) sampler.shutdown()

    val failed = recs.count(r => !r.ok || ctx.failedOps.contains(r.id))
    val attempted = recs.size
    val lat = recs.map(_.seconds).toSeq
    val rowsPerPass = w.rowsIngested.getOrElse(window.inputRecords).toDouble / passes

    val metrics = mutable.LinkedHashMap.empty[String, (Double, String)]
    if (!traced) {
      metrics("setup_s") = (setup, "s")
      metrics("run_s") = (Stats.median(passWall.toSeq), "s")
      metrics("op_p50_s") = (Stats.median(lat), "s")
      metrics("rows_per_s") = (rowsPerPass / Stats.median(passWall.toSeq), "1/s")
    } else {
      val perPass = (x: Double) => x / passes
      val counters = window.toMap.toMap
      val opSum = lat.sum
      def spanSum(n: String) = ledger.spans
        .filter(s => s.name == n && s.op.startsWith("p") && s.op.charAt(1).isDigit)
        .map(s => (s.endNs - s.startNs) / 1e9).sum
      val layer = mutable.LinkedHashMap.empty[String, Double]
      PerLayer.foreach { case (n, _) => layer(n) = 0.0 }
      counters.foreach { case (k, v) => if (layer.contains(k)) layer(k) = perPass(v) }
      layer("workflow.load_csv_s") = perPass(spanSum("workflow.load_csv"))
      layer("workflow.load_query_s") = perPass(spanSum("workflow.load_query"))
      layer("operators.build_s") = perPass(spanSum("operators.build"))
      layer("operators.derive_jobs") = perPass(recs.map(_.deriveJobs).sum.toDouble)
      layer("codegen.compile_s") = perPass(recs.map(_.compileS).sum)
      layer("driver.nojob_s") = perPass(recs.map(_.noJobS).sum)
      layer("exec.core_busy_ratio") = window.taskRunMs / 1e3 / (opSum * cores)
      layer("exec.unattributed_jobs") = perPass(unattributed.toDouble)
      layer("cache.peak_bytes") = Stats.median(passPeak.toSeq)
      layer("cache.leaked_rdds_after_op") = perPass(recs.map(_.leakedRdds).sum.toDouble)
      layer("cache.leaked_broadcasts_after_op") =
        recs.filter(_.pass == 0).map(_.leakedBroadcasts).sum.toDouble
      layer("exec.jobs_running_after_op") = perPass(recs.map(_.jobsRunning).sum.toDouble)
      w.layerCounters(passes).foreach { case (k, v) => layer(k) = v }
      ctx.probes.foreach { case (k, v) =>
        layer(if (k.endsWith("_tasks")) k else k + "_s") = v }
      extra.foreach { case (k, v) => layer(k) = v }
      PerLayer.foreach { case (n, unit) => metrics(n) = (layer(n), unit) }
    }

    // ---- report
    println(s"[perfbench] workload=$wname seed=$seed trace=${if (traced) 1 else 0} cores=$cores " +
      s"passes=$passes ops=$attempted failed=$failed warmup_failed=$warmFailed")
    println(s"[perfbench] inputs: $note; storage budget ${budgetMb()} MB (0.3 x heap)")
    if (lat.size >= 100)
      println(f"[perfbench] op_p90_s ${Stats.pct(lat, 0.9)}%.4f s (n=${lat.size})")
    else println(s"[perfbench] op_p90_s not reported: ${lat.size} samples < 100")
    println(f"[perfbench] setup $setup%.3f s; pass walls ${passWall.map(x => f"$x%.3f").mkString(",")} s")
    metrics.foreach { case (k, (v, u)) => println(f"[perfbench] $k%-36s $v%.6g $u") }
    val trace = Trace.write(root, wname, seed, traced, metrics.toSeq, recs.toSeq, ledger.spans.toSeq)
    println(s"[perfbench] trace: $trace")
    ctx.spark.stop()
    deleteTree(work)
    phase("stopped")
    val correct = failed == 0 && warmFailed == 0
    val m = metrics.map { case (k, (v, u)) =>
      s"${Json.str(k)}: {\"value\": ${Json.num(v)}, \"unit\": ${Json.str(u)}}" }.mkString(", ")
    println(s"""{"correct": $correct, "attempted": $attempted, "failed": $failed, "metrics": {$m}}""")
    0
  }

  private def phase(what: String): Unit = System.err.println(
    f"[perfbench] ${java.lang.management.ManagementFactory.getRuntimeMXBean.getUptime / 1e3}%.1f s: $what")

  /** Per-layer metrics of the traced run, with units. */
  val PerLayer: Seq[(String, String)] = Seq(
    "workflow.load_csv_s" -> "s", "workflow.load_query_s" -> "s",
    "sources.pick_s" -> "s", "sources.schema_s" -> "s", "sources.load_s" -> "s",
    "sources.load_tasks" -> "count", "sources.load_gz_s" -> "s",
    "sources.load_gz_tasks" -> "count", "sources.archive_s" -> "s",
    "sources.files_archived" -> "count", "sources.sql_read_s" -> "s",
    "sources.sink_bytes" -> "bytes", "sources.stored_bytes_per_input_byte" -> "ratio",
    "repair.split_s" -> "s", "repair.coerce_s" -> "s", "repair.rows_in" -> "count",
    "repair.rows_kept" -> "count", "repair.kept_ratio" -> "ratio",
    "repair.rejected.arity" -> "count", "repair.nulled.int" -> "count",
    "repair.nulled.float" -> "count", "repair.nulled.ts" -> "count",
    "plans.ts_parse_s" -> "s", "plans.minhash_s" -> "s",
    "operators.build_s" -> "s", "operators.derive_jobs" -> "count",
    "catalyst.analysis_s" -> "s", "catalyst.optimization_s" -> "s",
    "catalyst.planning_s" -> "s", "codegen.compile_s" -> "s", "driver.nojob_s" -> "s",
    "exec.jobs" -> "count", "exec.stages" -> "count", "exec.tasks" -> "count",
    "exec.failed_tasks" -> "count", "exec.task_run_s" -> "s", "exec.task_cpu_s" -> "s",
    "exec.gc_s" -> "s", "exec.core_busy_ratio" -> "ratio",
    "exec.shuffle_write_bytes" -> "bytes", "exec.shuffle_read_bytes" -> "bytes",
    "exec.spill_bytes" -> "bytes", "exec.unattributed_jobs" -> "count",
    "cache.blocks_stored" -> "count", "cache.bytes_stored" -> "bytes",
    "cache.peak_bytes" -> "bytes", "cache.leaked_rdds_after_op" -> "count",
    "cache.leaked_broadcasts_after_op" -> "count", "exec.jobs_running_after_op" -> "count",
    "trace.overhead_s" -> "s", "trace.overhead_ratio" -> "ratio")

  def budgetMb(): Long = (0.3 * Runtime.getRuntime.maxMemory / 1e6).toLong

  def deleteTree(p: Path): Unit = if (Files.exists(p)) {
    val s = Files.walk(p)
    try s.sorted(java.util.Comparator.reverseOrder[Path]()).forEach(f => Files.deleteIfExists(f))
    finally s.close()
  }

  /** Digests every checked query and dumps its result for the oracle. */
  def makeDigests(root: Path, data: String, out: Path): Unit = {
    val work = root.resolve(".bench_build/digests")
    deleteTree(work)
    val ctx = new Ctx(new Ledger(false), work, 0L, data)
    ctx.spark = session(work)
    val byWorkload = Seq("sql_interactive").map { wn =>
      val w = workload(wn, root).asInstanceOf[QueryWorkload]
      SqlRows.foreach { n =>
        graft.SparkEntry.queries(n)(ctx.spark, w.dir(ctx)).coalesce(1)
          .write.mode("overwrite").parquet(work.resolve(s"dump/$wn/$n").toString)
        graft.operators.GraphQueries.unpersistAll()
      }
      wn -> (w.dir(ctx), w.digests(ctx))
    }
    val oracle = graft.SparkEntry.oracleSql
    val body = byWorkload.map { case (wn, (dir, ds)) =>
      val qs = ds.map { case (n, d) =>
        s"${Json.str(n)}: {\"digest\": ${Json.str(d)}, \"oracle\": " +
          oracle.get(n).map(Json.str).getOrElse("null") + "}" }.mkString(", ")
      s"${Json.str(wn)}: {\"data\": ${Json.str(dir)}, \"queries\": {$qs}}"
    }.mkString("{", ", ", "}")
    Files.writeString(out, body)
    ctx.spark.stop()
  }
}

/** Reads `expected_digests.json`: workload -> query -> digest. */
object Expected {
  def load(p: Path): Map[String, Map[String, String]] =
    if (!Files.exists(p)) Map.empty
    else {
      import scala.jdk.CollectionConverters._
      val root = new com.fasterxml.jackson.databind.ObjectMapper().readTree(p.toFile)
      root.fieldNames().asScala.map { w =>
        val qs = root.get(w).get("queries")
        w -> qs.fieldNames().asScala.map(n => n -> qs.get(n).get("digest").asText()).toMap
      }.toMap
    }
}

object Json {
  def str(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""

  def num(v: Double): String =
    if (v.isNaN || v.isInfinite) "null"
    else if (v == math.rint(v) && math.abs(v) < 1e15) v.toLong.toString
    else v.toString
}

/** The run's trace file: metrics, one record per operation, spans. */
object Trace {
  def write(root: Path, w: String, seed: Long, traced: Boolean,
            metrics: Seq[(String, (Double, String))], ops: Seq[Main.OpRec],
            spans: Seq[Span]): Path = {
    val dir = Files.createDirectories(root.resolve(".bench_build/traces"))
    val f = dir.resolve(s"$w-seed$seed-trace${if (traced) 1 else 0}.json")
    val sb = new StringBuilder
    sb.append(s"""{"workload": ${Json.str(w)}, "seed": $seed, "traced": $traced,\n"metrics": {""")
    sb.append(metrics.map { case (k, (v, u)) =>
      s"${Json.str(k)}: {\"value\": ${Json.num(v)}, \"unit\": ${Json.str(u)}}" }.mkString(", "))
    sb.append("},\n\"ops\": [\n")
    sb.append(ops.map { o =>
      val c = o.counters.toMap.map { case (k, v) => s"${Json.str(k)}: ${Json.num(v)}" }.mkString(", ")
      s"""{"id": ${Json.str(o.id)}, "name": ${Json.str(o.name)}, "pass": ${o.pass}, """ +
        s""""seconds": ${Json.num(o.seconds)}, "ok": ${o.ok}, "codegen.compile_s": ${Json.num(o.compileS)}, """ +
        s""""driver.nojob_s": ${Json.num(o.noJobS)}, "operators.derive_jobs": ${o.deriveJobs}, """ +
        s""""cache.leaked_rdds_after_op": ${o.leakedRdds}, "cache.leaked_broadcasts_after_op": ${o.leakedBroadcasts}, """ +
        s""""exec.jobs_running_after_op": ${o.jobsRunning}, $c}"""
    }.mkString(",\n"))
    sb.append("],\n\"spans\": [\n")
    sb.append(spans.map { s =>
      s"""{"id": ${s.id}, "parent": ${s.parent}, "op": ${Json.str(s.op)}, "name": ${Json.str(s.name)}, """ +
        s""""start_ns": ${s.startNs}, "end_ns": ${s.endNs}}"""
    }.mkString(",\n"))
    sb.append("]}\n")
    Files.writeString(f, sb.toString)
    f
  }
}
