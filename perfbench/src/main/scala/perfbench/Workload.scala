package perfbench

import java.nio.file.Path
import org.apache.spark.sql.{DataFrame, SparkSession}

/** State shared by a run's set-up and passes. */
final class Ctx(val ledger: Ledger, val work: Path, val seed: Long,
                val dataRoot: String) {
  var spark: SparkSession = _
  val rng = new scala.util.Random(seed)
  /** Operations whose output failed its check, by operation id. */
  val failedOps = scala.collection.mutable.Set.empty[String]
  /** Traced-run probe results, by per-layer metric name. */
  val probes = scala.collection.mutable.LinkedHashMap.empty[String, Double]
}

/** One timed operation of a pass: a query, or one workflow day. */
final case class Op(id: String, name: String, run: () => Unit)

trait Workload {
  def name: String
  /** Input sizes, stated in the output. */
  def inputNote(ctx: Ctx): String
  /** Input generation and staging, part of set-up. */
  def stage(ctx: Ctx): Unit
  /** The operations of pass `p`: `p >= 0` timed, -1 the warm-up pass,
    * -2 the traced run's untraced reference pass. */
  def pass(ctx: Ctx, p: Int): Seq[Op]
  /** Checks outputs (outside the timed window); marks failed ops. */
  def verify(ctx: Ctx): Unit
  /** Rows this workload's passes ingested (None: use scan rows). */
  def rowsIngested: Option[Long] = None
  /** Releases what an operation left cached (after its leak count). */
  def release(): Unit = ()
  /** Traced-only single-layer timings, run after the window. */
  def probes(ctx: Ctx): Unit = ()
  /** Workload-specific per-layer counters, per timed pass. */
  def layerCounters(passes: Int): Map[String, Double] = Map.empty

  /** Times `body` `n` times and records the median under `name`. */
  protected def probe(ctx: Ctx, name: String, n: Int = 3)(body: => Unit): Unit = {
    val ts = (0 until n).map { _ =>
      val t0 = System.nanoTime()
      ctx.ledger.inOp(ctx.spark, "probe." + name)(ctx.ledger.span(name)(body))
      (System.nanoTime() - t0) / 1e9
    }
    ctx.probes(name) = Stats.median(ts)
  }

  protected def noop(df: DataFrame): Unit =
    df.write.format("noop").mode("overwrite").save()
}

object Stats {
  def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) Double.NaN
    else {
      val s = xs.sorted
      if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
    }

  /** Nearest-rank percentile. */
  def pct(xs: Seq[Double], p: Double): Double = {
    val s = xs.sorted
    s(math.min(s.size - 1, math.max(0, math.ceil(p * s.size).toInt - 1)))
  }
}
