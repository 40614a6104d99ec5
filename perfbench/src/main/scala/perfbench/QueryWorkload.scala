package perfbench

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.col

/** A closed loop over rows of `SparkEntry.queries`, one client, each
  * pass in a seed-permuted order, every result into a noop sink.
  *
  * The warm-up pass also digests each result (outside the timed
  * window) and compares it with the digests kept in
  * `expected_digests.json`; a query whose digest differs counts as
  * failed on every pass it ran.
  */
final class QueryWorkload(val name: String, sf: String, names: Seq[String],
                          expected: Map[String, String]) extends Workload {
  private lazy val entries: Map[String, (SparkSession, String) => DataFrame] = {
    val all = graft.SparkEntry.queries
    names.map(n => n -> all(n)).toMap
  }
  private val wrong = scala.collection.mutable.Set.empty[String]
  private val ran = scala.collection.mutable.ArrayBuffer.empty[Op]

  def dir(ctx: Ctx): String = s"${ctx.dataRoot}/$sf"

  def inputNote(ctx: Ctx): String =
    s"${names.size} queries over ${dir(ctx)}"

  def stage(ctx: Ctx): Unit = entries

  def pass(ctx: Ctx, p: Int): Seq[Op] = {
    // untimed passes keep one fixed order, so every run's JIT profile
    // forms the same way; timed passes run in a seed-permuted order
    val order = if (p < 0) names else ctx.rng.shuffle(names)
    order.map { n =>
      val op = Op(s"p$p.$n", n, () => run(ctx, n, p == -1))
      if (p >= 0) ran += op
      op
    }
  }

  private def run(ctx: Ctx, n: String, check: Boolean): Unit = {
    val spark = ctx.spark
    if (check) {
      val got = Digest.of(entries(n)(spark, dir(ctx)))
      release()
      if (!expected.get(n).contains(got)) {
        wrong += n
        System.err.println(s"[perfbench] $n: digest $got != expected ${expected.getOrElse(n, "<none>")}")
      }
    }
    // the warm-up runs the noop path too: the digest alone left the
    // timed passes warming up (the third 30 % faster than the first)
    val df = ctx.ledger.span("operators.build") {
      ctx.ledger.inBuild(spark)(entries(n)(spark, dir(ctx)))
    }
    ctx.ledger.span("action")(noop(df))
    ctx.ledger.addAnalysis(df.queryExecution)
  }

  override def release(): Unit = graft.operators.GraphQueries.unpersistAll()

  def verify(ctx: Ctx): Unit =
    ran.filter(o => wrong.contains(o.name)).foreach(o => ctx.failedOps += o.id)

  override def probes(ctx: Ctx): Unit = {
    val docs = ctx.spark.read.parquet(s"${dir(ctx)}/documents.parquet").cache()
    docs.count()
    probe(ctx, "plans.minhash")(
      noop(docs.select(graft.functions.TextFunctions.minhashSigFast(col("text"), 64))))
    docs.unpersist(blocking = true)
  }

  /** Digests of every query, computed the same way the check does. */
  def digests(ctx: Ctx): Seq[(String, String)] = names.sorted.map { n =>
    try n -> Digest.of(entries(n)(ctx.spark, dir(ctx)))
    finally release()
  }
}
