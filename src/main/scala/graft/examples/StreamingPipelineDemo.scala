package graft.examples

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

import graft.Sessions
import graft.operators.Q

/** The composed STREAMING pipeline as a probe-instrumented main
  * (VERDICT r10 #6): ingest → content dedup within watermark → scrub →
  * LM scoring → stateful per-source counters, chained as the two
  * checkpointed queries of [[graft.streaming.ComposedPipeline]], with
  * a kill/restart across the chain mid-corpus (half the arrivals plus
  * replayed duplicates land while both queries are DOWN). Prints the
  * per-source frontier vs the batch composition (must match exactly —
  * the StreamingSpec assertion, replayed here at scale), the dedup
  * suppression across the restart, and a [[PipelineProbe]] JSON line
  * (`streaming_pipeline_composed`) with wall/spill/failed/peak.
  *
  * Usage: runMain graft.examples.StreamingPipelineDemo [sfDir]
  */
object StreamingPipelineDemo {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.01")
    val spark = Sessions.local(Sessions.cpus(32))
    spark.sparkContext.setLogLevel("WARN")
    val probe = new PipelineProbe(spark)
    println(run(spark, sfDir))
    println(probe.reportJson("streaming_pipeline_composed", sfDir))
    spark.stop()
  }

  /** Runs the composed streaming chain with a mid-corpus restart;
    * returns the JSON summary. */
  def run(spark: SparkSession, sfDir: String): String = {
    import graft.streaming.{ComposedPipeline, StageCounts}
    import spark.implicits._

    val root = java.nio.file.Files.createTempDirectory("stream_composed")
    val in = root.resolve("in").toString
    val silver = root.resolve("silver").toString
    val cp1 = root.resolve("cp1").toString
    val cp2 = root.resolve("cp2").toString
    val gold1 = root.resolve("gold1").toString
    val gold2 = root.resolve("gold2").toString
    try {
      val docs0 = Q.t(spark, sfDir, "documents")
      val n = docs0.count()
      val half = n / 2
      val docs = docs0.withColumn("ets",
        timestamp_micros((col("doc_id") + 3600L) * 1000000L))
      val schema = docs.schema
      // the LM is a fixed asset, trained once on the static corpus
      val (freq0, scal0) = graft.operators.TextQueries.trainUnigramLm(docs0)
      val freqF = freq0.localCheckpoint()
      val scalF = scal0.localCheckpoint()
      // 4 files per arrival batch: enough micro-batches to exercise the
      // chain (16+ per query across the restart) without the
      // one-file-per-trigger fixed cost dominating the wall clock
      def drop(pred: org.apache.spark.sql.Column): Unit =
        docs.filter(pred).coalesce(4).write.mode("append").parquet(in)

      // ---- run 1: first half of the corpus + an in-run replay
      drop(col("doc_id") < half / 2)
      drop(col("doc_id") >= half / 2 && col("doc_id") < half)
      drop(col("doc_id") < half / 4) // in-run duplicates
      val t0 = System.nanoTime()
      val q1a = ComposedPipeline.startCurate(spark, schema, in, silver, cp1,
        freqF, scalF, delay = "10 days")
      try q1a.processAllAvailable() finally q1a.stop()
      val q2a = ComposedPipeline.startCounts(spark, silver, gold1, cp2)
      try q2a.processAllAvailable() finally q2a.stop()
      val silverBefore = spark.read.parquet(silver).count()

      // ---- both queries DOWN: rest of the corpus + pre-restart dups
      val nDupsAcross = half / 4
      drop(col("doc_id") >= half)
      drop(col("doc_id") >= half / 4 && col("doc_id") < half / 2) // dups
      val q1b = ComposedPipeline.startCurate(spark, schema, in, silver, cp1,
        freqF, scalF, delay = "10 days")
      // drain-time maintenance (VERDICT r18 next #4): every session
      // ends through the reconcile contract — the one unserialized
      // curate/takedown window heals HERE, before the final counter
      // drain, instead of waiting for a takedown batch that may never
      // come (a no-op in this demo: no takedowns were submitted)
      ComposedPipeline.drainAndReconcile(spark, Seq(q1b), silver,
        epochBatchId = 1L << 20)
      val q2b = ComposedPipeline.startCounts(spark, silver, gold2, cp2)
      try q2b.processAllAvailable() finally q2b.stop()
      val wall = (System.nanoTime() - t0) / 1e9
      val silverDelta = spark.read.parquet(silver).count() - silverBefore
      val dupsSuppressed = (n - half) + nDupsAcross - silverDelta

      // frontier vs the batch composition over the same arrivals
      val emitted1 = spark.read.parquet(gold1).as[StageCounts.Counts].collect()
      val emitted2 = spark.read.parquet(gold2).as[StageCounts.Counts].collect()
      val got = (emitted1 ++ emitted2).groupBy(_.source)
        .map { case (s, rows) => s -> rows.maxBy(_.n_total) }
      val batch = ComposedPipeline.batchComposition(
          spark.read.parquet(in).drop("ets"), freqF, scalF)
        .collect().map { r =>
          r.getString(0) -> StageCounts.Counts(r.getString(0), r.getLong(1),
            r.getLong(2), r.getLong(3), r.getLong(4))
        }.toMap
      val paritySources =
        got.count { case (s, c) => batch.get(s).contains(c) }
      val advanced = emitted2.exists { c2 =>
        val before = emitted1.filter(_.source == c2.source)
        before.nonEmpty && before.map(_.n_total).max < c2.n_total
      }
      s"""{"n_docs":$n,"wall_sec":${f"$wall%.1f"},""" +
        s""""silver_rows":${silverBefore + silverDelta},""" +
        s""""dups_suppressed_across_restart":$dupsSuppressed,""" +
        s""""dups_replayed_across_restart":$nDupsAcross,""" +
        s""""sources":${batch.size},"sources_parity_ok":$paritySources,""" +
        s""""frontier_advanced_across_restart":$advanced}"""
    } finally graft.operators.Q.deleteTree(root)
  }
}
