package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.types._
import graft.streaming.IncrementalIngest
import java.nio.file.{Files, Path}

/** Incremental file ingest: exactly-once pickup across "cron ticks",
  * archive-on-consume, schema-driven repair in-stream. */
class StreamingSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  private val schema = StructType(Seq(
    StructField("NAME", StringType), StructField("N", LongType)))

  test("watermarked event-time window aggregation matches batch") {
    import org.apache.spark.sql.functions._
    // stage the events table as a streaming file source
    val dir = Files.createTempDirectory("evstream")
    val batch = spark.read.parquet("/root/testdata/sf0.001/events.parquet")
    batch.write.mode("overwrite").parquet(dir.resolve("in").toString)
    val evSchema = batch.schema

    def windowed(df: org.apache.spark.sql.DataFrame) = df
      .withColumn("ets", timestamp_micros(graft.operators.Q.tsUs(df)))
      .withWatermark("ets", "1 hour")
      .groupBy(window(col("ets"), "6 hours"), col("event_type"))
      .agg(count(lit(1)).as("n"), round(sum(col("value")), 2).as("total"))

    val q = windowed(spark.readStream.schema(evSchema)
        .parquet(dir.resolve("in").toString))
      .writeStream.outputMode("complete")
      .format("memory").queryName("ev_windows")
      .start()
    try q.processAllAvailable() finally q.stop()

    val streamed = spark.table("ev_windows")
      .orderBy("window", "event_type").collect()
    val expected = windowed(batch).orderBy("window", "event_type").collect()
    assert(streamed.length == expected.length && streamed.nonEmpty)
    streamed.zip(expected).foreach { case (s, e) => assert(s == e) }
  }

  test("flatMapGroupsWithState sessionization matches a batch fold") {
    import org.apache.spark.sql.functions._
    import graft.streaming.StatefulSessions
    import StatefulSessions.{ClosedSession, Ev}
    implicit val s: org.apache.spark.sql.SparkSession = spark
    import spark.implicits._

    val gapMin = 30
    val dir = Files.createTempDirectory("sessstream")
    val in = dir.resolve("in").toString
    val batch = spark.read.parquet("/root/testdata/sf0.001/events.parquet")
    batch.write.mode("overwrite").parquet(in)
    // sentinel far beyond every real event: advancing the watermark
    // past lastEvent + gap closes every real session via its timer
    // (built in the SAME ts type as the source so the appended file's
    // parquet schema matches on either testdata generation)
    val maxUs = batch.agg(max(graft.operators.Q.tsUs(batch))).as[Long].head()
    val sentinelUs = maxUs + 10L * 24 * 3600 * 1000000L
    val sentinelTs = batch.schema("ts").dataType match {
      case org.apache.spark.sql.types.LongType => lit(sentinelUs * 1000L)
      case t => timestamp_micros(lit(sentinelUs)).cast(t)
    }
    batch.limit(1)
      .withColumn("user_id", lit(-1L))
      .withColumn("ts", sentinelTs)
      .write.mode("append").parquet(in)

    val q = StatefulSessions.sessionize(
        StatefulSessions.toEvents(
          spark.readStream.schema(batch.schema)
            .option("maxFilesPerTrigger", "1").parquet(in)),
        gapMin)
      .writeStream.outputMode("append")
      .format("memory").queryName("sessions")
      .start()
    try q.processAllAvailable() finally q.stop()

    val got = spark.table("sessions").as[ClosedSession].collect()
      .filter(_.user_id >= 0)
      .map(c => (c.user_id, c.session_start_us, c.session_end_us,
        c.n_events, math.round(c.total_value * 100)))
      .toSet

    // batch oracle: the same fold, host-side
    val gapUs = gapMin * 60L * 1000000L
    val evs = batch.select(col("user_id"),
        graft.operators.Q.tsUs(batch).as("ts_us"), col("value"))
      .as[Ev].collect()
    val expected = evs.groupBy(_.user_id).flatMap { case (uid, es) =>
      val sorted = es.sortBy(e => (e.ts_us, e.value))
      val out = Seq.newBuilder[(Long, Long, Long, Long, Long)]
      var start, last, n = 0L
      var tot = 0.0
      var open = false
      sorted.foreach { e =>
        if (!open) { start = e.ts_us; last = e.ts_us; n = 1; tot = e.value; open = true }
        else if (e.ts_us - last <= gapUs) { last = e.ts_us; n += 1; tot += e.value }
        else {
          out += ((uid, start, last, n, math.round(tot * 100)))
          start = e.ts_us; last = e.ts_us; n = 1; tot = e.value
        }
      }
      if (open) out += ((uid, start, last, n, math.round(tot * 100)))
      out.result()
    }.toSet

    assert(got.nonEmpty)
    assert(got == expected,
      s"missing=${(expected -- got).take(3)} extra=${(got -- expected).take(3)}")
  }

  test("out-of-order events admitted by the watermark only widen the open session") {
    import org.apache.spark.sql.functions._
    import graft.streaming.StatefulSessions
    import StatefulSessions.ClosedSession
    implicit val s: org.apache.spark.sql.SparkSession = spark
    import spark.implicits._

    val dir = Files.createTempDirectory("latestream")
    val in = dir.resolve("in").toString
    val H = 3600L * 1000000000L // ns — events.ts carries nanos
    val Min = 60L * 1000000000L
    val t0 = 10L * H
    def drop(rows: (Long, Long, Double)*): Unit =
      rows.toSeq.toDF("user_id", "ts", "value").coalesce(1)
        .write.mode("append").parquet(in)
    // batch 1: 10:00 and 10:20 — one open session
    drop((7L, t0, 1.0), (7L, t0 + 20 * Min, 1.0))
    // batch 2: a LATE event (10:05 — before the session's last event,
    // but above the watermark) plus 10:40. A merge that dragged lastUs
    // back to 10:05 would see 10:40 as beyond the 30-min gap and
    // spuriously split the session; the widen-only merge keeps last at
    // 10:20 so 10:40 extends it.
    drop((7L, t0 + 5 * Min, 1.0), (7L, t0 + 40 * Min, 1.0))
    // batch 3: sentinel far in the future — advances the watermark past
    // every real session end + gap, firing the close timers
    drop((-1L, t0 + 1000L * H, 0.0))

    val schema = spark.read.parquet(in).schema
    val q = StatefulSessions.sessionize(
        StatefulSessions.toEvents(
          spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", "1").parquet(in),
          watermarkDelay = "2 hours"),
        gapMinutes = 30)
      .writeStream.outputMode("append")
      .format("memory").queryName("late_sessions")
      .start()
    try q.processAllAvailable() finally q.stop()

    val got = spark.table("late_sessions").as[ClosedSession].collect()
      .filter(_.user_id == 7L)
    assert(got.length == 1,
      s"late event split the session: ${got.toSeq}")
    assert(got.head.session_start_us == t0 / 1000)
    assert(got.head.session_end_us == (t0 + 40 * Min) / 1000)
    assert(got.head.n_events == 4)
  }

  test("dropDuplicatesWithinWatermark dedups a re-played document stream") {
    import org.apache.spark.sql.functions._
    import graft.streaming.StreamingDedup

    val dir = Files.createTempDirectory("dedupstream")
    val in = dir.resolve("in").toString
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
      .select(col("doc_id"), col("text"))
      // deterministic event time: one doc per second, offset past epoch
      // 0 (a row whose event time equals the initial watermark would be
      // discarded as late)
      .withColumn("ets", timestamp_micros((col("doc_id") + 3600L) * 1000000L))
    // batch 1: all docs; batch 2: first 100 replayed (same content,
    // same event time → inside the 10-minute state window)
    docs.write.mode("overwrite").parquet(in)
    docs.filter(col("doc_id") < 100).write.mode("append").parquet(in)

    val q = StreamingDedup.dedupeByContent(
        spark.readStream.schema(docs.schema)
          .option("maxFilesPerTrigger", "1").parquet(in),
        "ets", "10 minutes")
      .writeStream.outputMode("append")
      .format("memory").queryName("deduped")
      .start()
    try q.processAllAvailable() finally q.stop()

    import spark.implicits._
    val emittedIds = spark.table("deduped")
      .select("doc_id").as[Long].collect().toSet
    val allIds = docs.select("doc_id").as[Long].collect().toSet
    // every replayed duplicate suppressed, every distinct doc kept once
    assert(spark.table("deduped").count() == emittedIds.size,
      "a document was emitted twice")
    assert(emittedIds == allIds,
      s"missing=${(allIds -- emittedIds).take(5)} extra=${(emittedIds -- allIds).take(5)}")
  }

  test("count-min sketch maintained across micro-batches is bit-identical to the batch sketch") {
    import org.apache.spark.sql.functions._
    import org.apache.spark.util.sketch.CountMinSketch
    val dir = Files.createTempDirectory("cmsstream")
    val in = dir.resolve("in").toString
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    docs.repartition(4).write.mode("overwrite").parquet(in) // 4 micro-batches

    // the incremental form: each micro-batch sketches its own tokens
    // (distributed partial/final agg), and the tiny sketch binaries
    // merge across batches — counters are additive, so arrival order
    // and batch boundaries cannot change the result
    var merged: CountMinSketch = null
    val q = spark.readStream.schema(docs.schema)
      .option("maxFilesPerTrigger", "1").parquet(in)
      .selectExpr("explode(split(lower(text), ' ')) AS term")
      .writeStream.outputMode("append")
      .foreachBatch { (batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], _: Long) =>
        val bytes = batch
          .selectExpr("count_min_sketch(term, 0.001d, 0.99d, 7) AS sk")
          .collect().head.getAs[Array[Byte]](0)
        val sk = CountMinSketch.readFrom(new java.io.ByteArrayInputStream(bytes))
        if (merged == null) merged = sk else merged.mergeInPlace(sk)
        ()
      }
      .start()
    try q.processAllAvailable() finally q.stop()

    val batchBytes = docs
      .selectExpr("explode(split(lower(text), ' ')) AS term")
      .selectExpr("count_min_sketch(term, 0.001d, 0.99d, 7) AS sk")
      .collect().head.getAs[Array[Byte]](0)
    val out = new java.io.ByteArrayOutputStream()
    merged.writeTo(out)
    assert(java.util.Arrays.equals(out.toByteArray, batchBytes),
      "incrementally merged sketch must equal the one-shot batch sketch")
  }

  test("stateful streaming funnel equals the batch staged-minima funnel") {
    import org.apache.spark.sql.functions._
    import graft.streaming.StatefulFunnel
    import StatefulFunnel.{Ev, FunnelRow}
    implicit val s: org.apache.spark.sql.SparkSession = spark
    import spark.implicits._

    val dir = Files.createTempDirectory("funnelstream")
    val in = dir.resolve("in").toString
    val ev0 = spark.read.parquet("/root/testdata/sf0.001/events.parquet")
    val ev = ev0
      .select(col("user_id"), graft.operators.Q.tsUs(ev0).as("ts_us"),
        col("event_type"))
      .orderBy("ts_us").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getString(2)))
    // four sequential event-time slices — the in-order log-shipping
    // shape the parity contract assumes (within a batch the transition
    // sorts, so intra-file order is irrelevant)
    val slice = (ev.length + 3) / 4
    ev.grouped(slice).foreach { rows =>
      rows.toSeq.toDF("user_id", "ts_us", "event_type").coalesce(1)
        .write.mode("append").parquet(in)
    }

    val schema = spark.read.parquet(in).schema
    val q = StatefulFunnel.funnel(
        spark.readStream.schema(schema)
          .option("maxFilesPerTrigger", "1").parquet(in).as[Ev])
      .writeStream.outputMode("update")
      .format("memory").queryName("funnel_stream")
      .start()
    try q.processAllAvailable() finally q.stop()

    // update mode emits one row per touched user per batch: the LAST
    // row per user is the final frontier (monotone fills)
    val got = spark.table("funnel_stream").as[FunnelRow].collect()
      .groupBy(_.user_id)
      .map { case (u, rows) => u -> rows.maxBy(_.reached) }
    val batch = SparkEntry.queries("q_event_funnel")(
        spark, "/root/testdata/sf0.001").collect()
      .map { r =>
        def g(c: String): Long =
          Option(r.getAs[Any](c)).map(_.asInstanceOf[Long]).getOrElse(-1L)
        r.getAs[Long]("user_id") ->
          (g("t_signup"), g("t_view"), g("t_click"), g("t_purchase"),
            r.getAs[Long]("reached"))
      }.toMap
    assert(got.keySet == batch.keySet,
      s"user sets differ: ${got.keySet.diff(batch.keySet)} / ${batch.keySet.diff(got.keySet)}")
    got.foreach { case (u, fr) =>
      assert((fr.t_signup, fr.t_view, fr.t_click, fr.t_purchase, fr.reached)
        == batch(u), s"user $u: stream $fr vs batch ${batch(u)}")
    }
  }

  test("stateful funnel survives a kill/restart from its checkpoint: " +
    "batch parity holds across the restart boundary") {
    import org.apache.spark.sql.functions._
    import graft.streaming.StatefulFunnel
    import StatefulFunnel.{Ev, FunnelRow}
    implicit val s: org.apache.spark.sql.SparkSession = spark
    import spark.implicits._

    val dir = Files.createTempDirectory("funnelrestart")
    val in = dir.resolve("in").toString
    val cp = dir.resolve("cp").toString
    val ev0 = spark.read.parquet("/root/testdata/sf0.001/events.parquet")
    val ev = ev0
      .select(col("user_id"), graft.operators.Q.tsUs(ev0).as("ts_us"),
        col("event_type"))
      .orderBy("ts_us").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getString(2)))
    val slice = (ev.length + 3) / 4
    val slices = ev.grouped(slice).toSeq

    // first half of the log, then KILL the query
    slices.take(2).foreach { rows =>
      rows.toSeq.toDF("user_id", "ts_us", "event_type").coalesce(1)
        .write.mode("append").parquet(in)
    }
    val schema = spark.read.parquet(in).schema
    // memory sink refuses checkpoint recovery; foreachBatch → parquet
    // append is the restartable shape (checkpoint tracks source offsets
    // + state store; the sink may differ across restarts)
    def start(out: String) = StatefulFunnel.funnel(
        spark.readStream.schema(schema)
          .option("maxFilesPerTrigger", "1").parquet(in).as[Ev])
      .writeStream.outputMode("update")
      .option("checkpointLocation", cp)
      .foreachBatch {
        (df: org.apache.spark.sql.Dataset[FunnelRow], _: Long) =>
          df.write.mode("append").parquet(out); ()
      }
      .start()
    val out1 = dir.resolve("out1").toString
    val out2 = dir.resolve("out2").toString
    val q1 = start(out1)
    try q1.processAllAvailable() finally q1.stop()

    // rest of the log arrives while the query is down; a NEW query
    // (fresh plan, fresh sink) resumes from the same checkpoint —
    // the state store must hand back every user's frontier intact
    slices.drop(2).foreach { rows =>
      rows.toSeq.toDF("user_id", "ts_us", "event_type").coalesce(1)
        .write.mode("append").parquet(in)
    }
    val q2 = start(out2)
    try q2.processAllAvailable() finally q2.stop()

    val run1 = spark.read.parquet(out1).as[FunnelRow].collect()
    val run2 = spark.read.parquet(out2).as[FunnelRow].collect()
    // fills are monotone and never move, so per user the max-reached
    // row across both runs is the final frontier (a user untouched
    // after the restart only has run-1 rows)
    val got = (run1 ++ run2).groupBy(_.user_id)
      .map { case (u, rows) => u -> rows.maxBy(_.reached) }

    val batch = SparkEntry.queries("q_event_funnel")(
        spark, "/root/testdata/sf0.001").collect()
      .map { r =>
        def g(c: String): Long =
          Option(r.getAs[Any](c)).map(_.asInstanceOf[Long]).getOrElse(-1L)
        r.getAs[Long]("user_id") ->
          (g("t_signup"), g("t_view"), g("t_click"), g("t_purchase"),
            r.getAs[Long]("reached"))
      }.toMap
    assert(got.keySet == batch.keySet,
      s"user sets differ: ${got.keySet.diff(batch.keySet)} / ${batch.keySet.diff(got.keySet)}")
    got.foreach { case (u, fr) =>
      assert((fr.t_signup, fr.t_view, fr.t_click, fr.t_purchase, fr.reached)
        == batch(u), s"user $u: stream $fr vs batch ${batch(u)}")
    }
    // the restart must actually have been load-bearing: some user's
    // frontier advanced ACROSS the boundary (reached more stages after
    // resume than any run-1 emission showed) — otherwise this test
    // would pass with an empty state store
    val advanced = run2.exists { r2 =>
      val before = run1.filter(_.user_id == r2.user_id)
      before.nonEmpty && before.map(_.reached).max < r2.reached
    }
    assert(advanced,
      "no user's funnel advanced across the restart — recovery untested")
  }

  test("hll sketches maintained across micro-batches estimate identically to the batch sketch") {
    import org.apache.spark.sql.functions._
    val dir = Files.createTempDirectory("hllstream")
    val in = dir.resolve("in").toString
    val ev = spark.read
      .parquet("/root/testdata/sf0.001/events.parquet")
      .select(col("user_id"))
    ev.repartition(4).write.mode("overwrite").parquet(in) // 4 micro-batches

    // q_hll_union's maintenance story end-to-end: each micro-batch
    // builds its own HLL binary; the union of the per-batch sketches
    // must carry the same registers as the one-shot batch sketch
    // (register-max is associative), so the estimates match EXACTLY,
    // independent of batch boundaries and arrival order
    val perBatch = scala.collection.mutable.ArrayBuffer.empty[Array[Byte]]
    val q = spark.readStream.schema(ev.schema)
      .option("maxFilesPerTrigger", "1").parquet(in)
      .writeStream.outputMode("append")
      .foreachBatch { (batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], _: Long) =>
        perBatch += batch.selectExpr("hll_sketch_agg(user_id) AS sk")
          .collect().head.getAs[Array[Byte]](0)
        ()
      }
      .start()
    try q.processAllAvailable() finally q.stop()
    assert(perBatch.size > 1, "expected multiple micro-batches")

    import spark.implicits._
    val mergedEst = perBatch.toSeq.toDF("sk")
      .selectExpr("hll_sketch_estimate(hll_union_agg(sk)) AS est")
      .as[Long].head()
    val batchEst = ev
      .selectExpr("hll_sketch_estimate(hll_sketch_agg(user_id)) AS est")
      .as[Long].head()
    assert(mergedEst == batchEst,
      s"merged micro-batch estimate $mergedEst != batch estimate $batchEst")
  }

  test("the canonical-digest transform runs unchanged as a structured stream") {
    import org.apache.spark.sql.functions._
    val dir = Files.createTempDirectory("canonstream")
    val in = dir.resolve("in").toString
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    docs.write.mode("overwrite").parquet(in)

    val q = graft.operators.DedupQueries.canonicalDigest(
        spark.readStream.schema(docs.schema)
          .option("maxFilesPerTrigger", "1").parquet(in))
      .writeStream.outputMode("append")
      .format("memory").queryName("canon")
      .start()
    try q.processAllAvailable() finally q.stop()

    val streamed = spark.table("canon").orderBy("doc_id").collect()
    val batch = graft.operators.DedupQueries.canonicalDigest(docs)
      .orderBy("doc_id").collect()
    assert(streamed.nonEmpty && streamed.length == batch.length)
    streamed.zip(batch).foreach { case (s, b) => assert(s == b) }
  }

  test("url canonicalization + blocklist runs unchanged as a structured stream") {
    import org.apache.spark.sql.functions._
    import graft.operators.CurationQueries
    val dir = Files.createTempDirectory("urlstream")
    val in = dir.resolve("in").toString
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    docs.write.mode("overwrite").parquet(in)

    // the canonicalizer is a pure stateless projection, and the
    // blocklist a map-side filter — both legal in append mode with no
    // watermark (the stateful canonical-URL dedup is the downstream
    // dropDuplicatesWithinWatermark, proven above on digests)
    def xform(df: org.apache.spark.sql.DataFrame) = df
      .select(col("doc_id"), CurationQueries.canonicalizeUrl(
        concat(lit("HTTP://WWW."), col("source"), lit(".Example.com:80/d/"),
          col("doc_id").cast("string"), lit("?utm_source=x#f"))).as("u"))
      .filter(!CurationQueries.urlHost(col("u"))
        .isin(CurationQueries.UrlBlocklist: _*))

    val q = xform(spark.readStream.schema(docs.schema)
        .option("maxFilesPerTrigger", "1").parquet(in))
      .writeStream.outputMode("append")
      .format("memory").queryName("urlcanon")
      .start()
    try q.processAllAvailable() finally q.stop()

    val streamed = spark.table("urlcanon").orderBy("doc_id").collect()
    val batch = xform(docs).orderBy("doc_id").collect()
    assert(streamed.nonEmpty && streamed.length == batch.length)
    streamed.zip(batch).foreach { case (s, b) => assert(s == b) }
    assert(streamed.forall(_.getString(1).startsWith("https://")))
  }

  test("the PII scrub transform runs unchanged as a structured stream") {
    import org.apache.spark.sql.functions._
    val dir = Files.createTempDirectory("scrubstream")
    val in = dir.resolve("in").toString
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    docs.write.mode("overwrite").parquet(in)

    val q = graft.operators.TextQueries.redact(
        spark.readStream.schema(docs.schema)
          .option("maxFilesPerTrigger", "1").parquet(in))
      .writeStream.outputMode("append")
      .format("memory").queryName("scrubbed")
      .start()
    try q.processAllAvailable() finally q.stop()

    val streamed = spark.table("scrubbed").orderBy("doc_id").collect()
    val batch = graft.operators.TextQueries.redact(docs)
      .orderBy("doc_id").collect()
    assert(streamed.nonEmpty && streamed.length == batch.length)
    streamed.zip(batch).foreach { case (s, b) => assert(s == b) }
  }

  test("the contamination flag runs unchanged as a structured stream") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    val dir = Files.createTempDirectory("contamstream")
    val in = dir.resolve("in").toString
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    docs.write.mode("overwrite").parquet(in)
    // benchmark shingles driver-materialized once (the tiny side)
    val bench = docs.filter(col("doc_id") < 20)
      .select(explode(graft.functions.TextFunctions.shingleSetFast(col("text"))))
      .distinct().as[String].collect().toSeq

    val q = graft.operators.DedupQueries.contaminationFlag(
        spark.readStream.schema(docs.schema)
          .option("maxFilesPerTrigger", "1").parquet(in), bench, 3)
      .writeStream.outputMode("append")
      .format("memory").queryName("contam")
      .start()
    try q.processAllAvailable() finally q.stop()

    val streamed = spark.table("contam").orderBy("doc_id").collect()
    val batch = graft.operators.DedupQueries.contaminationFlag(docs, bench, 3)
      .orderBy("doc_id").collect()
    assert(streamed.length == batch.length && streamed.nonEmpty)
    streamed.zip(batch).foreach { case (s, b) => assert(s == b) }
    // sanity: the benchmark docs themselves flag as contaminated
    assert(streamed.take(20).forall(_.getBoolean(1)))
  }

  test("the quality classifier runs unchanged as a structured stream") {
    import org.apache.spark.sql.functions._
    val dir = Files.createTempDirectory("qcstream")
    val in = dir.resolve("in").toString
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    docs.write.mode("overwrite").parquet(in)

    val q = graft.operators.TextQueries.qualityClassifier(
        spark.readStream.schema(docs.schema)
          .option("maxFilesPerTrigger", "1").parquet(in))
      .writeStream.outputMode("append")
      .format("memory").queryName("qclass")
      .start()
    try q.processAllAvailable() finally q.stop()

    val streamed = spark.table("qclass").orderBy("doc_id").collect()
    val batch = graft.operators.TextQueries.qualityClassifier(docs)
      .orderBy("doc_id").collect()
    assert(streamed.nonEmpty && streamed.length == batch.length)
    streamed.zip(batch).foreach { case (s, b) => assert(s == b) }
  }

  test("incremental batch-vs-corpus dedup runs per micro-batch via foreachBatch") {
    // the production shape for incremental ingest dedup: each trigger's
    // micro-batch is deduped against the STATIC corpus with the full
    // batch operator (foreachBatch = batch semantics per trigger), so
    // the streamed keep-set must equal the one-shot batch keep-set.
    import org.apache.spark.sql.functions._
    val dir = Files.createTempDirectory("incstream")
    val in = dir.resolve("in").toString
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    val corpus = docs.filter(pmod(col("doc_id"), lit(5)) =!= 0)
    val batchDocs = docs.filter(pmod(col("doc_id"), lit(5)) === 0)
    // three arrival chunks → three micro-batches
    batchDocs.filter(col("doc_id") < 100).write.mode("overwrite").parquet(in)
    batchDocs.filter(col("doc_id") >= 100 && col("doc_id") < 300)
      .write.mode("append").parquet(in)
    batchDocs.filter(col("doc_id") >= 300).write.mode("append").parquet(in)

    val sink = new java.util.concurrent.ConcurrentLinkedQueue[Long]()
    val q = spark.readStream.schema(docs.schema)
      .option("maxFilesPerTrigger", "1").parquet(in)
      .writeStream.outputMode("append")
      .foreachBatch { (mb: org.apache.spark.sql.DataFrame, _: Long) =>
        graft.operators.DedupQueries.incrementalKeep(mb, corpus)
          .select("doc_id").collect().foreach(r => sink.add(r.getLong(0)))
        ()
      }
      .start()
    try q.processAllAvailable() finally q.stop()

    import scala.jdk.CollectionConverters._
    val streamedKept = sink.asScala.toSet
    val batchKept = graft.operators.DedupQueries
      .incrementalKeep(batchDocs, corpus)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(sink.size == streamedKept.size, "a doc was kept twice")
    assert(streamedKept == batchKept,
      s"missing=${(batchKept -- streamedKept).take(5)} " +
        s"extra=${(streamedKept -- batchKept).take(5)}")
    // and the corpus near-dups really were dropped in both forms
    assert(batchKept.size < batchDocs.count())
  }

  test("EXACT incremental dedup (prefix filter) runs per micro-batch via foreachBatch") {
    // same production shape as the LSH test above, but through the
    // guaranteed-recall prefix-filter operator: because each micro-
    // batch is deduped against the static corpus independently and the
    // operator is deterministic, batch boundaries cannot change the
    // keep-set
    import org.apache.spark.sql.functions._
    val dir = Files.createTempDirectory("pfincstream")
    val in = dir.resolve("in").toString
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    val corpus = docs.filter(pmod(col("doc_id"), lit(5)) =!= 0)
    val batchDocs = docs.filter(pmod(col("doc_id"), lit(5)) === 0)
    batchDocs.filter(col("doc_id") < 150).write.mode("overwrite").parquet(in)
    batchDocs.filter(col("doc_id") >= 150).write.mode("append").parquet(in)

    val sink = new java.util.concurrent.ConcurrentLinkedQueue[Long]()
    val q = spark.readStream.schema(docs.schema)
      .option("maxFilesPerTrigger", "1").parquet(in)
      .writeStream.outputMode("append")
      .foreachBatch { (mb: org.apache.spark.sql.DataFrame, _: Long) =>
        graft.operators.DedupQueries.prefixFilterIncremental(mb, corpus, 0.5)
          .select("doc_id").collect().foreach(r => sink.add(r.getLong(0)))
        ()
      }
      .start()
    try q.processAllAvailable() finally q.stop()

    import scala.jdk.CollectionConverters._
    val streamedKept = sink.asScala.toSet
    val batchKept = graft.operators.DedupQueries
      .prefixFilterIncremental(batchDocs, corpus, 0.5)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(sink.size == streamedKept.size, "a doc was kept twice")
    assert(streamedKept == batchKept,
      s"missing=${(batchKept -- streamedKept).take(5)} " +
        s"extra=${(streamedKept -- batchKept).take(5)}")
    assert(batchKept.size < batchDocs.count())
  }

  test("availableNow drains new files, archives them, never re-reads") {
    val root = Files.createTempDirectory("stream")
    val in = Files.createDirectories(root.resolve("in"))
    val cfg = IncrementalIngest.Config(
      inputDir = in.toString,
      checkpointDir = root.resolve("ckpt").toString,
      archiveDir = root.resolve("archived").toString,
      outputDir = root.resolve("out").toString)

    def drop(name: String, rows: Seq[String]): Unit =
      Files.write(in.resolve(name),
        ("NAME;N\n" + rows.mkString("", "\n", "\n")).getBytes("ISO-8859-1"))

    drop("cars_1.csv", Seq("a;1", "b;notanum"))
    assert(IncrementalIngest.runOnce(spark, schema, cfg) == 2)

    // tick 2: only the new file is read (checkpointed tracking), so
    // the tick loads its one row
    drop("cars_2.csv", Seq("c;3"))
    assert(IncrementalIngest.runOnce(spark, schema, cfg) == 1)

    // tick 3: nothing new → nothing loaded
    assert(IncrementalIngest.runOnce(spark, schema, cfg) == 0)

    // totals accumulate in the sink, with repair semantics applied
    // in-stream
    val out = spark.read.parquet(cfg.outputDir).orderBy("NAME").collect()
    assert(out.map(_.getString(0)).toSeq == Seq("a", "b", "c"))
    assert(out(1).isNullAt(1)) // "notanum" → NULL

    // consumed files eventually move to the archive dir (cleanSource
    // archives asynchronously, so poll briefly)
    def archivedCount: Long = {
      val d = root.resolve("archived")
      if (!Files.exists(d)) 0L
      else Files.walk(d).filter(p => p.toString.endsWith(".csv")).count()
    }
    val deadline = System.nanoTime() + 30e9.toLong
    while (archivedCount < 2 && System.nanoTime() < deadline) Thread.sleep(200)
    assert(archivedCount >= 1, "expected consumed csvs under the archive dir")
  }

  test("incremental ingest parses a file exactly as the batch CsvIngest " +
    "read: Latin-1 bytes, wrong-arity rows dropped, escaped separators") {
    val root = Files.createTempDirectory("streamcsv")
    val in = Files.createDirectories(root.resolve("in"))
    val cfg = IncrementalIngest.Config(
      inputDir = in.toString,
      checkpointDir = root.resolve("ckpt").toString,
      archiveDir = root.resolve("archived").toString,
      outputDir = root.resolve("out").toString)
    val abc = StructType(Seq(StructField("NAME", StringType),
      StructField("A", IntegerType), StructField("B", IntegerType)))
    val file = root.resolve("both.csv")
    val text = Seq("NAME;A;B", "café;3;4", "short;5", "long;6;7;8",
      "esc\\;aped;9;10").mkString("", "\n", "\n")
    Files.write(file, text.getBytes("ISO-8859-1"))
    val batch = graft.sources.CsvIngest.read(spark, file.toString, abc)
      .collect().map(_.toString).sorted.toSeq
    Files.copy(file, in.resolve("both.csv"))
    assert(IncrementalIngest.runOnce(spark, abc, cfg) == 2)
    val streamed = spark.read.parquet(cfg.outputDir).select("NAME", "A", "B")
      .collect().map(_.toString).sorted.toSeq
    assert(streamed == batch)
    assert(batch == Seq("[café,3,4]", "[esc;aped,9,10]"), batch)
  }

  test("watermarked stream-stream attribution join matches the batch join") {
    // the click→purchase attribution shape: two watermarked event
    // streams inner-joined on user within a 30-minute event-time band.
    // The 365-day watermark delay exceeds the fixture's whole time
    // span, so state cleanup can never drop a pending match and the
    // streamed result must equal the batch join exactly, even with
    // multi-file micro-batches arriving in unsorted event-time order.
    import org.apache.spark.sql.functions._
    val dir = Files.createTempDirectory("ssjoin")
    val in = dir.resolve("in").toString
    val batch = spark.read.parquet("/root/testdata/sf0.001/events.parquet")
    // three files → three micro-batches
    batch.repartition(3).write.mode("overwrite").parquet(in)
    val evSchema = batch.schema

    def attributed(df: org.apache.spark.sql.DataFrame) = {
      val ets = timestamp_micros(graft.operators.Q.tsUs(df))
      val clicks = df.where(col("event_type") === "click")
        .select(col("user_id").as("cu"), col("event_id").as("click_id"),
          ets.as("cts"))
        .withWatermark("cts", "365 days")
      val purchases = df.where(col("event_type") === "purchase")
        .select(col("user_id").as("pu"), col("event_id").as("purchase_id"),
          ets.as("pts"))
        .withWatermark("pts", "365 days")
      clicks.join(purchases,
        col("cu") === col("pu") &&
          col("pts") >= col("cts") &&
          col("pts") <= col("cts") + expr("INTERVAL 30 MINUTES"))
        .select(col("cu").as("user_id"), col("click_id"),
          col("purchase_id"))
    }

    val q = attributed(spark.readStream.schema(evSchema)
        .option("maxFilesPerTrigger", "1").parquet(in))
      .writeStream.outputMode("append")
      .format("memory").queryName("attrib")
      .start()
    try q.processAllAvailable() finally q.stop()

    val streamed = spark.table("attrib")
      .orderBy("user_id", "click_id", "purchase_id").collect()
    val expected = attributed(spark.read.parquet(in))
      .orderBy("user_id", "click_id", "purchase_id").collect()
    assert(streamed.nonEmpty && streamed.length == expected.length)
    streamed.zip(expected).foreach { case (s, e) => assert(s == e) }
  }

  test("LM perplexity scoring runs per micro-batch against a static LM") {
    // the production shape for scoring a growing corpus: the unigram
    // LM is a fixed asset (trained once), each arriving micro-batch is
    // scored with the full batch operator via foreachBatch. Scoring is
    // per-doc independent, so batch boundaries cannot change a score —
    // streamed output must equal the one-shot batch output bit-for-bit.
    import org.apache.spark.sql.functions._
    val dir = Files.createTempDirectory("lmstream")
    val in = dir.resolve("in").toString
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    val (freq, scal) = graft.operators.TextQueries.trainUnigramLm(docs)
    // freeze the LM the way a shipped asset would be (also keeps the
    // stream's per-batch plans off the training subtree)
    val freqF = freq.localCheckpoint()
    val scalF = scal.localCheckpoint()
    // three arrival chunks → three micro-batches
    docs.filter(col("doc_id") < 15).write.mode("overwrite").parquet(in)
    docs.filter(col("doc_id") >= 15 && col("doc_id") < 30)
      .write.mode("append").parquet(in)
    docs.filter(col("doc_id") >= 30).write.mode("append").parquet(in)

    val sink =
      new java.util.concurrent.ConcurrentLinkedQueue[(Long, Long, Double, String)]()
    val q = spark.readStream.schema(docs.schema)
      .option("maxFilesPerTrigger", "1").parquet(in)
      .writeStream.outputMode("append")
      .foreachBatch { (mb: org.apache.spark.sql.DataFrame, _: Long) =>
        graft.operators.TextQueries.scoreAgainstLm(mb, freqF, scalF)
          .collect().foreach(r => sink.add(
            (r.getLong(0), r.getLong(1), r.getDouble(2), r.getString(3))))
        ()
      }
      .start()
    try q.processAllAvailable() finally q.stop()

    import scala.jdk.CollectionConverters._
    val streamed = sink.asScala.toSeq.sortBy(_._1)
    val batch = graft.operators.TextQueries.scoreAgainstLm(docs, freqF, scalF)
      .orderBy(col("doc_id"))
      .collect().map(r =>
        (r.getLong(0), r.getLong(1), r.getDouble(2), r.getString(3))).toSeq
    assert(streamed.nonEmpty && streamed == batch)
  }

  test("COMPOSED streaming pipeline (ingest -> dedup -> scrub -> LM " +
    "score -> stateful counters) matches the batch composition across " +
    "a kill/restart of both chained queries") {
    import org.apache.spark.sql.functions._
    import graft.streaming.{ComposedPipeline, StageCounts}
    import spark.implicits._

    val dir = Files.createTempDirectory("composedstream")
    val in = dir.resolve("in").toString
    val silver = dir.resolve("silver").toString
    val cp1 = dir.resolve("cp1").toString
    val cp2 = dir.resolve("cp2").toString
    val gold1 = dir.resolve("gold1").toString
    val gold2 = dir.resolve("gold2").toString

    val docs0 = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    // deterministic event time, offset past the initial watermark; the
    // 10-day delay covers the whole replay so NOTHING is state-evicted
    // and the stream dedup is exact (the bounded-state contract is
    // separately pinned by the dedupeByContent test above)
    val docs = docs0.withColumn("ets",
      timestamp_micros((col("doc_id") + 3600L) * 1000000L))
    val schema = docs.schema
    val (freq0, scal0) = graft.operators.TextQueries.trainUnigramLm(docs0)
    val freqF = freq0.localCheckpoint()
    val scalF = scal0.localCheckpoint()

    def drop(pred: org.apache.spark.sql.Column): Unit =
      docs.filter(pred).write.mode("append").parquet(in)

    // ---- before the kill: half the corpus, plus a replay of the
    // first file (duplicates the dedup must suppress within this run)
    drop(col("doc_id") < 125)
    drop(col("doc_id") >= 125 && col("doc_id") < 250)
    drop(col("doc_id") < 60) // replay: in-run duplicates
    val q1a = ComposedPipeline.startCurate(spark, schema, in, silver, cp1,
      freqF, scalF, delay = "10 days")
    try q1a.processAllAvailable() finally q1a.stop()
    val q2a = ComposedPipeline.startCounts(spark, silver, gold1, cp2)
    try q2a.processAllAvailable() finally q2a.stop()
    val silverRowsBefore = spark.read.parquet(silver).count()

    // ---- while both queries are DOWN: the rest of the corpus arrives,
    // plus duplicates of PRE-restart docs — suppressing those requires
    // the dedup state recovered from cp1, not just this run's state
    drop(col("doc_id") >= 250)
    drop(col("doc_id") >= 30 && col("doc_id") < 90) // pre-restart dups
    val postRestartInputRows = 250L + 60L
    val q1b = ComposedPipeline.startCurate(spark, schema, in, silver, cp1,
      freqF, scalF, delay = "10 days")
    try q1b.processAllAvailable() finally q1b.stop()
    val q2b = ComposedPipeline.startCounts(spark, silver, gold2, cp2)
    try q2b.processAllAvailable() finally q2b.stop()

    // recovered dedup state was load-bearing: the 60 replayed
    // pre-restart docs must NOT re-enter silver
    val silverDelta = spark.read.parquet(silver).count() - silverRowsBefore
    assert(silverDelta == postRestartInputRows - 60L,
      s"expected ${postRestartInputRows - 60} new silver rows " +
        s"(dups suppressed by recovered state), got $silverDelta")

    // final frontier per source: counters are monotone, so the max
    // n_total row per source across both runs is its final state
    val emitted1 = spark.read.parquet(gold1).as[StageCounts.Counts].collect()
    val emitted2 = spark.read.parquet(gold2).as[StageCounts.Counts].collect()
    val got = (emitted1 ++ emitted2).groupBy(_.source)
      .map { case (s, rows) => s -> rows.maxBy(_.n_total) }

    // the batch composition of the SAME stages over the SAME arrivals
    // (duplicates included) is the parity oracle
    val batch = ComposedPipeline.batchComposition(
        spark.read.parquet(in).drop("ets"), freqF, scalF)
      .collect().map { r =>
        r.getString(0) -> StageCounts.Counts(r.getString(0), r.getLong(1),
          r.getLong(2), r.getLong(3), r.getLong(4))
      }.toMap
    assert(got.keySet == batch.keySet,
      s"source sets differ: ${got.keySet} vs ${batch.keySet}")
    got.foreach { case (s, c) =>
      assert(c == batch(s), s"source $s: stream $c vs batch ${batch(s)}")
    }

    // the restart was load-bearing for the COUNTER state too: every
    // source's frontier advanced across the boundary (post-restart
    // emissions build on recovered counts, not zero)
    val advanced = emitted2.exists { c2 =>
      val before = emitted1.filter(_.source == c2.source)
      before.nonEmpty && before.map(_.n_total).max < c2.n_total
    }
    assert(advanced,
      "no source's counters advanced across the restart — recovery untested")
  }

  test("STREAMING TAKEDOWNS (r17): delta=-1 silver rows decrement the " +
    "counters to the batch composition WITHOUT the deleted docs; " +
    "re-submitted and replayed takedowns are no-ops") {
    import org.apache.spark.sql.functions._
    import graft.streaming.{ComposedPipeline, StageCounts}
    import spark.implicits._

    val dir = Files.createTempDirectory("takedownstream")
    val in = dir.resolve("in").toString
    val td = dir.resolve("takedowns").toString
    val silver = dir.resolve("silver").toString
    val cp1 = dir.resolve("cp1").toString
    val cp2 = dir.resolve("cp2").toString
    val cp3 = dir.resolve("cp3").toString
    val gold = dir.resolve("gold").toString

    val docs0 = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    val docs = docs0.withColumn("ets",
      timestamp_micros((col("doc_id") + 3600L) * 1000000L))
    val schema = docs.schema
    val (freq0, scal0) = graft.operators.TextQueries.trainUnigramLm(docs0)
    val freqF = freq0.localCheckpoint()
    val scalF = scal0.localCheckpoint()

    // arrivals (with in-run duplicates the dedup suppresses), curated
    docs.filter(col("doc_id") < 200).write.mode("append").parquet(in)
    docs.filter(col("doc_id") < 60).write.mode("append").parquet(in)
    val q1 = ComposedPipeline.startCurate(spark, schema, in, silver, cp1,
      freqF, scalF, delay = "10 days")
    try q1.processAllAvailable() finally q1.stop()

    // takedowns: a retracted range (40-80) plus ids that never reached
    // silver (>= 200 not yet crawled; they must emit nothing)
    spark.range(40, 80).select(col("id").as("doc_id"))
      .unionByName(spark.range(900, 910).select(col("id").as("doc_id")))
      .write.mode("append").parquet(td)
    val q3 = ComposedPipeline.startTakedowns(spark,
      StructType(Seq(StructField("doc_id", LongType))), td, silver, cp3)
    try q3.processAllAvailable() finally q3.stop()

    // the -1 rows: exactly the curated docs in [40, 80), own id space
    val dels = spark.read.schema(ComposedPipeline.SilverSchema)
      .parquet(silver).filter(col("delta") < 0)
    val delIds = dels.select("doc_id").as[Long].collect().sorted
    assert(delIds.nonEmpty && delIds.forall(i => i >= 40 && i < 80),
      s"unexpected takedown rows: ${delIds.mkString(",")}")
    assert(dels.select("batch_id").distinct().as[Long].collect()
      .forall(_ >= ComposedPipeline.TakedownBatchIdBase),
      "takedown rows must live in their own batch_id space")

    // counters over arrivals + takedowns == batch composition minus
    // the deleted winners (duplicates NOT resurrected)
    val q2 = ComposedPipeline.startCounts(spark, silver, gold, cp2)
    try q2.processAllAvailable() finally q2.stop()
    // Update-mode frontier: with deletes the counters are not
    // monotone, so take each source's LAST emission (gold batch order)
    val lastPerSource = spark.read.parquet(gold)
      .orderBy(col("batch_id"))
      .collect().map(r => r.getAs[String]("source") -> StageCounts.Counts(
        r.getAs[String]("source"), r.getAs[Long]("n_total"),
        r.getAs[Long]("n_head"), r.getAs[Long]("n_middle"),
        r.getAs[Long]("n_tail"))).toMap // last write per source wins
    val batch = ComposedPipeline.batchComposition(
        spark.read.parquet(in).drop("ets"), freqF, scalF,
        deletedIds = Some(spark.range(40, 80).select(col("id").as("doc_id"))))
      .collect().map { r =>
        r.getString(0) -> StageCounts.Counts(r.getString(0), r.getLong(1),
          r.getLong(2), r.getLong(3), r.getLong(4))
      }.toMap
    assert(lastPerSource.keySet == batch.keySet,
      s"source sets differ: ${lastPerSource.keySet} vs ${batch.keySet}")
    lastPerSource.foreach { case (s, c) =>
      assert(c == batch(s), s"source $s: stream $c vs batch ${batch(s)}")
    }

    // re-submitting the SAME takedown list (a later batch) is a no-op:
    // the anti-join on existing -1 rows emits nothing
    val silverRows = spark.read.schema(ComposedPipeline.SilverSchema)
      .parquet(silver).count()
    spark.range(40, 80).select(col("id").as("doc_id"))
      .write.mode("append").parquet(td)
    val q3b = ComposedPipeline.startTakedowns(spark,
      StructType(Seq(StructField("doc_id", LongType))), td, silver, cp3)
    try q3b.processAllAvailable() finally q3b.stop()
    assert(spark.read.schema(ComposedPipeline.SilverSchema)
      .parquet(silver).count() == silverRows,
      "re-submitted takedown list must emit no new delete rows")

    // FORCED at-least-once replay of the takedown batch itself: same
    // batchId, same ids — the partition is rewritten identically
    val before = spark.read.schema(ComposedPipeline.SilverSchema)
      .parquet(silver).filter(col("delta") < 0)
      .collect().map(_.toString).sorted
    ComposedPipeline.takedownBatch(
      spark.range(40, 80).select(col("id").as("doc_id")), 0L, silver)
    val after = spark.read.schema(ComposedPipeline.SilverSchema)
      .parquet(silver).filter(col("delta") < 0)
      .collect().map(_.toString).sorted
    assert(after.sameElements(before),
      "replayed takedown batch changed the delete rows")
  }

  test("FORCED at-least-once replay: redelivering the same micro-batch " +
    "through the idempotent sinks leaves silver and gold unchanged") {
    import org.apache.spark.sql.functions._
    import graft.streaming.ComposedPipeline

    // foreachBatch's contract is at-least-once: a crash between the
    // sink write and the checkpoint commit re-delivers the SAME
    // (batchId, data) on restart. The graceful-stop and kill/restart
    // tests above never exercise that window, so this test invokes the
    // shipped batch bodies directly — batch 0, batch 1, then batch 0
    // AGAIN (the replay) — and asserts the tables are bit-stable.
    val dir = Files.createTempDirectory("replaysink")
    val silver = dir.resolve("silver").toString
    val gold = dir.resolve("gold").toString

    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    val (freq0, scal0) = graft.operators.TextQueries.trainUnigramLm(docs)
    val freqF = freq0.localCheckpoint()
    val scalF = scal0.localCheckpoint()
    val b0 = docs.filter(col("doc_id") < 100)
    val b1 = docs.filter(col("doc_id") >= 100 && col("doc_id") < 150)

    ComposedPipeline.curateBatch(b0, 0L, silver, freqF, scalF)
    ComposedPipeline.curateBatch(b1, 1L, silver, freqF, scalF)
    val silverOnce = spark.read.parquet(silver)
      .select("doc_id", "source", "tier", "batch_id")
      .collect().map(_.toString).sorted
    // the replay: same batchId, same data (deterministic source
    // offsets guarantee a replayed batch is identical)
    ComposedPipeline.curateBatch(b0, 0L, silver, freqF, scalF)
    val silverTwice = spark.read.parquet(silver)
      .select("doc_id", "source", "tier", "batch_id")
      .collect().map(_.toString).sorted
    assert(silverTwice.length == silverOnce.length,
      s"replayed batch 0 changed silver row count: " +
        s"${silverOnce.length} -> ${silverTwice.length}")
    assert(silverTwice.sameElements(silverOnce),
      "replayed batch 0 changed silver contents")

    // same contract for the gold counter sink
    val counts0 = spark.range(1).select(lit("web").as("source"),
      lit(100L).as("n_total"), lit(40L).as("n_head"),
      lit(30L).as("n_middle"), lit(30L).as("n_tail"))
    ComposedPipeline.countsBatch(counts0, 0L, gold)
    val goldOnce = spark.read.parquet(gold).count()
    ComposedPipeline.countsBatch(counts0, 0L, gold)
    assert(spark.read.parquet(gold).count() == goldOnce,
      "replayed counts batch changed gold row count")
  }

  test("FORCED handoff replay: a silver batch partition rewritten under " +
    "new part-file names (Q1 crash-replay) leaves the gold counter " +
    "frontier unchanged, and later batches still count") {
    import org.apache.spark.sql.functions._
    import graft.streaming.{ComposedPipeline, StageCounts}
    import spark.implicits._

    // The test above pins each SINK's idempotence; this one drives the
    // replay through the silver→gold HANDOFF (VERDICT r13 #4): the
    // idempotent silver overwrite emits NEW part-file names, which
    // Q2's file source — its checkpoint already past the pre-crash
    // files — ingests as fresh input. StageCounts' (batch_id, doc_id)
    // replay memory must drop those rows, or gold double-counts the
    // replayed batch.
    val dir = Files.createTempDirectory("handoffreplay")
    val silver = dir.resolve("silver").toString
    val gold = dir.resolve("gold").toString
    val cp2 = dir.resolve("cp2").toString

    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    val (freq0, scal0) = graft.operators.TextQueries.trainUnigramLm(docs)
    val freqF = freq0.localCheckpoint()
    val scalF = scal0.localCheckpoint()
    val b0 = docs.filter(col("doc_id") < 100)
    val b1 = docs.filter(col("doc_id") >= 100 && col("doc_id") < 150)
    val b2 = docs.filter(col("doc_id") >= 150 && col("doc_id") < 180)

    def frontier(): Map[String, StageCounts.Counts] =
      spark.read.parquet(gold).as[StageCounts.Counts].collect()
        .groupBy(_.source).map { case (s, rows) => s -> rows.maxBy(_.n_total) }

    ComposedPipeline.curateBatch(b0, 0L, silver, freqF, scalF)
    ComposedPipeline.curateBatch(b1, 1L, silver, freqF, scalF)
    val q2a = ComposedPipeline.startCounts(spark, silver, gold, cp2)
    try q2a.processAllAvailable() finally q2a.stop()
    val before = frontier()
    assert(before.values.map(_.n_total).sum == 150L,
      s"expected 150 docs counted before the replay, got $before")

    // the crash-replay: same batchId, same rows, NEW part-file names
    ComposedPipeline.curateBatch(b0, 0L, silver, freqF, scalF)
    val q2b = ComposedPipeline.startCounts(spark, silver, gold, cp2)
    try q2b.processAllAvailable() finally q2b.stop()
    assert(frontier() == before,
      s"replayed silver partition moved the gold frontier: " +
        s"$before -> ${frontier()}")

    // the replay memory must not over-drop: a genuinely new batch
    // still advances every touched source's counters by its rows
    ComposedPipeline.curateBatch(b2, 2L, silver, freqF, scalF)
    val q2c = ComposedPipeline.startCounts(spark, silver, gold, cp2)
    try q2c.processAllAvailable() finally q2c.stop()
    val after = frontier()
    assert(after.values.map(_.n_total).sum == 180L,
      s"expected 180 docs counted after batch 2, got $after")
  }

  test("StageCounts eviction bound under pressure (VERDICT r14 " +
    "stretch): 6 upstream batches with interleaved replays never " +
    "double-count, and state never carries more than SeenBatchWindow " +
    "batches' doc_ids") {
    import graft.streaming.StageCounts
    import graft.streaming.StageCounts.{CountState, Counts, DocTier}

    // Drives the state fold directly — the same function
    // flatMapGroupsWithState applies per micro-batch — so the
    // scaladoc's bounded-memory argument is test-backed: after every
    // fold we can INSPECT the surviving `seen` window, which the
    // black-box stream tests above cannot.
    def rows(batch: Long, ids: Range): Iterator[DocTier] =
      ids.iterator.map(i => DocTier("web", if (i % 3 == 0) "head"
        else if (i % 3 == 1) "middle" else "tail", batch, i.toLong))

    var st = CountState(Counts("web", 0, 0, 0, 0), Seq.empty)
    def assertBound(): Unit = {
      assert(st.seen.size <= StageCounts.SeenBatchWindow,
        s"state carries ${st.seen.size} batches' doc_ids, " +
          s"window is ${StageCounts.SeenBatchWindow}: " +
          st.seen.map(_.batch_id))
      // and the kept batches are the NEWEST ones, contiguous from max
      val kept = st.seen.map(_.batch_id)
      assert(kept == kept.sorted, s"seen not sorted: $kept")
    }

    // batches 0..5, each 50 docs, with a replay of batch N arriving
    // while batch N+1 is the newest (inside the window) after every
    // even batch — the at-least-once upstream's worst legal cadence
    var expected = 0L
    for (b <- 0L to 5L) {
      st = StageCounts.fold(st, rows(b, (b * 50).toInt until (b * 50 + 50).toInt))
      expected += 50
      assert(st.counts.n_total == expected,
        s"batch $b advanced wrong: ${st.counts.n_total} != $expected")
      assertBound()
      if (b % 2 == 0 && b > 0) {
        // replay the PREVIOUS batch in full (still inside the window)
        st = StageCounts.fold(st,
          rows(b - 1, ((b - 1) * 50).toInt until ((b - 1) * 50 + 50).toInt))
        assert(st.counts.n_total == expected,
          s"in-window replay of batch ${b - 1} double-counted: " +
            s"${st.counts.n_total} != $expected")
        assertBound()
      }
    }
    // tier split is exact (100 head / 100 middle / 100 tail per 300)
    assert(st.counts.n_head == 100 && st.counts.n_middle == 100 &&
      st.counts.n_tail == 100,
      s"tier counters drifted: ${st.counts}")

    // the documented PRECONDITION boundary: a replay of a batch
    // OLDER than the window (batch 0 while batch 5 is newest) has
    // lost its memory — it double-counts, which is exactly why the
    // scaladoc states the mtime-ordering precondition and why the
    // window is 4, not the minimal 2
    val evicted = StageCounts.fold(st, rows(0L, 0 until 50))
    assert(evicted.counts.n_total == expected + 50,
      "an out-of-window replay unexpectedly deduped — if the window " +
        "became unbounded, update this pin AND the scaladoc bound")
  }

  test("StageCounts eviction is PER ID SPACE (ADVICE r17 #1): a " +
    "takedown batch_id must not evict curate replay memory — a curate " +
    "replay after takedowns still dedups, and each space keeps its " +
    "own bounded window") {
    import graft.streaming.{ComposedPipeline, StageCounts}
    import graft.streaming.StageCounts.{CountState, Counts, DocTier}

    val base = ComposedPipeline.TakedownBatchIdBase
    def rows(batch: Long, ids: Range, delta: Long): Iterator[DocTier] =
      ids.iterator.map(i => DocTier("web", "head", batch, i.toLong, delta))

    var st = CountState(Counts("web", 0, 0, 0, 0), Seq.empty)
    st = StageCounts.fold(st, rows(0L, 0 until 50, 1L))
    st = StageCounts.fold(st, rows(1L, 50 until 100, 1L))
    assert(st.counts.n_total == 100)

    // a takedown batch lands — its batch_id lives in the 2^40 space.
    // Under the old single-max eviction this would set keepFrom to
    // ~2^40 and evict BOTH curate batches' memory at once.
    st = StageCounts.fold(st, rows(base + 0L, 0 until 5, -1L))
    assert(st.counts.n_total == 95)

    // the curate window survived: a Q1 at-least-once replay of its
    // newest batch is still a no-op
    st = StageCounts.fold(st, rows(1L, 50 until 100, 1L))
    assert(st.counts.n_total == 95,
      "curate replay after a takedown double-counted — the takedown " +
        "batch_id evicted the curate replay window")

    // and the takedown window dedups its own replays symmetrically
    st = StageCounts.fold(st, rows(base + 0L, 0 until 5, -1L))
    assert(st.counts.n_total == 95,
      "takedown replay double-decremented")

    // a run of further takedown batches evicts only WITHIN the
    // takedown space; curate memory stays intact throughout
    for (tb <- 1L to 6L)
      st = StageCounts.fold(st,
        rows(base + tb, (tb * 5 + 5).toInt until (tb * 5 + 10).toInt, -1L))
    st = StageCounts.fold(st, rows(1L, 50 until 100, 1L))
    assert(st.counts.n_total == 95 - 30,
      "curate replay double-counted after the takedown space cycled " +
        "its window")
    val (tdKept, curKept) = st.seen.map(_.batch_id).partition(_ >= base)
    assert(curKept.nonEmpty && curKept.forall(_ < base),
      s"curate window lost: $curKept")
    assert(tdKept.size <= StageCounts.SeenBatchWindow &&
      curKept.size <= StageCounts.SeenBatchWindow,
      s"per-space bound violated: td=${tdKept.size} cur=${curKept.size}")
    assert(st.seen.size <= 2 * StageCounts.SeenBatchWindow,
      s"total state bound violated: ${st.seen.size}")
  }

  test("takedownBatch error handling (VERDICT r17 wrong #1): a missing " +
    "silver dir is a clean no-op that still records the ledger; a " +
    "corrupt silver read FAILS the batch instead of committing an " +
    "empty delete") {
    import org.apache.spark.sql.functions._
    import graft.streaming.ComposedPipeline
    import spark.implicits._

    val dir = Files.createTempDirectory("tdguard")
    val silver = dir.resolve("silver").toString

    // (a) silver never written: clean no-op — no exception, nothing
    // fabricated — but the REQUEST is remembered in the ledger so a
    // later arrival of these docs is suppressed
    ComposedPipeline.takedownBatch(
      Seq(1L, 2L).toDF("doc_id"), 0L, silver)
    assert(!java.nio.file.Files.exists(java.nio.file.Paths.get(silver)),
      "a no-silver takedown must not create silver")
    val ledgered = spark.read
      .parquet(ComposedPipeline.takedownLedgerDir(silver))
      .select("doc_id").as[Long].collect().sorted
    assert(ledgered.sameElements(Array(1L, 2L)),
      s"ledger must record the request: ${ledgered.mkString(",")}")

    // (b) unreadable silver: the read failure must PROPAGATE so the
    // foreachBatch fails and the checkpoint retries the takedown —
    // the old catch-Throwable committed an empty batch here and the
    // right-to-be-forgotten request was silently dropped forever
    java.nio.file.Files.createDirectories(
      java.nio.file.Paths.get(silver))
    java.nio.file.Files.write(
      java.nio.file.Paths.get(silver, "part-00000.parquet"),
      "not a parquet file".getBytes("UTF-8"))
    intercept[Exception] {
      ComposedPipeline.takedownBatch(
        Seq(1L, 2L).toDF("doc_id"), 1L, silver)
    }
  }

  test("takedown BEFORE curate (ADVICE r17 #3): the ledger suppresses " +
    "the late arrival, counters match batchComposition minus the " +
    "deleted ids, and reconcileTakedowns recovers an orphaned +1") {
    import org.apache.spark.sql.functions._
    import graft.streaming.{ComposedPipeline, StageCounts}
    import spark.implicits._

    val dir = Files.createTempDirectory("tdrace")
    val in = dir.resolve("in").toString
    val td = dir.resolve("takedowns").toString
    val silver = dir.resolve("silver").toString
    val cp1 = dir.resolve("cp1").toString
    val cp2 = dir.resolve("cp2").toString
    val cp3 = dir.resolve("cp3").toString
    val gold = dir.resolve("gold").toString

    val docs0 = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    val docs = docs0.withColumn("ets",
      timestamp_micros((col("doc_id") + 3600L) * 1000000L))
    val schema = docs.schema
    val (freq0, scal0) = graft.operators.TextQueries.trainUnigramLm(docs0)
    val freqF = freq0.localCheckpoint()
    val scalF = scal0.localCheckpoint()

    // 1) the takedown arrives FIRST — nothing curated yet, so it can
    // find no victim; the old code forgot the request here
    spark.range(10, 20).select(col("id").as("doc_id"))
      .write.mode("append").parquet(td)
    val q3 = ComposedPipeline.startTakedowns(spark,
      StructType(Seq(StructField("doc_id", LongType))), td, silver, cp3)
    try q3.processAllAvailable() finally q3.stop()
    assert(!java.nio.file.Files.exists(java.nio.file.Paths.get(silver)),
      "takedown before any curate must not create silver")

    // 2) the docs arrive and are curated AFTER their takedown: the
    // ledger anti-join must keep them out of silver entirely
    docs.filter(col("doc_id") < 50).write.mode("append").parquet(in)
    val q1 = ComposedPipeline.startCurate(spark, schema, in, silver, cp1,
      freqF, scalF, delay = "10 days")
    try q1.processAllAvailable() finally q1.stop()
    val curatedIds = spark.read.schema(ComposedPipeline.SilverSchema)
      .parquet(silver).select("doc_id").as[Long].collect()
    assert(!curatedIds.exists(i => i >= 10 && i < 20),
      s"ledgered docs reached silver: ${curatedIds.filter(i => i >= 10 && i < 20).mkString(",")}")

    // 3) counters == batch composition WITHOUT the taken-down docs —
    // the same parity statement as the takedown-after-curate test,
    // now for the reversed arrival order
    val q2 = ComposedPipeline.startCounts(spark, silver, gold, cp2)
    try q2.processAllAvailable() finally q2.stop()
    val lastPerSource = spark.read.parquet(gold)
      .orderBy(col("batch_id"))
      .collect().map(r => r.getAs[String]("source") -> StageCounts.Counts(
        r.getAs[String]("source"), r.getAs[Long]("n_total"),
        r.getAs[Long]("n_head"), r.getAs[Long]("n_middle"),
        r.getAs[Long]("n_tail"))).toMap
    val batch = ComposedPipeline.batchComposition(
        spark.read.parquet(in).drop("ets"), freqF, scalF,
        deletedIds = Some(spark.range(10, 20).select(col("id").as("doc_id"))))
      .collect().map { r =>
        r.getString(0) -> StageCounts.Counts(r.getString(0), r.getLong(1),
          r.getLong(2), r.getLong(3), r.getLong(4))
      }.toMap
    assert(lastPerSource.keySet == batch.keySet,
      s"source sets differ: ${lastPerSource.keySet} vs ${batch.keySet}")
    lastPerSource.foreach { case (s, c) =>
      assert(c == batch(s), s"source $s: stream $c vs batch ${batch(s)}")
    }

    // 4) the one unserialized window (curate read the ledger just
    // before the takedown wrote it, takedown read silver just before
    // the curate appended): an orphaned +1 for a ledgered doc.
    // Simulate it by appending the +1 directly, then prove the
    // full-ledger re-check decrements it.
    spark.read.schema(ComposedPipeline.SilverSchema).parquet(silver)
      .filter(col("delta") > 0).limit(1)
      .select(lit(12L).as("doc_id"), col("source"), col("tier"),
        col("delta"), lit(777L).as("batch_id"))
      .write.mode("append").partitionBy("batch_id").parquet(silver)
    ComposedPipeline.reconcileTakedowns(spark, silver, batchId = 555L)
    val minus = spark.read.schema(ComposedPipeline.SilverSchema)
      .parquet(silver).filter(col("delta") < 0)
      .select("doc_id").as[Long].collect()
    assert(minus.sameElements(Array(12L)),
      s"reconcile must decrement exactly the orphaned +1: ${minus.mkString(",")}")
    // and a SECOND reconcile is a no-op (anti-join on the -1 row)
    ComposedPipeline.reconcileTakedowns(spark, silver, batchId = 556L)
    val minus2 = spark.read.schema(ComposedPipeline.SilverSchema)
      .parquet(silver).filter(col("delta") < 0)
      .select("doc_id").as[Long].collect()
    assert(minus2.sameElements(Array(12L)),
      "re-reconcile must be a no-op")
  }
}
