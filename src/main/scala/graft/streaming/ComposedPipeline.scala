package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery
import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType}

/** The streaming COMPOSITION (VERDICT r10 #6): one session chaining
  * ingest → canonical content dedup (`dropDuplicatesWithinWatermark`)
  * → PII scrub → LM perplexity scoring → stateful per-source stage
  * counters, as two checkpointed queries joined by a parquet handoff
  * (bronze → silver → gold — the production shape for chaining a
  * watermarked dedup with a `flatMapGroupsWithState` tier, which
  * Structured Streaming does not allow inside one query plan). Every
  * stage is the SAME member operator the batch battery gates
  * ([[StreamingDedup.dedupeByContent]],
  * [[graft.operators.TextQueries.redactInPlace]],
  * [[graft.operators.TextQueries.scoreAgainstLm]],
  * [[StageCounts.running]]); [[batchComposition]] is the parity
  * oracle — the identical stages composed as one batch plan — and
  * StreamingSpec pins stream == batch across a kill/restart of BOTH
  * queries (r10 proved batch composition; this is the streaming
  * analog).
  *
  * Scale notes: the dedup state is one fingerprint per doc inside the
  * watermark (bounded by arrival rate × delay, not corpus size); the
  * LM is a fixed broadcast asset; the counter state is one row per
  * SOURCE. The handoff parquet is the only materialization, exactly
  * the silver table a lakehouse deployment would keep anyway — and it
  * grows one partition per micro-batch, so its LIFECYCLE ops are part
  * of the contract (r19): [[SilverCompaction]] rewrites old batches
  * out of the small-files regime without disturbing Q2 or the replay
  * guarantees, [[compactLedger]]/[[retractTakedown]]/[[adviseLedger]]
  * keep the takedown ledger bounded, and [[drainAndReconcile]] closes
  * every session through the takedown-race re-check.
  */
object ComposedPipeline {

  /** Schema of the silver (scored-docs) handoff table. `batch_id` is
    * the writing micro-batch's id — the partition key that makes the
    * foreachBatch sink idempotent (see [[idempotentAppend]]). */
  val SilverSchema: StructType = StructType(Seq(
    StructField("doc_id", LongType),
    StructField("source", StringType),
    StructField("tier", StringType),
    // +1 arrival / −1 takedown (r17); silver written before r17 lacks
    // the column — readers coalesce null to +1
    StructField("delta", LongType),
    StructField("batch_id", LongType)))

  /** Exactly-once-effective parquet append for a foreachBatch sink.
    * foreachBatch is at-least-once: a crash between the sink write and
    * the checkpoint commit replays the micro-batch on restart. A blind
    * `mode(append)` would then double-append the rows. The standard
    * fix: partition by the (deterministic) micro-batch id and OVERWRITE
    * dynamically — a replayed batch rewrites its own `batch_id=N`
    * partition in place instead of duplicating it. The crash-replay
    * contract is FORCED by StreamingSpec ("redelivering the same
    * micro-batch ... leaves silver and gold unchanged"), which invokes
    * [[curateBatch]]/[[countsBatch]] twice with the same batchId.
    *
    * The silver→gold HANDOFF is ALSO replay-safe (VERDICT r13 #4):
    * a replayed Q1 batch rewrites its `batch_id=N` partition under
    * NEW part-file names, which Q2's file source — having already
    * consumed the pre-crash files — ingests again; [[StageCounts]]
    * drops rows whose `(batch_id, doc_id)` it has already counted
    * (bounded recent-batch memory, see its scaladoc), so the gold
    * counters stay exact across a crash anywhere in the chain.
    * StreamingSpec's forced-replay test drives the rewritten
    * partition THROUGH a running Q2 and pins the frontier. */
  private def idempotentAppend(mb: DataFrame, batchId: Long,
                               dir: String): Unit =
    mb.withColumn("batch_id", lit(batchId))
      .write.mode("overwrite")
      .option("partitionOverwriteMode", "dynamic")
      .partitionBy("batch_id").parquet(dir)

  /** Schema of a silver batch partition's FILES: the partition key
    * `batch_id` lives in the directory name, not in the files, so a
    * direct read of one `batch_id=N` directory sees these columns. */
  private[graft] val SilverPartSchema: StructType =
    StructType(SilverSchema.filterNot(_.name == "batch_id"))

  /** One batch partition's directory under a silver-shaped table. */
  private[graft] def partitionDir(dir: String, batchId: Long): String =
    dir.stripSuffix("/") + s"/batch_id=$batchId"

  /** Q1's foreachBatch body — per-micro-batch LM scoring + idempotent
    * silver append. Extracted so the replay test and the 10× streaming
    * runs (`bench/stream_scale_10x_r16.jsonl`) exercise the SHIPPED
    * batch path, not a private copy. Calling it twice with the same
    * `batchId` (the at-least-once replay) leaves silver unchanged.
    *
    * Arrivals are anti-joined against the takedown LEDGER (ADVICE
    * r17 #3): a doc whose takedown was processed BEFORE its +1 row
    * reached silver must never be counted — without the suppression,
    * a takedown racing its own curate batch emits nothing (no victim
    * in silver yet), the takedown checkpoint advances, and the doc
    * stays counted forever, diverging from
    * `batchComposition(deletedIds=…)`. The ledger is every takedown
    * id ever requested ([[takedownBatch]] records them before it
    * looks for victims), so a late arrival is dropped here instead of
    * landing as a permanently-uncompensated +1.
    *
    * REPLAY STABILITY of the suppression (ADVICE r18 #1): the ledger
    * grows between a batch's first run and its at-least-once replay,
    * so a raw ledger anti-join is NOT replay-stable — if Q1 crashed
    * after writing batch N but before its checkpoint commit, and a
    * takedown of a batch-N doc ran inside that gap (ledgering the id
    * and decrementing the doc's +1), the replay would rewrite
    * partition N WITHOUT the +1, stranding the −1: silver would sum
    * to −1 for the doc and any gold rebuild from silver (the
    * [[SilverCompaction.seedState]] path) would undercount. The
    * suppression therefore excludes ids already present in the
    * batch's own PRIOR partition: a doc the first run admitted is
    * re-admitted by the replay (the partition is rewritten
    * bit-identically, keeping the −1 matched), while a doc the first
    * run suppressed stays suppressed (it cannot be in the prior
    * partition). Steady state pays one FS existence probe per
    * micro-batch; only an actual replay (partition already present)
    * pays the one-partition read. */
  def curateBatch(mb: DataFrame, batchId: Long, silverDir: String,
                  lmFreq: DataFrame, lmScal: DataFrame): Unit = {
    val spark = mb.sparkSession
    val admitted = parquetIfExists(spark, LedgerSchema,
        takedownLedgerDir(silverDir)) match {
      case Some(ledger) =>
        val ledgerIds = ledger.select(col("doc_id")).distinct()
        val suppress = parquetIfExists(spark, SilverPartSchema,
            partitionDir(silverDir, batchId)) match {
          case Some(prior) => ledgerIds.join(
            prior.select(col("doc_id")), Seq("doc_id"), "left_anti")
          case None => ledgerIds
        }
        mb.join(broadcast(suppress), Seq("doc_id"), "left_anti")
      case None => mb
    }
    val scored = graft.operators.TextQueries
      .scoreAgainstLm(admitted, lmFreq, lmScal)
    idempotentAppend(
      admitted.select(col("doc_id"), col("source"))
        .join(scored.select(col("doc_id"), col("tier")), Seq("doc_id"))
        .withColumn("delta", lit(1L)),
      batchId, silverDir)
  }

  /** Takedown batch_ids live in their own id space so a takedown
    * partition can never overwrite a curate partition. */
  val TakedownBatchIdBase: Long = 1L << 40

  /** Schema of the takedown-ledger table: every doc_id ever requested
    * for deletion, partitioned by the requesting takedown batch's id
    * (idempotent like every sink here). */
  val LedgerSchema: StructType = StructType(Seq(
    StructField("doc_id", LongType),
    StructField("batch_id", LongType)))

  /** Where the takedown ledger lives, derived from the silver path so
    * Q1 and Q3 agree on it without new wiring. */
  def takedownLedgerDir(silverDir: String): String =
    silverDir.stripSuffix("/") + "_takedown_ledger"

  /** Where [[SilverCompaction]] rewrites old silver batches — a
    * SIBLING of the silver dir, so compacted files never re-enter
    * Q2's file-source glob. Derived like the ledger dir so every
    * silver reader ([[takedownBatch]], [[SilverCompaction.seedState]])
    * agrees on it without new wiring. */
  def compactedSilverDir(silverDir: String): String =
    silverDir.stripSuffix("/") + "_compacted"

  /** Read a parquet table only if its directory exists; a MISSING
    * path is an expected state (no silver / no ledger yet) and
    * returns None, while every OTHER failure — a transient FS error,
    * a corrupt footer, an interrupted read — propagates (VERDICT r17
    * wrong #1: the old `catch Throwable` made [[takedownBatch]]
    * return successfully having deleted nothing, the foreachBatch
    * committed, and the right-to-be-forgotten batch was never
    * retried; real errors must fail the micro-batch so the checkpoint
    * retries it). */
  private[graft] def parquetIfExists(spark: SparkSession, schema: StructType,
                                     dir: String): Option[DataFrame] = {
    val p = new org.apache.hadoop.fs.Path(dir)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(p)) None
    else Some(spark.read.schema(schema).parquet(dir))
  }

  /** Above this many distinct ledger ids the victim scan skips the
    * collected `isin` pushdown and keeps the plain broadcast joins —
    * the pushdown's value is parquet row-group pruning on doc_id
    * stats, and an IN list this long stops being a cheap filter. */
  private[graft] val LedgerPushdownMaxIds = 10000

  /** Below this much silver footprint the pushdown has nothing worth
    * pruning: the whole table is a handful of row groups, and a plain
    * scan + broadcast join beats planning a many-term IN predicate. */
  private[graft] val VictimScanSmallBytes = 64L << 20

  /** The victim-scan branch decision, with the inputs it was made
    * from — logged per takedown batch so the silver-scan cost story
    * is visible in demo/deployment output (VERDICT r18 next #5: one
    * advisor instead of a raw constant). */
  final case class VictimScanAdvice(pushdown: Boolean, nLedgerIds: Long,
                                    silverBytes: Long, reason: String)

  /** Route the victim scan (the silver-side dual of the index's
    * carry-vs-compact crossover, BASELINE.md "Tombstone
    * carry-vs-compact crossover, r17"): push the
    * collected id list into the parquet read as an IN filter when the
    * list is small enough to be a cheap predicate AND silver is big
    * enough that row-group/file pruning pays; otherwise keep the
    * plain broadcast joins. Derived from the ledger's distinct-id
    * count and the live+compacted silver footprint (FS metadata, no
    * data read). */
  def adviseVictimScan(nLedgerIds: Long, silverBytes: Long): VictimScanAdvice = {
    require(nLedgerIds >= 0 && silverBytes >= 0, "adviseVictimScan: negative input")
    if (nLedgerIds > LedgerPushdownMaxIds)
      VictimScanAdvice(pushdown = false, nLedgerIds, silverBytes,
        s"victim-scan=join: ledger ids > $LedgerPushdownMaxIds — an IN " +
          "list this long costs more to evaluate than the row groups " +
          "it would prune; broadcast-join the full ledger instead")
    else if (silverBytes < VictimScanSmallBytes)
      VictimScanAdvice(pushdown = false, nLedgerIds, silverBytes,
        s"victim-scan=join: silver+compacted footprint $silverBytes B < " +
          s"$VictimScanSmallBytes B — a full scan reads a handful of " +
          "row groups; skip planning an IN predicate")
    else
      VictimScanAdvice(pushdown = true, nLedgerIds, silverBytes,
        s"victim-scan=isin-pushdown: $nLedgerIds ledger ids over " +
          s"$silverBytes B of silver — doc_id stats prune row groups " +
          "(and compacted files via the _stats sidecar) before a row " +
          "is decoded")
  }

  /** Total data-file bytes under a directory (recursive, FS metadata
    * only); 0 for a missing path. */
  private def dirBytes(spark: SparkSession, dir: String): Long = {
    val p = new org.apache.hadoop.fs.Path(dir)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(p)) return 0L
    val it = fs.listFiles(p, true)
    var n = 0L
    while (it.hasNext) {
      val f = it.next()
      val name = f.getPath.getName
      if (!name.startsWith("_") && !name.startsWith(".")) n += f.getLen
    }
    n
  }

  /** Q3's foreachBatch body — the streaming DELETE leg (r17, the
    * right-to-be-forgotten dual of [[curateBatch]]): a micro-batch of
    * takedown doc_ids becomes delta=−1 silver rows so the downstream
    * counters subtract exactly the docs' original tier contributions.
    * The victims' (source, tier) come from their +1 silver rows — a
    * takedown for a doc that never reached silver (deduped away or
    * never crawled) emits nothing NOW but stays in the takedown
    * ledger, so a later arrival of that doc is suppressed by
    * [[curateBatch]] instead of being counted; a doc already taken
    * down is skipped (anti-join on existing −1 rows), so
    * re-submitting a takedown list is a no-op. Replay-safe like
    * every sink here:
    * the delete rows land in their own `batch_id` partition
    * ([[TakedownBatchIdBase]] + batchId) via the same dynamic
    * overwrite, the existing-state reads EXCLUDE that partition (a
    * replay recomputes identical victims instead of seeing its own
    * half-written output), and [[StageCounts]]' (batch_id, doc_id)
    * memory drops re-delivered −1 rows exactly as it drops
    * re-delivered +1 rows.
    *
    * Scale shape: one broadcast-sized takedown list joined against
    * the silver table — a lakehouse metadata join, no corpus text
    * touched; the decrement itself is takedown-sized. Victims are
    * sought across the LIVE dir AND the [[compactedSilverDir]] region
    * (a doc curated long ago lives only there after a
    * [[SilverCompaction]] run). [[adviseVictimScan]] routes the scan
    * per batch — and logs its choice — between the collected-`isin`
    * pushdown (row-group doc_id pruning, plus whole-FILE pruning of
    * the compacted region via its `_stats` sidecar) and the plain
    * broadcast joins (ledger past [[LedgerPushdownMaxIds]] ids, or a
    * silver footprint too small for pruning to pay).
    *
    * ORDERING + RACE RECOVERY (ADVICE r17 #3/#5): the batch's ids are
    * recorded in the LEDGER **before** silver is read, and victims
    * are computed over the FULL ledger, not just this batch. So a doc
    * curated after its takedown is (a) normally suppressed by
    * [[curateBatch]]'s ledger anti-join, and (b) if a concurrent
    * curate read the ledger just before this write AND this batch
    * read silver just before that curate's append (the one
    * unserialized window — Q1 and Q3 are independent queries over a
    * file store with no cross-query transaction), the orphaned +1 is
    * found and decremented by the NEXT takedown batch's full-ledger
    * re-check. [[reconcileTakedowns]] is that re-check on demand.
    * The same re-check also recovers a victim missed because Q1's
    * non-atomic dynamic partition overwrite was read mid-rewrite.
    * Re-submission stays a no-op (anti-join on existing −1 rows), and
    * a replay rewrites both its ledger partition and its −1 partition
    * with identical content. */
  def takedownBatch(ids: DataFrame, batchId: Long,
                    silverDir: String): Unit = {
    val spark = ids.sparkSession
    val myBid = TakedownBatchIdBase + batchId
    // record the request FIRST: even with no silver yet, the ledger
    // entry makes curateBatch suppress the doc if it arrives later
    idempotentAppend(ids.select(col("doc_id")).distinct(),
      myBid, takedownLedgerDir(silverDir))
    val ledger = parquetIfExists(spark, LedgerSchema,
        takedownLedgerDir(silverDir))
      .getOrElse(ids.select(col("doc_id"))
        .withColumn("batch_id", lit(myBid)))
      .select(col("doc_id")).distinct()
    val ledgerIds = ledger.limit(LedgerPushdownMaxIds + 1)
      .collect().map(_.getLong(0)).sorted
    // victims live in the LIVE silver dir AND the compacted region —
    // a doc curated long ago has had its +1 rewritten out of Q2's
    // glob by SilverCompaction, but right-to-be-forgotten still has
    // to find it there
    val advice = adviseVictimScan(ledgerIds.length,
      dirBytes(spark, silverDir) +
        dirBytes(spark, compactedSilverDir(silverDir)))
    println(s"[takedown] batch=$batchId ${advice.reason}")
    val prunable = if (advice.pushdown) Some(ledgerIds) else None
    val live = parquetIfExists(spark, SilverSchema, silverDir)
    val compacted = SilverCompaction.readCompactedForIds(spark,
      compactedSilverDir(silverDir), prunable)
    val silver0 = (live, compacted) match {
      case (None, None) => return // no silver yet: ledger kept
      case (Some(l), Some(c)) => l.unionByName(c)
      case (l, c) => l.orElse(c).get
    }
    val silverScan =
      if (advice.pushdown) silver0.filter(col("doc_id").isin(ledgerIds: _*))
      else silver0
    val silver = silverScan
      .withColumn("delta", coalesce(col("delta"), lit(1L)))
      .filter(col("batch_id") =!= myBid)
    val counted = silver.filter(col("delta") > 0)
      .select(col("doc_id"), col("source"), col("tier"))
    val alreadyDeleted = silver.filter(col("delta") < 0)
      .select(col("doc_id"))
    idempotentAppend(
      ledger
        .join(counted, Seq("doc_id"))
        .join(alreadyDeleted, Seq("doc_id"), "left_anti")
        .withColumn("delta", lit(-1L)),
      myBid, silverDir)
  }

  /** On-demand full-ledger re-check (see [[takedownBatch]]'s race
    * note): decrements any ledgered doc whose +1 landed after its
    * takedown batch ran. Replay-safe like every sink here.
    *
    * CADENCE CONTRACT (VERDICT r18 next #4): the race window is only
    * recovered by the NEXT takedown batch's full-ledger re-check — a
    * deployment that stops receiving takedowns would otherwise never
    * self-heal — so invoke this (a) at every DRAIN, via
    * [[drainAndReconcile]] (the demos do), and (b) after any curate
    * outage recovery. `batchId` must be FRESH per invocation (unused
    * by any prior takedown or reconcile against this silver): a
    * reused id would dynamically overwrite the earlier run's −1
    * partition instead of adding its own. A reconcile that finds no
    * orphan writes nothing, so a fresh id per drain costs no
    * partitions in the common case. */
  def reconcileTakedowns(spark: SparkSession, silverDir: String,
                         batchId: Long): Unit =
    takedownBatch(
      spark.createDataFrame(
        new java.util.ArrayList[org.apache.spark.sql.Row](),
        StructType(Seq(StructField("doc_id", LongType)))),
      batchId, silverDir)

  /** Drain the given queries (process what's available, stop), then
    * run [[reconcileTakedowns]] once — the shutdown path that makes
    * the reconcile cadence contract self-enforcing instead of a
    * docstring: the one unserialized Q1/Q3 window cannot outlive a
    * session that ends through here. No-op-cheap when there is no
    * ledger or no orphan. */
  def drainAndReconcile(spark: SparkSession,
                        queries: Seq[StreamingQuery], silverDir: String,
                        epochBatchId: Long): Unit = {
    queries.foreach { q => try q.processAllAvailable() finally q.stop() }
    reconcileTakedowns(spark, silverDir, epochBatchId)
  }

  /** One-call maintenance readout for a deployment: the three
    * lifecycle advisors' verdicts over the tables derived from
    * `silverDir` — [[SilverCompaction.adviseSilver]] (should the live
    * small-files backlog be rewritten), [[SilverCompaction
    * .adviseRegion]] (should the compacted region's runs be merged),
    * and [[adviseLedger]] (should the takedown ledger be compacted /
    * is its broadcast at risk). FS-metadata-cheap except the ledger's
    * distinct-id count, a takedown-sized aggregate. Call it at drain
    * or from a scheduled maintenance entry point; the returned lines
    * read as the operator's checklist (the demos print them). */
  def maintenanceChecklist(spark: SparkSession, silverDir: String,
                           q2CheckpointDir: String): Seq[String] = {
    val silver =
      SilverCompaction.adviseSilver(spark, silverDir, q2CheckpointDir)
    val region =
      SilverCompaction.adviseRegion(spark, compactedSilverDir(silverDir))
    val ledger = ledgerAdvice(spark, silverDir)
    Seq(
      s"[maintenance] silver compact=${silver.compact}: ${silver.reason}",
      s"[maintenance] region merge=${region.merge}: ${region.reason}",
      s"[maintenance] ledger compact=${ledger.compact} " +
        s"broadcastRisk=${ledger.broadcastRisk}: ${ledger.reason}")
  }

  /** [[adviseLedger]] over a live ledger: distinct-id count (a
    * takedown-sized aggregate) + partition fan-out (FS metadata). */
  def ledgerAdvice(spark: SparkSession, silverDir: String): LedgerAdvice = {
    val dir = takedownLedgerDir(silverDir)
    val p = new org.apache.hadoop.fs.Path(dir)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    parquetIfExists(spark, LedgerSchema, dir) match {
      case None => adviseLedger(0, 0)
      case Some(df) =>
        val parts = fs.listStatus(p).toSeq.count(s =>
          s.isDirectory && s.getPath.getName.startsWith("batch_id="))
        adviseLedger(df.select(col("doc_id")).distinct().count(), parts)
    }
  }

  /** What [[runMaintenance]] did: each field is Some only when its
    * advisor said act (and the op then ran), plus the POST-action
    * checklist — which should read all-carry, making the outcome
    * self-verifying in the maintenance log. */
  final case class MaintenanceOutcome(
      silverCompacted: Option[SilverCompaction.CompactionStats],
      runsMerged: Option[SilverCompaction.CompactionStats],
      ledgerCompacted: Option[LedgerStats],
      checklist: Seq[String])

  /** Execute whatever the advisors advise, in dependency order:
    * compact the silver backlog (which may land a new `run=`), then
    * merge the region's runs, then compact the ledger. The one
    * maintenance entry point a deployment schedules — each action
    * runs ONLY on its advisor's say-so, so calling this on a healthy
    * deployment is FS-metadata-cheap and writes nothing.
    *
    * CONTRACT: call from a maintenance window (streaming queries
    * stopped, e.g. right after [[drainAndReconcile]], or between
    * triggers). [[SilverCompaction.compact]] is safe even online —
    * the committed-only rule — but the run merge and the ledger
    * rewrite are not atomic for a concurrent reader listing files
    * mid-commit. `targetFileBytes` sizes the rewrites AND the
    * advisors' collapse math (default 128 MiB). */
  def runMaintenance(spark: SparkSession, silverDir: String,
                     q2CheckpointDir: String,
                     targetFileBytes: Long = 128L << 20)
      : MaintenanceOutcome = {
    val sAdv = SilverCompaction.adviseSilver(spark, silverDir,
      q2CheckpointDir, targetFileBytes)
    val compacted = if (sAdv.compact)
      SilverCompaction.compact(spark, silverDir, q2CheckpointDir,
        targetFileBytes)
    else None
    val compactedDir = compactedSilverDir(silverDir)
    val rAdv =
      SilverCompaction.adviseRegion(spark, compactedDir, targetFileBytes)
    // merge the size-TIERED subset, not the whole region: a full
    // rewrite per cycle is O(region) writes each time — the tiered
    // policy leaves big base runs alone until the tail grows to a
    // fixed fraction of them, bounding total rewrite I/O to
    // O(n log n) over the deployment's life. When the advisor demands
    // action but no natural tier exists (a clean geometric tower),
    // the cheapest run-count reduction — the two smallest runs —
    // honors it without touching the base.
    val merged = if (rAdv.merge) {
      val sizes = SilverCompaction.runSizes(spark, compactedDir)
      val tiered = SilverCompaction.selectRunsForMerge(sizes)
      val members =
        if (tiered.size >= 2) tiered
        else sizes.sortBy { case (id, b) => (b, id) }.take(2).map(_._1)
      SilverCompaction.recompactRuns(spark, compactedDir, targetFileBytes,
        members)
    } else None
    val ledger = if (ledgerAdvice(spark, silverDir).compact)
      Some(compactLedger(spark, silverDir))
    else None
    MaintenanceOutcome(compacted, merged, ledger,
      maintenanceChecklist(spark, silverDir, q2CheckpointDir))
  }

  /** Marker batch_id under which [[compactLedger]]/[[retractTakedown]]
    * rewrite the ledger's distinct ids — its own space above the
    * takedown space, so a compacted-ledger partition can never
    * collide with a replayed takedown batch's ledger partition. */
  val LedgerCompactBatchId: Long = 1L << 41

  /** Outcome of a ledger rewrite. */
  final case class LedgerStats(distinctIds: Long, partitionsBefore: Int,
                               partitionsAfter: Int)

  /** How many ledger batch partitions justify a [[compactLedger]]
    * run: past this, every curate micro-batch's suppression read
    * opens that many small files for a takedown-sized id set. */
  private[graft] val LedgerCompactMinPartitions = 16

  /** Past this many distinct ledgered ids the per-micro-batch
    * broadcast anti-join in [[curateBatch]] stops being free (~8 B/id
    * broadcast to every executor every trigger). */
  private[graft] val LedgerBroadcastWarnIds = 10L * 1000 * 1000

  /** Advice for the ledger's lifecycle (VERDICT r18 next #3 — the
    * ledger dual of the index's carry-vs-compact crossover, BASELINE.md
    * "Tombstone carry-vs-compact crossover, r17"). */
  final case class LedgerAdvice(compact: Boolean, broadcastRisk: Boolean,
                                reason: String)

  /** Should the ledger be compacted, and is it approaching a size
    * where the hot-path broadcast itself is the problem? The ledger
    * is append-only (one partition per takedown batch) and
    * [[curateBatch]] reads + broadcasts its full distinct id set
    * EVERY micro-batch, so both dimensions matter: partition count
    * (read fan-out, fixed by [[compactLedger]] — always safe, nothing
    * streams from the ledger) and distinct-id count (broadcast bytes,
    * which no compaction reduces — past
    * [[LedgerBroadcastWarnIds]] the advice is LOUD: review retention
    * via [[retractTakedown]], or accept that suppression must move
    * off the broadcast path). */
  def adviseLedger(distinctIds: Long, partitions: Int): LedgerAdvice = {
    require(distinctIds >= 0 && partitions >= 0, "adviseLedger: negative input")
    val compact = partitions > LedgerCompactMinPartitions
    val risk = distinctIds > LedgerBroadcastWarnIds
    LedgerAdvice(compact, risk,
      (if (risk)
        s"LOUD: $distinctIds distinct ledgered ids exceeds " +
          s"$LedgerBroadcastWarnIds — the per-micro-batch suppression " +
          "broadcast is no longer free; review retention with " +
          "retractTakedown (ids with a completed, reconciled takedown " +
          "and a business guarantee of no re-crawl) or move " +
          "suppression to a shuffle join. "
      else "") +
        (if (compact)
          s"compact: $partitions ledger partitions > " +
            s"$LedgerCompactMinPartitions — every curate micro-batch " +
            "opens that many small files for a takedown-sized id set; " +
            "compactLedger rewrites them into one (safe: nothing " +
            "streams from the ledger)"
        else
          s"carry: $partitions ledger partitions ≤ " +
            s"$LedgerCompactMinPartitions and " +
            s"$distinctIds ids broadcast-safe"))
  }

  /** Rewrite the ledger to a single distinct-id partition under
    * [[LedgerCompactBatchId]] (VERDICT r18 next #3). Unlike silver,
    * the ledger is SAFE to rewrite — no streaming source consumes it;
    * both readers ([[curateBatch]], [[takedownBatch]]) take
    * `distinct()` over whatever partitions exist, so even the crash
    * window (marker written, old partitions not yet deleted — ids
    * duplicated across partitions) and the replay window (Q3 replays
    * its newest batch after its partition was compacted away,
    * recreating it beside the marker) are benign. Run it from
    * maintenance (queries stopped, or between triggers): the dynamic
    * overwrite is not atomic for a reader listing files mid-commit.
    *
    * IRREVERSIBILITY (ADVICE r18 #3): ledger suppression is PERMANENT
    * by default — a doc_id ever taken down never re-enters silver,
    * even if a later crawl legitimately re-publishes it. That is the
    * deliberate right-to-be-forgotten reading (a takedown is not
    * undone by the next crawl), and it is now stated at the API level
    * instead of implied. The maintenance escape hatch for a GENUINE
    * retraction reversal is [[retractTakedown]]. */
  def compactLedger(spark: SparkSession, silverDir: String): LedgerStats =
    rewriteLedger(spark, silverDir, None)

  /** Remove ids from the ledger (retraction reversal — see
    * [[compactLedger]]'s irreversibility note): after this, a NEW
    * arrival of the doc is admitted by [[curateBatch]] again. It does
    * NOT resurrect anything already deleted — the −1 rows stand, and
    * re-publication happens only when a fresh crawl actually
    * re-delivers the doc (net count +1 −1 +1 = +1). Same rewrite
    * mechanics and maintenance contract as [[compactLedger]]. */
  def retractTakedown(spark: SparkSession, silverDir: String,
                      removeIds: DataFrame): LedgerStats =
    rewriteLedger(spark, silverDir, Some(removeIds))

  private def rewriteLedger(spark: SparkSession, silverDir: String,
                            remove: Option[DataFrame]): LedgerStats = {
    val dir = takedownLedgerDir(silverDir)
    val p = new org.apache.hadoop.fs.Path(dir)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val ledger = parquetIfExists(spark, LedgerSchema, dir)
      .getOrElse(return LedgerStats(0, 0, 0))
    def partDirs(): Seq[org.apache.hadoop.fs.Path] =
      fs.listStatus(p).toSeq
        .filter(s => s.isDirectory && s.getPath.getName.startsWith("batch_id="))
        .map(_.getPath)
    val before = partDirs()
    val kept0 = ledger.select(col("doc_id")).distinct()
    val kept = remove.fold(kept0)(r => kept0.join(
        broadcast(r.select(col("doc_id")).distinct()),
        Seq("doc_id"), "left_anti"))
      // cut lineage from the files about to be overwritten/deleted
      .localCheckpoint()
    val nKept = kept.count()
    idempotentAppend(kept, LedgerCompactBatchId, dir)
    before.filterNot(_.getName == s"batch_id=$LedgerCompactBatchId")
      .foreach(d => fs.delete(d, true))
    LedgerStats(nKept, before.size, partDirs().size)
  }

  /** Q3 — takedowns: file-source ingest of takedown id batches →
    * delta=−1 silver rows ([[takedownBatch]]). Chains into the same
    * Q2 counters; checkpointed and restartable like Q1/Q2. */
  def startTakedowns(spark: SparkSession, idSchema: StructType,
                     inDir: String, silverDir: String,
                     checkpointDir: String): StreamingQuery =
    spark.readStream.schema(idSchema)
      .option("maxFilesPerTrigger", "1").parquet(inDir)
      .writeStream.outputMode("append")
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (mb: DataFrame, batchId: Long) =>
        takedownBatch(mb, batchId, silverDir)
      }
      .start()

  /** Q2's foreachBatch body — idempotent gold append of the counter
    * frontier (same replay contract as [[curateBatch]]). */
  def countsBatch(counts: DataFrame, batchId: Long, goldDir: String): Unit =
    idempotentAppend(counts, batchId, goldDir)

  /** Q1 — curate: file-source ingest of document batches (must carry
    * an `ets` event-time column) → content dedup within `delay` →
    * in-place scrub → per-micro-batch LM scoring (per-doc independent,
    * so batch boundaries cannot change a score) → silver append.
    * Restartable: the checkpoint tracks source offsets + dedup state;
    * recovered state must keep suppressing duplicates of docs ingested
    * before the restart. `maxFilesPerTrigger` is the micro-batch size
    * knob (default 1 — the spec's deterministic-arrival setting; the
    * scale probe raises it to measure backlog drain throughput). */
  def startCurate(spark: SparkSession, inSchema: StructType,
                  inDir: String, silverDir: String, checkpointDir: String,
                  lmFreq: DataFrame, lmScal: DataFrame,
                  delay: String, maxFilesPerTrigger: Int = 1): StreamingQuery = {
    val deduped = StreamingDedup.dedupeByContent(
      spark.readStream.schema(inSchema)
        .option("maxFilesPerTrigger", maxFilesPerTrigger.toString)
        .parquet(inDir),
      "ets", delay)
    graft.operators.TextQueries.redactInPlace(deduped)
      .writeStream.outputMode("append")
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (mb: DataFrame, batchId: Long) =>
        curateBatch(mb, batchId, silverDir, lmFreq, lmScal)
      }
      .start()
  }

  /** Q2 — frontier: silver file source → stateful per-source running
    * tier counters → gold append (Update mode: latest row per source
    * is its current frontier). The gold SINK may differ across
    * restarts; the checkpoint carries the counter state.
    *
    * REBUILD parameters (the [[SilverCompaction]] fresh-checkpoint
    * path — see [[SilverCompaction.restartCounts]], which wires
    * both): `initialState` seeds per-source counters aggregated from
    * the compacted region; `goldBatchIdBase` offsets this query's
    * gold batch ids past the existing frontier partitions so gold
    * readers' last-row-per-source-in-batch-order stays correct across
    * the reset (and a replayed micro-batch still overwrites its OWN
    * offset partition — idempotence is preserved under the shift). */
  def startCounts(spark: SparkSession, silverDir: String,
                  goldDir: String, checkpointDir: String,
                  initialState: Option[
                    org.apache.spark.sql.Dataset[(String, StageCounts.CountState)]] = None,
                  goldBatchIdBase: Long = 0L): StreamingQuery = {
    import spark.implicits._
    implicit val s: SparkSession = spark
    StageCounts.running(
        spark.readStream.schema(SilverSchema)
          .option("maxFilesPerTrigger", "1").parquet(silverDir)
          .select(col("source"), col("tier"), col("batch_id"), col("doc_id"),
            // pre-r17 silver lacks the delta column: arrivals are +1
            coalesce(col("delta"), lit(1L)).as("delta"))
          .as[StageCounts.DocTier],
        initialState)
      .writeStream.outputMode("update")
      .option("checkpointLocation", checkpointDir)
      .foreachBatch {
        (ds: org.apache.spark.sql.Dataset[StageCounts.Counts], batchId: Long) =>
          countsBatch(ds.toDF(), goldBatchIdBase + batchId, goldDir); ()
      }
      .start()
  }

  /** The SAME stages composed as one batch plan — the parity oracle:
    * distinct content → scrub → LM score → per-source tier counts.
    * Returns (source, n_total, n_head, n_middle, n_tail).
    *
    * Determinism of the dedup winner: the batch side keeps the
    * MIN-`doc_id` row per content fingerprint (the same canonical
    * choice as CorpusPipelineDemo's exact dedup), so the oracle is a
    * pure function of its input. The streaming side keeps the FIRST
    * ARRIVAL, so stream == batch parity additionally requires that
    * docs sharing a text either agree on `source` (tier always agrees
    * — same text) or arrive in `doc_id` order, which StreamingSpec's
    * ordered file drops guarantee. */
  def batchComposition(allInput: DataFrame,
                       lmFreq: DataFrame, lmScal: DataFrame,
                       deletedIds: Option[DataFrame] = None): DataFrame = {
    // `deletedIds` (r17) = takedown parity semantics: a taken-down doc
    // leaves the counts but does NOT resurrect the duplicates its
    // dedup win suppressed (the stream admitted them once and dropped
    // them forever; right-to-be-forgotten removes a doc, it does not
    // re-crawl) — deletion filters WINNERS, after dedup, before counts
    val winners = allInput
      .withColumn("fp", md5(col("text")))
      .withColumn("__rk", row_number().over(
        org.apache.spark.sql.expressions.Window
          .partitionBy(col("fp")).orderBy(col("doc_id"))))
      .filter(col("__rk") === 1).drop("fp", "__rk")
    val deduped = deletedIds.fold(winners)(ids =>
      winners.join(ids.select(col("doc_id")).distinct(),
        Seq("doc_id"), "left_anti"))
    val scrubbed = graft.operators.TextQueries.redactInPlace(deduped)
    val scored = graft.operators.TextQueries
      .scoreAgainstLm(scrubbed, lmFreq, lmScal)
    scrubbed.select(col("doc_id"), col("source"))
      .join(scored.select(col("doc_id"), col("tier")), Seq("doc_id"))
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_total"),
        sum(when(col("tier") === "head", 1L).otherwise(0L)).as("n_head"),
        sum(when(col("tier") === "middle", 1L).otherwise(0L)).as("n_middle"),
        sum(when(col("tier") === "tail", 1L).otherwise(0L)).as("n_tail"))
  }
}
