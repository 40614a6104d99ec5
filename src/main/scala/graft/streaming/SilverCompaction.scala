package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery
import org.apache.hadoop.fs.{FileStatus, FileSystem, Path}

/** Safe compaction for the streaming silver handoff (VERDICT r18
  * next #1 — the last 100 TB lifecycle gap): [[ComposedPipeline]]'s
  * silver table accumulates ONE parquet partition per micro-batch
  * forever (`idempotentAppend` partitions by `batch_id`), which at
  * production trigger rates is the classic small-files problem — but
  * silver cannot be blindly rewritten in place while Q2 runs, because
  * rewritten files re-enter Q2's file source under new names and
  * [[StageCounts]]' replay memory only spans
  * [[StageCounts.SeenBatchWindow]] batches per id space, so
  * compacting old batches would double-count gold. (The reference's
  * own consumed-file maintenance is the daily-batch archive step,
  * `functions/load_csv/main.py:182-190` — this is its streaming
  * analog.)
  *
  * The protocol that makes the rewrite safe rests on TWO exclusions:
  *
  *   1. **Only batches COMMITTED by Q2** are compacted. Committedness
  *      is read from Q2's own checkpoint (`commits/` high-water mark →
  *      `offsets/` log offset → `sources/0` file-entry log): a
  *      partition qualifies only if every current file in it appears
  *      in the committed file set. Q2's `FileStreamSource` never
  *      re-lists a consumed file, so REMOVING committed files is
  *      invisible to the existing checkpoint — Q2 resumes on its old
  *      checkpoint after (or even across) a compaction and the gold
  *      frontier is unaffected. Uncommitted partitions stay in place
  *      so a resumed (or rebuilt) Q2 still counts them exactly once,
  *      and the frontier can never silently lose a batch gold hasn't
  *      absorbed yet.
  *   2. **The newest [[StageCounts.SeenBatchWindow]] batches of EACH
  *      id space** (curate, and takedown ≥ 2^40) are never compacted,
  *      even when committed. Q1/Q3's at-least-once replay can only
  *      rewrite their newest batch's partition; keeping the same
  *      window of slack the counters keep (r14: window 4, not the
  *      minimal 1) means a replayed partition is always still LIVE —
  *      it is rewritten in place exactly as before compaction
  *      existed, never resurrected beside its compacted copy. A
  *      replay can therefore never double rows into the
  *      live ∪ compacted union that [[ComposedPipeline.takedownBatch]]
  *      scans and [[seedState]] aggregates.
  *
  * Compacted batches are rewritten into a sibling region
  * ([[ComposedPipeline.compactedSilverDir]]: `<silver>_compacted`),
  * OUTSIDE Q2's source glob, as `run=<maxCompactedBatchId>`
  * partitions: the run id is a pure function of the plan, so a crash
  * between the rewrite and the source-partition delete re-runs into a
  * dynamic overwrite of the SAME run partition — the compaction
  * itself is idempotent, like every sink in this pipeline. Rows are
  * range-partitioned and sorted by `doc_id`, and a `_stats` sidecar
  * records each output file's (min, max) doc_id span, which
  * [[ComposedPipeline.takedownBatch]] uses to prune whole files from
  * victim scans (a takedown touches the few files whose span
  * intersects the ledger, not the corpus's history).
  *
  * REBUILD story: the r14 scaladoc promised "counters rebuild from
  * the silver history on a fresh checkpoint" — compaction would break
  * that promise (the history is no longer all under silver), so
  * [[seedState]] aggregates the compacted region into per-source
  * initial [[StageCounts.CountState]] and [[restartCounts]] starts a
  * fresh-checkpoint Q2 seeded with it, with a
  * `goldBatchIdBase` past the existing gold partitions so frontier
  * rows stay ordered by `batch_id` across the reset. The seed's
  * replay memory is EMPTY by construction: exclusion 2 guarantees no
  * compacted batch can be re-delivered, and every batch still under
  * silver is folded (and remembered) by the fresh query itself.
  *
  * Scale shape: the plan is FS metadata + a bounded checkpoint-log
  * parse (no data read); the rewrite reads each compacted batch ONCE
  * and writes `ceil(bytes/targetFileBytes)` files (one shuffle,
  * range-partitioned for the stats sidecar); the parity check is two
  * counts over the same footprint. Run it from a maintenance entry
  * point at whatever cadence keeps the live file count sane — between
  * triggers or with the queries running (the committed-only rule is
  * what makes even online compaction sound; the shipped spec drives
  * it with Q2 both stopped and resumed, plus a Q1 replay straddling
  * the compaction).
  */
object SilverCompaction {

  /** What a compaction run would touch. `compactable` = committed and
    * outside both newest-per-space protection windows; `protectedNewest`
    * = excluded by the replay window (exclusion 2); `uncommitted` =
    * excluded because Q2's checkpoint has not committed every current
    * file (exclusion 1). */
  final case class Plan(compactable: Seq[Long], protectedNewest: Seq[Long],
                        uncommitted: Seq[Long])

  /** Outcome of one [[compact]] run. */
  final case class CompactionStats(runId: Long, batches: Int, rows: Long,
                                   filesBefore: Int, filesAfter: Int,
                                   bytes: Long)

  private def fsFor(spark: SparkSession, dir: String): (FileSystem, Path) = {
    val p = new Path(dir)
    (p.getFileSystem(spark.sparkContext.hadoopConfiguration), p)
  }

  private def readLines(fs: FileSystem, p: Path): Seq[String] = {
    val in = fs.open(p)
    try scala.io.Source.fromInputStream(in, "UTF-8").getLines().toList
    finally in.close()
  }

  /** The data files directly under each of `dirs` (names starting
    * with `_` or `.` are metadata: `_SUCCESS`, checksums). */
  private def dataFiles(fs: FileSystem, dirs: Seq[Path]): Seq[FileStatus] =
    dirs.flatMap(d => fs.listStatus(d).toSeq.filter { s =>
      val n = s.getPath.getName
      s.isFile && !n.startsWith("_") && !n.startsWith(".")
    })

  /** The set of silver file paths (scheme-stripped) Q2's checkpoint
    * has COMMITTED — i.e. files whose rows are already reflected in
    * the gold frontier. Parsed from the checkpoint's own logs: the
    * `commits/` high-water mark names the newest committed query
    * batch, its `offsets/` entry carries the file source's `logOffset`,
    * and every `sources/0` entry with a source-log batch id at or
    * below that offset is committed. Handles `.compact` rollups (their
    * entries carry the original batch ids). Empty when the checkpoint
    * does not exist yet — nothing is committed, nothing compacts. */
  def committedSilverFiles(spark: SparkSession,
                           q2CheckpointDir: String): Set[String] = {
    val (fs, cp) = fsFor(spark, q2CheckpointDir)
    val commits = new Path(cp, "commits")
    if (!fs.exists(commits)) return Set.empty
    val committedBatches = fs.listStatus(commits).toSeq
      .map(_.getPath.getName).filter(n => n.nonEmpty && n.forall(_.isDigit))
      .map(_.toLong)
    if (committedBatches.isEmpty) return Set.empty
    val offsetsFile = new Path(cp, s"offsets/${committedBatches.max}")
    if (!fs.exists(offsetsFile)) return Set.empty
    // offsets file: "v1" / {stream metadata} / one offset JSON per
    // source — ours has one file source, FileStreamSourceOffset
    val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
    val offsetLine = readLines(fs, offsetsFile).drop(2).headOption
      .getOrElse(return Set.empty)
    val logOffset = {
      val t = offsetLine.trim
      if (t.forall(_.isDigit)) t.toLong
      else {
        val node = mapper.readTree(t)
        val lo = node.get("logOffset")
        if (lo == null) return Set.empty else lo.asLong()
      }
    }
    val srcLog = new Path(cp, "sources/0")
    if (!fs.exists(srcLog)) return Set.empty
    val entries = scala.collection.mutable.Set.empty[String]
    fs.listStatus(srcLog).toSeq
      .filter { s =>
        val n = s.getPath.getName.stripSuffix(".compact")
        s.isFile && n.nonEmpty && n.forall(_.isDigit)
      }
      .foreach { s =>
        readLines(fs, s.getPath).foreach { line =>
          val t = line.trim
          if (t.startsWith("{")) {
            val node = mapper.readTree(t)
            val (p, b) = (node.get("path"), node.get("batchId"))
            if (p != null && b != null && b.asLong() <= logOffset)
              entries += new Path(p.asText()).toUri.getPath
          }
        }
      }
    entries.toSet
  }

  /** Classify silver's current batch partitions (see [[Plan]]). Pure
    * metadata — FS listings plus the checkpoint-log parse. */
  def plan(spark: SparkSession, silverDir: String,
           q2CheckpointDir: String): Plan = {
    val (fs, sp) = fsFor(spark, silverDir)
    if (!fs.exists(sp)) return Plan(Nil, Nil, Nil)
    val partDirs = fs.listStatus(sp).toSeq
      .filter(s => s.isDirectory && s.getPath.getName.startsWith("batch_id="))
      .map(s => s.getPath.getName.stripPrefix("batch_id=").toLong -> s.getPath)
      .toMap
    if (partDirs.isEmpty) return Plan(Nil, Nil, Nil)
    val base = ComposedPipeline.TakedownBatchIdBase
    val w = StageCounts.SeenBatchWindow
    val (td, cur) = partDirs.keySet.partition(_ >= base)
    val protectedIds =
      cur.toSeq.sorted.takeRight(w).toSet ++ td.toSeq.sorted.takeRight(w)
    val committed = committedSilverFiles(spark, q2CheckpointDir)
    val (ok, not) = (partDirs.keySet -- protectedIds).partition { b =>
      val files = dataFiles(fs, Seq(partDirs(b)))
      files.nonEmpty &&
        files.forall(f => committed.contains(f.getPath.toUri.getPath))
    }
    Plan(ok.toSeq.sorted, protectedIds.toSeq.sorted, not.toSeq.sorted)
  }

  /** Execute one compaction run: rewrite every compactable batch
    * partition into `run=<maxCompactedBatchId>` under the compacted
    * region (range-partitioned + sorted by doc_id, ~`targetFileBytes`
    * per file), verify row parity, write the `_stats` file-span
    * sidecar, and only then delete the source partitions. Returns
    * None when nothing qualifies. Idempotent across crashes anywhere
    * in the sequence (the rerun recomputes the same plan and
    * dynamically overwrites the same run partition). */
  def compact(spark: SparkSession, silverDir: String,
              q2CheckpointDir: String,
              targetFileBytes: Long = 128L << 20): Option[CompactionStats] = {
    require(targetFileBytes > 0, "targetFileBytes must be positive")
    val p = plan(spark, silverDir, q2CheckpointDir)
    if (p.compactable.isEmpty) return None
    val (fs, _) = fsFor(spark, silverDir)
    val compactedDir = ComposedPipeline.compactedSilverDir(silverDir)
    val runId = p.compactable.max
    val srcDirs = p.compactable
      .map(b => ComposedPipeline.partitionDir(silverDir, b))
    val srcFiles = dataFiles(fs, srcDirs.map(new Path(_)))
    val srcBytes = srcFiles.map(_.getLen).sum
    val nOut = math.max(1, math.ceil(srcBytes.toDouble / targetFileBytes).toInt)
    val src = spark.read.option("basePath", silverDir)
      .schema(ComposedPipeline.SilverSchema)
      .parquet(srcDirs: _*)
    val srcRows = src.count()
    src.repartitionByRange(nOut, col("doc_id"))
      .sortWithinPartitions("doc_id")
      .withColumn("run", lit(runId))
      .write.mode("overwrite")
      .option("partitionOverwriteMode", "dynamic")
      .partitionBy("run").parquet(compactedDir)
    val runDir = s"$compactedDir/run=$runId"
    val wroteRows = spark.read
      .schema(ComposedPipeline.SilverSchema).parquet(runDir).count()
    require(wroteRows == srcRows,
      s"compaction parity: wrote $wroteRows rows, sources hold $srcRows " +
        "— source partitions NOT deleted")
    writeFileStats(spark, compactedDir, runId)
    srcDirs.foreach(d => fs.delete(new Path(d), true))
    val filesAfter = dataFiles(fs, Seq(new Path(runDir))).size
    Some(CompactionStats(runId, p.compactable.size, srcRows,
      srcFiles.size, filesAfter, srcBytes))
  }

  /** Per-output-file doc_id span sidecar under `_stats/run=<id>`
    * (underscore-prefixed: invisible to data reads of the region).
    * Rewritten with its run on every (re)compaction, BEFORE the
    * source partitions are deleted, so stats can never lag the data
    * they describe. */
  private def writeFileStats(spark: SparkSession, compactedDir: String,
                             runId: Long): Unit =
    spark.read.schema(ComposedPipeline.SilverSchema)
      .parquet(s"$compactedDir/run=$runId")
      .groupBy(input_file_name().as("path"))
      .agg(min("doc_id").as("min_doc_id"), max("doc_id").as("max_doc_id"),
        count(lit(1)).as("n_rows"))
      .coalesce(1)
      .write.mode("overwrite").parquet(s"$compactedDir/_stats/run=$runId")

  private def listRuns(fs: FileSystem, dir: Path): Set[Long] =
    if (!fs.exists(dir)) Set.empty
    else fs.listStatus(dir).toSeq
      .filter(s => s.isDirectory && s.getPath.getName.startsWith("run="))
      .map(_.getPath.getName.stripPrefix("run=").toLong).toSet

  /** The compacted-region files whose doc_id span intersects any of
    * `sortedIds` — the bounded victim scan (VERDICT r18 stretch #6).
    * None when pruning is unsafe: region missing, or the `_stats`
    * sidecar does not cover exactly the runs present (e.g. a manual
    * rewrite dropped it) — callers then read the whole region. The
    * stats table is file-count-sized metadata (one row per ~128 MB+
    * output file), so the driver-side collect is bounded the same way
    * a lakehouse table's file manifest is. */
  private[graft] def selectFilesForIds(spark: SparkSession,
                                       compactedDir: String,
                                       sortedIds: Array[Long])
      : Option[Seq[String]] = {
    val (fs, cp) = fsFor(spark, compactedDir)
    if (!fs.exists(cp)) return None
    val dataRuns = listRuns(fs, cp)
    val statsRuns = listRuns(fs, new Path(cp, "_stats"))
    if (dataRuns.isEmpty || dataRuns != statsRuns) return None
    val stats = spark.read.parquet(s"$compactedDir/_stats")
      .select(col("path"), col("min_doc_id"), col("max_doc_id"))
      .collect()
    Some(stats.toSeq
      .filter(r => anyIdInRange(sortedIds, r.getLong(1), r.getLong(2)))
      .map(_.getString(0)))
  }

  private def anyIdInRange(sorted: Array[Long], lo: Long, hi: Long): Boolean = {
    val i = java.util.Arrays.binarySearch(sorted, lo)
    val idx = if (i >= 0) i else -i - 1
    idx < sorted.length && sorted(idx) <= hi
  }

  /** Read the compacted region as SilverSchema rows. With
    * `sortedIds`, prune to the files whose doc_id span intersects the
    * ids (falling back to the whole region when the sidecar cannot
    * vouch for every run). None when the region does not exist. */
  def readCompactedForIds(spark: SparkSession, compactedDir: String,
                          sortedIds: Option[Array[Long]])
      : Option[DataFrame] = {
    val (fs, cp) = fsFor(spark, compactedDir)
    if (!fs.exists(cp)) return None
    val silverCols = ComposedPipeline.SilverSchema.fieldNames.map(col).toSeq
    val pruned = sortedIds.flatMap(selectFilesForIds(spark, compactedDir, _))
    pruned match {
      case Some(files) if files.isEmpty =>
        Some(spark.createDataFrame(new java.util.ArrayList[Row](),
          ComposedPipeline.SilverSchema))
      case Some(files) =>
        Some(spark.read.schema(ComposedPipeline.SilverSchema)
          .parquet(files: _*).select(silverCols: _*))
      case None =>
        Some(spark.read.schema(ComposedPipeline.SilverSchema)
          .parquet(compactedDir).select(silverCols: _*))
    }
  }

  /** Per-source initial [[StageCounts.CountState]] aggregated from the
    * compacted region — the REBUILD seed (see the object scaladoc):
    * a fresh-checkpoint Q2 started with this state plus the live
    * silver files reproduces the exact frontier, because every silver
    * row is in exactly one of the two (a file is either moved to the
    * compacted region — in the seed, outside the source glob — or
    * still live — ingested once by the fresh query). The replay
    * memory is seeded empty: no compacted batch can be re-delivered
    * (the newest window of each id space is never compacted), and
    * live batches build their own memory as they fold. None when no
    * compaction has ever run. */
  def seedState(spark: SparkSession, compactedDir: String)
      : Option[Dataset[(String, StageCounts.CountState)]] =
    readCompactedForIds(spark, compactedDir, None).map { df0 =>
      import spark.implicits._
      df0.withColumn("delta", coalesce(col("delta"), lit(1L)))
        // mirrors the fold's (batch_id, doc_id) dedup — defensive: a
        // contract-respecting writer never duplicates the key
        .dropDuplicates(Seq("source", "batch_id", "doc_id"))
        .groupBy(col("source"))
        .agg(sum("delta").as("t"),
          sum(when(col("tier") === "head", col("delta")).otherwise(0L)).as("h"),
          sum(when(col("tier") === "middle", col("delta")).otherwise(0L)).as("m"),
          sum(when(col("tier") === "tail", col("delta")).otherwise(0L)).as("l"))
        .as[(String, Long, Long, Long, Long)]
        .map { case (s, t, h, m, l) =>
          (s, StageCounts.CountState(StageCounts.Counts(s, t, h, m, l),
            Seq.empty)) }
    }

  /** First free gold `batch_id`: a rebuilt Q2's emissions must sort
    * AFTER every existing frontier row (gold readers take the last
    * row per source in batch_id order), so the fresh query offsets
    * its micro-batch ids past the high-water mark. Metadata-only
    * (batch_id is gold's partition key). */
  def nextGoldBatchIdBase(spark: SparkSession, goldDir: String): Long = {
    val (fs, gp) = fsFor(spark, goldDir)
    if (!fs.exists(gp)) return 0L
    val ids = fs.listStatus(gp).toSeq
      .filter(s => s.isDirectory && s.getPath.getName.startsWith("batch_id="))
      .map(_.getPath.getName.stripPrefix("batch_id=").toLong)
    if (ids.isEmpty) 0L else ids.max + 1L
  }

  /** Rebuild Q2 on a FRESH checkpoint after (any number of)
    * compactions: seed the counters from the compacted region, offset
    * gold batch ids past the existing frontier, and stream the live
    * silver files. The r14 state-schema-migration recipe ("discard
    * old gold checkpoints, counters rebuild from the silver history")
    * composed with compaction. */
  def restartCounts(spark: SparkSession, silverDir: String, goldDir: String,
                    freshCheckpointDir: String): StreamingQuery =
    ComposedPipeline.startCounts(spark, silverDir, goldDir,
      freshCheckpointDir,
      initialState =
        seedState(spark, ComposedPipeline.compactedSilverDir(silverDir)),
      goldBatchIdBase = nextGoldBatchIdBase(spark, goldDir))

  /** How many live files over the post-compaction count justify a
    * rewrite (see [[fanoutPays]]): below this multiple the per-read
    * small-files tax is noise against the one-time rewrite. */
  private[graft] val CompactFileFanout = 8

  /** Floor under which no rewrite pays — a table this small reads in
    * a handful of opens regardless of layout. */
  private[graft] val CompactMinFiles = 16

  /** The fan-out rule both rewrites share ([[compactIfFanout]] for the
    * silver backlog, [[regionMergeMembers]] for the region's runs): a
    * rewrite pays when it collapses at least [[CompactFileFanout]]×
    * the post-rewrite file count, `ceil(bytes / targetFileBytes)`,
    * and never below [[CompactMinFiles]] files. The r19 probe measured
    * a 23 % per-read tax already at ~200 skinny-row files
    * (`bench/silver_compaction_r19.jsonl`); the tax grows with file
    * count while the rewrite cost is one-time. */
  private[graft] def fanoutPays(files: Int, bytes: Long,
                                targetFileBytes: Long): Boolean = {
    val after = math.max(1, math.ceil(bytes.toDouble / targetFileBytes).toInt)
    files >= CompactMinFiles && files >= CompactFileFanout * after
  }

  /** [[compact]] only when [[fanoutPays]] over the plan's compactable
    * files — the form maintenance runs: a backlog the rewrite would
    * not shrink enough waits for a later cycle. */
  private[streaming] def compactIfFanout(spark: SparkSession,
                                         silverDir: String,
                                         q2CheckpointDir: String,
                                         targetFileBytes: Long)
      : Option[CompactionStats] = {
    val (fs, _) = fsFor(spark, silverDir)
    val files = dataFiles(fs, plan(spark, silverDir, q2CheckpointDir)
      .compactable.map(b => new Path(ComposedPipeline.partitionDir(silverDir, b))))
    if (fanoutPays(files.size, files.map(_.getLen).sum, targetFileBytes))
      compact(spark, silverDir, q2CheckpointDir, targetFileBytes)
    else None
  }

  /** Runs the compacted region may hold before a merge pays regardless
    * of file fan-out: each run carries its own doc_id sort, so one
    * victim id's span can intersect one file PER RUN — the `_stats`
    * pruning bound (and every full read's open count) degrades
    * linearly with run count. */
  private[graft] val RegionMaxRuns = 4

  /** The region-merge rule: never under two runs (nothing to merge);
    * otherwise merge past [[RegionMaxRuns]] runs, or when the region's
    * files pass [[fanoutPays]]. */
  private[graft] def regionMergePays(runs: Int, files: Int, bytes: Long,
                                     targetFileBytes: Long): Boolean =
    runs >= 2 && (runs > RegionMaxRuns || fanoutPays(files, bytes, targetFileBytes))

  /** A kept run must be at least this many × the combined size of all
    * smaller runs for [[selectRunsForMerge]] to leave it alone — the
    * size-tiered merge ratio. 4 bounds live run count to
    * O(log₄(region/target)) and total rewrite I/O to O(n·log n) over
    * a deployment's life (each byte is rewritten only when its run
    * graduates a tier). */
  private[graft] val MergeTierRatio = 4L

  /** Which runs a tiered merge should rewrite — the size-tiered (LSM-
    * style) policy that keeps [[recompactRuns]] from rewriting the
    * whole region every cycle: at a per-maintenance cadence a full
    * merge is O(region) writes per cycle, O(n²) over a deployment's
    * life, which does not survive 100 TB. Sort runs by size
    * descending and KEEP each run that is ≥ [[MergeTierRatio]] × the
    * combined size of all smaller runs; the first run that is not
    * (comparable to its smaller siblings) starts the MERGE SUFFIX —
    * it and everything smaller rewrite into one run. Big base runs
    * are untouched until the tail grows to a fixed fraction of them,
    * so each byte is rewritten O(log) times total. Returns Nil when
    * fewer than two runs would merge (a lone small run waits for
    * siblings). Ties in size are ordered by run id so the result is
    * deterministic. */
  def selectRunsForMerge(runSizes: Seq[(Long, Long)],
                         tierRatio: Long = MergeTierRatio): Seq[Long] = {
    require(tierRatio >= 2, "tierRatio must be at least 2")
    require(runSizes.forall(_._2 >= 0), "selectRunsForMerge: negative size")
    val desc = runSizes.sortBy { case (id, bytes) => (-bytes, id) }
    var smaller = desc.map(_._2).sum
    var keep = 0
    while (keep < desc.size && {
        val b = desc(keep)._2
        b >= tierRatio * (smaller - b)
      }) { smaller -= desc(keep)._2; keep += 1 }
    val merge = desc.drop(keep).map(_._1)
    if (merge.size < 2) Nil else merge.sorted
  }

  /** Each run of a live region with its data files (FS metadata
    * only), in run-id order. */
  private def runFiles(spark: SparkSession, compactedDir: String)
      : Seq[(Long, Seq[FileStatus])] = {
    val (fs, cp) = fsFor(spark, compactedDir)
    listRuns(fs, cp).toSeq.sorted
      .map(r => r -> dataFiles(fs, Seq(new Path(cp, s"run=$r"))))
  }

  /** Per-run byte sizes of a live region (FS metadata only) — the
    * input [[selectRunsForMerge]] wants. */
  def runSizes(spark: SparkSession, compactedDir: String)
      : Seq[(Long, Long)] =
    runFiles(spark, compactedDir).map { case (r, files) => r -> files.map(_.getLen).sum }

  /** The runs a maintenance merge rewrites: Nil unless
    * [[regionMergePays]]; otherwise the size-TIERED subset
    * ([[selectRunsForMerge]]) — a full rewrite per cycle is O(region)
    * writes each time, while the tiered policy leaves big base runs
    * alone until the tail grows to a fixed fraction of them, bounding
    * total rewrite I/O to O(n log n) over the deployment's life. When
    * the rule demands a merge but no natural tier exists (a clean
    * geometric tower), the cheapest run-count reduction — the two
    * smallest runs — honors it without touching the base. */
  private[graft] def regionMergeMembers(spark: SparkSession,
                                        compactedDir: String,
                                        targetFileBytes: Long): Seq[Long] = {
    val runs = runFiles(spark, compactedDir)
    val sizes = runs.map { case (r, files) => r -> files.map(_.getLen).sum }
    if (!regionMergePays(runs.size, runs.map(_._2.size).sum,
        sizes.map(_._2).sum, targetFileBytes)) return Nil
    val tiered = selectRunsForMerge(sizes)
    if (tiered.size >= 2) tiered
    else sizes.sortBy { case (id, b) => (b, id) }.take(2).map(_._1)
  }

  /** Regenerate `_stats` entries for runs missing them and drop
    * entries for runs that no longer exist — the repair for any crash
    * window that left the sidecar behind the data (until it runs,
    * [[selectFilesForIds]] safely disables pruning). */
  private def healStats(spark: SparkSession, compactedDir: String,
                        fs: FileSystem, cp: Path): Unit = {
    val dataRuns = listRuns(fs, cp)
    val statsRuns = listRuns(fs, new Path(cp, "_stats"))
    (statsRuns -- dataRuns).foreach(r =>
      fs.delete(new Path(cp, s"_stats/run=$r"), true))
    (dataRuns -- statsRuns).foreach(r =>
      writeFileStats(spark, compactedDir, r))
  }

  /** Merge the given `run=` partitions of the compacted region into
    * ONE (the region accumulates one run per [[compact]] cycle — at a
    * production cadence that is the small-files problem again, one
    * level up). Unlike silver, nothing streams from the region, so
    * the only contract is the maintenance one: run it with the
    * takedown query stopped (readers mid-merge could see a partial
    * region).
    *
    * Crash-safe as a TWO-PHASE rewrite keyed on an underscore-hidden
    * staging dir (invisible to every data read of the region):
    *
    *   1. write the merged rows to `_merge_run=<maxMemberId>`, then a
    *      `_members` manifest naming the merged runs — the stage is
    *      complete only when BOTH the write's `_SUCCESS` and the
    *      manifest exist (the manifest is written last because the
    *      data write wipes the staging dir); an incomplete stage is
    *      discarded and redone (its source runs are all still
    *      present), a complete one is reused verbatim because its
    *      members may already be partially deleted;
    *   2. delete the member `run=` partitions and their `_stats`
    *      entries (kept runs and their stats are untouched);
    *   3. rename the staging dir to `run=<maxMemberId>` and
    *      regenerate `_stats` for it.
    *
    * A rerun after a crash anywhere resumes at the first incomplete
    * step — an interrupted merge's `_members` manifest is
    * authoritative over the argument, so the resume finishes the OLD
    * merge. Until step 3 completes the `_stats` sidecar lags the
    * data, so [[selectFilesForIds]]'s run-set consistency check
    * disables file pruning rather than missing victims — and any call
    * that finds nothing to merge first heals the sidecar
    * ([[healStats]]). Returns None when fewer than two member runs
    * exist and no interrupted merge is pending. */
  def recompactRuns(spark: SparkSession, compactedDir: String,
                    targetFileBytes: Long, mergeRunIds: Seq[Long])
      : Option[CompactionStats] = {
    require(targetFileBytes > 0, "targetFileBytes must be positive")
    val (fs, cp) = fsFor(spark, compactedDir)
    if (!fs.exists(cp)) return None
    val staged = fs.listStatus(cp).toSeq
      .filter(s => s.isDirectory && s.getPath.getName.startsWith("_merge_run="))
      .map(_.getPath).sortBy(_.getName)
    def stageComplete(d: Path): Boolean =
      fs.exists(new Path(d, "_SUCCESS")) && fs.exists(new Path(d, "_members"))
    // an incomplete stage (crash mid-write, or before its manifest
    // landed) is unusable and its sources are intact — discard it
    staged.filterNot(stageComplete).foreach(d => fs.delete(d, true))
    val resumable = staged.filter(stageComplete)
    val (members, stageDir, mergedId, resumed) = resumable.headOption match {
      case Some(d) =>
        (readLines(fs, new Path(d, "_members")).map(_.trim)
           .filter(_.nonEmpty).map(_.toLong),
         d, d.getName.stripPrefix("_merge_run=").toLong, true)
      case None =>
        val live = listRuns(fs, cp)
        val m = mergeRunIds.distinct.filter(live.contains).sorted
        if (m.size < 2) {
          healStats(spark, compactedDir, fs, cp)
          return None
        }
        (m, new Path(cp, s"_merge_run=${m.max}"), m.max, false)
    }
    val srcDirs = members.map(r => new Path(cp, s"run=$r")).filter(fs.exists)
    val srcFiles = dataFiles(fs, srcDirs)
    if (!resumed) {
      // step 1 — member runs are all still present here
      val src = spark.read.schema(ComposedPipeline.SilverSchema)
        .parquet(srcDirs.map(_.toString): _*)
        .select(ComposedPipeline.SilverSchema.fieldNames.map(col).toSeq: _*)
      val bytes = srcFiles.map(_.getLen).sum
      val nOut = math.max(1,
        math.ceil(bytes.toDouble / targetFileBytes).toInt)
      val srcRows = src.count()
      src.repartitionByRange(nOut, col("doc_id"))
        .sortWithinPartitions("doc_id")
        .write.mode("overwrite").parquet(stageDir.toString)
      val stagedRows = spark.read
        .schema(ComposedPipeline.SilverSchema).parquet(stageDir.toString)
        .count()
      require(stagedRows == srcRows,
        s"run merge parity: staged $stagedRows rows, members hold " +
          s"$srcRows — nothing deleted")
      val out = fs.create(new Path(stageDir, "_members"), true)
      try out.write(members.mkString("\n").getBytes("UTF-8"))
      finally out.close()
    }
    // step 2: drop the member runs and THEIR sidecar entries only
    members.foreach { r =>
      fs.delete(new Path(cp, s"run=$r"), true)
      fs.delete(new Path(cp, s"_stats/run=$r"), true)
    }
    // step 3: publish the merged run and rebuild its stats. The
    // manifest travels WITH the rename (deleting it first would make
    // a crash here read as an incomplete stage and discard the only
    // copy of the merged rows); it is removed after, and a stray
    // leftover is harmless — underscore files are invisible to every
    // parquet read.
    val finalDir = new Path(cp, s"run=$mergedId")
    require(fs.rename(stageDir, finalDir),
      s"rename $stageDir -> $finalDir failed")
    fs.delete(new Path(finalDir, "_members"), false)
    writeFileStats(spark, compactedDir, mergedId)
    healStats(spark, compactedDir, fs, cp)
    val filesAfter = dataFiles(fs, Seq(finalDir)).size
    val rows = spark.read.schema(ComposedPipeline.SilverSchema)
      .parquet(finalDir.toString).count()
    Some(CompactionStats(mergedId, members.size, rows,
      srcFiles.size, filesAfter, srcFiles.map(_.getLen).sum))
  }
}
