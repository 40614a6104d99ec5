package graft.operators

import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._

/** Scale patterns for the 100 TB deployment (SURVEY §7 risks; builder
  * brief: "co-locate joins via bucketing, salting for skew").
  *
  * These are the utilities a production job composes around the
  * operator battery; each has a spec proving the plan shape (no
  * exchange on bucketed joins) or value equivalence (salted == plain).
  */
object ScaleOps {

  /** What the running query holds: every cache pinned by
    * [[materializePinned]] and every broadcast variable made by
    * [[broadcastPinned]] since the last [[releaseAll]], the one release
    * hook Bench, Verify, PlanDump and the specs call in their
    * per-query finally. Without it each query leaked its
    * derived-table caches into the session for the rest of the battery
    * (VERDICT r9) and its broadcast values into the driver's block
    * manager. Pins are MEMORY_AND_DISK columnar caches: they evict
    * under pressure and recompute from lineage — never a correctness
    * risk.
    *
    * SEQUENTIAL-HARNESS ASSUMPTION (ADVICE r10): the registry is
    * process-wide, so two queries running CONCURRENTLY on one JVM
    * could have their pins released mid-iteration by the other's
    * finally-side releaseAll — silent recomputation, never wrong
    * results (lineage rebuilds the cache). Bench/Verify run queries
    * strictly one at a time, which is the supported mode; a harness
    * that interleaves queries must scope releases itself (see
    * [[release]]). */
  private val pinnedFrames =
    scala.collection.mutable.ArrayBuffer.empty[DataFrame]
  private val pinnedBroadcasts =
    scala.collection.mutable.ArrayBuffer
      .empty[org.apache.spark.broadcast.Broadcast[_]]

  /** Release everything the last query holds: every registered pin and
    * broadcast (graph edge/degree caches, the triangle close array,
    * shingle-set and LM-score pins, the q-gram df map). Call it once
    * the query's FINAL result has materialized: releasing earlier
    * would silently recompute the iterative joins from lineage.
    * Non-blocking — eviction proceeds in the background while the next
    * query plans. Process-wide: see the sequential-harness note above. */
  def releaseAll(): Unit = synchronized {
    pinnedFrames.foreach(_.unpersist(blocking = false))
    pinnedFrames.clear()
    pinnedBroadcasts.foreach(_.destroy()) // non-blocking in Spark 3+
    pinnedBroadcasts.clear()
  }

  private val pinLog = org.slf4j.LoggerFactory.getLogger("graft.ScaleOps")

  /** Cluster-wide storage budget a [[materializePinned]] estimate is
    * judged against (VERDICT r19 #2 — the size-routed pattern of
    * [[deriveSegmentJoin]] applied to pinning): 0.3 ×
    * heap × executor count — Spark's default storage share of the
    * unified region (`spark.memory.fraction` 0.6 × storageFraction
    * 0.5) summed over the executors the cache is spread across
    * (`defaultParallelism / executor.cores`; 1 in local mode, where
    * driver == the only executor). A pin under the budget lives in
    * memory; past it, MEMORY_AND_DISK degrades to writing a
    * corpus-sized derived table to executor disk — the r19 10×
    * evidence (prefix self-join pin: +1.5×) says a spilling pin can
    * cost MORE than recomputing the arms, so the gate keeps the
    * plan lazy instead. */
  def pinBudgetBytes(ss: SparkSession): Long = {
    val executors = math.max(1,
      ss.sparkContext.defaultParallelism / concurrentSlotsPerHeap(ss))
    (0.3 * executorHeapBytes(ss)).toLong * executors
  }

  /** Optimizer-estimated bytes of a frame times `scale` (the caller's
    * hydration factor), clamped to `Long.MaxValue` — no driver job:
    * for parquet-backed plans this is file size propagated through the
    * optimizer's selectivity estimates, which is exactly the fidelity
    * a pin-vs-lazy gate or a partition derivation needs (it exists to
    * catch corpus-vs-heap ORDERS of magnitude, not ×2). */
  def planBytes(df: DataFrame, scale: Long = 1L): Long =
    (df.queryExecution.optimizedPlan.stats.sizeInBytes * scale)
      .min(BigInt(Long.MaxValue)).toLong

  /** Materialize a within-query-reused derived table as compressed
    * columnar cache and register it for the harness' per-query
    * release: one expensive derived table (an iterated edge list,
    * per-doc shingle sets) consumed by several join arms or rounds is
    * paid once instead of re-evaluated per arm (guide §1.2 "don't
    * compute things you throw away"). The columnar cache, not
    * `localCheckpoint`: the r9 8 g probe against the 100× replica
    * OOMed both iterative graph rows storing the edge list as
    * deserialized per-row objects, and a truncated lineage cannot
    * rebuild a lost block ("Block rdd_186_29 does not exist"). The
    * materializing count runs INSIDE the caller's query construction,
    * so Bench's timer (which wraps the construction) charges it to the
    * query — no timing semantics change.
    *
    * `estBytes` ≥ 0 gates the pin behind [[pinBudgetBytes]] (VERDICT
    * r19 #2): callers pass their HYDRATED size estimate (e.g. text
    * bytes × the shingle-set blowup) and an over-budget table stays
    * lazy — every consumer arm recomputes from lineage, exactly the
    * pre-pin plan, so the choice is purely physical. Negative (the
    * default) pins unconditionally, for callers whose tables are
    * bounded by construction or reused every iteration. */
  def materializePinned(df: DataFrame, estBytes: Long = -1L): DataFrame = {
    if (estBytes >= 0L) {
      val budget = pinBudgetBytes(df.sparkSession)
      if (estBytes > budget) {
        pinLog.info(
          s"materializePinned: est ${estBytes} B > budget ${budget} B — staying lazy")
        return df
      }
      pinLog.info(
        s"materializePinned: est ${estBytes} B <= budget ${budget} B — pinning")
    }
    val out = pin(df)
    out.count()
    out
  }

  /** [[materializePinned]] without the materializing count: `df` is
    * persisted and registered, and the caller's own next action over
    * it fills the cache. For a caller whose next step is an action over
    * the pin anyway (a range guard, a convergence check), the count
    * would be one more action, with its own planning and exchange. */
  private[operators] def pin(df: DataFrame): DataFrame = {
    // already-cached fast path: a composed session that pinned this
    // exact (canonical) plan owns the pin — re-persisting would only
    // log "Asked to cache already cached data" and double-register the
    // release. storageLevel is the public plan-equivalence probe into
    // the CacheManager.
    if (df.storageLevel != org.apache.spark.storage.StorageLevel.NONE)
      return df
    val out = df.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    // register BEFORE anything fills it: if that action dies
    // (OOM/cancellation), the finally-side releaseAll() must still
    // find and release the pin — registering after would resurrect the
    // leak on exactly the failure paths
    synchronized { pinnedFrames += out }
    out
  }

  /** Release ONE registered pin, leaving the rest alive — the scoped
    * form a composed session needs between phases (r20): the trade
    * graph's pin is released the moment both its consumers are
    * checkpointed, while the co-order graph built CONCURRENTLY by the
    * triangle phase keeps its pin until the harness' end-of-query
    * releaseAll. A blanket release there would drop the sibling
    * phase's cache mid-iteration (silent recompute, the ADVICE r10
    * hazard). No-op when `df` was never registered. */
  def release(df: DataFrame): Unit = synchronized {
    val i = pinnedFrames.indexWhere(_ eq df)
    if (i >= 0) {
      pinnedFrames.remove(i).unpersist(blocking = false)
    }
  }

  /** Broadcast `value` and register it for the per-query release, like
    * a [[materializePinned]] pin: the driver's block manager keeps a
    * broadcast's value until it is destroyed, so an unregistered one
    * outlives its query. */
  private[operators] def broadcastPinned[T: scala.reflect.ClassTag](
      ss: SparkSession, value: T): org.apache.spark.broadcast.Broadcast[T] = {
    val b = ss.sparkContext.broadcast(value)
    synchronized { pinnedBroadcasts += b }
    b
  }

  /** "8g"/"512m"-style JVM size string → bytes. A SUFFIXLESS value is
    * MiB, matching Spark's own `getSizeAsMb` reading of
    * `spark.executor.memory` — treating "8192" as bytes would
    * underestimate the heap ~10^6×. */
  private def parseJvmBytes(s: String): Long = {
    val t = s.trim.toLowerCase
    // A blank value would crash `t.last` with an opaque
    // NoSuchElementException inside partition derivation (ADVICE r10);
    // name the config key so the misconfiguration is diagnosable.
    require(t.nonEmpty,
      "spark.executor.memory is set but blank — expected a JVM size " +
        "string like 8g / 512m / 8192 (suffixless = MiB)")
    val (num, mult) = t.last match {
      case 'k' => (t.dropRight(1), 1L << 10)
      case 'm' => (t.dropRight(1), 1L << 20)
      case 'g' => (t.dropRight(1), 1L << 30)
      case 't' => (t.dropRight(1), 1L << 40)
      case _   => (t, 1L << 20)
    }
    (num.toDouble * mult).toLong
  }

  /** Executor heap in bytes — the one budget every memory rule here
    * divides. `spark.executor.memory` is authoritative when set
    * (cluster mode always sets it); the `Runtime.maxMemory` fallback is
    * LOCAL-MODE only, where driver == executor JVM, so it reads the
    * true heap (in cluster mode it would read the driver's). */
  private def executorHeapBytes(ss: SparkSession): Long =
    ss.conf.getOption("spark.executor.memory").map(parseJvmBytes)
      .getOrElse(Runtime.getRuntime.maxMemory)

  /** The session's `spark.sql.shuffle.partitions` (Spark's default 200
    * when unset) — the floor every derived partition count starts
    * from. */
  private[operators] def sessionPartitions(ss: SparkSession): Int =
    ss.conf.get("spark.sql.shuffle.partitions", "200").toInt

  /** Partitions such that the task slots sharing one heap
    * ([[concurrentSlotsPerHeap]]) concurrently hold at most a
    * conservative tenth of it of `bytes` between them:
    * `ceil(bytes·slots / (0.1·heap))`. Uncapped and unfloored — each
    * caller applies its own session floor and cap. */
  private[operators] def heapPartitions(ss: SparkSession, bytes: Long): Long =
    math.ceil(bytes.toDouble * concurrentSlotsPerHeap(ss) /
      (0.1 * executorHeapBytes(ss))).toLong

  /** The broadcast test: a table of `bytes` hydrated bytes may be
    * shipped to every executor while it fits 1/16 of the heap (every
    * task slot probes one copy beside its own stream). */
  private[operators] def fitsBroadcast(ss: SparkSession, bytes: Long): Boolean =
    bytes <= executorHeapBytes(ss) / 16L

  /** DATA-derived shuffle partition count — the q_graph_triangles rule
    * (GraphQueries.triangleCounts) generalized to any heavy join/sort
    * whose granularity must scale with the data, not the session
    * constant (VERDICT r9 #4): the [[heapPartitions]] tenth-of-heap
    * rule. Degenerates to the session `spark.sql.shuffle.partitions`
    * whenever that already suffices (plan unchanged at gate scale), and
    * caps at 4096 so task-launch overhead never dominates. */
  def deriveShufflePartitions(ss: SparkSession, bytes: Long,
                              cap: Int = 4096): Int =
    math.min(cap.toLong,
      math.max(sessionPartitions(ss).toLong, heapPartitions(ss, bytes))).toInt

  /** NARROW twin of [[deriveShufflePartitions]] for iteration-cached
    * tables (VERDICT r19 #3 / guide §2 scale-adaptive partitioning):
    * an iterative algorithm re-reads its edge cache EVERY round, and
    * each round's join/aggregate stage launches one task per cache
    * partition — at gate scale a ~20 MB edge list spread over the
    * session's 32 partitions costs 32 task launches (plus a ~1.5 MB
    * task-binary broadcast each) per stage per round for microseconds
    * of per-task compute, which is why the 8-core bench BEATS the
    * 32-core one on every iterative graph row (r20 measured: pagerank
    * 2.92 s at 8 cores vs 4.10 s at 32). Narrowing below the core
    * count only pays while the per-task COMPUTE it serializes is
    * smaller than the task overhead it removes, so the derivation is
    * two-regime (both endpoints measured, r20 probe):
    *  - LATENCY regime — the whole table is under ~8 MB per core
    *    (giving every core a partition would make partitions pure
    *    launch overhead): partition by size, ~32 MB each, floor 1.
    *    Gate scale: the 57 MB edge bound → 2 partitions, pagerank
    *    4.10 → 2.88 s at 32 cores and the 8-vs-32 ratio flips > 1.
    *  - THROUGHPUT regime — anything bigger keeps the session floor
    *    (an 18-partition cache on 32 cores measured pagerank
    *    5.99 → 8.46 s at the 10× replica: idle-core cost overtakes
    *    task latency as soon as per-round compute is real).
    * Both regimes are floored at the [[deriveShufflePartitions]] heap
    * rule (memory safety dominates latency) and capped at 4096.
    * Purely physical: results are partition-count independent
    * (integer-exact aggregates; specs pin values). */
  def deriveIterParts(ss: SparkSession, bytes: Long): Int = {
    val cores = ss.sparkContext.defaultParallelism
    val regimeNp =
      if (bytes < cores.toLong * (8L << 20))
        math.max(1L, math.ceil(bytes.toDouble / (32L << 20)).toLong)
      else sessionPartitions(ss).toLong
    math.min(4096L, math.max(regimeNp, heapPartitions(ss, bytes))).toInt
  }

  /** Task slots that SHARE one executor heap — the concurrency the
    * per-heap budget must divide by. `spark.executor.cores` when set
    * (cluster mode always sets it: per-executor slots share that
    * executor's heap); `defaultParallelism` only as the LOCAL-mode
    * fallback, where all threads share the single JVM heap. Using
    * defaultParallelism unconditionally would multiply the estimate by
    * the executor COUNT on a cluster (cluster-wide slots against one
    * executor's heap) and over-partition ~N_executors-fold — enough to
    * push derivations past their caps and flip plans to fallbacks on
    * exactly the deployments the derivation targets. */
  private[operators] def concurrentSlotsPerHeap(ss: SparkSession): Int =
    ss.conf.getOption("spark.executor.cores").map(_.trim.toInt)
      .filter(_ > 0)
      .getOrElse(ss.sparkContext.defaultParallelism)

  /** The repartition-if-above guard every derived-granularity call
    * site shares: explicit hash repartition by the coming join/agg
    * keys when `np` exceeds the session constant (the join consumes
    * the partitioning — the exchange REPLACES the join's own), no-op
    * otherwise (gate-scale degeneration; PlanAssertSpec pins both
    * directions). One definition so a fix to the guard can never miss
    * a call site. */
  def widenIfAbove(df: DataFrame, np: Int, keys: Column*): DataFrame = {
    if (np > sessionPartitions(df.sparkSession)) df.repartition(np, keys: _*)
    else df
  }

  /** Persist both sides of a recurring join bucketed + sorted on the
    * join key: every subsequent equi-join on that key is shuffle-free
    * (bucket-local sort-merge). The write cost is paid once; at 100 TB
    * the repeated-join shuffle it removes is the dominant cost.
    */
  def writeBucketed(df: DataFrame, table: String, key: String,
                    buckets: Int, path: String = null): Unit = {
    // an explicit path makes the table external: a fresh JVM whose
    // catalog doesn't know the table can still recreate it even though
    // a previous run's managed-table directory survives in the
    // warehouse (managed CREATE refuses a non-empty location)
    val w = df.write.mode("overwrite")
      .bucketBy(buckets, key)
      .sortBy(key)
      .format("parquet")
    (if (path != null) w.option("path", path) else w).saveAsTable(table)
  }

  /** Per-key top-k through the native TopKPerKey operator
    * (graft.plans): a map-side partial pass with bounded per-key heaps
    * (capped at `maxKeysInMemory` keys, overflow passes through) prunes
    * the shuffle to ≤ k rows per key per mapper, then the final pass
    * streams the first k of each key group off a spillable sort of the
    * pruned data — versus the full per-key sort the window-function
    * encoding pays. Rows come back unordered across keys (add a global
    * orderBy when determinism matters downstream).
    */
  def topKPerKey(df: DataFrame, keys: Seq[Column], order: Seq[Column],
                 k: Int,
                 maxKeysInMemory: Int = graft.plans.TopKPerKey.DefaultMaxKeysInMemory): DataFrame = {
    import org.apache.spark.sql.graftbridge.ColumnBridge
    import org.apache.spark.sql.catalyst.expressions.Alias
    import org.apache.spark.sql.catalyst.plans.logical.{Project, Sort}
    val spark = df.sparkSession
    if (!spark.experimental.extraStrategies.contains(graft.plans.TopKPerKeyStrategy))
      spark.experimental.extraStrategies =
        spark.experimental.extraStrategies :+ graft.plans.TopKPerKeyStrategy
    // Column → resolved Expression: route through a real sort/select so
    // the analyzer does the conversion (raw bridge conversion yields
    // lazy column nodes that never resolve inside a custom plan)
    val (sortOrders, child) = ColumnBridge.analyzedPlan(df.sort(order: _*)) match {
      case Sort(so, _, c, _) => (so, c)
      case other => sys.error(s"unexpected plan shape: $other")
    }
    val keyExprs = ColumnBridge.analyzedPlan(df.select(keys: _*)) match {
      case Project(list, _) => list.map {
        case Alias(e, _) => e
        case e => e
      }
      case other => sys.error(s"unexpected plan shape: $other")
    }
    ColumnBridge.ofRows(spark,
      graft.plans.TopKPerKeyPlan(keyExprs, sortOrders, k, child, maxKeysInMemory))
  }

  /** Equi-join scale path for point-in-interval (overlap) joins when
    * NEITHER side is broadcastable — a broadcast nested loop needs a
    * tiny build side, and a shuffle theta join has no key to shuffle
    * on. Intervals explode to the fixed-width bins they cover
    * (⌈len/binWidth⌉+1 rows each), points map to exactly one bin, and
    * the join becomes a plain shuffle EQUI join on (keys…, bin) with
    * the exact half-open predicate `lo ≤ ts < hi` re-verified — no
    * theta join, no blowup. A point's bin occurs once in each covering
    * interval's bin list, so no post-join dedup is needed. Choose
    * binWidth near the typical interval length: wider bins replicate
    * intervals less but pack more false candidates per bin.
    *
    * `pointKeys`/`intervalKeys` are positional equi-key pairs; `ts`
    * names the point column, `lo`/`hi` the interval bounds (longs).
    * Output = all point columns + all interval columns (names must not
    * collide).
    */
  def binnedIntervalJoin(points: DataFrame, intervals: DataFrame,
                         pointKeys: Seq[String], intervalKeys: Seq[String],
                         ts: String, lo: String, hi: String,
                         binWidth: Long): DataFrame = {
    require(binWidth > 0, "binWidth must be positive")
    require(pointKeys.length == intervalKeys.length,
      "pointKeys and intervalKeys must pair up")
    require(points.columns.intersect(intervals.columns).isEmpty,
      s"point/interval column names must not collide: " +
        points.columns.intersect(intervals.columns).mkString(", "))
    val bi = intervals.withColumn("__bin",
      explode(sequence(expr(s"$lo div $binWidth"), expr(s"$hi div $binWidth"))))
    val bp = points.withColumn("__bin", expr(s"$ts div $binWidth"))
    val keyCond = pointKeys.zip(intervalKeys)
      .map { case (a, b) => bp(a) === bi(b) }
      .foldLeft(bp("__bin") === bi("__bin"))(_ && _)
    bp.join(bi, keyCond && bi(lo) <= bp(ts) && bp(ts) < bi(hi))
      .drop(bp("__bin")).drop(bi("__bin"))
  }

  /** As-of (time-travel) LEFT join: attach to every left row the
    * newest right row with `rightTs` ≤ `leftTs` for the same key —
    * without a range theta join. Both sides union into one relation,
    * right rows sorting before left rows at equal timestamps
    * (inclusive as-of), and ALL `payload` columns are carried forward
    * together as ONE struct by a single last-non-null window — the
    * struct is non-null for every right row even when its fields are
    * NULL, so a NULL payload value on the newest matching right row
    * comes back as NULL (it is never skipped in favour of an older
    * row, and fields never mix across different right rows). ONE
    * shuffle on the key and a linear scan per partition, versus the
    * per-row range probe a theta join would pay; this is the standard
    * Spark encoding for "price as of trade time" style joins at scale.
    *
    * Ties among right rows at the same (key, ts) resolve to any one of
    * them — pass pre-deduplicated right sides when that matters.
    * `payload` names right columns to attach; left columns pass
    * through unchanged (names must not collide with payload).
    */
  def asofJoin(left: DataFrame, right: DataFrame,
               leftKeys: Seq[String], rightKeys: Seq[String],
               leftTs: String, rightTs: String,
               payload: Seq[String]): DataFrame = {
    require(leftKeys.length == rightKeys.length,
      "leftKeys and rightKeys must pair up")
    require(payload.nonEmpty, "payload must name at least one right column")
    import org.apache.spark.sql.expressions.Window
    val keyNames = leftKeys.indices.map(i => s"__k$i")
    val leftCols = left.columns.toSeq
    val reserved = keyNames ++ Seq("__ts", "__side", "__p")
    require(!leftCols.exists(reserved.contains),
      s"left columns collide with asofJoin internals: " +
        leftCols.filter(reserved.contains).mkString(", "))
    require(!payload.exists(leftCols.contains),
      s"payload names collide with left columns: " +
        payload.filter(leftCols.contains).mkString(", "))
    val payloadType = org.apache.spark.sql.types.StructType(
      payload.map(p => right.schema(p).copy(name = p)))
    val l = left.select(
      (leftKeys.zip(keyNames).map { case (c, k) => col(c).as(k) } ++
        Seq(col(leftTs).as("__ts"), lit(1).as("__side")) ++
        leftCols.map(col) :+
        lit(null).cast(payloadType).as("__p")): _*)
    val r = right.select(
      (rightKeys.zip(keyNames).map { case (c, k) => col(c).as(k) } ++
        Seq(col(rightTs).as("__ts"), lit(0).as("__side")) ++
        leftCols.map(c => lit(null).cast(left.schema(c).dataType).as(c)) :+
        struct(payload.map(col): _*).as("__p")): _*)
    val w = Window.partitionBy(keyNames.map(col): _*)
      .orderBy(col("__ts"), col("__side"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val carried = l.unionByName(r)
      .withColumn("__p", last(col("__p"), ignoreNulls = true).over(w))
    carried.filter(col("__side") === 1)
      .select(leftCols.map(col) ++
        payload.map(p => col("__p").getField(p).as(p)): _*)
  }

  /** The contract the three edit-distance joins check: `maxDist ≥ 0`,
    * disjoint left/right column names, and no input column named like
    * the output `dist`, the band columns or the join's `reserved` ones. */
  private def requireJoinable(left: DataFrame, right: DataFrame,
                              maxDist: Int, join: String,
                              reserved: String*): Unit = {
    require(maxDist >= 0, "maxDist must be >= 0")
    val dup = left.columns.intersect(right.columns)
    require(dup.isEmpty,
      s"left/right column names must not collide: ${dup.mkString(", ")}")
    val clash = (left.columns ++ right.columns)
      .filter((reserved ++ Seq("__b", "__b0", "dist")).contains)
    require(clash.isEmpty,
      s"columns collide with $join internals: ${clash.mkString(", ")}")
  }

  /** Band of `x` (a key length or a gram position) at width
    * `max(maxDist, 1)`; the long cast of the double quotient is floor
    * for the non-negative values here. */
  private def bandOf(x: Column, maxDist: Int): Column =
    (x / math.max(maxDist, 1)).cast("long")

  /** One row per band of `b`'s ±1 neighbourhood: values within
    * `maxDist` of each other land in the same or adjacent bands, so a
    * side keyed by its own band meets this side in exactly one band. */
  private def bandNeighbours(b: Column): Column =
    explode(array(b - 1, b, b + 1))

  /** `left` keyed by its key's length band `__b`, `right` by the
    * [[bandNeighbours]] of its own: an equi-join on `__b` (plus any
    * keys the caller adds) meets every pair with `|Δlength| ≤ maxDist`
    * exactly once. */
  private def lengthBands(left: DataFrame, right: DataFrame,
                          leftCol: String, rightCol: String,
                          maxDist: Int): (DataFrame, DataFrame) =
    (left.withColumn("__b", bandOf(length(col(leftCol)), maxDist)),
      right.withColumn("__b0", bandOf(length(col(rightCol)), maxDist))
        .withColumn("__b", bandNeighbours(col("__b0"))).drop("__b0"))

  /** The [[lengthBands]] join alone: the exact joins' fallback for keys
    * too short for their candidate filter (bounded by construction). */
  private def lengthBandJoin(left: DataFrame, right: DataFrame,
                             leftCol: String, rightCol: String,
                             maxDist: Int): DataFrame = {
    val (l, r) = lengthBands(left, right, leftCol, rightCol, maxDist)
    l.join(r, Seq("__b")).drop("__b")
  }

  /** The verify every edit-distance join ends in, adding the long
    * `dist`. Edit distance is ≥ |Δlength|, so the length probe rejects
    * a pair before any DP table is built; thresholded levenshtein runs
    * the banded O(len·maxDist) algorithm and returns −1 past the
    * threshold (at 0: 0 for equal strings, −1 otherwise). */
  private def verifyEditDistance(cand: DataFrame, leftCol: String,
                                 rightCol: String, maxDist: Int): DataFrame =
    cand.filter(abs(length(col(leftCol)) - length(col(rightCol))) <= maxDist)
      .withColumn("dist",
        levenshtein(col(leftCol), col(rightCol), maxDist).cast("long"))
      .filter(col("dist") >= 0)

  /** Row count and key bytes (0 on empty input) of `df`'s key column
    * `c`, plus the values of any `extra` long aggregates — one driver
    * job for every edit-distance derivation's corpus figures. */
  private def keyStats(df: DataFrame, c: String,
                       extra: Column*): (Long, Long, Seq[Long]) = {
    val row = df.agg(count(lit(1)), sum(octet_length(col(c))) +: extra: _*)
      .head()
    (row.getLong(0), if (row.isNullAt(1)) 0L else row.getLong(1),
      (2 until row.length).map(row.getLong))
  }

  /** A data-derived operating point for [[blockedFuzzyJoin]] (VERDICT
    * r7: the knobs existed but were manual — at 100× the gate would
    * have needed retuning by hand). One cheap aggregate over the key
    * column yields the corpus stats, and both knobs fall out:
    *
    *  - `prefixLen` = the smallest prefix length whose EXPECTED block
    *    occupancy (rows ÷ distinct prefixes) is ≤ `targetRowsPerBlock`
    *    (capped at `pMax` — each extra char costs recall on pairs whose
    *    edits touch the prefix, so we stop growing the key once the
    *    corpus' prefix diversity saturates);
    *  - `salts` = how many ways the residual occupancy at that prefix
    *    must split so one block's quadratic verify loop stays ~one
    *    task's worth of CPU (`ceil(occupancy / targetRowsPerBlock)`,
    *    where occupancy is the worst 3-band NEIGHBORHOOD of the actual
    *    (prefix, length-band) blocking key — pass the join's `maxDist`
    *    so the measured bands are the bands [[blockedFuzzyJoin]]
    *    builds).
    *
    * The aggregate is a single scan producing one row (`pMax + 1`
    * longs) — the same small-by-construction driver scalar as the
    * quality-threshold percentile. Integer arithmetic throughout so an
    * oracle can replay the derivation exactly (`n div max(d_p, 1)`).
    */
  /** `partitions` is the derived shuffle granularity for the verify
    * join ([[deriveShufflePartitions]] over the join's own byte
    * volume) — it never changes results, only layout, so oracles
    * ignore it. */
  final case class FuzzyBlocking(prefixLen: Int, salts: Int,
                                 partitions: Int = 0)

  def deriveFuzzyBlocking(df: DataFrame, c: String,
                          targetRowsPerBlock: Long = 200,
                          pMax: Int = 4,
                          maxDist: Int = 4): FuzzyBlocking = {
    require(targetRowsPerBlock >= 1, "targetRowsPerBlock must be >= 1")
    require(pMax >= 1, "pMax must be >= 1")
    val (n, keyBytes, distinctPrefixes) = keyStats(df, c,
      (1 to pMax).map(p => count_distinct(substring(col(c), 1, p))): _*)
    val occ = distinctPrefixes.map(d => n / math.max(d, 1L))
    val p = occ.indexWhere(_ <= targetRowsPerBlock) match {
      case -1 => pMax
      case i  => i + 1
    }
    // salts must bound the WORST block, not the average: a corpus whose
    // head token dominates ('customer ...' on this testdata) puts a
    // quadratic verify loop on one task no matter how good the expected
    // occupancy looks (measured at the 100× replica: expected occ 29 at
    // p=8 but one 9153-row block = 42 M pairs on a single core). One
    // more cheap aggregate — max occupancy over the ACTUAL blocking key
    // (prefix, length band), with band width tied to the SAME
    // max(maxDist, 1) blockedFuzzyJoin will use, so the measured blocks
    // are the blocks the join builds. A task's verify loop pairs a left
    // block against the right side's band ±1 neighborhood, so the
    // occupancy that must split is the 3-band NEIGHBORHOOD sum, not the
    // single band — the self-join below runs on the already-aggregated
    // block-count table (|prefixes|×|bands| rows, tiny by construction).
    val blockCounts = df
      .groupBy(substring(col(c), 1, p).as("__c"),
        bandOf(length(col(c)), maxDist).as("__b"))
      .count()
    val nbr = blockCounts.select(col("__c"), col("__b"), col("count"))
      .join(blockCounts.select(col("__c").as("__c2"), col("__b").as("__b2"),
          col("count").as("__n2")),
        col("__c") === col("__c2") && abs(col("__b") - col("__b2")) <= 1)
      .groupBy(col("__c"), col("__b")).agg(sum(col("__n2")).as("__nbr"))
      .agg(max(col("__nbr"))).head()
    // empty input → max over zero groups is null → no salting needed
    val maxOcc = if (nbr.isNullAt(0)) 0L else nbr.getLong(0)
    val salts =
      ((maxOcc + targetRowsPerBlock - 1) / targetRowsPerBlock).max(1L)
    // verify-join shuffle granularity from the join's own byte volume
    // (VERDICT r9 #4): each side's sorted stream carries the key
    // string plus ~48 B of ids/blocking columns, and the right side
    // triples through the band ±1 explode — ×4 bounds left + exploded
    // right (hot-only salting adds replication proportional to hot
    // mass, already inside the slack). At gate scale this degenerates
    // to the session constant (plan unchanged).
    val joinBytes = (keyBytes + 48L * n) * 4L
    val np = deriveShufflePartitions(df.sparkSession, joinBytes)
    FuzzyBlocking(p, salts.toInt, np)
  }

  /** Blocked fuzzy (edit-distance) join — the record-linkage primitive
    * at corpus scale, replacing the all-pairs cross join with a plain
    * shuffle EQUI-join on a blocking key (first char × length band).
    *
    * Band completeness is exact: `levenshtein ≤ maxDist` implies the
    * lengths differ by ≤ maxDist, and with band width = maxDist two
    * such lengths land in the same or adjacent bands — the right side
    * emits its own band ±1, so every length-compatible pair meets in
    * exactly one (char, band) block (no post-join dedup needed). The
    * deliberate recall trade-off is the first-char key: pairs whose
    * first characters differ are never candidates — the standard
    * blocking compromise; the MinHash pipeline (DedupQueries) is the
    * high-recall alternative when that matters. Cost scales with
    * block-local pair counts instead of n², and the join shuffles on
    * (char, band) like any equi-join — no cartesian, no theta join.
    *
    * Output = all left columns + all right columns + `dist` (long
    * edit distance ≤ maxDist); names must not collide.
    *
    * `prefixLen` sets the blocking prefix length (default 1 char).
    * The blocking-key space is FIXED (prefix alphabet × length bands),
    * so block-local pair counts grow quadratically with the corpus —
    * at larger scale, raise `prefixLen` (each extra char multiplies
    * key cardinality by the alphabet size and divides per-block pairs
    * accordingly, at the documented recall trade-off: pairs whose
    * edit distance touches the prefix are missed).
    *
    * `salts > 1` additionally splits the LEFT side of each block
    * holding more than `saltHotOnlyAbove` left rows (0 = every occupied
    * block) across `salts` sub-keys, the right side of those blocks
    * replicated per salt — the result set is identical, but a
    * boilerplate-heavy hot block's n_l × n_r edit-distance work spreads
    * over `salts` tasks instead of one. The right-side replication cost
    * is `salts ×` on the hot blocks' (id, key) projection only, the
    * standard trade for bounding the straggler; AQE's skew split does
    * the same for reducer-side bytes but cannot split the per-task CPU
    * of one hot block's quadratic verify loop.
    */
  def blockedFuzzyJoin(left: DataFrame, right: DataFrame,
                       leftCol: String, rightCol: String,
                       maxDist: Int,
                       salts: Int = 1, prefixLen: Int = 1,
                       saltHotOnlyAbove: Long = 0L,
                       partitions: Int = 0): DataFrame = {
    require(salts >= 1, "salts must be >= 1")
    require(prefixLen >= 1, "prefixLen must be >= 1")
    requireJoinable(left, right, maxDist, "blockedFuzzyJoin",
      "__c", "__s", "__hot")
    val (l0, r0) = lengthBands(
      left.withColumn("__c", substring(col(leftCol), 1, prefixLen)),
      right.withColumn("__c", substring(col(rightCol), 1, prefixLen)),
      leftCol, rightCol, maxDist)
    // Salt ONLY the blocks whose left-side occupancy exceeds
    // `saltHotOnlyAbove`: salting every block would replicate the whole
    // right side `salts`×, which scales with the CORPUS; the hot blocks
    // of a head-heavy corpus are a broadcastable handful of keys, so
    // the replication scales with the HOT MASS instead (the 100×
    // replica: 69 M → ~7 M salted right rows for the same per-task
    // pair bound). Cold blocks keep salt 0 on both sides — the pair set
    // is bit-identical either way.
    // Salt assignment hashes the WHOLE left row (every left column,
    // which in practice includes the caller's stable id) rather than
    // the key alone: an exact-duplicate-heavy hot block (many copies of
    // ONE string) would otherwise send every row to the same salt and
    // keep its straggler despite salts=N. The hash is DETERMINISTIC in
    // row content — a recomputed map task under a partial stage retry
    // re-draws the identical salt, so the result is stable on a
    // 1000-executor deployment with fetch-failure recomputation (the
    // SPARK-23207 hazard a monotonically_increasing_id() component
    // would reintroduce: nondeterministic shuffle keys under partial
    // recompute). The residual caveat is FULLY identical left rows (no
    // distinguishing id): those share a salt — they are exact
    // duplicates, which the dedup battery removes upstream.
    val (l, r) =
      if (salts == 1) (l0.withColumn("__s", lit(0L)),
        r0.withColumn("__s", lit(0L)))
      else {
        val hot = l0.groupBy(col("__c"), col("__b"))
          .agg(count(lit(1)).as("__n"))
          .filter(col("__n") > saltHotOnlyAbove)
          .select(col("__c"), col("__b"), lit(1).as("__hot"))
        val lS = l0.join(broadcast(hot), Seq("__c", "__b"), "left")
          .withColumn("__s", when(col("__hot").isNotNull,
            pmod(xxhash64(left.columns.map(col).toSeq: _*), lit(salts)))
            .otherwise(lit(0L)))
          .drop("__hot")
        val rS = r0.join(broadcast(hot), Seq("__c", "__b"), "left")
          .withColumn("__s", explode(when(col("__hot").isNotNull,
            sequence(lit(0L), lit(salts - 1L))).otherwise(array(lit(0L)))))
          .drop("__hot")
        (lS, rS)
      }
    // `partitions > 0` (deriveFuzzyBlocking's third knob) widens the
    // verify join's shuffle so per-task sorted streams of key strings
    // fit executor memory at replica scale — the q_graph_triangles
    // derived-granularity rule (VERDICT r9 #4). The explicit
    // repartition by the join keys REPLACES the join's own exchanges
    // (the join consumes the partitioning), so gate-scale plans are
    // unchanged when the derivation degenerates to the session
    // constant. Results are identical at any partition count
    // (ScaleOpsSpec pins this).
    val lj = widenIfAbove(l, partitions, col("__c"), col("__b"), col("__s"))
    val rj = widenIfAbove(r, partitions, col("__c"), col("__b"), col("__s"))
    verifyEditDistance(lj.join(rj, Seq("__c", "__b", "__s")),
      leftCol, rightCol, maxDist)
      .drop("__c", "__b", "__s")
  }

  /** Tombstone-delete over an incremental index table (VERDICT r16
    * missing #2): the delete dual of the frozen-codebook append. A
    * 100 TB pipeline takes removals — takedowns, right-to-be-
    * forgotten, retracted crawls — and rebuilding the index per
    * takedown is the same full-corpus pass the incremental ingest
    * exists to avoid. Instead deleted ids live in a tombstone table
    * and every index read subtracts them with ONE anti-join. Because
    * postings (cells/codes rows) are pure per-id functions of the
    * FROZEN codebook, `index ∖ tombstones` is exactly the index a
    * from-scratch rebuild over the surviving ids would produce —
    * `q_ann_delete` PROVES that equality cross-engine (the DuckDB
    * oracle rebuilds without the deleted rows; hash match =
    * tombstone==rebuild, the exact dual of `q_ann_incremental`'s
    * ingest proof).
    *
    * Scale shape: the tombstone set is takedown-sized (≪ corpus) —
    * broadcast it so the anti-join is a map-side hash probe on every
    * index partition, no shuffle of the index itself. A tombstone set
    * too big to broadcast is a sign to compact instead of carrying it:
    * measured break-even is 2–6 reads in both the cached and the
    * file-backed regime (BASELINE.md "Tombstone carry-vs-compact
    * crossover, r17" and "Cold-file compaction regime, r18"). */
  def tombstone(index: DataFrame, tombstones: DataFrame,
                idCol: String): DataFrame =
    index.join(broadcast(tombstones.select(col(idCol)).distinct()),
      Seq(idCol), "left_anti")

  /** Exact, bit-DETERMINISTIC quantiles of a long column — the
    * adaptive-policy primitive `approxQuantile` cannot provide
    * (VERDICT r10 #2): a Greenwald–Khanna sketch's result depends on
    * partition merge order, so a pipeline cutting at "the corpus' own
    * 2/3 quantile" was not oracle-replayable. This operator's result
    * depends only on the value MULTISET: type-1 / inverse-CDF
    * semantics, `value(p) = min v such that |{x ≤ v}| ≥ ceil(p·n)`,
    * nulls excluded.
    *
    * Returns one row per requested p: `(p double, value long)`.
    *
    * Scale shape: one map-side-combining groupBy collapses the corpus
    * to (value, count) rows, and the cumulative sum then runs over
    * DISTINCT values only — for integer-SCALED scores (the intended
    * callers: `floor(score·10⁴)` grids) that table is bounded by the
    * grid's span, not the corpus, so the single-partition ordered
    * window is a deliberate, bounded choice (the same
    * small-by-construction contract as the broadcast stat tables).
    * Totals and cut rows are 1-row broadcasts; corpus rows are never
    * globally sorted.
    *
    * Evaluation contract (ADVICE r12): this function is EAGER — the
    * total/cardinality aggregate runs at CALL time (one job over the
    * grouped counts), even if the returned DataFrame is never
    * executed, because the grid-contract check must observe the
    * distinct-value cardinality before the plan is handed back. All
    * in-tree callers execute the result immediately (the cut is a
    * driver scalar), so the former lazy 1-row-crossJoin plan bought
    * them nothing; a caller that needs laziness should compute the
    * cumulative table itself. */
  /** Distinct-value cardinality past which [[exactQuantiles]] warns:
    * the cumulative window runs single-partition over the distinct
    * table, so a caller violating the integer-grid contract (raw
    * high-cardinality longs) would silently serialize it through one
    * task — make the violation observable (ADVICE r11). */
  val ExactQuantilesGridWarnAt: Long = 10L * 1000 * 1000

  def exactQuantiles(df: DataFrame, c: String, ps: Seq[Double]): DataFrame = {
    require(ps.nonEmpty && ps.forall(p => p > 0.0 && p <= 1.0),
      "quantile fractions must be in (0, 1]")
    import org.apache.spark.sql.expressions.Window
    val counts = df.filter(col(c).isNotNull)
      .groupBy(col(c).cast("long").as("v")).agg(count(lit(1)).as("cnt"))
    // one eager aggregate gives BOTH the total (previously a lazy
    // 1-row crossJoin — same number of passes over df either way) and
    // the distinct-value cardinality the grid contract needs checked
    val totRow = counts.agg(sum(col("cnt")).as("n"),
      count(lit(1)).as("nv")).head()
    val n = if (totRow.isNullAt(0)) 0L else totRow.getLong(0)
    val nv = totRow.getLong(1)
    if (nv > ExactQuantilesGridWarnAt)
      org.slf4j.LoggerFactory.getLogger(getClass).warn(
        s"exactQuantiles($c): $nv distinct values exceed the integer-grid " +
          s"contract bound ($ExactQuantilesGridWarnAt); the cumulative " +
          "window will serialize them through ONE task — scale the column " +
          "to a bounded grid (e.g. floor(score*1e4)) before calling")
    // distinct-value table: grid-bounded by contract (see scaladoc)
    val cum = counts.withColumn("cum",
      sum(col("cnt")).over(Window.orderBy(col("v"))))
    val ptab = df.sparkSession.createDataFrame(
      ps.map(Tuple1(_))).toDF("p")
    // ceil(p·n) in IEEE double then long — an oracle replays the same
    // expression bit-for-bit (CAST(ceiling(p * n) AS BIGINT))
    cum.crossJoin(broadcast(ptab))
      .filter(col("cum") >=
        ceil(col("p") * lit(n).cast("double")).cast("long"))
      .groupBy(col("p")).agg(min(col("v")).as("value"))
  }

  /** DATA-derived gram width + shuffle granularity for
    * [[qgramFuzzyJoin]] (the deriveFuzzyBlocking pattern), returned as
    * `(q, partitions, avgDf, vocab)`. Recall is exact for ANY q (the
    * prefix theorem is width-independent), so q is a PHYSICAL knob,
    * and the right value is corpus-dependent — the candidate volume a
    * width buys is `n · (q·maxDist+1) · avgDf(q)` where
    * `avgDf(q) = grams/vocab(q)` is the mean postings-list length. On
    * the 10× replica the probe measured exactly the predicted ordering
    * (q=2: vocab 142, avgDf 9591, 138.6 s; q=4: vocab 1782, avgDf 708,
    * 52.7 s — identical 210 429 pairs at every q; measured r11 — no
    * committed artifact holds the 10× sweep, the 100× vocabulary is in
    * BASELINE.md "Exact edit-distance joins, r11"). Walks q upward
    * while the predicted volume keeps strictly improving; `qMax`
    * defaults to 4 because the short-string fallback absorbs keys
    * under `q·(maxDist+1)` chars — at q=5, d=4 that is 25 chars,
    * swallowing typical first-4-words keys whole.
    *
    * The chosen width's measured mean postings-list length `avgDf`
    * (floor) routes [[qgramFuzzyJoin]]'s `dfOrder` knob (r20): at
    * avgDf ≈ 1 every gram is already df-rare, so the df-ascending
    * prefix order buys no candidate selectivity while its plan costs
    * a full-gram aggregate plus one join per side. The chosen width's
    * measured VOCAB (distinct gram count) gates [[qgramFuzzyJoin]]'s
    * collected-df-map path (`dfVocab`): a df-ordered corpus has a
    * small vocabulary by construction (avgDf = grams/vocab ≥ 2 is
    * what routed it here). Two driver jobs in all. */
  def deriveQgramPlan(df: DataFrame, c: String, maxDist: Int,
                      qMax: Int = 4): (Int, Int, Long, Long) = {
    require(qMax >= 1)
    // TWO driver jobs total (r20, guide §1.2: at gate scale this
    // derivation's cost was per-job latency, not compute — the old
    // shape ran 1 count + up to qMax gram aggregates + 1 row aggregate
    // sequentially): one row-level aggregate for (n, key bytes), and
    // ONE exploded-gram aggregate computing (total, vocab) for every
    // candidate width in a single corpus pass — at 100 TB that single
    // pass also replaces qMax full re-scans of the key column.
    val (n, keyBytes, _) = keyStats(df, c)
    // guard sequence(1, 0): Spark's sequence DESCENDS when start >
    // stop, so an unguarded bound of 0 emits two phantom grams
    // (positions 1 and 0) for every string shorter than q, inflating
    // total/vocab and skewing avgDf (ADVICE r11)
    val stats: Map[Int, (Long, Long)] = df.select(explode(flatten(transform(
        sequence(lit(1), lit(qMax)),
        qc => transform(
          when(length(col(c)) >= qc,
            sequence(lit(1), length(col(c)) - qc + lit(1)))
            .otherwise(array().cast("array<int>")),
          i => struct(qc.as("__q"), col(c).substr(i, qc).as("__g")))))).as("__t"))
      .select(col("__t")("__q").as("__q"), col("__t")("__g").as("__g"))
      .groupBy(col("__q"))
      .agg(count(lit(1)).as("t"), count_distinct(col("__g")).as("v"))
      .collect().map(r => r.getInt(0) -> (r.getLong(1), r.getLong(2))).toMap
    def predicted(q: Int): Long = {
      // a width all strings are shorter than contributes no grams and
      // is absent from the grouped stats — same (0, 0) the per-q
      // aggregate used to return
      val (total, vocab) = stats.getOrElse(q, (0L, 0L))
      n * (q.toLong * maxDist + 1L) * (total / math.max(vocab, 1L))
    }
    var q = 1
    var best = predicted(1)
    while (q < qMax && { val p = predicted(q + 1); p < best && { best = p; true } })
      q += 1
    val (total, vocab) = stats.getOrElse(q, (0L, 0L))
    // candidate-join granularity from the PREFIX-gram table it shuffles:
    // q·d+1 rows per string of key + ~48 B of id/gram bookkeeping, the
    // right side ×9 through the band × position-bucket explode (×10)
    val np = deriveShufflePartitions(df.sparkSession,
      (keyBytes + 48L * n) * (q.toLong * maxDist + 1L) * 10L)
    (q, np, total / math.max(vocab, 1L), vocab)
  }

  /** Guaranteed-recall edit-distance join (Ed-Join family: Xiao, Wang,
    * Lin, VLDB'08 — positional q-grams + count/prefix filtering) — the
    * subquadratic replacement for [[blockedFuzzyJoin]]'s fixed
    * (first-chars × length-band) blocking key. Candidate volume here
    * scales with GRAM RARITY, not a fixed key alphabet, and recall is
    * EXACT: the result equals the brute-force
    * `levenshtein ≤ maxDist` join on distinct input rows
    * (ScaleOpsSpec pins this against brute force; the battery gate's
    * oracle IS the brute-force join — the same contract as
    * DedupQueries.prefixFilterPairs for set similarity).
    *
    * Why it is exact (the theorem chain, self-contained):
    *  1. An edit operation destroys at most `q` of a string's
    *     positional q-grams, so `ed(s,t) ≤ d` implies a matching of
    *     ≥ `max(|Gs|,|Gt|) − q·d` gram pairs — equal gram value,
    *     positions within `d` (a preserved gram shifts ≤ d).
    *  2. Order every string's grams by the SHARED total order
    *     (corpus df, gram, position) and keep the first
    *     `q·d + 1` as its prefix. If some matched pair lands in both
    *     prefixes, the candidate equi-join on (gram, |Δpos| ≤ d)
    *     finds the pair. Otherwise the standard counting argument
    *     forces a matched pair (e ∈ prefix_s, f ∈ suffix_t) and one
    *     (e' ∈ suffix_s, f' ∈ prefix_t); the order chain
    *     key(e') = key(f') ≤ key(f) = key(e) ≤ key(e') collapses all
    *     four to ONE gram value, and the position chain
    *     p_e ≤ p_e' ≤ p_f' + d, p_f' ≤ p_f ≤ p_e + d then puts
    *     (e, f') — both IN their prefixes — within distance d. Either
    *     way the join emits the pair; banded `levenshtein` verify
    *     removes false positives, so result == brute force.
    *  3. Strings too short for the bound (`max(|Gs|,|Gt|) ≤ q·d`,
    *     i.e. BOTH sides shorter than `q·(d+1)` chars) carry no
    *     guarantee from grams — they go through a bounded
    *     length-band equi-join instead (band width d, right side
    *     explodes ±1: the [[blockedFuzzyJoin]] band-completeness
    *     argument with no prefix key at all). A short×long pair needs
    *     no fallback: the long side's bound gives overlap ≥ 1 and the
    *     short side's prefix is ALL its grams.
    *
    * Spark shape: gram df = one groupBy over the exploded grams of
    * both sides; per-string prefixes = groupBy(row) + sort_array +
    * slice (no window, no UDF — `transform`/`substr` build the gram
    * arrays in codegen); candidates = one equi-join on the gram
    * value; verify = thresholded banded levenshtein. Skew note: the
    * candidate join's hot keys are the df-RAREST grams by
    * construction — the df ordering is itself the skew defense, which
    * is exactly what the fixed first-char key could never provide.
    *
    * Contract differences vs [[blockedFuzzyJoin]]: input rows must be
    * DISTINCT on each side (callers join on a unique id; duplicate
    * rows would collapse to one candidate — the dedup battery removes
    * exact duplicates upstream), and output pair order is unspecified
    * (sort downstream).
    *
    * Output = all left columns + all right columns + `dist`
    * (long edit distance ≤ maxDist); names must not collide.
    */
  /** `dfVocab ≥ 0` declares the measured distinct-gram count (from
    * [[deriveQgramPlan]]): when the df table provably fits a small
    * heap budget, it is COLLECTED once into a broadcast map and the
    * df-ordered prefix becomes a per-row expression — no gram explode,
    * no df join, no collect_list re-group exchange per side (the same
    * shuffle the no-df path already avoids). The collect runs ONE
    * eager job at construction time (the same df aggregate the lazy
    * plan ran at execution time); candidates may differ from the
    * join-path order on non-ASCII grams (both are occurrence-
    * consistent total orders, so the verified result is identical —
    * the recall theorem never names a specific order). -1 (default)
    * keeps the fully lazy join+re-group plan. */
  def qgramFuzzyJoin(left: DataFrame, right: DataFrame,
                     leftCol: String, rightCol: String,
                     maxDist: Int, q: Int = 2,
                     partitions: Int = 0,
                     dfOrder: Boolean = true,
                     dfVocab: Long = -1L): DataFrame = {
    require(q >= 1, "q must be >= 1")
    requireJoinable(left, right, maxDist, "qgramFuzzyJoin",
      "__g", "__gp", "__p", "__df", "__pl", "__pr", "__pb", "__parr")
    val d = maxDist
    val prefLen = q * d + 1
    val shortLen = q * (d + 1) // len < shortLen ⇔ gram count ≤ q·d

    // positional q-grams as an in-codegen array expression: element i
    // of the array is (substr(s, i, q), i) — no UDF, no explode yet
    // when-guarded: sequence(1, 0) would DESCEND to [1, 0] and emit two
    // phantom grams for strings shorter than q (recall-safe — such
    // strings ride the short fallback and verify removes false
    // positives — but the phantoms inflate the df table; ADVICE r11)
    def gramsOf(c: String): Column =
      transform(
        when(length(col(c)) >= q,
          sequence(lit(1), length(col(c)) - lit(q - 1)))
          .otherwise(array().cast("array<int>")),
        i => struct(col(c).substr(i, lit(q)).as("g"), i.as("p")))
    val lg = left.withColumn("__gp", gramsOf(leftCol))
    val rg = right.withColumn("__gp", gramsOf(rightCol))

    // the SHARED global order: corpus-wide gram document frequency over
    // BOTH sides (any fixed order preserves recall — df-ascending is
    // the Ed-Join performance choice: rare grams head the prefixes, so
    // candidate lists stay short).
    // `dfOrder = false` (r20, routed by deriveQgramPlan's measured
    // avgDf): on a gram-diverse corpus every posting list is already
    // ~1 long — df can't make prefixes any rarer, yet attaching it
    // costs this full-gram aggregate (one exchange over ~2·|G|·n gram
    // rows) plus one join per side. The order falls back to plain
    // (gram, pos) — a deterministic function of the occurrence, so it
    // is exactly as occurrence-consistent as (df, gram, pos) and the
    // recall theorem is untouched (ScaleOpsSpec pins both orders
    // against brute force). Lazy: when unused the aggregate never
    // executes.
    val dfTab = lg.select(explode(col("__gp")("g")).as("__g"))
      .unionByName(rg.select(explode(col("__gp")("g")).as("__g")))
      .groupBy(col("__g")).agg(count(lit(1)).as("__df"))

    // per-row prefix: explode positional grams, attach df, re-group by
    // the (distinct-by-contract) original row, sort by (df, gram, pos)
    // — the occurrence-consistent total order the theorem needs — and
    // keep the SHORTEST prefix whose grams cost > d edits to destroy
    // (Ed-Join's location-based prefix reduction, r20), capped by the
    // classic q·d+1 bound.
    //
    // Why the reduced prefix is still exact (extends the scaladoc's
    // theorem chain): an edit at character j destroys only grams whose
    // start position lies in [j−q+1, j] — a width-q window — so the
    // minimum number of edits that can destroy a gram SET is the
    // greedy interval point-stabbing count over its sorted positions
    // (count a new edit whenever the next start position exceeds the
    // previous edit's cover p+q−1). If a prefix P(s) needs > d edits
    // to destroy, then under ed(s,t) ≤ d SOME gram of P(s) survives
    // into t (value preserved, |Δpos| ≤ #indels ≤ d) — which is the
    // only fact case (a) of the counting argument uses; cases (b)'s
    // order/position chains never reference the prefix LENGTH, so the
    // whole proof goes through verbatim with both sides reduced. The
    // q·d+1 form is the degenerate worst case of the same bound
    // (maximally overlapping grams: d edits destroy at most q·d), so
    // the reduced prefix is always ≤ q·d+1 grams — any q·d+1 distinct
    // start positions already need ≥ d+1 stabs — and equals it when
    // q = 1. Short strings whose FULL gram set still costs ≤ d edits
    // keep every gram (their recall rides the partner's bound or the
    // short×short fallback, exactly as before).
    //
    // The stabbing count is computed by a tiny scalar UDF over the
    // sorted gram structs (≤ q·d+1 rows inspected, O(prefLen²) integer
    // work worst case): higher-order expressions (transform/filter/
    // aggregate) are evaluated INTERPRETED, and the expression form of
    // this loop — 17 slice+sort+aggregate evaluations per row —
    // measured +11 % on the 10× high-entropy replica. The UDF takes
    // the struct array DIRECTLY (no interpreted transform feeding it)
    // and short-circuits: one greedy pass over the first
    // min(|G|, q·d+1) positions decides whether ANY cut exists — on
    // the 20-char high-entropy gate corpus a stabbing count > d needs
    // positions exactly {1, q·1+1, …, q·d+1}, so the classic cap is
    // returned after a single O(prefLen log prefLen) pass and the
    // incremental search never runs. When no cut exists the answer is
    // the classic q·d+1 cap (NOT the full gram list — the first r20
    // draft returned |G| here, handing long strings a LONGER prefix
    // than the pre-Ed-Join code). One UDF call per INPUT ROW (not per
    // candidate), on the small grouped table, never in the candidate
    // stream.
    val locPrefixLen = udf((arr: Seq[Row]) => {
      val upTo = math.min(arr.length, prefLen)
      val ps = new Array[Int](upTo)
      var i = 0
      // position is the LAST struct field on both prefix shapes:
      // (__df, __g, __p) on the df path, (g, p) on the array path
      while (i < upTo) { ps(i) = arr(i).getInt(arr(i).size - 1); i += 1 }
      // greedy max-disjoint-intervals count == min edits destroying
      // every gram whose start is in ps (width-q destruction windows)
      def stab(sorted: Array[Int], n: Int): Int = {
        var cnt = 0
        var cov = Int.MinValue
        var j = 0
        while (j < n) {
          if (sorted(j) > cov) { cnt += 1; cov = sorted(j) + q - 1 }
          j += 1
        }
        cnt
      }
      val all = java.util.Arrays.copyOf(ps, upTo)
      java.util.Arrays.sort(all)
      if (stab(all, upTo) <= d) upTo // no cut possible (monotone)
      else {
        // smallest L with stab(first L) > d — insertion-sorted scan
        val buf = new Array[Int](upTo)
        var L = 0
        var ans = upTo
        while (ans == upTo && L < upTo) {
          // insert ps(L) into buf[0..L) keeping it sorted
          var k = L
          while (k > 0 && buf(k - 1) > ps(L)) { buf(k) = buf(k - 1); k -= 1 }
          buf(k) = ps(L)
          L += 1
          if (stab(buf, L) > d) ans = L
        }
        ans
      }
    })
    // Collected-df-map path (r20): when the caller's measured vocab
    // bounds the df table under a conservative heap slice, run the df
    // aggregate ONCE as a driver job, broadcast the map, and make the
    // df-ordered sorted gram array a per-row expression — the explode
    // + df join + collect_list re-group exchange vanish from BOTH
    // sides (the same two exchanges the no-df path sheds). The df
    // values are the exact same counts the lazy join attached; the
    // in-UDF tuple sort is a total order consistent across both sides
    // (Scala string order can differ from UTF8 binary order on
    // non-ASCII grams, which moves CANDIDATES, never verified
    // matches). 48 B/entry covers map node + boxed count; ×2 (half the
    // 1/16-heap broadcast budget, i.e. 1/32) keeps the broadcast a
    // rounding error beside the candidate join.
    val ss = left.sparkSession
    val dfAsMap = dfOrder && dfVocab >= 0 &&
      fitsBroadcast(ss, 2L * dfVocab * (q.toLong + 48L))
    lazy val dfSortedArr = {
      val m = new java.util.HashMap[String, Long](
        math.max(16, (dfVocab * 2).toInt))
      dfTab.collect().foreach(r => m.put(r.getString(0), r.getLong(1)))
      val b = broadcastPinned(ss, m)
      udf((arr: Seq[Row]) => {
        val out = new Array[(Long, String, Int)](arr.length)
        var i = 0
        while (i < arr.length) {
          val r = arr(i)
          val gv = r.getString(0)
          out(i) = (b.value.get(gv), gv, r.getInt(1))
          i += 1
        }
        scala.util.Sorting.quickSort(out)
        out.toSeq
      })
    }
    def prefixGrams(g: DataFrame, posAs: String): DataFrame = {
      val orig = g.columns.filter(_ != "__gp").map(col).toSeq
      def prefixOf(arr: Column): Column =
        slice(arr, lit(1), locPrefixLen(arr))
      if (dfAsMap) {
        g.withColumn("__parr", dfSortedArr(col("__gp")))
          .select(orig :+ explode(prefixOf(col("__parr"))).as("__gp"): _*)
          .select(orig :+ col("__gp")("_2").as("__g")
            :+ col("__gp")("_3").as(posAs): _*)
      } else if (!dfOrder) {
        // No df to attach ⇒ the sorted gram array is a PER-ROW
        // function of `__gp`, already in hand — sorting the raw
        // (g, p) structs gives exactly the (df=0, g, p) order the
        // grouped path produced, so the prefix (and therefore the
        // candidate set) is bit-identical. This removes the widest
        // exchange in the no-df plan: the old shape exploded
        // ~(q·d+1…len) gram rows per string, each carrying the full
        // key, and shuffled them back into a collect_list groupBy
        // purely to recover the array it started from (guide §2.4 —
        // an exchange whose output equals its input regrouped).
        g.withColumn("__parr", array_sort(col("__gp")))
          .select(orig :+ explode(prefixOf(col("__parr"))).as("__gp"): _*)
          .select(orig :+ col("__gp")("g").as("__g")
            :+ col("__gp")("p").as(posAs): _*)
      } else {
        val exploded = g.select(orig :+ explode(col("__gp")).as("__gp"): _*)
          .select(orig :+ col("__gp")("g").as("__g")
            :+ col("__gp")("p").as("__p"): _*)
        exploded.join(dfTab, "__g")
          .groupBy(orig: _*)
          .agg(array_sort(collect_list(
            struct(col("__df"), col("__g"), col("__p")))).as("__parr"))
          .select(orig :+ explode(prefixOf(col("__parr"))).as("__gp"): _*)
          .select(orig :+ col("__gp")("__g").as("__g")
            :+ col("__gp")("__p").as(posAs): _*)
      }
    }
    // Ed-Join's LOCATION filter moved INTO the join key: a preserved
    // gram shifts position by ≤ d and the pair's lengths differ by
    // ≤ d, so with bucket width d the partner's length band and
    // position bucket each differ by at most 1 — the right side emits
    // its 3×3 neighborhood (×9 replication of small rows) and the
    // equi-join key becomes (gram, band, posBucket), dividing each
    // gram's postings join by the occupied cell count instead of
    // filtering the products afterwards. A matching right row's 9
    // replicas land in 9 DISTINCT cells, so a pair still meets at
    // most once per shared prefix gram.
    val pl = prefixGrams(lg, "__pl")
      .withColumn("__b", bandOf(length(col(leftCol)), d))
      .withColumn("__pb", bandOf(col("__pl"), d))
    val pr = prefixGrams(rg, "__pr")
      .withColumn("__b", bandNeighbours(bandOf(length(col(rightCol)), d)))
      .withColumn("__pb", bandNeighbours(bandOf(col("__pr"), d)))
    // derived granularity for the candidate join (deriveQgramPlan at
    // call sites): the explicit repartition REPLACES the join's own
    // exchange; no-op at gate scale (widenIfAbove)
    val plW = widenIfAbove(pl, partitions, col("__g"), col("__b"), col("__pb"))
    val prW = widenIfAbove(pr, partitions, col("__g"), col("__b"), col("__pb"))
    val gramCand = plW.join(prW, Seq("__g", "__b", "__pb"))
      .filter(abs(col("__pl") - col("__pr")) <= d)
      .drop("__g", "__b", "__pb", "__pl", "__pr")

    // short×short fallback (theorem step 3): bounded by construction —
    // every key here is < q·(d+1) chars
    val shortCand = lengthBandJoin(
      left.filter(length(col(leftCol)) < shortLen),
      right.filter(length(col(rightCol)) < shortLen), leftCol, rightCol, d)

    // VERIFY before dedup: the candidate stream pipelines from the
    // join straight through the length probe and the banded
    // O(len·d) levenshtein inside one stage — it never shuffles. Only
    // the MATCHED pairs (tiny by comparison) reach the distinct, so
    // the dedup exchange carries matches, not candidates. A near-dup
    // pair meeting through k shared prefix grams is verified k times —
    // k ≤ q·d+1 extra verifies on the small matched set, orders less
    // work than shuffling the full candidate volume (measured 1.9× on
    // the 10× replica in r11; no committed artifact holds that run).
    verifyEditDistance(gramCand.unionByName(shortCand), leftCol, rightCol, d)
      .dropDuplicates()
  }

  /** Physical plan choice for [[segmentFuzzyJoin]]'s candidate join:
    * broadcast the (small, `maxDist+1` rows per string) segment index
    * when it fits a conservative heap fraction, else a derived-width
    * shuffle join. One cheap aggregate, the deriveFuzzyBlocking
    * pattern — recall does not depend on the choice. */
  final case class SegmentJoinPlan(broadcastIndex: Boolean, partitions: Int)

  /** Derive [[SegmentJoinPlan]] from the index-side key column: the
    * hydrated broadcast estimate is `maxDist+1` segment rows per
    * string, each carrying the original row (~key bytes + 48 B of id
    * bookkeeping) plus its segment slice, ×2 for JVM object overhead
    * in the in-memory relation. Broadcast while that fits a 1/16 heap
    * budget (every task slot holds one copy of the hashed relation
    * plus its probe stream); past it — the genuinely-large-left-side
    * regime a 100 TB corpus is in — fall back to a shuffle join whose
    * width comes from [[deriveShufflePartitions]] over the probe
    * table's in-flight bytes (≈ `(2·maxDist+1)²` windowed substring
    * rows per probe string, each carrying the full key). */
  def deriveSegmentJoin(df: DataFrame, c: String, maxDist: Int): SegmentJoinPlan = {
    val (n, keyBytes, _) = keyStats(df, c)
    val m = maxDist.toLong + 1L
    val idxBytes = (keyBytes + 48L * n) * m * 2L
    val ss = df.sparkSession
    val probeRows = (2L * maxDist + 1L) * (2L * maxDist + 1L)
    val probeBytes = (keyBytes + 48L * n) * probeRows
    SegmentJoinPlan(fitsBroadcast(ss, idxBytes),
      deriveShufflePartitions(ss, probeBytes))
  }

  /** Guaranteed-recall edit-distance join by DISJOINT-segment
    * pigeonholing (Pass-Join family: Li, Deng & Feng, ICDE'11) — the
    * low-entropy-corpus complement to [[qgramFuzzyJoin]]. Both are
    * exact (result == the brute-force `levenshtein ≤ maxDist` join on
    * distinct rows; ScaleOpsSpec pins both against the same brute
    * force), but their candidate volumes are bounded by different
    * corpus statistics: q-gram prefix filtering degrades when the
    * gram vocabulary is small (generated/templated text: the 100×
    * documents corpus measures vocab 4 782 over 14.8 M 4-gram
    * occurrences — mean postings 3 090, predicted candidates 2.6e10),
    * while segment matching keys on EXACT `len/(d+1)`-char substrings
    * at length-aligned positions, whose selectivity survives a small
    * word alphabet (measured 474 685 distinct (len, seg) values over
    * the same corpus' 2.5 M segment rows).
    *
    * Why it is exact: split each left string s into `d+1` DISJOINT
    * segments (even split, longer segments last). An edit script of
    * ≤ d operations touches at most d segments, so some segment i is
    * untouched and maps IDENTICALLY to a substring of r starting at
    * `st = p_i + δ`. Aligning prefixes and suffixes around that match
    * gives `|δ| + |Δ − δ| ≤ d` where `Δ = |r| − |s|` — so probing r's
    * substrings of segment length at `δ ∈ [⌈(Δ−d)/2⌉, ⌊(Δ+d)/2⌋]`
    * (≤ d+1 starts per segment) over partner lengths `|r|−d ≤ |s| ≤
    * |r|+d` finds every true pair; banded `levenshtein` verify then
    * removes false positives. Left strings shorter than `d+1` chars
    * have zero-length segments the pigeonhole cannot use — they take
    * a bounded length-band fallback (the [[qgramFuzzyJoin]] step-3
    * argument; such strings only pair with rights shorter than
    * `2d+1` chars).
    *
    * Spark shape — the property that makes this the 100 TB plan: the
    * candidate join needs NO pre-join shuffle at all in the common
    * case. The segment index is `d+1` rows per left string; under
    * [[deriveSegmentJoin]]'s heap budget it broadcasts, and the probe
    * side's windowed substrings are GENERATED inside the scan stage
    * (one `explode` over an in-codegen array — never materialized),
    * stream through the broadcast hash join and the banded-levenshtein
    * verify in the same stage, and only MATCHED pairs reach the
    * dedup exchange. Past the broadcast budget both sides hash-join
    * at derived width — still shuffling `O(d²)` small rows per
    * string, never candidates.
    *
    * Contract: same as [[qgramFuzzyJoin]] — distinct input rows,
    * non-colliding column names, output = left ++ right ++ `dist`,
    * pair order unspecified.
    *
    * `symmetric = true` declares the SELF-JOIN contract: left and
    * right are the same relation under a positional column rename
    * (column i of left corresponds to column i of right). The probe
    * then only visits partner lengths ≤ its own (each unordered pair
    * is found once, from its longer side) and every verified match is
    * re-emitted mirrored — halving probe and verify work, which is
    * where this operator's time goes (the 100× replica measured
    * 1.4e9 candidate verifies). Results are identical to the
    * asymmetric run (ScaleOpsSpec pins it).
    */
  def segmentFuzzyJoin(left: DataFrame, right: DataFrame,
                       leftCol: String, rightCol: String,
                       maxDist: Int,
                       broadcastIndex: Boolean = true,
                       partitions: Int = 0,
                       symmetric: Boolean = false): DataFrame = {
    requireJoinable(left, right, maxDist, "segmentFuzzyJoin",
      "__l", "__i", "__g", "__sp")
    val d = maxDist
    val m = d + 1 // disjoint segments; pigeonhole needs edits < m

    // even-split segmentation of a length-l string, longer segments
    // last (the Pass-Join convention): base = ⌊l/m⌋, k = l mod m;
    // segment i ∈ [1, m] has length base+1 iff i > m−k, and starts at
    // (i−1)·base + max(0, i−1−(m−k)) + 1 — all in-codegen integer
    // arithmetic on the length column
    def segLen(l: Column, i: Column): Column =
      floor(l / m).cast("int") +
        when(i > lit(m) - (l % m), lit(1)).otherwise(lit(0))
    def segPos(l: Column, i: Column): Column =
      ((i - 1) * floor(l / m).cast("int") +
        greatest(lit(0), i - 1 - (lit(m) - (l % m))) + lit(1)).cast("int")

    // index side: m segment rows per string of length ≥ m, keyed by
    // (exact length, segment ordinal, segment text)
    val ll = length(col(leftCol))
    val idx = left.filter(ll >= m)
      .select(left.columns.map(col) :+ ll.as("__l") :+ explode(
        transform(sequence(lit(1), lit(m)),
          i => struct(i.as("i"),
            col(leftCol).substr(segPos(ll, i), segLen(ll, i)).as("g"))))
        .as("__sp"): _*)
      .select(left.columns.map(col) :+ col("__l")
        :+ col("__sp")("i").as("__i") :+ col("__sp")("g").as("__g"): _*)

    // probe side: for each partner length l2 = |r|−Δ (Δ ∈ [−d, d],
    // l2 ≥ m) and segment i of THAT length's segmentation, the
    // window-bounded substrings substr(r, p_i+δ, len_i) — built as one
    // in-codegen nested array and exploded once; out-of-range starts
    // are dropped by the post-explode filter (cheap: the array is
    // ≤ (2d+1)·m·(d+1) structs)
    require(!symmetric || left.columns.length == right.columns.length,
      "symmetric mode needs positionally-corresponding left/right columns")
    val lr = length(col(rightCol))
    // symmetric: Δ = |r| − l2 ≥ 0 only — the pair is discovered from
    // its LONGER side once, and the mirror union below restores the
    // other orientation
    val probeArr = flatten(transform(
      sequence(lit(if (symmetric) 0 else -d), lit(d)), { dl =>
      val l2 = (lr - dl).cast("int")
      flatten(transform(sequence(lit(1), lit(m)), { i =>
        val p = segPos(l2, i)
        val sl = segLen(l2, i)
        val lo = ceil((dl - lit(d)).cast("double") / 2.0).cast("int")
        val hi = floor((dl + lit(d)).cast("double") / 2.0).cast("int")
        transform(sequence(lo, hi), { delta =>
          val st = p + delta
          struct(l2.as("l"), i.as("i"), st.as("st"), sl.as("sl"),
            col(rightCol).substr(st, sl).as("g"))
        })
      }))
    }))
    val probe = right
      .select(right.columns.map(col) :+ explode(probeArr).as("__sp"): _*)
      .filter(col("__sp")("l") >= m && col("__sp")("st") >= 1 &&
        col("__sp")("st") + col("__sp")("sl") - 1 <= lr)
      .select(right.columns.map(col) :+ col("__sp")("l").as("__l")
        :+ col("__sp")("i").as("__i") :+ col("__sp")("g").as("__g"): _*)

    val segCand =
      if (broadcastIndex)
        probe.join(broadcast(idx), Seq("__l", "__i", "__g"))
          .drop("__l", "__i", "__g")
      else {
        val keys = Seq(col("__l"), col("__i"), col("__g"))
        widenIfAbove(idx, partitions, keys: _*)
          .hint("shuffle_hash")
          .join(widenIfAbove(probe, partitions, keys: _*),
            Seq("__l", "__i", "__g"))
          .drop("__l", "__i", "__g")
      }

    // left-short fallback: strings under m chars have zero-length
    // segments — bounded length-band equi-join (right partner is
    // under m+d = 2d+1 chars by the length filter in verify)
    val shortCand = lengthBandJoin(left.filter(length(col(leftCol)) < m),
      right.filter(length(col(rightCol)) < m + d), leftCol, rightCol, d)

    // verify inline (same stage as the candidate join — candidates
    // never shuffle), dedup only the matched pairs.
    // (Measured non-optimization, kept as a note: lexicographically
    // orienting EQUAL-length candidates before verify — memcmp gate,
    // mirror restores — ran 365 s vs 333 s at 100×: the banded
    // thresholded levenshtein already abandons false candidates
    // within a few band rows, so the per-candidate compare cost more
    // than the halved true-pair DP saved.)
    val verified =
      verifyEditDistance(segCand.unionByName(shortCand), leftCol, rightCol, d)
    // symmetric mode found each unordered pair from its longer side
    // only — re-emit the mirrored orientation (positional rename;
    // edit distance is symmetric). Equal-length pairs and the short
    // fallback arrive in both orientations already; the dedup below
    // absorbs the overlap (matches only — never candidates).
    // Both orientations come out of ONE pass over the verified stream:
    // explode a 2-element struct array (identity, mirror) per match.
    // The former shape — union of `verified` with a mirrored select of
    // `verified` — duplicated the whole candidate+verify SUBTREE in
    // the physical plan (broadcast joins have no exchange for AQE to
    // reuse), so the operator's dominant cost ran twice and undid the
    // longer-side-only probe halving (guide §2.4: executed plan showed
    // 4 broadcast joins / 8 scans; 2 / 4 after). Match rows are tiny,
    // so doubling THEM is free; the match multiset is identical.
    val emitted =
      if (!symmetric) verified
      else {
        val lc = left.columns
        val rc = right.columns
        val outCols = lc ++ rc :+ "dist"
        def orient(src: Seq[String]): Column =
          struct(src.zipWithIndex.map { case (c, i) => col(c).as(s"_$i") }: _*)
        verified
          .select(explode(array(orient(outCols),
            orient((rc ++ lc) :+ "dist"))).as("__sp"))
          .select(outCols.zipWithIndex.map {
            case (c, i) => col("__sp")(s"_$i").as(c) }: _*)
      }
    emitted.dropDuplicates()
  }

  /** Two-phase salted aggregation for skewed group keys: phase 1
    * aggregates on (key, salt) — spreading one hot key over `salts`
    * reducers — phase 2 merges the partials. Works for any
    * algebraic aggregate; sum/count provided.
    */
  def saltedSum(df: DataFrame, keys: Seq[String], valueCol: String,
                salts: Int = 16): DataFrame = {
    // content-hash salt, not partition-id/monotonic-id arithmetic: the
    // salt becomes a shuffle key of the phase-1 aggregate, and a
    // nondeterministic key recomputed under partial stage retry can
    // land partials in different reducers (SPARK-23207). Hashing the
    // (keys, value) tuple — not every column — is deterministic under
    // recompute AND cheap (the 100× replica measured all-column
    // hashing at 2.8× the row cost on a 16-column fact table). A hot
    // key whose rows all carry ONE value does collapse onto one salt —
    // harmless HERE because sum/count are algebraic: the map-side
    // partial aggregate combines those rows per mapper before the
    // shuffle, so that reducer receives ≤ one partial row per map
    // task, never the raw hot mass. (Joins have no such combine —
    // see saltedJoin's caveat.)
    val salted = df.withColumn("__salt",
      pmod(xxhash64((keys :+ valueCol).map(col): _*), lit(salts)))
    val phase1 = salted
      .groupBy((keys.map(col) :+ col("__salt")): _*)
      .agg(sum(col(valueCol)).as("__partial"), count(lit(1)).as("__n"))
    phase1
      .groupBy(keys.map(col): _*)
      .agg(sum(col("__partial")).as(s"sum_$valueCol"),
        sum(col("__n")).as("count"))
  }

  /** Salted join against a skewed key: replicate the (small) right side
    * `salts` times, salt the left side randomly-but-deterministically,
    * join on (key, salt). Turns one hot reducer into `salts` even ones.
    * (AQE's skew-join handles sort-merge skew automatically; this is
    * the explicit form for when the optimizer can't see the skew.)
    */
  def saltedJoin(left: DataFrame, right: DataFrame, key: String,
                 salts: Int = 16): DataFrame = {
    // deterministic content-hash salt over EVERY left column: a retry-
    // recomputed row re-draws the same salt, so the join key is stable
    // under partial stage recompute (SPARK-23207). CAVEAT a caller
    // must know: joins have no map-side combine, so left rows that are
    // FULLY identical (hot key + identical payload columns — e.g. a
    // key-only projection) collapse onto one salt and keep their
    // straggler. Feed a projection that retains a distinguishing
    // column (a row id, or any varied payload) — the battery caller
    // passes the full fact row, whose measure columns vary.
    val saltedLeft = left.withColumn("__salt",
      pmod(xxhash64(left.columns.map(col).toSeq: _*), lit(salts)))
    val explodedRight = right.withColumn("__salt",
      explode(sequence(lit(0L), lit(salts - 1L))))
    saltedLeft.join(explodedRight, Seq(key, "__salt")).drop("__salt")
  }

  /** Z-order (Morton) write layout over two integral dimensions: range-
    * partition + sort by the interleaved key, so each output file's
    * min/max envelope is tight on BOTH columns and a downstream scan
    * with a predicate on either dimension prunes most files. A
    * lexicographic `sortWithinPartitions(c1, c2)` only clusters the
    * leading column — at 100 TB that is one prunable dimension vs two.
    *
    * `repartitionByRange` samples the z-key to build balanced range
    * bounds (one extra job over a sample, the standard cost of a total
    * ordering); the sort inside each partition is then local. The
    * helper returns the clustered frame ready for `.write` — the z-key
    * column is dropped after sorting, ordering is preserved.
    */
  def zorderSorted(df: DataFrame, c1: String, c2: String,
                   partitions: Int = 0): DataFrame = {
    require(!df.columns.contains("__z"), "column __z collides with zorderSorted internals")
    val keyed = df.withColumn("__z", zorderKey(col(c1), col(c2)))
    val ranged =
      if (partitions > 0) keyed.repartitionByRange(partitions, col("__z"))
      else keyed.repartitionByRange(col("__z"))
    ranged.sortWithinPartitions(col("__z")).drop("__z")
  }

  /** Compact a directory of small parquet files into ~`targetBytes`
    * outputs — the operational answer to the small-files problem every
    * incremental/streaming ingest accumulates (each micro-batch writes
    * its own files; a 100 TB table fed by minute-level triggers grows
    * millions of kilobyte files, and scan/listing cost degrades long
    * before data volume does).
    *
    * Sizing reads the REAL on-disk bytes via the filesystem (not row
    * counts — compression ratios vary); the rewrite is one round-robin
    * repartition, which both merges small files and splits oversized
    * ones with even output sizes (`coalesce` could only merge, and
    * skews). Returns the output file count.
    */
  def compactFiles(spark: org.apache.spark.sql.SparkSession,
                   srcDir: String, destDir: String,
                   targetBytes: Long): Int = {
    require(targetBytes > 0, "targetBytes must be positive")
    val path = new org.apache.hadoop.fs.Path(srcDir)
    val fs = path.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val totalBytes = fs.listStatus(path).iterator
      .filter(f => f.isFile && f.getPath.getName.endsWith(".parquet"))
      .map(_.getLen).sum
    val nParts = math.max(1, math.ceil(totalBytes.toDouble / targetBytes).toInt)
    spark.read.parquet(srcDir).repartition(nParts)
      .write.mode("overwrite").parquet(destDir)
    nParts
  }

  /** The Morton key itself (native codegen'd expression) — see
    * [[graft.plans.ZOrderKeyExpr]] for semantics and the oracle replay. */
  def zorderKey(a: Column, b: Column): Column = {
    import org.apache.spark.sql.graftbridge.ColumnBridge.{column, expression}
    column(graft.plans.ZOrderKeyExpr(
      expression(a.cast("long")), expression(b.cast("long"))))
  }
}
