package graft.streaming

import org.apache.spark.sql.{Dataset, SparkSession}
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

/** Per-source running stage counters — the stateful TAIL of the
  * composed streaming curation pipeline (VERDICT r10 #6): after
  * ingest → canonical dedup → scrub → LM scoring have produced a
  * (source, tier) stream, this stage maintains each source's corpus
  * "funnel" — how many docs arrived and how many landed in each
  * perplexity tier — as delta-additive counters in the state store,
  * emitting the updated frontier per micro-batch (Update mode).
  * Counters move by exactly the delivered rows' deltas (+1 arrivals;
  * −1 takedown rows since r17 — monotone growth is the delete-free
  * special case), so a checkpoint restart must hand back every
  * source's counts intact for parity with the batch composition to
  * hold — which is exactly what the composed-parity StreamingSpec
  * asserts across a kill/restart.
  *
  * Handoff exactly-once (VERDICT r13 #4): the upstream silver table
  * is written by an at-least-once `foreachBatch` — a Q1 crash inside
  * its commit gap replays the micro-batch, rewriting its `batch_id=N`
  * partition under NEW part-file names, which this query's file
  * source (having already consumed the pre-crash files) ingests
  * AGAIN. To close that last window the counters dedup on
  * `(batch_id, doc_id)`: each source's state carries the doc_ids
  * already counted for its RECENT batch_ids, and a re-delivered row
  * is dropped instead of double-counted. The memory of a batch is
  * evicted once a batch ≥ 2 ids newer has been seen — safe because a
  * Q1 replay can only re-deliver Q1's LAST uncommitted micro-batch,
  * whose rows reach this query before anything Q1 wrote after it
  * (the file source orders by mtime; the replayed partition is
  * rewritten before batch N+1 exists). The window is kept PER ID
  * SPACE — curate batch_ids and takedown batch_ids (≥ 2^40) evict
  * independently, see [[fold]] — so state is bounded by
  * ~2 × [[SeenBatchWindow]] micro-batches of doc_ids per source
  * (arrival-rate × trigger sized), never corpus-sized.
  *
  * PRECONDITION (mtime ordering, ADVICE r14 #2): the eviction is
  * sound only if the file source delivers a rewritten batch-N
  * partition before any file of a batch ≥ N + [[SeenBatchWindow]].
  * FileStreamSource orders by modification time, so this holds on
  * local-FS delivery with explicitly managed mtimes (the 10×
  * streaming runs in `bench/stream_scale_10x_r16.jsonl` restamped
  * each batch's files); on stores with
  * coarse mtime granularity or clock regression a replay could
  * arrive after its memory was evicted and double-count. The window
  * is therefore set WIDER than the minimal 2 the replay argument
  * needs — state stays bounded (window × micro-batch doc_ids per
  * source, still KBs) and a delivery inversion now needs to span
  * [[SeenBatchWindow]] whole trigger intervals, not one coarse
  * mtime tick, before it can double-count.
  *
  * STATE SCHEMA (ADVICE r14 #1): r14 changed the GroupState type
  * from `Counts` to [[CountState]] (and `DocTier` gained
  * batch_id/doc_id) to carry the replay memory. A checkpoint written
  * by the pre-r14 code fails state deserialization on this code —
  * discard old gold checkpoints and restart fresh (the gold table
  * itself is unaffected; counters rebuild from the silver history on
  * a fresh checkpoint).
  */
object StageCounts {

  /** One scored silver row: its source, perplexity tier, the
    * `(batch_id, doc_id)` identity the replay dedup keys on, and the
    * counter `delta` it contributes — +1 for a curated arrival, −1
    * for a TAKEDOWN row (r17: the delete leg — see
    * [[ComposedPipeline.takedownBatch]]). A takedown row carries its
    * own takedown batch_id, distinct from the arrival's, so the
    * exactly-once replay memory covers decrements with the same
    * bounded window that covers increments. */
  final case class DocTier(source: String, tier: String,
                           batch_id: Long, doc_id: Long,
                           delta: Long = 1L)

  /** A source's running frontier; emitted per touched source per
    * micro-batch — the latest row per source is its current state. */
  final case class Counts(source: String, n_total: Long, n_head: Long,
                          n_middle: Long, n_tail: Long)

  /** Doc_ids already counted from one upstream micro-batch. */
  final case class SeenBatch(batch_id: Long, doc_ids: Seq[Long])

  /** Counter frontier + the recent-batch replay memory. */
  final case class CountState(counts: Counts, seen: Seq[SeenBatch])

  /** How many of the newest upstream batch_ids keep their doc_id sets
    * PER ID SPACE (curate and takedown each keep their own window —
    * see [[fold]]). The replay argument needs 2; 4 buys slack against
    * coarse-mtime delivery inversion at a still-bounded state cost
    * (see the PRECONDITION paragraph in the object scaladoc; ADVICE
    * r14 #2). */
  private[graft] val SeenBatchWindow = 4

  /** Fold one micro-batch's rows into the running state, dropping
    * rows whose (batch_id, doc_id) this source has already counted —
    * the replayed-silver-partition case. Exposed private[graft] as
    * the eviction-bound test hook (StreamingSpec drives ≥4 upstream
    * batches with interleaved replays through it and inspects the
    * surviving `seen` window directly).
    *
    * The eviction window is maintained PER ID SPACE (ADVICE r17 #1):
    * takedown rows carry batch_id ≥
    * [[ComposedPipeline.TakedownBatchIdBase]] (2^40) by construction,
    * so a single global `max − (window−1)` cutoff would, the moment
    * one takedown row is counted, jump to ~2^40 and evict EVERY
    * curate batch's replay memory — a Q1 at-least-once replay of a
    * rewritten silver partition after any takedown would then
    * double-count. Instead curate ids (< base) and takedown ids
    * (≥ base) each keep the [[SeenBatchWindow]] newest batches of
    * THEIR OWN space: a takedown cannot evict curate memory and vice
    * versa. State stays bounded at ≤ 2 × window batches of doc_ids
    * per source. */
  private[graft] def fold(st: CountState, rows: Iterator[DocTier]): CountState = {
    val seen = scala.collection.mutable.Map.empty[Long,
      scala.collection.mutable.Set[Long]]
    st.seen.foreach(b => seen(b.batch_id) =
      scala.collection.mutable.Set(b.doc_ids: _*))
    var c = st.counts
    rows.foreach { r =>
      val ids = seen.getOrElseUpdate(r.batch_id,
        scala.collection.mutable.Set.empty[Long])
      if (ids.add(r.doc_id)) {
        c = c.copy(
          n_total = c.n_total + r.delta,
          n_head = c.n_head + (if (r.tier == "head") r.delta else 0),
          n_middle = c.n_middle + (if (r.tier == "middle") r.delta else 0),
          n_tail = c.n_tail + (if (r.tier == "tail") r.delta else 0))
      }
    }
    val base = ComposedPipeline.TakedownBatchIdBase
    def keepFrom(keys: Iterable[Long]): Long =
      if (keys.isEmpty) Long.MinValue else keys.max - (SeenBatchWindow - 1)
    val (tdKeys, curKeys) = seen.keys.partition(_ >= base)
    val (curFrom, tdFrom) = (keepFrom(curKeys), keepFrom(tdKeys))
    CountState(c,
      seen.toSeq
        .filter { case (b, _) => b >= (if (b >= base) tdFrom else curFrom) }
        .sortBy(_._1)
        .map { case (b, ids) => SeenBatch(b, ids.toSeq.sorted) })
  }

  /** Run the running counters over a (streaming) Dataset[DocTier].
    * `initial` seeds per-source state on a FRESH checkpoint — the
    * silver-compaction rebuild path ([[SilverCompaction.seedState]]):
    * counts aggregated from the compacted region, replay memory empty
    * (no compacted batch can be re-delivered — see
    * [[SilverCompaction]]'s exclusion argument). Ignored by Spark
    * when the checkpoint already carries state. */
  def running(docs: Dataset[DocTier],
              initial: Option[Dataset[(String, CountState)]] = None)(
      implicit spark: SparkSession): Dataset[Counts] = {
    import spark.implicits._
    val grouped = docs.groupByKey(_.source)
    val step =
      (src: String, it: Iterator[DocTier], state: GroupState[CountState]) => {
        val cur = fold(state.getOption.getOrElse(
          CountState(Counts(src, 0, 0, 0, 0), Seq.empty)), it)
        state.update(cur)
        Iterator.single(cur.counts)
      }
    initial match {
      case Some(init) =>
        grouped.flatMapGroupsWithState[CountState, Counts](
          OutputMode.Update, GroupStateTimeout.NoTimeout,
          init.groupByKey(_._1).mapValues(_._2))(step)
      case None =>
        grouped.flatMapGroupsWithState[CountState, Counts](
          OutputMode.Update, GroupStateTimeout.NoTimeout)(step)
    }
  }
}
