package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode, StreamingQuery}

/** Streaming twin of the batch event-transition matrix (`w12` —
  * SparkEntry.w12Transitions): counts of consecutive event-type pairs
  * per user in (event-time, event-id) order, aggregated corpus-wide.
  *
  * Transitions are NOT additive per event: the pair set depends on the
  * ORDER of a user's events, so a late-arriving event that lands
  * between two already-seen events retracts their old transition
  * (a → c) and contributes two new ones (a → b, b → c). The treatment
  * here mirrors [[StreamingRetention]]'s exact-retraction discipline,
  * with one addition the unbounded-sequence domain forces: WATERMARK
  * COMPACTION. Retention state (distinct weeks) is bounded by the
  * calendar; an event sequence is not — so each user's state keeps
  * only the events inside a caller-set lateness horizon plus ONE
  * boundary event, and every prefix older than the horizon is frozen.
  *
  * Invariants (spec-pinned via TestGroupState):
  *  - emitted deltas after any prefix of batches sum to exactly the
  *    transition counts of the event sequences accepted so far;
  *  - an event sorting at-or-before a user's boundary is DROPPED and
  *    counted (an observable `isDrop` delta — silent loss is the one
  *    thing a curation pipeline can never have), because the frozen
  *    prefix's transitions are already final;
  *  - compaction never changes emitted counts — only which events
  *    remain revisable. Any insertion that could revise a frozen pair
  *    would itself sort before the boundary, and is dropped first.
  *
  * With `latenessMicros` at-or-above the stream's true disorder the
  * drop count is zero and the drained store equals batch `w12`
  * EXACTLY (StreamingSpec: reverse-time drain, unbounded lateness).
  * With a finite horizon, state per user is bounded by
  * horizon × arrival rate — the 100 TB contract: the state store holds
  * a sliding window, not the corpus. A production deployment ties
  * `latenessMicros` to the query watermark delay; the two express the
  * same promise ("no data more than T late"), and this operator makes
  * the breach observable instead of silently wrong.
  *
  * Scale shape: state is hash-partitioned by user; per-batch work per
  * user is O((buffer + arrivals) log) for the re-sort plus a linear
  * pair walk; delta volume is bounded by touched pairs (≤ 2× arrivals
  * + retractions), never corpus size. The (from, to) table is
  * |event_type|² — driver-small. Store merges are idempotent per
  * (table, batchId) — the K3–K10 exactly-once contract. */
object StreamingTransitions {

  /** One event in a user's timeline: (event-time micros, id, type). */
  case class Ev(tus: Long, eid: Long, et: String)

  /** Per-user state: the frozen-prefix boundary (last compacted event,
    * if any) and the still-revisable tail, sorted by (tus, eid). */
  case class UserBuf(bound: Option[Ev], buf: Seq[Ev])

  /** Additive delta: (from, to) += dn, or (isDrop) a count of events
    * rejected as later than the lateness horizon. */
  case class TDelta(fromType: String, toType: String, dn: Long, isDrop: Boolean)

  private def evOrder(e: Ev): (Long, Long) = (e.tus, e.eid)

  /** Transition multiset of a sorted sequence (boundary prepended):
    * consecutive (type, next-type) pairs. */
  private def pairCounts(seq: Seq[Ev]): Map[(String, String), Long] =
    seq.iterator.zip(seq.iterator.drop(1))
      .map { case (a, b) => (a.et, b.et) }
      .foldLeft(Map.empty[(String, String), Long]) { (m, k) =>
        m.updated(k, m.getOrElse(k, 0L) + 1L)
      }

  /** Fold one user's arrivals into state, emitting the exact multiset
    * difference of transition counts plus a drop-count delta. */
  private[graft] def processUser(latenessMicros: Long)(
      userId: Long,
      rows: Iterator[(Long, Ev)],
      state: GroupState[UserBuf]): Iterator[TDelta] = {
    val arrivals = rows.map(_._2).toSeq
    val s0 = if (state.exists) state.get else UserBuf(None, Nil)
    // frozen-region test: anything sorting at-or-before the boundary
    // would revise already-final pairs — reject and COUNT it
    val boundKey = s0.bound.map(evOrder)
    val (accepted, dropped) = arrivals.partition(e =>
      boundKey.forall(bk => Ordering[(Long, Long)].gt(evOrder(e), bk)))
    val out = Seq.newBuilder[TDelta]
    if (dropped.nonEmpty)
      out += TDelta("", "", dropped.size.toLong, isDrop = true)
    if (accepted.nonEmpty) {
      val oldSeq = s0.bound.toSeq ++ s0.buf
      // dedup on (tus, eid): micro-batch replay after a crash can
      // redeliver rows; a transition counted twice is a wrong answer
      val seen = s0.buf.iterator.map(evOrder).toSet ++ boundKey
      val fresh = accepted.filterNot(e => seen.contains(evOrder(e)))
        .distinctBy(evOrder)
      if (fresh.nonEmpty) {
        val newBuf = (s0.buf ++ fresh).sortBy(evOrder)
        val newSeq = s0.bound.toSeq ++ newBuf
        val before = pairCounts(oldSeq)
        val after = pairCounts(newSeq)
        (before.keySet ++ after.keySet).toSeq.sorted.foreach { k =>
          val d = after.getOrElse(k, 0L) - before.getOrElse(k, 0L)
          if (d != 0L) out += TDelta(k._1, k._2, d, isDrop = false)
        }
        // compact: freeze everything at-or-below (max event time −
        // lateness); the latest frozen event becomes the boundary so
        // the frozen→revisable transition stays revisable-side exact
        val horizon = newBuf.last.tus - latenessMicros
        val (frozen, live) = newBuf.partition(_.tus <= horizon)
        val newBound = frozen.lastOption.orElse(s0.bound)
        state.update(UserBuf(newBound, live))
      }
    }
    out.result().iterator
  }

  /** Delta stream over an events frame (user_id, ts, event_id,
    * event_type — the [[EventStream.source]] shape). */
  def deltaStream(events: DataFrame, latenessMicros: Long): Dataset[TDelta] = {
    val spark = events.sparkSession
    import spark.implicits._
    events
      .select(col("user_id").cast("long").as("user_id"),
        unix_micros(col("ts")).as("tus"),
        col("event_id").cast("long").as("eid"),
        col("event_type").as("et"))
      .as[(Long, Long, Long, String)]
      .map { case (u, t, e, ty) => (u, Ev(t, e, ty)) }
      .groupByKey(_._1)
      .flatMapGroupsWithState(
        OutputMode.Update(), GroupStateTimeout.NoTimeout)(
        processUser(latenessMicros))
  }

  private val countsTable = "transition_counts"
  private val dropsTable = "transition_drops"

  /** Fold one micro-batch of deltas into the store (map-side combined
    * per key before the merge). */
  private def applyBatch(store: ParquetKpiStore)(
      batch: Dataset[TDelta], batchId: Long): Unit = {
    val spark = batch.sparkSession
    val staged = batch.persist()
    try {
      store.merge(spark, countsTable, Seq("from_type", "to_type"),
        staged.filter(!col("isDrop"))
          .groupBy(col("fromType").as("from_type"), col("toType").as("to_type"))
          .agg(sum(col("dn")).as("cnt")),
        batchId)
      store.merge(spark, dropsTable, Seq("k"),
        staged.filter(col("isDrop"))
          .groupBy(lit("late").as("k"))
          .agg(sum(col("dn")).as("n_dropped")),
        batchId)
    } finally { staged.unpersist(); () }
  }

  /** Default reorder-buffer lateness for the exact-retraction twin
    * family (transitions / CUSUM / attribution): 7 days of event
    * time. The freeze horizon is `last.tus - lateness`, so an
    * infinite default would make the horizon always negative and the
    * per-user buffer retain the FULL event history — correct for a
    * bounded parity drain, unbounded state growth on a long-lived
    * stream. Callers replaying a finite fixture out of order (the
    * parity specs) pass `Long.MaxValue` explicitly; production
    * callers either take this bound or size it to their stream's
    * true disorder. */
  val DefaultLatenessMicros: Long = 7L * 86400000000L

  /** Hook an events stream into the incremental transition store. */
  def start(
      spark: SparkSession,
      events: DataFrame,
      store: ParquetKpiStore,
      checkpointDir: String,
      latenessMicros: Long = DefaultLatenessMicros,
      availableNow: Boolean = true): StreamingQuery = {
    StreamRunner.start(deltaStream(events, latenessMicros), "graft_stream_transitions",
        checkpointDir, StreamRunner.trigger(availableNow), "update")(applyBatch(store))
  }

  /** The transition matrix in `w12`'s exact output shape, read from the
    * upserted state. Fully-retracted (zero-count) pairs are additive
    * identities, not transitions — dropped, matching the batch query. */
  def transitionTable(spark: SparkSession, store: ParquetKpiStore): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val counts = store.read(spark, countsTable)
      .getOrElse(ParquetKpiStore.empty(spark, "from_type STRING, to_type STRING, cnt BIGINT"))
    val norm = Window.partitionBy(col("from_type"))
    counts.filter(col("cnt") > 0)
      .select(col("from_type"), col("to_type"), col("cnt"),
        (col("cnt").cast("double") / sum(col("cnt")).over(norm)).as("prob"))
      .orderBy(col("from_type"), col("to_type"))
  }

  /** Count of events rejected as later than the lateness horizon —
    * the "how wrong could the table be" observability counter. */
  def droppedLate(spark: SparkSession, store: ParquetKpiStore): Long =
    store.read(spark, dropsTable)
      .map(_.agg(coalesce(sum(col("n_dropped")), lit(0L))).head().getLong(0))
      .getOrElse(0L)
}
