package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode, StreamingQuery}

/** Streaming twin of batch last-touch attribution (`w20` —
  * SparkEntry.w20Attribution): the per-click-day table of (purchases
  * credited, distinct users, click→purchase lag sum) maintained while
  * events arrive.
  *
  * Attribution is order-sensitive the same way transitions are: a
  * late-arriving click that lands between an earlier click and a
  * purchase MOVES that purchase's credit (old day retracts, new day
  * gains, the lag changes). The machinery is therefore
  * [[StreamingTransitions]]'s watermark-compacted reorder buffer with
  * exact retractions, with two attribution-specific twists:
  *
  *  - the frozen prefix collapses to its LAST CLICK, not just the
  *    boundary event: a live purchase with no live prior click is
  *    credited to the newest frozen click, so that single key is the
  *    whole left context the fold needs (the CUSUM "prefix collapses
  *    to its accumulator" argument, instantiated for last-touch);
  *  - the distinct-user count per day is NOT additive over purchases —
  *    it is additive over per-user INDICATOR FLIPS, which each user's
  *    state can compute locally: a day enters/leaves the user's
  *    attributed-day set, a ±1 delta rides along. Days flagged by
  *    now-frozen purchases accumulate in `frozenDays` so re-folds of
  *    the live tail can never re-emit them.
  *
  * Invariants (spec-pinned via TestGroupState + reverse-time drain):
  * emitted deltas after any batch prefix sum to exactly the
  * attribution table of the accepted events; at-or-before-boundary
  * arrivals are dropped AND counted; compaction never changes emitted
  * totals. With lateness at-or-above the stream's true disorder the
  * drained store equals batch `w20` row-for-row.
  *
  * Scale shape: state per user is the lateness window of events plus
  * one click key plus a calendar-bounded day set; delta volume is
  * bounded by touched days, never corpus size. Store merges are
  * idempotent per (table, batchId) — the K3–K10 exactly-once
  * contract. */
object StreamingAttribution {

  import StreamingTransitions.Ev

  /** Per-user state: drop boundary (last frozen event), the newest
    * frozen click's event-time, days already final-flagged for this
    * user, and the revisable tail sorted by (tus, eid). */
  case class AttrState(
      bound: Option[Ev],
      lastFrozenClick: Option[Long],
      frozenDays: Set[Long],
      buf: Seq[Ev])

  /** Additive delta for one click day (or the drop counter). */
  case class ADelta(
      clickDay: Long, dPurchases: Long, dLagSum: Long, dUsers: Long,
      isDrop: Boolean)

  private def evOrder(e: Ev): (Long, Long) = (e.tus, e.eid)

  private val dayUs = 86400000000L

  /** Last-touch fold of a sorted sequence given the frozen left
    * context: per click day, (credited purchases, lag sum). The
    * unattributed bucket is day −1 with zero lag contribution. */
  private def attrCounts(
      seq: Seq[Ev], lastFrozenClick: Option[Long]): Map[Long, (Long, Long)] = {
    var lc = lastFrozenClick
    var m = Map.empty[Long, (Long, Long)]
    seq.foreach { e =>
      if (e.et == "click") lc = Some(e.tus)
      else if (e.et == "purchase") {
        val (day, lag) = lc match {
          case Some(c) => (c / dayUs, e.tus - c)
          case None => (-1L, 0L)
        }
        val (n, ls) = m.getOrElse(day, (0L, 0L))
        m = m.updated(day, (n + 1L, ls + lag))
      }
    }
    m
  }

  /** Fold one user's arrivals into state, emitting the exact delta of
    * attribution cells plus user-indicator flips and a drop count. */
  private[graft] def processUser(latenessMicros: Long)(
      userId: Long,
      rows: Iterator[(Long, Ev)],
      state: GroupState[AttrState]): Iterator[ADelta] = {
    val arrivals = rows.map(_._2).toSeq
    val s0 = if (state.exists) state.get else AttrState(None, None, Set.empty, Nil)
    val boundKey = s0.bound.map(evOrder)
    val (accepted, dropped) = arrivals.partition(e =>
      boundKey.forall(bk => Ordering[(Long, Long)].gt(evOrder(e), bk)))
    val out = Seq.newBuilder[ADelta]
    if (dropped.nonEmpty)
      out += ADelta(0L, dropped.size.toLong, 0L, 0L, isDrop = true)
    if (accepted.nonEmpty) {
      val seen = s0.buf.iterator.map(evOrder).toSet ++ boundKey
      val fresh = accepted.filterNot(e => seen.contains(evOrder(e)))
        .distinctBy(evOrder)
      if (fresh.nonEmpty) {
        val before = attrCounts(s0.buf, s0.lastFrozenClick)
        val beforeDays = s0.frozenDays ++ before.keySet
        val newBuf = (s0.buf ++ fresh).sortBy(evOrder)
        val after = attrCounts(newBuf, s0.lastFrozenClick)
        val afterDays = s0.frozenDays ++ after.keySet
        (before.keySet ++ after.keySet).toSeq.sorted.foreach { day =>
          val (n0, l0) = before.getOrElse(day, (0L, 0L))
          val (n1, l1) = after.getOrElse(day, (0L, 0L))
          val du = (if (afterDays(day)) 1L else 0L) - (if (beforeDays(day)) 1L else 0L)
          if (n1 != n0 || l1 != l0 || du != 0L)
            out += ADelta(day, n1 - n0, l1 - l0, du, isDrop = false)
        }
        // a day can flip users without touching counts only via the
        // frozen set, which never changes here — but a retraction that
        // empties a day must still emit its -1 flip even when the
        // count delta happens to cancel; handled above since n1 != n0
        // whenever the day's purchase multiset changed
        val horizon = newBuf.last.tus - latenessMicros
        val (frozen, live) = newBuf.partition(_.tus <= horizon)
        if (frozen.nonEmpty) {
          val frozenAttr = attrCounts(frozen, s0.lastFrozenClick)
          val newLfc = frozen.reverseIterator.find(_.et == "click")
            .map(_.tus).orElse(s0.lastFrozenClick)
          state.update(AttrState(Some(frozen.last), newLfc,
            s0.frozenDays ++ frozenAttr.keySet, live))
        } else {
          state.update(s0.copy(buf = live))
        }
      }
    }
    out.result().iterator
  }

  /** Delta stream over an events frame (the [[EventStream.source]]
    * shape). */
  def deltaStream(events: DataFrame, latenessMicros: Long): Dataset[ADelta] = {
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

  private val cellsTable = "attribution_daily"
  private val dropsTable = "attribution_drops"
  private val group = "attribution"

  /** Fold one micro-batch of deltas into the store (map-side combined
    * per day before the merge) — as ONE
    * [[ParquetKpiStore.mergeGroup]] commit, so the attribution cells
    * and the drop counter always read at the same batch generation
    * (accepted + dropped must tile the arrivals; a mixed-generation
    * read would break that accounting identity). */
  private def applyBatch(store: ParquetKpiStore)(
      batch: Dataset[ADelta], batchId: Long): Unit = {
    val spark = batch.sparkSession
    val staged = batch.persist()
    try {
      store.mergeGroup(spark, group, Seq(
        (cellsTable, Seq("click_day"),
          staged.filter(!col("isDrop"))
            .groupBy(col("clickDay").as("click_day"))
            .agg(sum(col("dPurchases")).as("purchases"),
              sum(col("dLagSum")).as("lag_sum"),
              sum(col("dUsers")).as("users"))),
        (dropsTable, Seq("k"),
          staged.filter(col("isDrop"))
            .groupBy(lit("late").as("k"))
            .agg(sum(col("dPurchases")).as("n_dropped")))),
        batchId)
    } finally { staged.unpersist(); () }
  }

  /** Hook an events stream into the incremental attribution store. */
  def start(
      spark: SparkSession,
      events: DataFrame,
      store: ParquetKpiStore,
      checkpointDir: String,
      latenessMicros: Long = StreamingTransitions.DefaultLatenessMicros,
      availableNow: Boolean = true): StreamingQuery = {
    StreamRunner.start(deltaStream(events, latenessMicros), "graft_stream_attribution",
        checkpointDir, StreamRunner.trigger(availableNow), "update")(applyBatch(store))
  }

  /** The attribution report in `w20`'s exact output shape. Fully
    * retracted (zero-purchase) days are additive identities — dropped,
    * matching the batch query; the unattributed bucket's mean lag is
    * null exactly as batch. */
  def attributionTable(spark: SparkSession, store: ParquetKpiStore): DataFrame =
    store.readGrouped(spark, group, cellsTable)
      .getOrElse(ParquetKpiStore.empty(spark,
        "click_day BIGINT, purchases BIGINT, lag_sum BIGINT, users BIGINT"))
      .filter(col("purchases") > 0)
      .select(col("click_day"), col("purchases"), col("users"),
        when(col("click_day") >= 0L,
          col("lag_sum").cast("double") / col("purchases").cast("double"))
          .as("mean_lag_us"))
      .orderBy(col("click_day"))

  /** Count of events rejected as later than the lateness horizon. */
  def droppedLate(spark: SparkSession, store: ParquetKpiStore): Long =
    store.readGrouped(spark, group, dropsTable)
      .map(_.agg(coalesce(sum(col("n_dropped")), lit(0L))).head().getLong(0))
      .getOrElse(0L)
}
