package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode, StreamingQuery}

/** Streaming twin of batch DAU growth accounting (`w21` —
  * SparkEntry.w21GrowthAccounting): the per-day
  * new/retained/resurrected/churned panel maintained while events
  * arrive.
  *
  * Structurally SIMPLER than the transitions/attribution twins, and
  * deliberately so — the state is a user's distinct active-DAY set,
  * which is a grow-only set (the [[StreamingDistinct]] CRDT argument:
  * set union commutes, so arrival order cannot matter), and it is
  * CALENDAR-bounded, so there is no reorder buffer, no lateness
  * horizon, and no drop path at all. What IS order-sensitive is the
  * derived classification (a late-arriving day can turn a
  * "resurrected" into a "retained", or split a churn), and that is
  * handled the exact-diff way: each batch re-derives the user's
  * classification cells from the old and new day sets and emits the
  * multiset difference — retractions included.
  *
  * Churn is stored UNCAPPED (a user's last active day always
  * contributes churn at day+1) and the corpus horizon cap is applied
  * at READ-BACK against the observed max day — which advances as the
  * stream does, exactly like the batch query's horizon scalar over a
  * growing corpus. The horizon rides its own single-row max-merged
  * table ([[ParquetKpiStore.mergeWith]]).
  *
  * Drained store equals batch `w21` row-for-row under any arrival
  * order (spec: hostile reverse-quartile drain). State per user is its
  * distinct active days; delta volume is bounded by touched days.
  * Merges are idempotent per (table, batchId). */
object StreamingGrowth {

  /** Per-user state: distinct active days, sorted ascending. */
  case class DaySet(days: Seq[Long])

  /** Additive delta for one day's growth cells (churn rides its own
    * key space so the read-back cap can apply to it alone). */
  case class GDelta(
      day: Long, dDau: Long, dNew: Long, dRetained: Long, dResurrected: Long,
      dChurned: Long)

  /** Classification cells of one user's sorted day set: per day the
    * (dau, new, retained, resurrected) indicator vector, plus churn
    * contributions at day+1 for every day without a successor. */
  private def cells(days: Seq[Long]): Map[Long, (Long, Long, Long, Long, Long)] = {
    if (days.isEmpty) return Map.empty
    val set = days.toSet
    val first = days.head
    val m = scala.collection.mutable.Map.empty[Long, (Long, Long, Long, Long, Long)]
    def add(day: Long, v: (Long, Long, Long, Long, Long)): Unit = {
      val c = m.getOrElse(day, (0L, 0L, 0L, 0L, 0L))
      m(day) = (c._1 + v._1, c._2 + v._2, c._3 + v._3, c._4 + v._4, c._5 + v._5)
    }
    days.foreach { d =>
      val nw = if (d == first) 1L else 0L
      val re = if (set.contains(d - 1)) 1L else 0L
      val rs = if (nw == 0L && re == 0L) 1L else 0L
      add(d, (1L, nw, re, rs, 0L))
      if (!set.contains(d + 1)) add(d + 1, (0L, 0L, 0L, 0L, 1L))
    }
    m.toMap
  }

  /** Fold one user's arrivals into its day set, emitting the exact
    * cell difference. Duplicate days are set-absorbed (replay-safe). */
  private[graft] def processUser(
      userId: Long,
      rows: Iterator[(Long, Long)],
      state: GroupState[DaySet]): Iterator[GDelta] = {
    val arrivals = rows.map(_._2).toSet
    val s0 = if (state.exists) state.get else DaySet(Nil)
    val fresh = arrivals -- s0.days.toSet
    if (fresh.isEmpty) return Iterator.empty
    val newDays = (s0.days ++ fresh).distinct.sorted
    val before = cells(s0.days)
    val after = cells(newDays)
    state.update(DaySet(newDays))
    (before.keySet ++ after.keySet).toSeq.sorted.iterator.flatMap { day =>
      val b = before.getOrElse(day, (0L, 0L, 0L, 0L, 0L))
      val a = after.getOrElse(day, (0L, 0L, 0L, 0L, 0L))
      val d = (a._1 - b._1, a._2 - b._2, a._3 - b._3, a._4 - b._4, a._5 - b._5)
      if (d == ((0L, 0L, 0L, 0L, 0L))) None
      else Some(GDelta(day, d._1, d._2, d._3, d._4, d._5))
    }
  }

  /** Delta stream over an events frame (the [[EventStream.source]]
    * shape). */
  def deltaStream(events: DataFrame): Dataset[GDelta] = {
    val spark = events.sparkSession
    import spark.implicits._
    events
      .select(col("user_id").cast("long").as("user_id"),
        expr("unix_micros(ts) div 86400000000L").as("day"))
      .as[(Long, Long)]
      .groupByKey(_._1)
      .flatMapGroupsWithState(
        OutputMode.Update(), GroupStateTimeout.NoTimeout)(processUser)
  }

  private val cellsTable = "growth_cells"
  private val horizonTable = "growth_horizon"

  private def applyBatch(store: ParquetKpiStore)(
      batch: Dataset[GDelta], batchId: Long): Unit = {
    val spark = batch.sparkSession
    val staged = batch.persist()
    try {
      store.merge(spark, cellsTable, Seq("day"),
        staged.groupBy(col("day"))
          .agg(sum(col("dDau")).as("dau"),
            sum(col("dNew")).as("new_users"),
            sum(col("dRetained")).as("retained"),
            sum(col("dResurrected")).as("resurrected"),
            sum(col("dChurned")).as("churned")),
        batchId)
      store.mergeWith(spark, horizonTable,
        staged.filter(col("dDau") > 0).agg(max(col("day")).as("max_day")),
        batchId)(u => u.agg(max(col("max_day")).as("max_day")))
    } finally { staged.unpersist(); () }
  }

  /** Hook an events stream into the incremental growth store. */
  def start(
      spark: SparkSession,
      events: DataFrame,
      store: ParquetKpiStore,
      checkpointDir: String,
      availableNow: Boolean = true): StreamingQuery = {
    StreamRunner.start(deltaStream(events), "graft_stream_growth", checkpointDir,
        StreamRunner.trigger(availableNow), "update")(applyBatch(store))
  }

  /** The growth panel in `w21`'s exact output shape: churn capped at
    * the observed horizon, zero-filled cells, all-zero days dropped
    * (a day can appear with only beyond-horizon churn — batch never
    * emits it). */
  def growthTable(spark: SparkSession, store: ParquetKpiStore): DataFrame = {
    val cellsDf = store.read(spark, cellsTable).getOrElse(ParquetKpiStore.empty(spark,
      "day BIGINT, dau BIGINT, new_users BIGINT, retained BIGINT, resurrected BIGINT, " +
        "churned BIGINT"))
    val horizon = store.read(spark, horizonTable)
      .map(_.agg(max(col("max_day")).as("_maxd")))
      .getOrElse(spark.range(1).select(lit(Long.MinValue).as("_maxd")))
    cellsDf.crossJoin(broadcast(horizon))
      .select(col("day"),
        col("dau"), col("new_users"), col("retained"), col("resurrected"),
        when(col("day") <= col("_maxd"), col("churned")).otherwise(lit(0L))
          .as("churned"))
      .filter(col("dau") > 0 || col("churned") > 0)
      .orderBy(col("day"))
  }
}
