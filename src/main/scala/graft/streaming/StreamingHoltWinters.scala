package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode, StreamingQuery}

/** Streaming twin of batch additive Holt–Winters (`e28` —
  * SparkEntry.e28HoltWinters): the per-type seasonal forecast
  * maintained while events arrive — the live "what does tomorrow look
  * like" number batch e28 only produces after the nightly run.
  *
  * HW is an ORDER-SENSITIVE float recursion like [[StreamingCusum]],
  * with one twist: the fold unit is a DAY, not an event, and a day's
  * value (its count) keeps growing until the day is past the lateness
  * horizon. So state per type is the frozen prefix COLLAPSED to the
  * fold accumulator (l, b, the rotating 7-slot seasonal vector, and
  * the next step index) plus the REVISABLE day→count map inside the
  * horizon. The textbook init needs the first 14 day values at once
  * (b₀ spans two seasons), so those values are retained until the
  * 14th day freezes — then the accumulator takes over and frozen
  * days are discarded forever. An arrival for a day at-or-before the
  * frozen boundary is dropped AND counted (the observable-loss
  * contract).
  *
  * Because the incremental fold is literally batch e28's left fold
  * resumed from a checkpoint — same day order, same IEEE sequence,
  * dyadic α/β/γ — the drained read-back equals `e28_holt_winters`
  * BIT-FOR-BIT under unbounded lateness (spec: hostile reverse
  * drain), with no associativity assumption anywhere.
  *
  * Scale shape: state per type is O(lateness-horizon) day cells plus
  * eleven numbers; per-batch work is one linear fold over the live
  * tail. Store rows = |types|, replaced last-write-wins under the
  * per-(table, batchId) idempotence watermark. */
object StreamingHoltWinters {

  private val M = 7

  /** Frozen-prefix accumulator + revisable day tail. `init` holds the
    * first frozen day values only until 14 are frozen; `accS` is the
    * rotating seasonal vector (valid once nFrozen ≥ 14). */
  case class HwBuf(
      boundDay: Option[Long],
      nFrozen: Long,
      init: Seq[Double],
      accL: Double, accB: Double, accS: Seq[Double], accI: Int,
      live: Map[Long, Long])

  /** One type's current forecast row (replaces the stored row), or a
    * late-drop count. */
  case class HwRow(eventType: String, nDays: Long, level: Double,
      trend: Double, seasonalNext: Double, forecast1: Double, drops: Long)

  /** One classic step — the IDENTICAL IEEE sequence as the batch
    * fold's lambda (sub, ×0.5, add, ×0.5, add; then the trend and
    * seasonal lines). */
  private def step(a: (Double, Double, Vector[Double], Int), v: Double)
      : (Double, Double, Vector[Double], Int) = {
    val (l, b, s, i) = a
    val pos = (i - 1) % M
    val sPrev = s(pos)
    val lN = (v - sPrev) * 0.5 + (l + b) * 0.5
    val bN = (lN - l) * 0.25 + b * 0.75
    val sN = (v - lN) * 0.25 + sPrev * 0.75
    (lN, bN, s.updated(pos, sN), i + 1)
  }

  /** Textbook two-season init — batch e28's exact expressions. */
  private def initAcc(vals: Seq[Double]): (Double, Double, Vector[Double], Int) = {
    val s1 = vals.take(M).foldLeft(0.0)(_ + _)
    val s2 = vals.slice(M, 2 * M).foldLeft(0.0)(_ + _)
    val l0 = s1 / 7.0
    val b0 = (s2 - s1) / 49.0
    (l0, b0, vals.take(M).map(_ - l0).toVector, M + 1)
  }

  private def foldFrom(a: (Double, Double, Vector[Double], Int), vs: Seq[Double]) =
    vs.foldLeft(a)(step)

  /** Full-series compute (the batch shape): init on the first 14,
    * fold indices 8..n. Caller guarantees vs.size ≥ 15. */
  private def foldAll(vs: Seq[Double]): (Double, Double, Vector[Double], Int) =
    foldFrom(initAcc(vs), vs.drop(M))

  private def row(tpe: String, n: Long,
      a: (Double, Double, Vector[Double], Int)): HwRow = {
    val sNext = a._3((n % M).toInt)
    HwRow(tpe, n, a._1, a._2, sNext, a._1 + a._2 + sNext, 0L)
  }

  private[graft] def processType(latenessDays: Long)(
      tpe: String,
      rows: Iterator[(String, Long)],
      state: GroupState[HwBuf]): Iterator[HwRow] = {
    val days = rows.map(_._2).toSeq
    val s0 = state.getOption.getOrElse(
      HwBuf(None, 0L, Nil, 0.0, 0.0, Nil, 0, Map.empty))
    val (accepted, dropped) = days.partition(d0 => s0.boundDay.forall(d0 > _))
    val out = Seq.newBuilder[HwRow]
    if (dropped.nonEmpty)
      out += HwRow(tpe, 0L, 0.0, 0.0, 0.0, 0.0, dropped.size.toLong)
    if (accepted.nonEmpty) {
      var live = s0.live
      accepted.foreach(d0 => live = live.updated(d0, live.getOrElse(d0, 0L) + 1L))
      val horizon = live.keys.max - latenessDays
      val (toFreeze, rest) = live.partition(_._1 <= horizon)
      var nF = s0.nFrozen
      var init = s0.init
      var acc = (s0.accL, s0.accB, s0.accS.toVector, s0.accI)
      var bound = s0.boundDay
      for ((d0, c) <- toFreeze.toSeq.sortBy(_._1)) {
        if (nF < 2L * M) {
          init = init :+ c.toDouble
          nF += 1
          if (nF == 2L * M) { acc = foldAll(init); init = Nil }
        } else {
          acc = step(acc, c.toDouble)
          nF += 1
        }
        bound = Some(d0)
      }
      state.update(HwBuf(bound, nF, init, acc._1, acc._2, acc._3, acc._4, rest))
      val liveVals = rest.toSeq.sortBy(_._1).map(_._2.toDouble)
      val nTotal = nF + rest.size
      if (nF >= 2L * M) {
        // batch contract: under two full seasons + 1 emits nothing
        if (nTotal >= 2 * M + 1) out += row(tpe, nTotal, foldFrom(acc, liveVals))
      } else {
        val all = init ++ liveVals
        if (all.size >= 2 * M + 1) out += row(tpe, all.size.toLong, foldAll(all))
      }
    }
    out.result().iterator
  }

  /** Current-forecast stream over an events frame (ts, event_type —
    * the [[EventStream.source]] shape). */
  def deltaStream(events: DataFrame, latenessDays: Long): Dataset[HwRow] = {
    val spark = events.sparkSession
    import spark.implicits._
    events
      .select(col("event_type").cast("string").as("tpe"),
        expr("unix_micros(ts) div 86400000000L").as("d0"))
      .as[(String, Long)]
      .groupByKey(_._1)
      .flatMapGroupsWithState(
        OutputMode.Update(), GroupStateTimeout.NoTimeout)(
        processType(latenessDays))
  }

  private[streaming] val group = "holt_winters"
  private[streaming] val table = "holt_winters_type"
  private val dropsTable = "holt_winters_drops"

  /** One GROUP commit for both tables (round-11 ADVICE): the previous
    * two per-table commits (mergeReplace, then merge) could expose a
    * reader to forecast at batch n beside drops at n−1 after a crash
    * between them — exactly the mixed-generation inconsistency
    * [[ParquetKpiStore.commitGroup]] exists to eliminate. Each
    * member's FULL next state is computed against the group's current
    * generation (replace-by-key for the forecast, additive fold for
    * the drops counter) and ONE manifest swap publishes both; the
    * group-level idempotence watermark makes replays exactly-once
    * across the pair. */
  private def applyBatch(store: ParquetKpiStore)(
      batch: Dataset[HwRow], batchId: Long): Unit = {
    val spark = batch.sparkSession
    if (batchId <= store.appliedGroupBatch(spark, group)) return // replayed
    val staged = batch.persist()
    try {
      val forecastUpd = staged.filter(col("drops") === 0L)
        .select(col("eventType").as("event_type"), col("nDays").as("n_days"),
          col("level"), col("trend"),
          col("seasonalNext").as("seasonal_next"),
          col("forecast1").as("forecast_1"))
      val nextForecast = store.readGrouped(spark, group, table) match {
        case None => forecastUpd
        case Some(cur) => // mergeReplace semantics, group-read based
          cur.join(forecastUpd, Seq("event_type"), "left_anti")
            .unionByName(forecastUpd)
      }
      val dropsUpd = staged.filter(col("drops") > 0L)
        .groupBy(lit("late").as("k"))
        .agg(sum(col("drops")).as("n_dropped"))
      val nextDrops = store.readGrouped(spark, group, dropsTable) match {
        case None => dropsUpd
        case Some(cur) => // additive merge semantics, group-read based
          cur.unionByName(dropsUpd)
            .groupBy(col("k")).agg(sum(col("n_dropped")).as("n_dropped"))
      }
      store.commitGroup(spark, group,
        Seq(table -> nextForecast, dropsTable -> nextDrops), batchId)
    } finally { staged.unpersist(); () }
  }

  /** Hook an events stream into the incremental forecast store. */
  def start(
      spark: SparkSession,
      events: DataFrame,
      store: ParquetKpiStore,
      checkpointDir: String,
      latenessDays: Long = 7L,
      availableNow: Boolean = true): StreamingQuery = {
    StreamRunner.start(deltaStream(events, latenessDays), "graft_stream_holt_winters",
        checkpointDir, StreamRunner.trigger(availableNow), "update")(applyBatch(store))
  }

  /** Everything that has arrived, in the batch `e28_holt_winters`
    * shape. */
  def hwTable(spark: SparkSession, store: ParquetKpiStore): DataFrame =
    store.readGrouped(spark, group, table)
      .map(_.select(col("event_type"), col("n_days"), col("level"),
        col("trend"), col("seasonal_next"), col("forecast_1"))
        .orderBy(col("event_type")))
      .getOrElse(ParquetKpiStore.empty(spark,
        "event_type STRING, n_days BIGINT, level DOUBLE, trend DOUBLE, " +
          "seasonal_next DOUBLE, forecast_1 DOUBLE"))
}
