package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode, StreamingQuery}

/** Streaming twin of the batch funnel query (`w10` —
  * SparkEntry.w10Funnel): per user, first `view`, first `click` AFTER
  * that view, first `purchase` after that click, and the stage count.
  *
  * The funnel triple is DERIVED state, not an aggregate: a late-
  * arriving EARLIER view moves t1 down, which can make previously-
  * ineligible clicks eligible (t2 moves), which cascades into t3 — so
  * milestones REVISE, they don't increment. The exact treatment
  * (this one): per-user state holds the min view plus the full click/
  * purchase time sets, each batch re-derives (t1, t2, t3) from state,
  * and ONLY users whose derived row changed emit — folded into the
  * store with [[ParquetKpiStore.mergeReplace]] (keyed last-write-wins,
  * the new sink primitive this query motivates; the additive merge
  * cannot express a revision). After a full drain the store equals
  * `w10` row-for-row whatever the arrival order (StreamingSpec drains
  * the fixture in REVERSE time order so revisions happen constantly).
  *
  * Scale shape: state is keyed by user; a user's entry holds its
  * distinct click/purchase times within the funnel horizon — the same
  * per-key-history bound as stream-stream join state, and the price of
  * EXACT revision under unbounded lateness. A deployment bounds it two
  * ways: an event-time timeout retiring completed/expired funnels
  * (stage-3 users and users past the horizon stop changing), and/or a
  * watermark that drops late events, after which clicks ≤ t1 and
  * purchases ≤ t2 can be evicted from state (they can never become
  * eligible again once t1/t2 are final). Emission volume per batch is
  * bounded by CHANGED users, not corpus size; the store is one row per
  * user. */
object StreamingFunnel {

  /** Per-user state: milestone inputs + the last emitted derivation
    * (flattened — so unchanged users stay silent). */
  case class FunnelState(
      minView: Option[Long],
      clicks: Seq[Long],
      purchases: Seq[Long],
      hasEmitted: Boolean,
      e1: Option[Long],
      e2: Option[Long],
      e3: Option[Long])

  /** One derived funnel row (w10's exact output shape). */
  case class FunnelRow(
      user_id: Long,
      t1us: Option[Long],
      t2us: Option[Long],
      t3us: Option[Long],
      steps_reached: Int)

  /** Derive (t1, t2, t3) from milestone inputs — the w10 semantics:
    * strict `>` at each hop. */
  private[graft] def derive(
      minView: Option[Long],
      clicks: Seq[Long],
      purchases: Seq[Long]): (Option[Long], Option[Long], Option[Long]) = {
    val t1 = minView
    val t2 = t1.flatMap(v => clicks.filter(_ > v).minOption)
    val t3 = t2.flatMap(c => purchases.filter(_ > c).minOption)
    (t1, t2, t3)
  }

  /** Fold one user's new (event_type, tus) rows into state; emit the
    * re-derived row iff it differs from the last emission. */
  private[graft] def processUser(
      userId: Long,
      rows: Iterator[(Long, String, Long)],
      state: GroupState[FunnelState]): Iterator[FunnelRow] = {
    val s0 = if (state.exists) state.get
    else FunnelState(None, Seq.empty, Seq.empty, hasEmitted = false, None, None, None)
    var minView = s0.minView
    val clicks = scala.collection.mutable.TreeSet.from(s0.clicks)
    val purchases = scala.collection.mutable.TreeSet.from(s0.purchases)
    rows.foreach { case (_, tpe, tus) =>
      tpe match {
        case "view" => if (minView.forall(tus < _)) minView = Some(tus)
        case "click" => clicks += tus
        case "purchase" => purchases += tus
        case _ => () // other event types don't participate in the funnel
      }
    }
    val (t1, t2, t3) = derive(minView, clicks.toSeq, purchases.toSeq)
    if (s0.hasEmitted && s0.e1 == t1 && s0.e2 == t2 && s0.e3 == t3) {
      // inputs may have grown (new ineligible clicks) — keep them, the
      // derivation didn't move, nothing to emit
      state.update(FunnelState(minView, clicks.toSeq, purchases.toSeq,
        hasEmitted = true, s0.e1, s0.e2, s0.e3))
      Iterator.empty
    } else {
      state.update(FunnelState(minView, clicks.toSeq, purchases.toSeq,
        hasEmitted = true, t1, t2, t3))
      val stage = if (t3.isDefined) 3 else if (t2.isDefined) 2
      else if (t1.isDefined) 1 else 0
      Iterator.single(FunnelRow(userId, t1, t2, t3, stage))
    }
  }

  /** Revision stream over an events frame (user_id, event_type, ts —
    * the [[EventStream.source]] shape). */
  def funnelStream(events: DataFrame): Dataset[FunnelRow] = {
    val spark = events.sparkSession
    import spark.implicits._
    events
      .select(col("user_id").cast("long").as("user_id"),
        col("event_type").cast("string").as("event_type"),
        unix_micros(col("ts")).as("tus"))
      .as[(Long, String, Long)]
      .groupByKey(_._1)
      .flatMapGroupsWithState(
        OutputMode.Update(), GroupStateTimeout.NoTimeout)(processUser)
  }

  private val table = "funnel_stages"

  /** Hook an events stream into the incremental funnel store. */
  def start(
      spark: SparkSession,
      events: DataFrame,
      store: ParquetKpiStore,
      checkpointDir: String,
      availableNow: Boolean = true): StreamingQuery = {
    StreamRunner.start(funnelStream(events), "graft_stream_funnel", checkpointDir,
        StreamRunner.trigger(availableNow), "update") { (batch, batchId) =>
      store.mergeReplace(batch.sparkSession, table, Seq("user_id"),
        batch.toDF(), batchId)
    }
  }

  /** The funnel table in `w10`'s exact output shape. */
  def funnelTable(spark: SparkSession, store: ParquetKpiStore): DataFrame =
    store.read(spark, table).getOrElse(ParquetKpiStore.empty(spark,
        "user_id BIGINT, t1us BIGINT, t2us BIGINT, t3us BIGINT, steps_reached INT"))
      .select(col("user_id"), col("t1us"), col("t2us"), col("t3us"),
        col("steps_reached"))
      .orderBy(col("user_id"))
}
