package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery

import graft.operators.RelationalOps

/** Streaming Pareto frontier — batch `x40`'s discipline over the live
  * event stream: which users are currently undominated on (total
  * value, event count)? The state-design argument extends the
  * [[StreamingDistinct]] CRDT contrast with a subtler case: the
  * frontier is NOT a grow-only set (a newly-arrived point can EVICT
  * frontier members), yet it still needs zero retraction machinery,
  * because each user's point moves MONOTONICALLY up-right (both
  * totals only grow). That monotonicity is the whole correctness
  * argument, so it is spelled out:
  *
  *   frontier(all users) = frontier(previous frontier ∪ current
  *   points of this batch's touched users)
  *
  *   - an untouched dominated user stays dominated: its dominator's
  *     point only grew, and dominance is preserved under the
  *     dominator moving up-right;
  *   - an untouched frontier user is in the previous frontier by
  *     definition;
  *   - a touched user's stale frontier entry (if any) is STRICTLY
  *     dominated by its own current point (n_events grew by ≥ 1 —
  *     strict; value grew weakly), so the skyline pass evicts it;
  *     transitivity extends this through any chain of stale points.
  *
  * Arrival order is immaterial (per-user totals are commutative sums
  * and the frontier is a pure function of totals), so a reverse-time
  * drain converges to the batch skyline with no watermark, no
  * retraction, no revision path — spec'd hostile in StreamingSpec.
  *
  * Scale shape: per-batch work is one map-side-combined partial
  * aggregate over the batch, a keyed merge into the totals table,
  * and a [[RelationalOps.skyline2D]] over (previous frontier ∪
  * touched users' current points) — a frame bounded by |frontier| +
  * |touched users this batch|, NOT the corpus. The two tables (full
  * totals, current frontier) fold into the store through ONE
  * [[ParquetKpiStore.commitGroup]] manifest swap: a reader can never
  * see batch-n totals beside a batch-(n−1) frontier — the frontier
  * member deletes newly-dominated rows, which no keyed additive
  * merge expresses, hence the commitGroup (not mergeGroup) path.
  *
  * Money stays exact: event values are hundredths, so cents are
  * staged `cast(decimal(18,2)) * 100 → long` (the e22 discipline)
  * and both dims are exact BIGINTs — dominance never sits on a
  * float boundary. */
object StreamingSkyline {

  private[streaming] val group = "skyline"
  private[streaming] val totalsTable = "sky_totals"
  private[streaming] val frontierTable = "sky_frontier"
  private val pointDdl = "user_id BIGINT, value_cents BIGINT, n_events BIGINT"

  /** Exact per-user (value_cents, n_events) partials for one batch.
    *
    * value ≥ 0 is a HARD precondition (round-11 ADVICE): the
    * no-retraction frontier argument requires per-user totals to move
    * monotonically up-right, and ONE negative value (a refund) leaves
    * a stale frontier entry no longer dominated by its user's current
    * point — wrong frontiers then persist silently. A violating batch
    * fails LOUDLY here (the a37 assert_true idiom — the guard rides
    * the projected value, so pruning can't drop it) before anything
    * is committed; model refunds upstream as separate compensation
    * events, not negative values on this stream. */
  private def partials(batch: DataFrame): DataFrame = {
    val vc = (col("value").cast("decimal(18,2)") * 100).cast("long")
    val guarded = when(assert_true(vc >= 0 || vc.isNull,
      lit("StreamingSkyline: negative event value — the no-retraction " +
        "frontier invariant requires value >= 0; handle refunds upstream"))
      .isNull, vc)
    batch
      .select(col("user_id").cast("long").as("user_id"), guarded.as("_vc"))
      .groupBy(col("user_id"))
      .agg(sum(col("_vc")).as("value_cents"),
        count(lit(1)).as("n_events"))
  }

  private def applyBatch(store: ParquetKpiStore)(
      batch: DataFrame, batchId: Long): Unit = {
    val spark = batch.sparkSession
    if (batchId <= store.appliedGroupBatch(spark, group)) return // replayed
    val part = partials(batch)
    val mergedTotals = store.readGrouped(spark, group, totalsTable) match {
      case None => part
      case Some(cur) =>
        cur.unionByName(part)
          .groupBy(col("user_id"))
          .agg(sum(col("value_cents")).as("value_cents"),
            sum(col("n_events")).as("n_events"))
    }
    val touched = mergedTotals
      .join(part.select(col("user_id")), Seq("user_id"), "left_semi")
    val candidates = store.readGrouped(spark, group, frontierTable) match {
      case None => touched
      case Some(prev) => prev.unionByName(touched)
    }
    val frontier =
      RelationalOps.skyline2D(candidates, "value_cents", "n_events")
        .select(col("user_id"), col("value_cents"), col("n_events"))
    store.commitGroup(spark, group,
      Seq(totalsTable -> mergedTotals, frontierTable -> frontier), batchId)
  }

  def start(
      spark: SparkSession,
      events: DataFrame,
      store: ParquetKpiStore,
      checkpointDir: String,
      availableNow: Boolean = true): StreamingQuery = {
    StreamRunner.start(events, "graft_stream_skyline", checkpointDir,
        StreamRunner.trigger(availableNow))(applyBatch(store))
  }

  /** The committed frontier: (user_id, value_cents, n_events), value
    * descending — every user no other user beats on both dims. */
  def frontier(spark: SparkSession, store: ParquetKpiStore): DataFrame =
    store.readGrouped(spark, group, frontierTable)
      .getOrElse(ParquetKpiStore.empty(spark, pointDdl))
      .orderBy(col("value_cents").desc, col("user_id"))

  /** The committed totals twin — same generation as [[frontier]] by
    * the group-manifest read path. */
  def totals(spark: SparkSession, store: ParquetKpiStore): DataFrame =
    store.readGrouped(spark, group, totalsTable)
      .getOrElse(ParquetKpiStore.empty(spark, pointDdl))
      .orderBy(col("user_id"))
}
