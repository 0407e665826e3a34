package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery

import graft.operators.RelationalOps

/** Streaming exact median + MAD — batch `a47`'s robust-scale pair over
  * a live fact stream: the current per-return-flag lower-median price
  * and the lower median of |price − median|, BOTH exact integer cents
  * values FROM the data after every batch.
  *
  * State design (the [[StreamingDistinct]] CRDT discipline applied to
  * order statistics): an exact quantile is not incrementally
  * maintainable from the quantile itself — one arrival can move the
  * median to a value never seen near it — but it IS a pure function of
  * the value HISTOGRAM, and the histogram is a commutative additive
  * state: per batch ONE map-side-combined (flag, cents) → count
  * partial merges into the store by plain addition, so ANY arrival
  * order (reverse drains, replays, interleavings) converges to the
  * batch answer with no watermark, no retraction, no revision path —
  * spec'd hostile in StreamingSpec against the oracled batch `a47_mad`.
  *
  * Scale shape: the state is the COMPACTED histogram — bounded by the
  * value domain (a cents-grained money domain is ~10^7 keys worst
  * case), never by stream length; a deployment with an unbounded
  * domain buckets values first (the trade every sketch makes, except
  * this one stays exact for integer domains). Per batch:
  * the partial aggregate over the batch, one additive fold, then TWO
  * [[RelationalOps.groupedMedianShift]] selections over the histogram
  * (coarse `v >> 12` pass + refine inside one target bucket — windows
  * metadata-width by the shift contract, no global sort ever).
  *
  * Both tables (histogram, result) land through ONE
  * [[ParquetKpiStore.commitGroup]] manifest swap: a reader can never
  * see batch-n counts beside a batch-(n−1) median — and the group
  * watermark makes replays exactly-once across the pair.
  *
  * Money stays exact: prices stage `cast(decimal(18,2)) * 100 → long`
  * cents (the e22 discipline), every compared number a BIGINT. */
object StreamingMedianMad {

  private[streaming] val group = "median_mad"
  private[streaming] val countsTable = "mm_counts"
  private[streaming] val resultTable = "mm_result"

  /** Exact per-(flag, cents) counts for one batch — the only
    * corpus-width work, map-side combined. */
  private def partials(batch: DataFrame): DataFrame =
    batch
      .select(col("l_returnflag"),
        (col("l_extendedprice").cast("decimal(18,2)") * 100)
          .cast("long").as("cents"))
      .groupBy(col("l_returnflag"), col("cents"))
      .agg(count(lit(1)).as("n"))

  private def applyBatch(store: ParquetKpiStore)(
      batch: DataFrame, batchId: Long): Unit = {
    val spark = batch.sparkSession
    if (batchId <= store.appliedGroupBatch(spark, group)) return // replayed
    val part = partials(batch)
    val counts = store.readGrouped(spark, group, countsTable) match {
      case None => part
      case Some(cur) =>
        cur.unionByName(part)
          .groupBy(col("l_returnflag"), col("cents"))
          .agg(sum(col("n")).as("n"))
    }
    val staged = graft.CachePool.register(counts.persist())
    try {
      // batch a47's two selections, run over the compacted histogram
      // (weights = accumulated counts) instead of raw rows
      val med = graft.CachePool.register(RelationalOps.groupedMedianShift(
        staged, "l_returnflag", "cents", "n")
        .withColumnRenamed("w_median", "median_cents")
        .persist()) // |flags| rows; keeps the mad passes off med's DAG
      val mad = RelationalOps.groupedMedianShift(
        staged.join(broadcast(med), Seq("l_returnflag"))
          .select(col("l_returnflag"),
            abs(col("cents") - col("median_cents")).as("_dev"), col("n")),
        "l_returnflag", "_dev", "n")
        .withColumnRenamed("w_median", "mad_cents")
      val result = med.join(mad, Seq("l_returnflag"))
        .select(col("l_returnflag"), col("median_cents"), col("mad_cents"))
      store.commitGroup(spark, group,
        Seq(countsTable -> staged, resultTable -> result), batchId)
      med.unpersist()
    } finally { staged.unpersist(); () }
  }

  /** Hook a lineitem-shaped stream (l_returnflag, l_extendedprice)
    * into the incremental median/MAD store. */
  def start(
      spark: SparkSession,
      rows: DataFrame,
      store: ParquetKpiStore,
      checkpointDir: String,
      availableNow: Boolean = true): StreamingQuery = {
    StreamRunner.start(rows, "graft_stream_median_mad", checkpointDir,
        StreamRunner.trigger(availableNow))(applyBatch(store))
  }

  /** The committed (flag, median_cents, mad_cents) — batch `a47`'s
    * output shape, at the group's generation. */
  def medianMad(spark: SparkSession, store: ParquetKpiStore): DataFrame =
    store.readGrouped(spark, group, resultTable)
      .getOrElse(ParquetKpiStore.empty(spark,
        "l_returnflag STRING, median_cents BIGINT, mad_cents BIGINT"))
      .orderBy(col("l_returnflag"))

  /** The committed histogram twin — same generation as [[medianMad]]
    * by the group-manifest read path. */
  def counts(spark: SparkSession, store: ParquetKpiStore): DataFrame =
    store.readGrouped(spark, group, countsTable)
      .getOrElse(ParquetKpiStore.empty(spark, "l_returnflag STRING, cents BIGINT, n BIGINT"))
}
