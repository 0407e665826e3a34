package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery

/** Streaming daily VWAP — batch `e22`'s ingest-time twin and the
  * simplest possible member of the COMMUTATIVE-STATE family
  * ([[StreamingDistinct]] states the argument; [[StreamingOhlc]] is
  * the algebraic sibling on the same panel): the per-(event_type, day)
  * state is three exact-integer sums — trades, volume Σk, and the
  * price-volume product in CENTS (price is a ≤2-decimal fixture
  * double, so price·100·k is an exact long) — and long addition
  * commutes, so per-batch partials merged through the plain additive
  * [[ParquetKpiStore.merge]] converge under ANY arrival order with no
  * retraction machinery at all.
  *
  * Read-back parity is BIT-exact against batch `e22`: the batch DAG is
  * double(Σpv_decimal) / double(Σk); read-back rebuilds Σpv EXACTLY as
  * a decimal (pv_cents / 100 is exact at scale ≥ 2, and decimal(38,6)
  * holds any long's worth of cents), then casts to double — ONE
  * correctly-rounded conversion of the same rational, at ANY
  * magnitude. (A double-side `pv_cents.cast(double) / 100.0` would
  * round twice once pv_cents exceeds 2^53.) Spec-asserted under a
  * hostile reverse-time drain.
  *
  * State is |days × event_types| rows regardless of volume; merges are
  * idempotent per (table, batchId) — the K3–K10 exactly-once
  * contract. */
object StreamingVwap {

  private val table = "vwap_daily"

  /** Exact-integer partial of one micro-batch. */
  private[graft] def partial(df: DataFrame): DataFrame =
    df.select(col("event_type"),
        expr("unix_micros(ts) div 86400000000L").as("day_idx"),
        (col("value").cast("decimal(18,2)") * 100).cast("long").as("_pc"),
        get_json_object(col("props"), "$.k").cast("long").as("_k"))
      .groupBy(col("event_type"), col("day_idx"))
      .agg(count(lit(1)).as("trades"),
        sum(col("_k")).as("volume"),
        sum(col("_pc") * col("_k")).as("pv_cents"))

  private def applyBatch(store: ParquetKpiStore)(
      batch: DataFrame, batchId: Long): Unit =
    store.merge(batch.sparkSession, table, Seq("event_type", "day_idx"),
      partial(batch), batchId)

  /** Hook an events stream into the incremental VWAP store. */
  def start(
      spark: SparkSession,
      events: DataFrame,
      store: ParquetKpiStore,
      checkpointDir: String,
      availableNow: Boolean = true): StreamingQuery = {
    StreamRunner.start(events, "graft_stream_vwap", checkpointDir,
        StreamRunner.trigger(availableNow))(applyBatch(store))
  }

  /** The VWAP panel in `e22`'s exact output shape. */
  def vwapTable(spark: SparkSession, store: ParquetKpiStore): DataFrame =
    store.read(spark, table)
      .getOrElse(ParquetKpiStore.empty(spark, "event_type STRING, day_idx BIGINT, " +
        "trades BIGINT, volume BIGINT, pv_cents BIGINT"))
      .select(col("event_type"), col("day_idx"), col("trades"), col("volume"),
        ((col("pv_cents").cast("decimal(38,0)") / lit(100)).cast("double") /
          col("volume").cast("double")).as("vwap"))
      .orderBy(col("event_type"), col("day_idx"))
}
