package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery

/** Streaming daily OHLC candles — batch `e15`'s ingest-time twin: the
  * per-(event_type, day) open/high/low/close panel maintained while
  * events arrive. Fourth member of the commutative-state family
  * ([[StreamingDistinct]] states the argument; [[StreamingFrequency]]
  * and [[StreamingDrift]] are additive counts) and the first
  * NON-additive one: the state is an ALGEBRAIC aggregate merged via
  * [[ParquetKpiStore.mergeWith]].
  *
  * Why no retractions: each candle's state row carries
  * (open_eid, open) and (close_eid, close) alongside high/low/n — and
  * min/max over the STRUCT (eid, value) is a commutative, associative
  * semigroup op (eid is unique, so the struct order is total). A late
  * event with an earlier event_id simply WINS the struct-min on its
  * next merge; arrival order can never leave a stale open/close
  * behind. State is |days × event_types| rows regardless of volume.
  *
  * The read-back [[candleTable]] drops the eid bookkeeping and equals
  * batch `e15_ohlc` bit-for-bit once the stream drains (every output
  * is a fixture double carried verbatim — spec-asserted against a
  * reverse-time drain). Exactly-once via the per-(table, batchId)
  * idempotence watermark. */
object StreamingOhlc {

  private[streaming] val table = "ohlc_daily"

  /** Partial OHLC state of one frame — also the state schema. */
  private def partial(df: DataFrame): DataFrame =
    df.select(expr("unix_micros(ts) div 86400000000L").as("day_idx"),
        col("event_type"), col("event_id"), col("value"))
      .groupBy(col("day_idx"), col("event_type"))
      .agg(
        min(struct(col("event_id").as("eid"), col("value").as("v"))).as("_o"),
        max(col("value")).as("high"),
        min(col("value")).as("low"),
        max(struct(col("event_id").as("eid"), col("value").as("v"))).as("_c"),
        count(lit(1)).as("n_events"))
      .select(col("day_idx"), col("event_type"),
        col("_o.eid").as("open_eid"), col("_o.v").as("open"),
        col("high"), col("low"),
        col("_c.eid").as("close_eid"), col("_c.v").as("close"),
        col("n_events"))

  /** The semigroup combine over unioned state rows — identical shape
    * to [[partial]], so merging partials of partials is closed. */
  private def combine(u: DataFrame): DataFrame =
    u.groupBy(col("day_idx"), col("event_type"))
      .agg(
        min(struct(col("open_eid").as("eid"), col("open").as("v"))).as("_o"),
        max(col("high")).as("high"),
        min(col("low")).as("low"),
        max(struct(col("close_eid").as("eid"), col("close").as("v"))).as("_c"),
        sum(col("n_events")).as("n_events"))
      .select(col("day_idx"), col("event_type"),
        col("_o.eid").as("open_eid"), col("_o.v").as("open"),
        col("high"), col("low"),
        col("_c.eid").as("close_eid"), col("_c.v").as("close"),
        col("n_events"))

  /** Start folding the event stream (schema: ts, event_type, event_id,
    * value) into the candle store. */
  def start(
      spark: SparkSession,
      stream: DataFrame,
      store: ParquetKpiStore,
      checkpointDir: String,
      availableNow: Boolean = true): StreamingQuery = {
    StreamRunner.start(stream, "graft_stream_ohlc", checkpointDir,
        StreamRunner.trigger(availableNow)) { (batch, id) =>
      store.mergeWith(batch.sparkSession, table, partial(batch), id)(combine)
    }
  }

  /** Everything that has arrived, in the batch `e15_ohlc` shape; a
    * never-written store reads as an empty panel with the full schema
    * (a poll before the first batch is a normal state, not an error). */
  def candleTable(spark: SparkSession, store: ParquetKpiStore): DataFrame =
    store.read(spark, table) match {
      case Some(df) =>
        df.select(col("day_idx"), col("event_type"), col("open"), col("high"),
            col("low"), col("close"), col("n_events"))
          .orderBy(col("day_idx"), col("event_type"))
      case None => ParquetKpiStore.empty(spark,
        "day_idx BIGINT, event_type STRING, open DOUBLE, high DOUBLE, " +
          "low DOUBLE, close DOUBLE, n_events BIGINT")
    }
}
