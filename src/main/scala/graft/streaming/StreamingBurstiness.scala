package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery

/** Streaming burstiness — batch `e26`'s ingest-time twin: the
  * per-type Fano factor (index of dispersion of daily counts)
  * maintained while events arrive. Simplest member of the
  * commutative-state family ([[StreamingDistinct]] states the
  * argument; [[StreamingOhlc]] is the algebraic case): state is the
  * ADDITIVE per-(event_type, day) count panel — merge is a sum, so
  * arrival order, duplicate-batch replay (per-(table, batchId)
  * idempotence) and late days are all absorbed without retractions.
  *
  * The dispersion itself is never stored: [[fanoTable]] DERIVES it at
  * read time from the exact integer daily cells with batch e26's
  * identical fixed IEEE DAG (fano = (D·Q − S²)/(D·S), one division;
  * mean = S/D a second), so read-back equals `e26_burstiness`
  * bit-for-bit once the stream drains — spec-asserted under a
  * reverse-time drain. State is |days × types| rows regardless of
  * event volume; a 100 TB deployment bounds it by compacting days
  * past the analysis horizon into a retired-mass row, exactly the
  * [[StreamingDrift]] reference-window discipline. */
object StreamingBurstiness {

  private[streaming] val table = "burstiness_daily"

  /** Additive partial of one frame — also the state schema. */
  private def partial(df: DataFrame): DataFrame =
    df.select(expr("unix_micros(ts) div 86400000000L").as("day_idx"),
        col("event_type"))
      .groupBy(col("day_idx"), col("event_type"))
      .agg(count(lit(1)).as("n_events"))

  /** Merge = per-cell sum: closed, commutative, associative. */
  private def combine(u: DataFrame): DataFrame =
    u.groupBy(col("day_idx"), col("event_type"))
      .agg(sum(col("n_events")).as("n_events"))

  /** Start folding the event stream (schema: ts, event_type, ...)
    * into the daily-cell store. */
  def start(
      spark: SparkSession,
      stream: DataFrame,
      store: ParquetKpiStore,
      checkpointDir: String,
      availableNow: Boolean = true): StreamingQuery = {
    StreamRunner.start(stream, "graft_stream_burstiness", checkpointDir,
        StreamRunner.trigger(availableNow)) { (batch, id) =>
      store.mergeWith(batch.sparkSession, table, partial(batch), id)(combine)
    }
  }

  /** The per-type dispersion panel in the batch `e26_burstiness`
    * shape; a never-written store reads as an empty panel with the
    * full schema. */
  def fanoTable(spark: SparkSession, store: ParquetKpiStore): DataFrame =
    store.read(spark, table) match {
      case Some(df) =>
        val dec = "decimal(38,0)"
        df.groupBy(col("event_type"))
          .agg(count(lit(1)).as("n_days"), sum(col("n_events")).as("_s"),
            sum(col("n_events").cast(dec) * col("n_events")).cast(dec).as("_q"))
          .select(col("event_type"), col("n_days"),
            (col("_s").cast("double") / col("n_days").cast("double"))
              .as("mean_daily"),
            ((col("n_days").cast(dec) * col("_q") -
              col("_s").cast(dec) * col("_s")).cast("double") /
              (col("n_days").cast(dec) * col("_s")).cast("double")).as("fano"))
          .orderBy(col("event_type"))
      case None => ParquetKpiStore.empty(spark,
        "event_type STRING, n_days BIGINT, mean_daily DOUBLE, fano DOUBLE")
    }
}
