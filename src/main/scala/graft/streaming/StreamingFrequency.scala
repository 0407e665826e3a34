package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery

import graft.operators.FrequencySketch

/** Streaming frequency sketch — the row-form count-min sketch
  * ([[FrequencySketch.cmsCells]]) maintained incrementally over an
  * event stream: each micro-batch folds its items into the counter
  * grid, and at any point the store answers "roughly how often has
  * item X occurred so far?" under the CMS never-undercount contract.
  * The ingest-time twin of batch a19/a28 — a 100 TB pipeline runs
  * exactly this shape to track token/URL/domain frequencies while the
  * crawl is still arriving.
  *
  * The second member of the COMMUTATIVE-STATE family
  * ([[StreamingDistinct]] states the argument): counter addition
  * commutes and associates, so per-batch cell deltas merged through
  * the plain additive [[ParquetKpiStore.merge]] converge to the
  * one-shot batch sketch CELL-FOR-CELL under ANY arrival order — no
  * retraction machinery, no watermark compaction, no revision path
  * (contrast [[StreamingTransitions]]/[[StreamingRetention]], whose
  * order-sensitive aggregates force exact retractions). Parity is
  * exact-integer equality, spec-asserted against a hostile
  * reverse-time drain.
  *
  * State is the store table: ≤ depth × 16^hexChars rows regardless of
  * stream volume or item cardinality — the fixed-memory promise that
  * makes a sketch a sketch. Exactly-once via the per-(table, batchId)
  * idempotence watermark, as every sink here. */
object StreamingFrequency {

  private val table = "cms_cells"

  /** Item stream: the j17/e12 convention — integer item id at
    * `$.k` of the events `props` JSON. */
  private[graft] def itemStream(events: DataFrame): DataFrame =
    events
      .select(get_json_object(col("props"), "$.k").cast("int").as("item"))
      .filter(col("item").isNotNull)

  private def applyBatch(
      store: ParquetKpiStore, depth: Int, hexChars: Int, salt: String)(
      batch: DataFrame, batchId: Long): Unit = {
    val spark = batch.sparkSession
    store.merge(spark, table, Seq("d", "cell"),
      FrequencySketch.cmsCells(batch, "item", depth, hexChars, salt),
      batchId)
  }

  def start(
      spark: SparkSession,
      events: DataFrame,
      store: ParquetKpiStore,
      checkpointDir: String,
      depth: Int = 4,
      hexChars: Int = 3,
      salt: String = "cms",
      availableNow: Boolean = true): StreamingQuery = {
    StreamRunner.start(itemStream(events), "graft_stream_frequency", checkpointDir,
        StreamRunner.trigger(availableNow))(applyBatch(store, depth, hexChars, salt))
  }

  /** The accumulated counter grid: (d, cell, cnt). */
  def cellsTable(spark: SparkSession, store: ParquetKpiStore): DataFrame =
    store.read(spark, table)
      .getOrElse(ParquetKpiStore.empty(spark, "d INT, cell STRING, cnt BIGINT"))

  /** Point-query candidate `items` against the accumulated grid —
    * [[FrequencySketch.cmsEstimate]] with matching parameters. */
  def estimateTable(
      spark: SparkSession,
      store: ParquetKpiStore,
      items: DataFrame,
      itemCol: String,
      depth: Int = 4,
      hexChars: Int = 3,
      salt: String = "cms"): DataFrame =
    FrequencySketch.cmsEstimate(
      cellsTable(spark, store), items, itemCol, depth, hexChars, salt)
}
