package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery

import graft.operators.Evaluation

/** Streaming distribution-drift monitor — batch `x30`'s ingest-time
  * twin: PSI of the ARRIVING data against a frozen reference snapshot,
  * maintained incrementally ("is this week's crawl drifting against
  * the committed corpus — while it arrives?"). The production shape:
  * bin edges freeze on the reference ONCE (the standard PSI recipe —
  * re-deriving bounds per batch would make bins incomparable across
  * time), reference bin counts persist once, and each micro-batch
  * folds its value counts into the current-side bins.
  *
  * Third member of the COMMUTATIVE-STATE family
  * ([[StreamingDistinct]] states the argument, [[StreamingFrequency]]
  * is the second): bin counting commutes, so per-batch count deltas
  * through the plain additive [[ParquetKpiStore.merge]] converge to
  * the batch bin counts under ANY arrival order — no retractions, no
  * watermark compaction. The read-back report runs the IDENTICAL
  * [[Evaluation.psiReport]] DAG over the accumulated grid, so once
  * the stream drains, [[psiTable]] equals batch
  * [[Evaluation.psiDriftBins]] row-for-row INCLUDING the IEEE
  * doubles — spec-asserted against a hostile reverse drain.
  *
  * State: `bins` rows per table regardless of stream volume. The
  * driver materializes `bins−1` bound doubles once (bounded, the
  * centroid-collect class). Exactly-once via the per-(table, batchId)
  * idempotence watermark. */
object StreamingDrift {

  private val refTable = "drift_ref"
  private val curTable = "drift_cur"

  def start(
      spark: SparkSession,
      stream: DataFrame,
      ref: DataFrame,
      valueCol: String,
      store: ParquetKpiStore,
      checkpointDir: String,
      bins: Int = 10,
      availableNow: Boolean = true): StreamingQuery = {
    require(bins >= 2, s"bins must be >= 2, got $bins")
    val v = col(valueCol)
    val bounds: Seq[Double] = ref
      .agg(percentile(v, typedLit((1 until bins).map(_.toDouble / bins))).as("_b"))
      .head().getSeq[Double](0)
    val boundsCol = typedLit(bounds)
    // reference counts freeze once; replay (appliedBatch >= 0) is a no-op
    store.mergeReplace(spark, refTable, Seq("bin"),
      ref.select(Evaluation.psiBinOf(v, boundsCol).as("bin"))
        .groupBy(col("bin")).agg(count(lit(1)).as("n")),
      batchId = 0L)
    StreamRunner.start(stream.select(v.as(valueCol)), "graft_stream_drift", checkpointDir,
        StreamRunner.trigger(availableNow)) { (batch, id) =>
      store.merge(batch.sparkSession, curTable, Seq("bin"),
        batch.select(Evaluation.psiBinOf(col(valueCol), boundsCol).as("bin"))
          .groupBy(col("bin")).agg(count(lit(1)).as("n")),
        id)
    }
  }

  /** The drift report over everything that has arrived: the complete
    * 0..bins−1 spine joined to both stored count tables, through the
    * batch [[Evaluation.psiReport]] DAG verbatim. */
  def psiTable(
      spark: SparkSession,
      store: ParquetKpiStore,
      bins: Int = 10,
      quantization: Int = 65536): DataFrame = {
    def counts(table: String, out: String): DataFrame =
      store.read(spark, table)
        .map(_.select(col("bin"), col("n").as(out)))
        .getOrElse(spark.range(0).select(
          col("id").cast("int").as("bin"), col("id").as(out)))
    val spine = spark.range(bins).select(col("id").cast("int").as("bin"))
    val grid = spine
      .join(counts(refTable, "_nr"), Seq("bin"), "left")
      .join(counts(curTable, "_nc"), Seq("bin"), "left")
      .select(col("bin"),
        coalesce(col("_nr"), lit(0L)).as("n_ref"),
        coalesce(col("_nc"), lit(0L)).as("n_cur"))
    Evaluation.psiReport(grid, bins, quantization).orderBy(col("bin"))
  }
}
