package graft.streaming

import graft.operators.Importance
import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery

/** Streaming DSIR importance scoring — the ingest-time form of
  * [[graft.operators.Importance]]: the quantized log-ratio table is fit
  * ONCE from a static target sample + raw reference corpus (the "train
  * the selector offline" step), then every arriving micro-batch of
  * documents is scored against it and admitted iff score_q ≥ the
  * threshold ("does this new crawl shard look like the target
  * distribution?").
  *
  * The ratio table is ≤ 16^hexChars rows; [[start]] caches it so each
  * batch joins against memory. Per-batch cost is one narrow feature
  * pass over the batch plus a broadcast join — independent of stream
  * history (nothing accumulates; contrast with [[StreamingLshDedup]]).
  * Because scoring is stateless given the table, batch and streaming
  * scores are IDENTICAL integers — the parity spec asserts equality
  * with [[Importance.importanceScores]] on the same rows, the same
  * guarantee the curation restart spec relies on.
  *
  * Replay: a [[BatchMarkers]] marker is created after the scored rows
  * are appended, so the replay of a batch whose marker landed is a
  * no-op. A crash after the append and before the marker appends the
  * batch's rows again on replay: this sink is at-least-once, not
  * exactly-once. */
class StreamingImportance(
    scoredDir: String,
    minScoreQ: Long,
    hexChars: Int = 2,
    salt: String = "dsir") extends Serializable {

  private val markers = new BatchMarkers(scoredDir)

  /** Score one batch against the (cached) ratio table and append
    * (doc_id, n_feats, score_q, admit) to `scoredDir`. */
  def processBatch(
      spark: SparkSession,
      ratios: DataFrame,
      batch: DataFrame,
      batchId: Long): Unit = markers.once(spark, batchId) {
    Importance.importanceScores(batch, "doc_id", "text", ratios, hexChars, salt)
      .withColumn("admit", col("score_q") >= minScoreQ)
      .write.mode(SaveMode.Append).parquet(s"$scoredDir/data")
  }

  /** Hook a document stream (columns doc_id, text) to be scored against
    * the table fit from `target` vs `raw` (both static). */
  def start(
      spark: SparkSession,
      target: DataFrame,
      raw: DataFrame,
      textCol: String,
      docStream: DataFrame,
      checkpointDir: String,
      availableNow: Boolean = true): StreamingQuery = {
    val cachedRatios =
      Importance.logRatioTable(target, raw, textCol, hexChars, salt).persist()
    // lifecycle: the ratio cache lives exactly as long as the query
    StreamRunner.start(docStream, "graft_stream_importance", checkpointDir,
        StreamRunner.trigger(availableNow),
        release = Some(() => cachedRatios.unpersist())) { (batch, batchId) =>
      processBatch(spark, cachedRatios, batch, batchId)
    }
  }
}
