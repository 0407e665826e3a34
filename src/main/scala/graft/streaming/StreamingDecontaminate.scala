package graft.streaming

import graft.operators.Dedup
import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.streaming.StreamingQuery

/** Streaming decontamination: every arriving micro-batch of documents is
  * checked against a STATIC eval/benchmark set before it is admitted to
  * the training corpus — the ingest-time form of
  * [[graft.operators.Dedup.crossNearDupPairs]].
  *
  * The eval set is fixed and small relative to the stream; [[start]]
  * caches it so each batch re-derives its buckets from memory rather
  * than storage. Per-batch cost is one signature pass over the batch
  * plus a bucket-local join against the eval buckets — independent of
  * how much stream history has gone by (nothing is accumulated;
  * contrast with [[StreamingLshDedup]], which grows an index of the
  * stream itself).
  *
  * Replay: a [[BatchMarkers]] marker is created after the flagged pairs
  * are appended, so the replay of a batch whose marker landed is a
  * no-op. A crash after the append and before the marker appends the
  * batch's pairs again on replay: this sink is at-least-once, not
  * exactly-once. */
class StreamingDecontaminate(
    flaggedDir: String,
    k: Int = 3,
    numHashes: Int = 32,
    bands: Int = 8,
    threshold: Double = 0.5)
    extends Serializable {

  private val markers = new BatchMarkers(flaggedDir)

  /** Flag batch docs leaking eval content; append (id_a = eval doc,
    * id_b = stream doc, jaccard) to `flaggedDir`. */
  def processBatch(
      spark: SparkSession,
      evalSet: DataFrame,
      batch: DataFrame,
      batchId: Long): Unit = markers.once(spark, batchId) {
    // persistStaged = false: a micro-batch is a fresh plan every trigger,
    // so CacheManager could never dedupe the staged frames — persisting
    // here would leak one cached shingle frame per batch for the
    // query's lifetime (see the staging note in crossNearDupPairs);
    // recomputing a small batch's shingles per consumer is the cheaper
    // side of the trade
    Dedup.crossNearDupPairs(
        corpus = batch, probes = evalSet, "doc_id", "text",
        threshold, k, numHashes, bands, persistStaged = false)
      .write.mode(SaveMode.Append).parquet(s"$flaggedDir/data")
  }

  /** Hook a document stream (columns doc_id, text) to be screened
    * against `evalSet`. */
  def start(
      spark: SparkSession,
      evalSet: DataFrame,
      docStream: DataFrame,
      checkpointDir: String,
      availableNow: Boolean = true): StreamingQuery = {
    val cachedEval = evalSet.persist()
    // lifecycle: the eval cache lives exactly as long as the query
    StreamRunner.start(docStream, "graft_stream_decontaminate", checkpointDir,
        StreamRunner.trigger(availableNow),
        release = Some(() => cachedEval.unpersist())) { (batch, batchId) =>
      processBatch(spark, cachedEval, batch, batchId)
    }
  }
}
