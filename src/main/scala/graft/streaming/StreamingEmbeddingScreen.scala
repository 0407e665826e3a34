package graft.streaming

import graft.functions.VectorOps
import graft.operators.Similarity
import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery

/** Streaming embedding screen — the embedding analogue of
  * [[StreamingDecontaminate]]: every arriving micro-batch of vectors is
  * checked against a STATIC reference set (e.g. eval-set embeddings)
  * and rows with cosine ≥ threshold to any reference vector are flagged
  * before admission to the training corpus.
  *
  * Scale shape (IVF, see [[graft.operators.Similarity]]): at [[start]]
  * the reference set is assigned to `nlist` inverted lists ONCE (one
  * driver-side centroid materialization, nlist-guarded) and the indexed
  * frame is persisted. Per batch, arriving vectors compute their
  * `nprobe` nearest lists with a narrow per-row map (no Exchange — the
  * same inlined-centroid argmax as ivfAssign) and join ONLY the probed
  * lists of the reference index. Per-batch cost is one scan of the
  * batch plus a probed-lists join — independent of how much stream
  * history has gone by (nothing accumulates).
  *
  * The reference index is broadcast: the reference set is small by
  * contract (an eval set), and the join key `list_id` has only nlist
  * distinct values — a shuffle join on it would cap parallelism at
  * nlist and skew. With nprobe == nlist the screen is exhaustive
  * (exact); nprobe < nlist trades recall for cost exactly like ivfTopK.
  *
  * Replay: a [[BatchMarkers]] marker is created after the flagged rows
  * are appended, so the replay of a batch whose marker landed is a
  * no-op. A crash after the append and before the marker appends the
  * batch's rows again on replay: this sink is at-least-once, not
  * exactly-once.
  *
  * A reference vector lives in exactly ONE list and a batch row probes
  * `nprobe` DISTINCT lists, so a (ref, stream) pair can surface at most
  * once — no dedup pass. */
class StreamingEmbeddingScreen(
    flaggedDir: String,
    nlist: Int = 16,
    nprobe: Int = 4,
    threshold: Double = 0.9)
    extends Serializable {

  private val markers = new BatchMarkers(flaggedDir)

  /** Flag batch vectors near a reference vector; append
    * (ref_id, stream_id, cos) to `flaggedDir`. `refIndex` columns:
    * (ref_id, _rv, list_id) — built once by [[start]]. */
  def processBatch(
      spark: SparkSession,
      cents: Array[(Long, Seq[Float])],
      refIndex: DataFrame,
      batch: DataFrame,
      batchId: Long,
      idCol: String,
      vecCol: String): Unit = markers.once(spark, batchId) {
    Similarity.ivfProbeLists(batch, cents, idCol, vecCol, nprobe)
      .select(col(idCol).as("stream_id"), col(vecCol).as("_sv"), col("list_id"))
      .join(broadcast(refIndex), Seq("list_id"))
      .withColumn("cos", VectorOps.cosineSim(col("_sv"), col("_rv")))
      .filter(col("cos") >= threshold)
      .select(col("ref_id"), col("stream_id"), col("cos"))
      .write.mode(SaveMode.Append).parquet(s"$flaggedDir/data")
  }

  /** Hook a vector stream (columns idCol, vecCol) to be screened
    * against `refSet` (same columns). */
  def start(
      spark: SparkSession,
      refSet: DataFrame,
      vecStream: DataFrame,
      checkpointDir: String,
      idCol: String = "vec_id",
      vecCol: String = "embedding",
      availableNow: Boolean = true): StreamingQuery = {
    // one-time index build: centroids collected ONCE, reference side
    // assigned and persisted — every batch reuses both
    val cents = Similarity.collectCentroids(
      Similarity.ivfCentroids(refSet, idCol, vecCol, nlist))
    val refIndex = Similarity.ivfAssignCollected(refSet, cents, idCol, vecCol)
      .select(col(idCol).as("ref_id"), col(vecCol).as("_rv"), col("list_id"))
      .persist()
    // lifecycle: the index cache lives exactly as long as the query — a
    // session screening many streams must not accumulate dead ref frames
    StreamRunner.start(vecStream, "graft_stream_embedding_screen", checkpointDir,
        StreamRunner.trigger(availableNow),
        release = Some(() => refIndex.unpersist())) { (batch, batchId) =>
      processBatch(spark, cents, refIndex, batch, batchId, idCol, vecCol)
    }
  }
}
