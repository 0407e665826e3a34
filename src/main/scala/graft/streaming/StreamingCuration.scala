package graft.streaming

import graft.operators.{Dedup, TextAnalysis}
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery

/** Streaming curation — the x14 composition (admission gate → LSH
  * near-dup cut → per-source quota) run INCREMENTALLY in one
  * foreachBatch, so a training corpus curates as it arrives instead of
  * in an end-of-day batch rescan.
  *
  * Per micro-batch:
  *   1. admission gate ([[TextAnalysis.admissionGate]]) — stateless.
  *   2. near-dup cut: the batch's LSH buckets join the ACCUMULATED
  *      index (every admitted doc so far, kept or not) AND the batch
  *      itself; a doc is dropped when any bucket-mate at-or-before it
  *      verifies at `threshold` exact Jaccard. History is never
  *      reprocessed — per-batch cost is batch size × bucket occupancy
  *      (the [[StreamingLshDedup]] contract).
  *   3. per-source quota: survivors are admitted in ascending doc-id
  *      order per source until the source's LIFETIME admitted count
  *      reaches `quota`; the count state is one long per source,
  *      snapshotted per batch (the [[QuotaStream]] bound, persisted).
  *
  * BATCH-PARITY CONTRACT (spec-verified): when arrival order is
  * doc-id order and every dup group is an LSH-CLIQUE against its
  * earliest member (the shape planted fixtures and real dup clusters —
  * crawls of the same page, boilerplate copies — overwhelmingly have),
  * the admitted set EQUALS the batch x14 pipeline's canonical
  * survivors under the same per-source first-N cut. The divergence
  * case is a BRIDGE doc: batch connected-components would merge two
  * earlier-admitted docs through a later arrival and re-canonicalize;
  * a streaming pass cannot retract an emitted admission. That is the
  * inherent prefix-monotonicity of streaming curation, not a bug —
  * document it to consumers.
  *
  * MEASURED bound (StreamingSpec "bridge divergence", deterministic
  * planted fixture): on a WORST-CASE corpus where every dup group is
  * a bridge chain A ~ B ~ C (A-B and B-C near-dups, A-C not) and
  * every bridge B arrives AFTER its endpoints, the admitted set's
  * symmetric difference vs batch x14 is 9 docs = 31% of the batch
  * survivor set (12 chains, 46 docs); the difference is confined to
  * bridge/terminal docs — independent documents never diverge — and
  * bounded by 2 × (bridge chains). Under id-order arrival the
  * difference is ZERO even on that fixture, because dropped docs
  * still enter the index and transitively absorb later chain members.
  * Real crawl dup-clusters are overwhelmingly cliques, so 31% is the
  * adversarial ceiling of a bridge-saturated corpus, not an expected
  * operating point.
  *
  * Replay: a [[BatchMarkers]] marker is created after the batch's
  * writes, so the replay of a batch whose marker landed is a no-op. The
  * quota snapshot is versioned by batchId and re-read from the last
  * MARKED batch, so a crash between the writes and the marker replays
  * into the same snapshot version. The admitted rows and the index are
  * appended, though: after such a crash the replay appends the batch's
  * admitted docs and bucket rows a second time, so this sink is
  * at-least-once, not exactly-once (the [[StreamingLshDedup]]
  * contract). */
class StreamingCuration(
    stateDir: String,
    outDir: String,
    sourceCol: String = "source",
    quota: Long = Long.MaxValue,
    k: Int = 3,
    numHashes: Int = 32,
    bands: Int = 8,
    threshold: Double = 0.5)
    extends Serializable {

  private def fs(spark: SparkSession) =
    new Path(stateDir).getFileSystem(spark.sparkContext.hadoopConfiguration)

  private val markers = new BatchMarkers(stateDir)

  /** Buckets + shingles for a document batch (one pass — the
    * [[StreamingLshDedup]] shape). */
  private def bucketed(docs: DataFrame): DataFrame = {
    val staged = TextAnalysis.withShingles(
      docs.select(col("doc_id"), col("text")), "text", k)
      .withColumn("_sig", Dedup.minhashSignatureFromShingles(col("_sh"), numHashes))
    staged
      .select(col("doc_id"), col("_sh"),
        explode(Dedup.bandHashes(col("_sig"), numHashes, bands)).as("bh"))
      .select(col("doc_id"), col("_sh"),
        col("bh.band").as("band"), col("bh.bucket").as("bucket"))
  }

  def processBatch(
      spark: SparkSession, docs: DataFrame, batchId: Long): Unit = markers.once(spark, batchId) {
    val f = fs(spark)
    val admitted = TextAnalysis.admissionGate(docs)
      .filter(col("admit"))
      .select(col("doc_id"), col(sourceCol), col("text"))
      .persist()
    val buckets = bucketed(admitted).persist()
    try {
      val indexPath = s"$stateDir/index"
      def verified(cands: DataFrame): DataFrame = cands
        .distinct()
        .withColumn("_j", Dedup.jaccardFromShingles(col("_sn"), col("_so")))
        .filter(col("_j") >= threshold)
        .select(col("did"))
      // dropped when a bucket-mate at-or-before this doc verifies:
      // earlier batches live in the index, earlier same-batch docs have
      // a smaller doc_id (arrival order == id order within a batch)
      val vsIndex =
        if (f.exists(new Path(indexPath)))
          verified(buckets.as("n")
            .join(spark.read.parquet(indexPath).as("o"),
              col("n.band") === col("o.band") && col("n.bucket") === col("o.bucket"))
            .select(col("n.doc_id").as("did"), col("n._sh").as("_sn"), col("o._sh").as("_so")))
        else buckets.select(col("doc_id").as("did")).limit(0)
      val within = verified(buckets.as("a")
        .join(buckets.as("b"),
          col("a.band") === col("b.band") && col("a.bucket") === col("b.bucket") &&
            col("a.doc_id") < col("b.doc_id"))
        .select(col("b.doc_id").as("did"), col("b._sh").as("_sn"), col("a._sh").as("_so")))
      val fresh = admitted.join(
        vsIndex.unionByName(within).distinct().withColumnRenamed("did", "doc_id"),
        Seq("doc_id"), "left_anti")
      // lifetime per-source quota from the last marked snapshot
      val usedPrev = markers.lastApplied(spark) match {
        case Some(b) => spark.read.parquet(s"$stateDir/quota/$b")
        case None => admitted.select(col(sourceCol), lit(0L).as("used")).limit(0)
      }
      val ranked = fresh.withColumn("_rk",
        row_number().over(Window.partitionBy(col(sourceCol)).orderBy(col("doc_id"))))
      val keep = ranked
        .join(usedPrev, Seq(sourceCol), "left")
        .withColumn("_used", coalesce(col("used"), lit(0L)))
        .filter(col("_used") + col("_rk") <= quota)
        .select(col("doc_id"), col(sourceCol))
        .persist()
      keep.count()
      keep.write.mode(SaveMode.Append).parquet(s"$outDir/data")
      val merged = usedPrev.unionByName(
          keep.groupBy(col(sourceCol)).agg(count(lit(1)).cast("long").as("used")))
        .groupBy(col(sourceCol)).agg(sum(col("used")).as("used"))
      merged.write.mode(SaveMode.Overwrite).parquet(s"$stateDir/quota/$batchId")
      // the index receives EVERY admitted doc (kept, dup, or
      // quota-cut): later arrivals must dedup against all of them —
      // quota starvation must not resurrect a near-duplicate
      buckets.write.mode(SaveMode.Append).parquet(indexPath)
      keep.unpersist()
    } finally { admitted.unpersist(); buckets.unpersist() }
  }

  /** Hook a document stream (columns doc_id, `sourceCol`, text) into
    * the incremental curation. */
  def start(
      spark: SparkSession,
      docStream: DataFrame,
      checkpointDir: String,
      availableNow: Boolean = true): StreamingQuery = {
    StreamRunner.start(docStream, "graft_stream_curation", checkpointDir,
        StreamRunner.trigger(availableNow)) { (batch, batchId) =>
      processBatch(spark, batch, batchId)
    }
  }
}
