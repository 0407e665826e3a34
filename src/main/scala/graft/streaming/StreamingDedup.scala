package graft.streaming

import graft.operators.{Dedup, TextAnalysis}
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery

/** Cross-batch streaming near-duplicate detection: each micro-batch of
  * documents is checked against the ACCUMULATED corpus via the banded
  * MinHash-LSH index, then its own buckets are appended to the index —
  * history is never reprocessed.
  *
  * Index layout (r13 — the split the r9 scaladoc only promised):
  *   `data/`  — (doc_id, band, bucket) bucket rows, PARTITIONED by
  *              `_bp = pmod(xxhash64(band, bucket), indexParts)`;
  *              fixed-width ids ONLY, so the per-batch bucket join
  *              shuffles 24-byte rows and the index append writes no
  *              payload;
  *   `docs/`  — (doc_id, _sh) ONE row per document — the shingle
  *              store the exact-Jaccard verify joins back to, touched
  *              only for SURVIVING candidate ids. Before the split
  *              every bucket row carried its document's full shingle
  *              array (×bands duplication): the r12 drain spent its
  *              time shipping arrays through the candidate join and
  *              the append (762 rows/s, split-probe attributed).
  * Per batch the work is:
  *   new-docs staging (one narrow shingle+signature pass, persisted)
  *   → distinct `_bp` set of the batch (≤ indexParts ints, driver-side)
  *   ⋈ index bucket rows on (band, bucket), scan pruned to those
  *     partitions → DISTINCT (new, old) id pairs (id-width shuffle)
  *   → shingles joined back (new side from the batch's own cache, old
  *     side from `docs/`) → exact Jaccard verify
  *   → append this batch's bucket rows + doc rows.
  * A batch touching few partitions reads a FRACTION of the index
  * (StreamingSpec pins the PartitionFilters in the plan); a batch
  * covering every partition degrades gracefully to the full scan.
  * Batch cost scales with batch size × bucket occupancy, independent
  * of corpus length — except the old-side shingle fetch, a doc_id
  * join against `docs/`: a 100 TB deployment writes `docs/` clustered
  * by doc_id so row-group stats (plus a candidate-id runtime filter)
  * prune that fetch to the candidate set, which bucket-occupancy caps
  * already bound.
  *
  * `indexParts` DEFAULTS TO 1 (single partition ≡ the flat layout),
  * and the MEASURED contract (r12, settling the r11 open question) is
  * that the flat layout wins at every locally constructible scale —
  * including the friendliest case for pruning (8-doc batch covering
  * ~22% of 256 partitions against a 100× index: flat 2.53 s vs
  * pruned 4.69 s, BENCH `tiny_*` keys). The cost model: pruning
  * saves `readFraction × scan bytes` but pays a per-partition
  * planning/listing/small-file cost × indexParts, so partitioning
  * pays only once each partition holds a parquet-sized chunk of
  * index (≳128 MB) — partition count must follow INDEX BYTES, never
  * batch shape. [[StreamingLshDedup.autoIndexParts]] encodes exactly
  * that (flat below ~256 MB of index; then bytes/128 MB, capped),
  * and the batch-coverage pruning fraction (1 − e^(−coverage/P))
  * then falls out of whatever P the bytes justify — at the 100 TB
  * regime, ~10^5 partitions of 128 MB against a 40k-bucket batch
  * read well under 1% of the index.
  *
  * Replay: a [[BatchMarkers]] marker is created after the matches,
  * bucket rows and doc rows are appended, so the replay of a batch whose
  * marker landed is a no-op. A crash after an append and before the
  * marker appends the batch again on replay: this sink is at-least-once,
  * not exactly-once, unlike ParquetKpiStore, whose pointer swap is the
  * commit. */
class StreamingLshDedup(
    indexDir: String,
    matchesDir: String,
    k: Int = 3,
    numHashes: Int = 32,
    bands: Int = 8,
    threshold: Double = 0.5,
    indexParts: Int = 1)
    extends Serializable {

  private def fs(spark: SparkSession) =
    new Path(indexDir).getFileSystem(spark.sparkContext.hadoopConfiguration)

  private val markers = new BatchMarkers(indexDir)

  /** On-disk layout version marker. v2 is the r13 split (id-only
    * bucket rows under `data/`, shingles under `docs/`); a pre-v2
    * index stored shingle arrays inline in `data/` and had no `docs/`
    * store, so appending v2 rows into it would mix parquet schemas and
    * the verify join would crash on the missing `docs/` path (r13
    * ADVICE). Every writer calls [[ensureLayout]] first.
    *
    * The marker postdates the v2 split itself (r14 ADVICE): a healthy
    * v2 index built before the marker was introduced is marker-LESS,
    * and refusing it by marker absence alone would force a needless
    * full rebuild plus a fresh checkpoint on upgrade. So a marker-less
    * `data/` is classified by its parquet SCHEMA, which distinguishes
    * the layouts deterministically — v2 rows are id-only
    * (doc_id, band, bucket [+ the `_bp` partition column]); v1 rows
    * carried the inline `_sh` shingle array. A provably-v2 index is
    * stamped and accepted; a v1-shaped (or unreadable) one fails FAST
    * with a rebuild message instead of corrupting. */
  private def layoutMarker = new Path(s"$indexDir/_layout_v2")

  private def ensureLayout(spark: SparkSession, f: org.apache.hadoop.fs.FileSystem): Unit = {
    val hasData = f.exists(new Path(s"$indexDir/data"))
    if (hasData && !f.exists(layoutMarker)) {
      val fields = scala.util.Try(
        spark.read.parquet(s"$indexDir/data").schema.fieldNames.toSet)
      val provablyV2 = fields.toOption.exists(fs =>
        Set("doc_id", "band", "bucket").subsetOf(fs) && !fs.contains("_sh"))
      if (!provablyV2)
        throw new IllegalStateException(
          s"$indexDir holds a pre-v2 index layout (data/ rows carry schema " +
            s"${fields.toOption.map(_.mkString("[", ", ", "]")).getOrElse("<unreadable>")} " +
            "instead of the id-only v2 shape doc_id/band/bucket). v2 stores id-only " +
            "bucket rows under data/ and the shingle store under docs/; appending " +
            "into the old layout would mix incompatible parquet schemas. Rebuild: " +
            "delete the index directory and re-seed it (seedIndex) from the corpus, " +
            "then restart the stream from a fresh checkpoint.")
      // provably v2, just built before the marker existed: fall through
      // and stamp it so future checks are a file-exists, not a schema read
    }
    if (!f.exists(layoutMarker)) {
      f.mkdirs(new Path(indexDir))
      f.create(layoutMarker, true).close()
    }
  }

  /** Per-doc staging for a batch — ONE narrow pass producing the
    * shingle set and its minhash signature; callers persist it (every
    * downstream consumer is a narrow derivation). */
  private def stagedDocs(docs: DataFrame): DataFrame =
    TextAnalysis.withShingles(
      docs.select(col("doc_id"), col("text")), "text", k)
      .withColumn("_sig", Dedup.minhashSignatureFromShingles(col("_sh"), numHashes))

  /** Id-only bucket rows (doc_id, band, bucket, _bp) from a staged
    * batch — the shape `data/` stores and the candidate join shuffles;
    * shingle arrays never ride these rows. */
  private def bucketRows(staged: DataFrame): DataFrame =
    staged
      .select(col("doc_id"),
        explode(Dedup.bandHashes(col("_sig"), numHashes, bands)).as("bh"))
      .select(col("doc_id"),
        col("bh.band").as("band"), col("bh.bucket").as("bucket"))
      .withColumn("_bp", pmod(xxhash64(col("band"), col("bucket")), lit(indexParts)).cast("int"))

  /** Bucket rows for a raw document batch (staging fused in) — the
    * probe/spec entry point. */
  private[graft] def bucketed(docs: DataFrame): DataFrame =
    bucketRows(stagedDocs(docs))

  /** The accumulated index read PRUNED to the partitions `newBuckets`
    * can possibly join into — `_bp` is a partition column and the IN
    * list is literal, so the cut happens at file-listing time
    * (PartitionFilters on the scan), never as a post-scan filter. */
  private[graft] def prunedIndex(
      spark: SparkSession, newBuckets: DataFrame): DataFrame = {
    // single-partition layout: the distinct-collect prune job would be
    // a per-batch no-op costing a Spark job — skip it (measured ~10%
    // of drain wall at the bench scale)
    if (indexParts <= 1) return spark.read.parquet(s"$indexDir/data")
    val parts = newBuckets.select(col("_bp")).distinct()
      .collect().map(_.getInt(0)) // bounded: ≤ indexParts values
    spark.read.parquet(s"$indexDir/data")
      .filter(col("_bp").isin(parts.toSeq: _*))
  }

  /** Process one micro-batch: emit (new_doc_id, dup_of_doc_id, jaccard)
    * matches against the accumulated index, then append the batch. */
  def processBatch(
      spark: SparkSession, docs: DataFrame, batchId: Long): Unit = markers.once(spark, batchId) {
    val f = fs(spark)
    ensureLayout(spark, f)
    // ONE persisted staging; bucket rows re-derive narrowly from it
    // (an explode over a cached frame is cheaper than a second cache)
    val staged = stagedDocs(docs).persist()
    val newBuckets = bucketRows(staged)
    try {
      val indexExists = f.exists(new Path(s"$indexDir/data"))
      // candidate generation over ID-ONLY bucket rows: the distinct
      // shuffles (new, old) pairs, never shingle arrays. Persisted:
      // consumed twice (old-side store restriction + the verify spine)
      // and re-deriving it re-reads the index.
      val candPairs = (
        if (indexExists)
          newBuckets.as("n")
            .join(prunedIndex(spark, newBuckets).as("o"),
              col("n.band") === col("o.band") && col("n.bucket") === col("o.bucket") &&
                col("n.doc_id") =!= col("o.doc_id"))
            .select(col("n.doc_id").as("new_id"), col("o.doc_id").as("old_id"))
            .distinct()
        else
          // first batch: still dedup within the batch itself
          newBuckets.as("a")
            .join(newBuckets.as("b"),
              col("a.band") === col("b.band") && col("a.bucket") === col("b.bucket") &&
                col("a.doc_id") < col("b.doc_id"))
            .select(col("b.doc_id").as("new_id"), col("a.doc_id").as("old_id"))
            .distinct()
      ).persist()
      try {
        // exact-Jaccard verify: shingles join back onto the SURVIVING
        // candidate ids — new side from this batch's cache, old side
        // from the doc store (first batch: the old ids are batch docs).
        // docs/ can hold duplicate doc_id rows (a doc both seeded and
        // streamed, or re-ingested across batches): the id-pair
        // distinct above runs BEFORE the shingle join, so each copy
        // would fan the verify into its own match row (r13 ADVICE).
        // Restrict the store read to the batch's candidate ids FIRST
        // (a left-semi against a set bucket-occupancy caps already
        // bound — broadcastable), THEN drop duplicates: the dedupe
        // aggregate runs over candidate-matched rows only, never as a
        // whole-store shuffle per batch. One row per id wins; copies
        // agree unless a re-ingest changed the text, in which case the
        // winner is arbitrary — re-ingest-with-new-text callers should
        // rebuild, not append.
        val oldSh =
          if (indexExists)
            spark.read.parquet(s"$indexDir/docs")
              .join(candPairs.select(col("old_id")).distinct(),
                col("doc_id") === col("old_id"), "left_semi")
              .dropDuplicates("doc_id")
          else staged.select(col("doc_id"), col("_sh"))
        candPairs
          .join(staged.select(col("doc_id").as("new_id"), col("_sh").as("_sn")),
            Seq("new_id"))
          .join(oldSh.select(col("doc_id").as("old_id"), col("_sh").as("_so")),
            Seq("old_id"))
          .withColumn("jaccard", Dedup.jaccardFromShingles(col("_sn"), col("_so")))
          .filter(col("jaccard") >= threshold)
          .select(col("new_id"), col("old_id"), col("jaccard"))
          .write.mode(SaveMode.Append).parquet(matchesDir)
      } finally candPairs.unpersist()
      newBuckets.write.mode(SaveMode.Append)
        .partitionBy("_bp").parquet(s"$indexDir/data")
      staged.select(col("doc_id"), col("_sh"))
        .write.mode(SaveMode.Append).parquet(s"$indexDir/docs")
    } finally staged.unpersist()
  }

  /** Bootstrap the index from an ALREADY-DEDUPED corpus: append its
    * bucket rows WITHOUT the within-batch self-join or match output.
    * A deployment migrating an existing cleaned corpus into the
    * streaming path does exactly this — re-deduping known-clean data
    * would be pure quadratic waste before the stream even starts.
    *
    * Seed markers live in their OWN namespace (`_seeded_<id>`), never
    * [[processBatch]]'s `_applied_<id>`: structured streaming assigns
    * batchId 0 to the FIRST micro-batch of a fresh checkpoint, so a
    * shared namespace would make that batch see the seed's marker and
    * silently no-op — its documents never deduped and never indexed.
    * `seedIndex(…)` then `start(…)` on a fresh checkpoint is safe. */
  def seedIndex(spark: SparkSession, docs: DataFrame, batchId: Long = 0L): Unit = {
    val f = fs(spark)
    val seedMarker = new Path(s"$indexDir/_seeded_$batchId")
    if (f.exists(seedMarker)) return // replay after recovery: no-op
    ensureLayout(spark, f)
    val staged = stagedDocs(docs).persist()
    try {
      bucketRows(staged).write.mode(SaveMode.Append)
        .partitionBy("_bp").parquet(s"$indexDir/data")
      staged.select(col("doc_id"), col("_sh"))
        .write.mode(SaveMode.Append).parquet(s"$indexDir/docs")
    } finally staged.unpersist()
    f.create(seedMarker, true).close()
  }

  /** Hook a text-document stream (columns doc_id, text) into the
    * incremental dedup. */
  def start(
      spark: SparkSession,
      docStream: DataFrame,
      checkpointDir: String,
      availableNow: Boolean = true): StreamingQuery = {
    StreamRunner.start(docStream, "graft_stream_dedup", checkpointDir,
        StreamRunner.trigger(availableNow)) { (batch, batchId) =>
      processBatch(spark, batch, batchId)
    }
  }
}

object StreamingLshDedup {

  /** The r12-measured crossover contract as code: partition the index
    * only when each partition can hold a parquet-sized chunk
    * (`targetPartitionBytes`, default 128 MB — the scan sweet spot),
    * because pruning saves `readFraction × scan bytes` but pays a
    * per-partition planning/listing/small-file cost that DOMINATED at
    * every locally constructible scale (flat 2.53 s vs pruned-256
    * 4.69 s on a 100× index with an 8-doc batch — the friendliest
    * pruning case, BENCH `tiny_*` keys). Below ~2 partitions' worth
    * of bytes the flat layout is simply correct; above it, partition
    * count follows index bytes (capped at 4096 — a file-count budget,
    * not a tuning knob), and the batch's pruning fraction
    * (1 − e^(−coverage/P)) falls out of whatever P the bytes justify. */
  def autoIndexParts(
      expectedIndexBytes: Long,
      targetPartitionBytes: Long = 128L << 20): Int = {
    require(targetPartitionBytes > 0, "targetPartitionBytes must be positive")
    if (expectedIndexBytes < 2 * targetPartitionBytes) 1
    else math.min(4096L, expectedIndexBytes / targetPartitionBytes).toInt
  }
}
