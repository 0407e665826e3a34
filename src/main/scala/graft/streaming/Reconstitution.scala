package graft.streaming

import graft.operators.TextAnalysis
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery
import java.io.{BufferedWriter, FileWriter}

/** Text normalization + ordered reconstitution — the Structured-Streaming
  * replacement for the reference's legacy DStream job (reference:
  * src/main/scala/FileReconstitution.scala:15-73).
  *
  * The reference's streaming path appended to a single file from every
  * partition concurrently (FileReconstitution.scala:55-68) — ordering was
  * non-deterministic. Here ordering is explicit: lines carry their
  * segment number (`regexp_extract(input_file_name(), "segment_(\d+)")`)
  * and each micro-batch is sorted by it before the single-writer append.
  * Single-file append is inherently a serial sink; the distributed form
  * (`partitionedReconstitute`) writes one ordered file per segment and is
  * what a 100 TB deployment would use.
  */
object Reconstitution {

  /** Normalize lines and attach their segment order key. */
  def normalized(lines: DataFrame): DataFrame =
    lines.select(
      TextAnalysis.normalize(col("value")).as("value"),
      TextAnalysis.segmentNumber(input_file_name()).as("segment"))

  /** Batch pre-pass (reference: FileReconstitution.scala:31-50): read all
    * existing segments, normalize, order by segment, append to one file. */
  def batchReconstitute(spark: SparkSession, inputGlob: String, outFile: String): Long = {
    val df = normalized(spark.read.textFile(inputGlob).toDF("value"))
      .orderBy(col("segment"))
    appendToFile(df, outFile)
  }

  /** Streaming path: text file source → normalize → per-batch ordered
    * single-writer append (driver-side, by the operator's own semantics —
    * ONE output file). */
  def streamReconstitute(
      spark: SparkSession,
      inputGlob: String,
      outFile: String,
      checkpointDir: String,
      availableNow: Boolean = true): StreamingQuery = {
    StreamRunner.start(spark.readStream.text(inputGlob), "graft_reconstitute", checkpointDir,
        StreamRunner.trigger(availableNow)) { (batch, _) =>
      appendToFile(normalized(batch).orderBy(col("segment")), outFile)
    }
  }

  /** Distributed form: one normalized, internally ordered file per
    * segment directory — fully parallel, no single-writer bottleneck. */
  def partitionedReconstitute(spark: SparkSession, inputGlob: String, outDir: String): Unit =
    normalized(spark.read.textFile(inputGlob).toDF("value"))
      .repartition(col("segment"))
      .sortWithinPartitions(col("segment"))
      .write.mode("overwrite").partitionBy("segment").text(outDir)

  /** Ordered driver-side append; `toLocalIterator` streams partitions in
    * order without materializing the batch on the driver.
    *
    * LIMITATION (by the operator's own semantics): the output is ONE
    * ordered file written via local java.io — driver-local filesystem
    * only, single writer, matching the reference's FileReconstitution
    * contract. This is inherently the non-distributed tier; at scale use
    * [[partitionedReconstitute]], which writes per-segment ordered files
    * fully in parallel to any Hadoop-compatible filesystem. */
  private def appendToFile(ordered: DataFrame, outFile: String): Long = {
    val it = ordered.select(col("value")).toLocalIterator()
    val w = new BufferedWriter(new FileWriter(outFile, true))
    var n = 0L
    try while (it.hasNext) { w.write(it.next().getString(0)); w.newLine(); n += 1 }
    finally w.close()
    n
  }
}
