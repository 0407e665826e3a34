package graft.streaming

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{Dataset, SparkSession}
import org.apache.spark.sql.streaming.{StreamingQuery, StreamingQueryListener, Trigger}

/** The one start path of every `foreachBatch` query in the engine — the
  * reference's whole streaming surface is this pattern (`writeStream`,
  * a checkpoint, `foreachBatch`, a keyed upsert sink;
  * reference: src/main/scala/Consumer.scala:60-107,152-181), and
  * exactly-once comes from its three parts: a replayable source, the
  * checkpoint named here, and an idempotent sink ([[ParquetKpiStore]]'s
  * applied-batch watermark or a [[BatchMarkers]] directory).
  *
  * Output mode and trigger are the only things that differ between
  * queries, besides what a query releases when it stops: the views'
  * delta streams run in `update` mode and the rest in `append`; the
  * views poll once a second ([[EverySecond]]) and the KPI stream runs on
  * Spark's default trigger ([[Eager]]). */
private[graft] object StreamRunner {

  /** The streaming views' continuous trigger: one micro-batch a second. */
  val EverySecond: Trigger = Trigger.ProcessingTime("1 second")

  /** Spark's default trigger, exactly what `DataStreamWriter` sets when
    * no trigger is given: a micro-batch starts as soon as the previous
    * one ends and the source has new data. */
  val Eager: Trigger = Trigger.ProcessingTime(0L)

  /** `availableNow = true` drains what exists, then stops (the
    * test/replay trigger); otherwise `continuous`. */
  def trigger(availableNow: Boolean, continuous: Trigger = EverySecond): Trigger =
    if (availableNow) Trigger.AvailableNow() else continuous

  /** Start `stream` as query `name`, checkpointed at `checkpointDir`,
    * handing each micro-batch and its id to `body`. `release` runs once
    * when the query terminates: the queries that cache a static input
    * unpersist it there, so a session running many queries does not keep
    * the dead queries' frames. */
  def start[T](
      stream: Dataset[T],
      name: String,
      checkpointDir: String,
      trigger: Trigger,
      outputMode: String = "append",
      release: Option[() => Unit] = None)(
      body: (Dataset[T], Long) => Unit): StreamingQuery = {
    val query = stream.writeStream
      .queryName(name)
      .outputMode(outputMode)
      .option("checkpointLocation", checkpointDir)
      .foreachBatch(body)
      .trigger(trigger)
      .start()
    release.foreach { onStop =>
      val spark = stream.sparkSession
      spark.streams.addListener(new StreamingQueryListener {
        import StreamingQueryListener._
        override def onQueryStarted(e: QueryStartedEvent): Unit = ()
        override def onQueryProgress(e: QueryProgressEvent): Unit = ()
        override def onQueryTerminated(e: QueryTerminatedEvent): Unit =
          if (e.id == query.id) {
            onStop()
            spark.streams.removeListener(this)
          }
      })
    }
    query
  }
}

/** Per-batch completion markers for the sinks that append files rather
  * than commit through [[ParquetKpiStore]]: an empty `_applied_<batchId>`
  * file in `dir`, created after the batch's output is written.
  *
  * What holds: the replay of a batch whose marker landed is a no-op. What
  * does not: the output is appended before the marker is created, so a
  * crash between the two leaves the output without the marker, and the
  * replay appends the batch a second time. */
private[graft] final class BatchMarkers(dir: String) extends Serializable {

  private val prefix = "_applied_"

  private def fs(spark: SparkSession): FileSystem =
    new Path(dir).getFileSystem(spark.sparkContext.hadoopConfiguration)

  private def marker(batchId: Long) = new Path(s"$dir/$prefix$batchId")

  /** Run `body` unless `batchId` is already marked, then mark it. */
  def once(spark: SparkSession, batchId: Long)(body: => Unit): Unit =
    if (!fs(spark).exists(marker(batchId))) {
      body
      fs(spark).create(marker(batchId), true).close()
    }

  /** Highest marked batch id, if any. */
  def lastApplied(spark: SparkSession): Option[Long] = {
    val f = fs(spark)
    val d = new Path(dir)
    if (!f.exists(d)) None
    else f.listStatus(d).toSeq
      .map(_.getPath.getName)
      .collect { case n if n.startsWith(prefix) => n.drop(prefix.length).toLong }
      .maxOption
  }
}
