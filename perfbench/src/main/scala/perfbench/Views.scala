package perfbench

import scala.collection.mutable

import graft.SparkEntry
import graft.sources.Tables
import graft.streaming._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery

/** Streaming views, one per sink merge kind, each draining the sf0.1
  * `events` table split into time-ordered segments, one segment per
  * trigger (`maxFilesPerTrigger=1`), in an order shuffled by the seed.
  * Each view's read-back is checked against its batch twin. Run only in
  * the traced `registry` run, for the per-layer sink metrics. */
object Views {
  val Segments = 3

  final case class View(
      name: String,
      query: String,
      twin: String,
      start: (SparkSession, DataFrame, ParquetKpiStore, String) => StreamingQuery,
      table: (SparkSession, ParquetKpiStore) => DataFrame)

  val All: Seq[View] = Seq(
    View("transitions", "graft_stream_transitions", "w12_transitions",
      (s, ev, st, cp) => StreamingTransitions.start(s, ev, st, cp),
      StreamingTransitions.transitionTable),
    View("funnel", "graft_stream_funnel", "w10_funnel",
      (s, ev, st, cp) => StreamingFunnel.start(s, ev, st, cp),
      StreamingFunnel.funnelTable),
    View("ohlc", "graft_stream_ohlc", "e15_ohlc",
      (s, ev, st, cp) => StreamingOhlc.start(s, ev, st, cp),
      StreamingOhlc.candleTable),
    View("retention", "graft_stream_retention", "w11_retention",
      (s, ev, st, cp) => StreamingRetention.start(s, ev, st, cp),
      StreamingRetention.retentionTable))

  /** Split `events` into time-ordered segment directories; returns its row count. */
  private def split(spark: SparkSession, dataDir: String, dir: String): Long = {
    val ev = Tables.events(spark, dataDir)
      .select(col("user_id"), col("ts"), col("event_id"), col("event_type"), col("value"))
    val b = ev.agg(min(unix_micros(col("ts"))), max(unix_micros(col("ts"))), count(lit(1))).head()
    val (tMin, span) = (b.getLong(0), math.max(b.getLong(1) - b.getLong(0), 1L))
    ev.withColumn("_seg",
        least(lit(Segments - 1), ((unix_micros(col("ts")) - tMin) * Segments / (span + 1)).cast("int")))
      .repartition(1)
      .write.partitionBy("_seg").parquet(dir)
    b.getLong(2)
  }

  /** Drain every view once and check it. Records drains, checks and
    * merge timings in `raw`. */
  def run(spark: SparkSession, opts: Opts, raw: Raw): Unit = {
    val base = Proc.freshDir(s"${opts.workDir}/views")
    val segDir = s"$base/segments"
    val rows = split(spark, opts.dataDir, segDir)
    val schema = spark.read.parquet(s"$segDir/_seg=0").schema
    val order = new scala.util.Random(opts.seed).shuffle(All)
    val drains = mutable.ArrayBuffer.empty[Map[String, Any]]
    val checks = mutable.ArrayBuffer.empty[Map[String, Any]]
    val merges = mutable.ArrayBuffer.empty[Map[String, Any]]
    order.foreach { v =>
      val store = new TimedStore(s"$base/${v.name}/store", v.query)
      val stream = spark.readStream.schema(schema).option("maxFilesPerTrigger", 1).parquet(s"$segDir/_seg=*")
      val t0 = Clock.nowMs
      val q = v.start(spark, stream, store, s"$base/${v.name}/cp")
      q.awaitTermination()
      drains += Map("view" -> v.name, "s" -> (Clock.nowMs - t0) / 1000.0, "run" -> q.runId.toString,
        "rows" -> rows, "exception" -> q.exception.map(_.toString),
        "store_bytes" -> Proc.dirBytes(new java.io.File(s"$base/${v.name}/store")))
      merges ++= store.all
      val got = try Some(Digest.of(v.table(spark, store)).render) catch { case _: Throwable => None }
      val want = Digest.of(SparkEntry.queries(v.twin)(spark, opts.dataDir)).render
      val dropped = if (v.name == "transitions") StreamingTransitions.droppedLate(spark, store) else 0L
      checks += Map("name" -> v.name, "twin" -> v.twin, "want" -> want, "got" -> got,
        "dropped_late" -> dropped)
    }
    org.apache.spark.perfbench.Bus.drain(spark.sparkContext)
    raw("views") = Map("order" -> order.map(_.name), "drains" -> drains.toSeq,
      "checks" -> checks.toSeq, "merges" -> merges.toSeq)
  }
}
