package graft

import graft.operators.{Evaluation, FrequencySketch, RelationalOps}
import graft.streaming._
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery

/** Restart and first-poll properties of every store-backed streaming
  * view whose parity spec drains the fixture in reverse time quartiles.
  *
  * Restart: each view takes the same four one-file batches
  * (`maxFilesPerTrigger = 1`). Quartiles 0-1 land and drain with
  * AvailableNow; then 2-3 land and the query restarts from the same
  * checkpoint, so the second run resumes the first run's streaming state
  * and store. Every read-back must then equal its batch twin. Views that
  * take a lateness bound run with an unbounded one: the drain is in
  * reverse time order.
  *
  * First poll: every read-back on a store never written returns no rows
  * (the drift report: its zero-count spine), with the column names and
  * types the same read-back has after the drain. */
class StreamingRestartSpec extends SparkTestBase {

  private val dir = "/root/testdata/sf0.001"
  private val bins = 10

  private def events: DataFrame = sources.Tables.events(spark, dir)
    .select(col("event_id"), col("ts"), col("user_id"), col("event_type"),
      col("value"), col("props"))

  private def lineitem: DataFrame = spark.read.parquet(s"$dir/lineitem.parquet")
    .select(col("l_returnflag"), col("l_extendedprice"), col("l_orderkey"))

  private def twin(query: String): DataFrame = SparkEntry.queries(query)(spark, dir)

  /** One read-back of a view, with its batch twin and the rows it reads
    * from a store never written. */
  private case class ReadBack(
      name: String,
      read: ParquetKpiStore => DataFrame,
      twin: () => DataFrame,
      emptyRows: Long = 0L)

  private case class View(
      name: String,
      onLineitem: Boolean,
      start: (DataFrame, ParquetKpiStore, String) => StreamingQuery,
      readBacks: Seq[ReadBack])

  private def skylineTotals: DataFrame = events
    .select(col("user_id").cast("long").as("user_id"),
      (col("value").cast("decimal(18,2)") * 100).cast("long").as("_vc"))
    .groupBy(col("user_id"))
    .agg(sum(col("_vc")).as("value_cents"), count(lit(1)).as("n_events"))

  private def driftRef: DataFrame = events.filter(col("user_id") % 2 === 0).select(col("value"))

  private def items: DataFrame = events
    .select(get_json_object(col("props"), "$.k").cast("int").as("item"))
    .filter(col("item").isNotNull)

  private val views: Seq[View] = Seq(
    View("retention", false, (s, st, cp) => StreamingRetention.start(spark, s, st, cp),
      Seq(ReadBack("retentionTable", StreamingRetention.retentionTable(spark, _),
        () => twin("w11_retention")))),
    View("skyline", false, (s, st, cp) => StreamingSkyline.start(spark, s, st, cp),
      Seq(
        ReadBack("frontier", StreamingSkyline.frontier(spark, _),
          () => RelationalOps.skyline2D(skylineTotals, "value_cents", "n_events")
            .select(col("user_id"), col("value_cents"), col("n_events"))),
        ReadBack("totals", StreamingSkyline.totals(spark, _), () => skylineTotals))),
    View("median_mad", true, (s, st, cp) => StreamingMedianMad.start(spark, s, st, cp),
      Seq(
        ReadBack("medianMad", StreamingMedianMad.medianMad(spark, _), () => twin("a47_mad")),
        ReadBack("counts", StreamingMedianMad.counts(spark, _), () => lineitem
          .select(col("l_returnflag"),
            (col("l_extendedprice").cast("decimal(18,2)") * 100).cast("long").as("cents"))
          .groupBy(col("l_returnflag"), col("cents")).agg(count(lit(1)).as("n"))))),
    View("funnel", false, (s, st, cp) => StreamingFunnel.start(spark, s, st, cp),
      Seq(ReadBack("funnelTable", StreamingFunnel.funnelTable(spark, _),
        () => twin("w10_funnel")))),
    View("distinct", false, (s, st, cp) => StreamingDistinct.start(spark, s, st, cp),
      Seq(ReadBack("distinctTable", StreamingDistinct.distinctTable(spark, _), () => events
        .select(col("user_id"),
          get_json_object(col("props"), "$.k").cast("int").as("item"))
        .filter(col("item").isNotNull)
        .groupBy(col("user_id"))
        .agg(count_distinct(col("item")).as("n_distinct"), lit(false).as("is_approx"))))),
    View("frequency", false,
      (s, st, cp) => StreamingFrequency.start(spark, s, st, cp, depth = 4, hexChars = 2),
      Seq(ReadBack("cellsTable", StreamingFrequency.cellsTable(spark, _),
        () => FrequencySketch.cmsCells(items, "item", depth = 4, hexChars = 2)))),
    View("drift", false,
      (s, st, cp) => StreamingDrift.start(spark, s, driftRef, "value", st, cp, bins),
      Seq(ReadBack("psiTable", StreamingDrift.psiTable(spark, _, bins),
        () => Evaluation.psiDriftBins(driftRef, events.select(col("value")), "value"),
        emptyRows = bins.toLong))),
    View("ohlc", false, (s, st, cp) => StreamingOhlc.start(spark, s, st, cp),
      Seq(ReadBack("candleTable", StreamingOhlc.candleTable(spark, _),
        () => twin("e15_ohlc")))),
    View("burstiness", false, (s, st, cp) => StreamingBurstiness.start(spark, s, st, cp),
      Seq(ReadBack("fanoTable", StreamingBurstiness.fanoTable(spark, _),
        () => twin("e26_burstiness")))),
    View("holt_winters", false,
      (s, st, cp) => StreamingHoltWinters.start(spark, s, st, cp,
        latenessDays = Long.MaxValue / 4),
      Seq(ReadBack("hwTable", StreamingHoltWinters.hwTable(spark, _),
        () => twin("e28_holt_winters")))),
    View("cusum", false,
      (s, st, cp) => StreamingCusum.start(spark, s, st, cp, latenessMicros = Long.MaxValue),
      Seq(ReadBack("cusumTable", StreamingCusum.cusumTable(spark, _),
        () => twin("e18_cusum")))),
    View("transitions", false,
      (s, st, cp) => StreamingTransitions.start(spark, s, st, cp,
        latenessMicros = Long.MaxValue),
      Seq(ReadBack("transitionTable", StreamingTransitions.transitionTable(spark, _),
        () => twin("w12_transitions")))),
    View("attribution", false,
      (s, st, cp) => StreamingAttribution.start(spark, s, st, cp,
        latenessMicros = Long.MaxValue),
      Seq(ReadBack("attributionTable", StreamingAttribution.attributionTable(spark, _),
        () => twin("w20_attribution")))),
    View("vwap", false, (s, st, cp) => StreamingVwap.start(spark, s, st, cp),
      Seq(ReadBack("vwapTable", StreamingVwap.vwapTable(spark, _), () => twin("e22_vwap")))),
    View("growth", false, (s, st, cp) => StreamingGrowth.start(spark, s, st, cp),
      Seq(ReadBack("growthTable", StreamingGrowth.growthTable(spark, _),
        () => twin("w21_growth_accounting")))))

  /** `df` split into four files, newest quartile of `key` first (the
    * parity specs' reverse-quartile staging), under `out/_seg=<q>`. */
  private def stageQuartiles(df: DataFrame, key: org.apache.spark.sql.Column, out: String): Unit = {
    val k = df.withColumn("_key", key)
    val r = k.agg(min("_key"), max("_key")).head()
    val (kMin, kMax) = (r.getLong(0), r.getLong(1))
    val span = math.max(kMax - kMin, 1L)
    k.withColumn("_seg",
        least(lit(3), ((lit(kMax) - col("_key")) * 4 / (span + 1)).cast("int")))
      .drop("_key")
      .repartition(1)
      .write.partitionBy("_seg").parquet(out)
  }

  /** Every view's store after the two-landing drain, by view name. */
  private lazy val drained: Map[String, ParquetKpiStore] = {
    val base = tmpDir("srestart")
    stageQuartiles(events, expr("unix_micros(ts)"), s"$base/events")
    stageQuartiles(lineitem, col("l_orderkey"), s"$base/lineitem")
    def source(v: View) = if (v.onLineitem) "lineitem" else "events"
    def land(quartiles: Seq[Int]): Unit = for (src <- Seq("events", "lineitem"); q <- quartiles) {
      java.nio.file.Files.createDirectories(java.nio.file.Paths.get(s"$base/in/$src"))
      java.nio.file.Files.move(java.nio.file.Paths.get(s"$base/$src/_seg=$q"),
        java.nio.file.Paths.get(s"$base/in/$src/_seg=$q"))
    }
    def drain(v: View): Long = {
      val in = s"$base/in/${source(v)}"
      val schema = spark.read.parquet(s"$in/_seg=0").schema
      val stream = spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1).parquet(s"$in/_seg=*")
      val q = v.start(stream, new ParquetKpiStore(s"$base/${v.name}/store"), s"$base/${v.name}/cp")
      q.awaitTermination()
      q.recentProgress.map(_.numInputRows).sum
    }
    land(Seq(0, 1))
    val first = views.map(v => v.name -> drain(v)).toMap
    land(Seq(2, 3))
    val second = views.map(v => v.name -> drain(v)).toMap
    views.foreach { v =>
      assert(first(v.name) > 0 && second(v.name) > 0,
        s"${v.name}: each run must read its own landing (rows ${first(v.name)}, ${second(v.name)})")
    }
    views.map(v => v.name -> new ParquetKpiStore(s"$base/${v.name}/store")).toMap
  }

  private def counts(df: DataFrame): Map[Seq[Any], Int] =
    df.collect().toSeq.map(_.toSeq).groupBy(identity).map { case (r, rs) => r -> rs.size }

  test("restart from the checkpoint: every reverse-drained view, landed in two halves, equals its batch twin") {
    for (v <- views; rb <- v.readBacks) {
      val got = rb.read(drained(v.name))
      val t = rb.twin()
      val want =
        if (got.columns.forall(t.columns.contains)) t.select(got.columns.map(col): _*) else t
      val (g, w) = (counts(got), counts(want))
      assert(w.nonEmpty, s"${v.name}.${rb.name}: parity on an empty twin proves nothing")
      assert(g == w, s"${v.name}.${rb.name} diverged from its batch twin after the restart:\n" +
        s" got  ${got.schema.simpleString}: ${g.keySet -- w.keySet}\n" +
        s" want ${want.schema.simpleString}: ${w.keySet -- g.keySet}")
    }
  }

  test("a never-written store: every read-back returns its drained columns and types with no rows") {
    def shape(df: DataFrame) = df.schema.fields.toSeq.map(f => f.name -> f.dataType)
    for (v <- views; rb <- v.readBacks) {
      val fresh = new ParquetKpiStore(s"${tmpDir("sfresh")}/store")
      val got = rb.read(fresh)
      assert(got.count() == rb.emptyRows, s"${v.name}.${rb.name} on a never-written store")
      assert(shape(got) == shape(rb.read(drained(v.name))),
        s"${v.name}.${rb.name}: a never-written store reads ${got.schema.simpleString}")
    }
  }
}
