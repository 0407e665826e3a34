package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Loaders for the fixture star schema + stream/LLM tables
  * (/root/testdata/sf* — see TESTDATA.md) and for reference-shaped CSV
  * sources (reference: src/main/scala/Producer.scala:12 batch CSV with
  * header; Consumer.scala:49-52 streaming CSV with explicit schema).
  *
  * All loads are plain parquet/csv scans: filters and projections applied
  * by callers reach the scan via Catalyst pushdown (verified in
  * PlanSpec — `PushedFilters`/`ReadSchema` in the formatted plan).
  */
object Tables {

  def load(spark: SparkSession, dir: String, name: String): DataFrame =
    spark.read.parquet(s"$dir/$name.parquet")

  def region(spark: SparkSession, dir: String): DataFrame   = load(spark, dir, "region")
  def nation(spark: SparkSession, dir: String): DataFrame   = load(spark, dir, "nation")
  def customer(spark: SparkSession, dir: String): DataFrame = load(spark, dir, "customer")
  def supplier(spark: SparkSession, dir: String): DataFrame = load(spark, dir, "supplier")
  def part(spark: SparkSession, dir: String): DataFrame     = load(spark, dir, "part")
  def orders(spark: SparkSession, dir: String): DataFrame   = load(spark, dir, "orders")
  def lineitem(spark: SparkSession, dir: String): DataFrame = load(spark, dir, "lineitem")
  def documents(spark: SparkSession, dir: String): DataFrame  = load(spark, dir, "documents")
  def embeddings(spark: SparkSession, dir: String): DataFrame = load(spark, dir, "embeddings")

  /** `events.parquet`'s `ts` column has shipped in TWO fixture
    * generations, both handled here so every consumer sees ONE shape —
    * session-zoned `TimestampType` at microsecond resolution:
    *
    *  - TIMESTAMP(NANOS, isAdjustedToUTC=false) (rounds ≤ 8): the
    *    vectorized reader rejects NANOS unless
    *    `spark.sql.legacy.parquet.nanosAsLong` is set — then `ts`
    *    arrives as a raw nanosecond Long, truncated here to micros
    *    with integer `div` (double division loses precision at ~1.7e18
    *    > 2^53; same truncation DuckDB applies reading NANOS into its
    *    µs TIMESTAMP).
    *  - TIMESTAMP(MICROS, isAdjustedToUTC=false) (round 9 regen):
    *    Spark reads it as `TimestampNTZType`; `unix_micros`/window
    *    RANGE frames/ASOF arithmetic all require the zoned type, so
    *    cast under the UTC session timezone — the wall-clock micros
    *    are reinterpreted as UTC instants, numerically identical to
    *    what DuckDB's naive `epoch_us(ts)` computes, so oracle
    *    comparisons line up unchanged. */
  def events(spark: SparkSession, dir: String): DataFrame = {
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val raw = load(spark, dir, "events")
    raw.schema("ts").dataType match {
      case LongType =>
        raw.withColumn("ts", timestamp_micros(expr("ts div 1000")))
      case TimestampNTZType =>
        raw.withColumn("ts", col("ts").cast(TimestampType))
      case _ => raw // engine generation that reads as zoned natively
    }
  }

  // --------------------------------------------------------------------
  // Reference-shaped CSV sources (airline passenger satisfaction stream)
  // --------------------------------------------------------------------

  /** The 24-column airline schema, reconstructed from the reference's
    * explicit StructType (reference: src/main/scala/Consumer.scala:22-46). */
  val airlineSchema: StructType = {
    val ratings = Seq(
      "Inflight wifi service", "Departure/Arrival time convenient",
      "Ease of Online booking", "Gate location", "Food and drink",
      "Online boarding", "Seat comfort", "Inflight entertainment",
      "On-board service", "Leg room service", "Baggage handling",
      "Checkin service", "Inflight service", "Cleanliness")
    val base = new StructType()
      .add("id", IntegerType)
      .add("Gender", StringType)
      .add("Customer Type", StringType)
      .add("Age", IntegerType)
      .add("Type of Travel", StringType)
      .add("Class", StringType)
      .add("Flight Distance", IntegerType)
    val withRatings = ratings.foldLeft(base)((s, c) => s.add(c, IntegerType))
    withRatings
      .add("Departure Delay in Minutes", IntegerType)
      .add("Arrival Delay in Minutes", DoubleType)
      .add("satisfaction", StringType)
  }

  /** Batch CSV read with header and the explicit airline schema (the
    * reference read all-string without inference, Producer.scala:12; we
    * type at the source so downstream casts disappear from plans). */
  def airlineCsv(spark: SparkSession, path: String): DataFrame =
    spark.read.option("header", "true").schema(airlineSchema).csv(path)

  /** Streaming CSV file source over a segment-directory glob
    * (reference: Consumer.scala:49-52). `maxFilesPerTrigger` bounds
    * micro-batch size — the backpressure knob absent in the reference.
    *
    * A trigger lists the source twice: the glob in `latestOffset` and
    * the batch's new files in `getBatch`. On a session passed through
    * [[graft.GraftSession.tune]] in local mode both are driver-side
    * listings, however many segment directories or files they cover,
    * not Spark listing jobs. */
  def airlineCsvStream(
      spark: SparkSession,
      glob: String,
      maxFilesPerTrigger: Option[Int] = None): DataFrame = {
    val r = spark.readStream.option("header", "true").schema(airlineSchema)
    maxFilesPerTrigger.foreach(n => r.option("maxFilesPerTrigger", n.toString))
    r.csv(glob)
  }
}
