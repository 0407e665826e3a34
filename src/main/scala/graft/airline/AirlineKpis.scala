package graft.airline

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** The reference's KPI workload (reference: src/main/scala/Consumer.scala)
  * rebuilt on native expressions over the typed airline schema.
  *
  * Divergences, all deliberate and documented:
  *  - UDFs `satisfactionToNumeric`/`loyalToNumeric` (Consumer.scala:116-124)
  *    → native `when/otherwise`: keeps whole-stage codegen, lets Catalyst
  *    prune/push the conditional.
  *  - KPI A7's 14-way union loop (Consumer.scala:368-401) → one `unpivot` +
  *    one grouped aggregation: 1 scan + 1 shuffle instead of 14.
  *  - A7's `decimal(2,2)` cast (Consumer.scala:394) overflows to NULL for a
  *    mean of exactly 1.0 — fixed as `decimal(3,2)`.
  *  - The broken space-bearing identifiers of the dead KPI K8
  *    (Consumer.scala:313-317) → aliased snake_case columns.
  *
  * The per-table transforms in [[all]] are the batch reference: the specs
  * and the benchmark's output check compare the streamed store against
  * them. The streaming path computes the same tables from ONE aggregation,
  * [[fusedComponents]], split per table by [[splitComponents]].
  */
object AirlineKpis {

  /** The 14 service-rating feature columns (Consumer.scala:371-386). */
  val featureCols: Seq[String] = Seq(
    "Inflight wifi service", "Departure/Arrival time convenient",
    "Ease of Online booking", "Gate location", "Food and drink",
    "Online boarding", "Seat comfort", "Inflight entertainment",
    "On-board service", "Leg room service", "Baggage handling",
    "Checkin service", "Inflight service", "Cleanliness")

  private def satisfied = when(col("satisfaction") === "satisfied", 1).otherwise(0)
  private def loyal     = when(col("Customer Type") === "Loyal Customer", 1).otherwise(0)

  /** A1 (Consumer.scala:129). */
  def genderCounts(df: DataFrame): DataFrame =
    df.groupBy(col("Gender")).agg(count(lit(1)).as("Count"))

  /** A2 (Consumer.scala:131). */
  def satisfactionCounts(df: DataFrame): DataFrame =
    df.groupBy(col("satisfaction")).agg(count(lit(1)).as("Count"))

  /** A3 (Consumer.scala:133). */
  def satisfactionByClass(df: DataFrame): DataFrame =
    df.groupBy(col("Class"), col("satisfaction")).agg(count(lit(1)).as("count"))

  /** A4 (Consumer.scala:135). */
  def typeTravelCounts(df: DataFrame): DataFrame =
    df.groupBy(col("Type of Travel").as("Type_of_Travel")).agg(count(lit(1)).as("Count"))

  /** A5 (Consumer.scala:137). */
  def ageDistribution(df: DataFrame): DataFrame =
    df.groupBy(col("Age")).agg(count(lit(1)).as("Count"))

  /** A6 (Consumer.scala:139-145): loyal = Σ flag; disloyal = count(non-null
    * `Customer Type`) − Σ flag — the reference's null semantics kept. */
  def loyaltyByAge(df: DataFrame): DataFrame =
    df.groupBy(col("Age")).agg(
      sum(loyal).cast("int").as("Loyal_Customer_Count"),
      (count(col("Customer Type")) - sum(loyal)).cast("int").as("Disloyal_Customer_Count"))

  /** Dead KPI K8 (Consumer.scala:306-333), resurrected with valid
    * identifiers: mean satisfaction per flight distance. */
  def flightDistanceImpact(df: DataFrame): DataFrame =
    df.groupBy(col("Flight Distance").as("flight_distance"))
      .agg((sum(satisfied).cast("double") / count(lit(1))).as("mean_satisfaction"))

  /** K8 in ADDITIVE-COMPONENT form for the streaming path (same
    * pattern as [[meanSatisfactionComponents]]): a mean is not additive
    * across micro-batches, so the store carries (Σ satisfied, count)
    * per flight distance and the mean is derived at read time via
    * [[deriveFlightDistanceImpact]]. */
  def flightDistanceComponents(df: DataFrame): DataFrame =
    df.groupBy(col("Flight Distance").as("flight_distance"))
      .agg(sum(satisfied).cast("long").as("sat_sum"), count(lit(1)).as("cnt"))

  /** Read-side view over the merged K8 components — matches
    * [[flightDistanceImpact]] on the same input. */
  def deriveFlightDistanceImpact(components: DataFrame): DataFrame =
    components.select(
      col("flight_distance"),
      (col("sat_sum").cast("double") / col("cnt")).as("mean_satisfaction"))

  /** A7 (Consumer.scala:368-401) as unpivot + single aggregation;
    * decimal(3,2) so a mean of exactly 1.00 is representable. */
  def meanSatisfactionByFeature(df: DataFrame): DataFrame = {
    val flagged = df.withColumn("_sat", satisfied.cast("long"))
    flagged
      .unpivot(
        ids = Array(col("_sat")),
        values = featureCols.map(col).toArray,
        variableColumnName = "feature_name",
        valueColumnName = "feature_value")
      .groupBy(col("feature_name"), col("feature_value"))
      .agg((sum(col("_sat")).cast("double") / count(lit(1)))
        .cast("decimal(3,2)").as("mean_satisfaction"))
  }

  /** A7 in ADDITIVE-COMPONENT form for the streaming path: a mean is not
    * additive across micro-batches, so the store carries (Σ flag, count)
    * per (feature, value) — both sum-mergeable — and the mean is derived
    * at read time via [[deriveMeanSatisfaction]]. */
  def meanSatisfactionComponents(df: DataFrame): DataFrame = {
    val flagged = df.withColumn("_sat", satisfied.cast("long"))
    flagged
      .unpivot(
        ids = Array(col("_sat")),
        values = featureCols.map(col).toArray,
        variableColumnName = "feature_name",
        valueColumnName = "feature_value")
      .groupBy(col("feature_name"), col("feature_value"))
      .agg(sum(col("_sat")).as("sat_sum"), count(lit(1)).as("cnt"))
  }

  /** Read-side view over the merged components. */
  def deriveMeanSatisfaction(components: DataFrame): DataFrame =
    components.select(
      col("feature_name"), col("feature_value"),
      (col("sat_sum").cast("double") / col("cnt"))
        .cast("decimal(3,2)").as("mean_satisfaction"))

  /** Tag names of the fused pass's keys: one per key shape, then one per
    * A7 feature. A key carries its tag's index, not its name, so the
    * grouping key stays narrow; names are restored on the grouped rows. */
  private val keyTags = Seq("gender", "satisfaction", "class", "travel", "age", "distance")
  private val tags = keyTags ++ featureCols

  /** One typed key of the fused pass: `(tag, s1, s2, i)`, unused slots null. */
  private def key(
      tag: String, s1: Column = lit(null), s2: Column = lit(null), i: Column = lit(null)): Column =
    struct(lit(tags.indexOf(tag)).as("tag"), s1.cast("string").as("s1"),
      s2.cast("string").as("s2"), i.cast("int").as("i"))

  /** Every table's per-batch components in ONE grouped aggregation: each
    * row explodes into one tagged key per table (A5 and A6 share the `Age`
    * key) and per A7 feature, and a single group-by computes
    * `cnt` = count(1), `loyal` = Σ loyal flag, `ct` = count(non-null
    * `Customer Type`) and `sat` = Σ satisfied flag for every key at once.
    * The output is bounded by the key domain, not by the batch; split it
    * with [[splitComponents]]. */
  def fusedComponents(df: DataFrame): DataFrame = {
    val keys = Seq(
      key("gender", s1 = col("Gender")),
      key("satisfaction", s1 = col("satisfaction")),
      key("class", s1 = col("Class"), s2 = col("satisfaction")),
      key("travel", s1 = col("Type of Travel")),
      key("age", i = col("Age")),
      key("distance", i = col("Flight Distance"))) ++
      featureCols.map(f => key(f, i = col(f)))
    df.select(inline(array(keys: _*)), loyal.as("_loyal"), satisfied.as("_sat"),
        col("Customer Type").as("_ct"))
      .groupBy("tag", "s1", "s2", "i")
      .agg(count(lit(1)).as("cnt"), sum("_loyal").as("loyal"), count("_ct").as("ct"),
        sum("_sat").as("sat"))
  }

  /** Table `table` of [[all]] out of [[fusedComponents]]' rows, with the
    * column names and types of that table's transform. */
  private def project(table: String, c: DataFrame): DataFrame = {
    def tagged(tag: String, cols: Column*) =
      c.filter(col("tag") === tags.indexOf(tag)).select(cols: _*)
    table match {
      case "gender_counts" => tagged("gender", col("s1").as("Gender"), col("cnt").as("Count"))
      case "satisfaction_counts" =>
        tagged("satisfaction", col("s1").as("satisfaction"), col("cnt").as("Count"))
      case "satisfaction_by_class" => tagged("class",
        col("s1").as("Class"), col("s2").as("satisfaction"), col("cnt").as("count"))
      case "type_travel_counts" =>
        tagged("travel", col("s1").as("Type_of_Travel"), col("cnt").as("Count"))
      case "age_distribution" => tagged("age", col("i").as("Age"), col("cnt").as("Count"))
      case "loyalty_by_age" => tagged("age", col("i").as("Age"),
        col("loyal").cast("int").as("Loyal_Customer_Count"),
        (col("ct") - col("loyal")).cast("int").as("Disloyal_Customer_Count"))
      case "flight_distance_impact" => tagged("distance",
        col("i").as("flight_distance"), col("sat").as("sat_sum"), col("cnt"))
      case "mean_satisfaction_by_feature" => c.filter(col("tag") >= keyTags.size).select(
        element_at(array(tags.map(lit): _*), col("tag") + 1).as("feature_name"),
        col("i").as("feature_value"), col("sat").as("sat_sum"), col("cnt"))
    }
  }

  /** The tables of [[all]], in its order, as (name, components, upsert
    * keys), projected out of [[fusedComponents]]' output `components`. */
  def splitComponents(components: DataFrame): Seq[(String, DataFrame, Seq[String])] =
    all.map { case (table, _, keys) => (table, project(table, components), keys) }

  /** KPI registry: name → (transform, upsert key columns) — the batch
    * reference for the streamed store (KpiStream computes the same tables
    * through [[fusedComponents]]). Every transform emits only
    * sum-mergeable components. */
  val all: Seq[(String, DataFrame => DataFrame, Seq[String])] = Seq(
    ("gender_counts", genderCounts _, Seq("Gender")),
    ("satisfaction_counts", satisfactionCounts _, Seq("satisfaction")),
    ("satisfaction_by_class", satisfactionByClass _, Seq("Class", "satisfaction")),
    ("type_travel_counts", typeTravelCounts _, Seq("Type_of_Travel")),
    ("age_distribution", ageDistribution _, Seq("Age")),
    ("loyalty_by_age", loyaltyByAge _, Seq("Age")),
    ("flight_distance_impact", flightDistanceComponents _, Seq("flight_distance")),
    ("mean_satisfaction_by_feature", meanSatisfactionComponents _,
      Seq("feature_name", "feature_value")))
}
