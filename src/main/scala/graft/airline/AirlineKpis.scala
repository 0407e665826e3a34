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
  * [[fusedComponents]]. Each table is defined once more, as a filter and a
  * projection of those fused columns ([[views]]): the Parquet store keeps
  * one state table, [[stateTable]], and reads the eight tables as views of
  * it, while the JDBC path splits each batch's components per table with
  * the same strings ([[splitComponents]]).
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

  private def tagged(tag: String) = s"tag = ${tags.indexOf(tag)}"

  /** Name of the store's state table: [[fusedComponents]]' rows summed per
    * key over every batch so far. */
  val stateTable = "kpi_components"

  /** Upsert keys of [[stateTable]]. */
  val stateKeys: Seq[String] = Seq("tag", "s1", "s2", "i")

  /** Each table of [[all]] as a view of [[fusedComponents]]' columns:
    * (name, filter, select), both in SQL text, giving the column names and
    * types of that table's transform. The store declares these over
    * [[stateTable]], and [[splitComponents]] applies the same strings to
    * one batch's components; the A7 feature name is restored from the tag. */
  val views: Seq[(String, String, Seq[String])] = Seq(
    ("gender_counts", tagged("gender"), Seq("s1 AS Gender", "cnt AS Count")),
    ("satisfaction_counts", tagged("satisfaction"), Seq("s1 AS satisfaction", "cnt AS Count")),
    ("satisfaction_by_class", tagged("class"),
      Seq("s1 AS Class", "s2 AS satisfaction", "cnt AS count")),
    ("type_travel_counts", tagged("travel"), Seq("s1 AS Type_of_Travel", "cnt AS Count")),
    ("age_distribution", tagged("age"), Seq("i AS Age", "cnt AS Count")),
    ("loyalty_by_age", tagged("age"), Seq("i AS Age",
      "CAST(loyal AS INT) AS Loyal_Customer_Count",
      "CAST(ct - loyal AS INT) AS Disloyal_Customer_Count")),
    ("flight_distance_impact", tagged("distance"),
      Seq("i AS flight_distance", "sat AS sat_sum", "cnt")),
    ("mean_satisfaction_by_feature", s"tag >= ${keyTags.size}", Seq(
      tags.map(t => s"'$t'").mkString("element_at(array(", ", ", "), tag + 1) AS feature_name"),
      "i AS feature_value", "sat AS sat_sum", "cnt")))

  /** The tables of [[all]], in its order, as (name, components, upsert
    * keys), projected out of [[fusedComponents]]' output `components` by
    * [[views]]. */
  def splitComponents(components: DataFrame): Seq[(String, DataFrame, Seq[String])] = {
    val byName = views.map(v => v._1 -> v).toMap
    all.map { case (table, _, keys) =>
      val (_, filter, select) = byName(table)
      (table, components.where(filter).selectExpr(select: _*), keys)
    }
  }

  /** KPI registry: name → (transform, upsert key columns) — the batch
    * reference for the streamed store (KpiStream computes the same tables
    * through [[fusedComponents]] and [[views]]). Every transform emits only
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
