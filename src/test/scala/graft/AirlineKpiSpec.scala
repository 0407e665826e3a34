package graft

import graft.airline.{AirlineFixture, AirlineKpis}
import org.apache.spark.sql.functions._

class AirlineKpiSpec extends SparkTestBase {
  import spark.implicits._

  private val df = Seq(
    ("Male", "Loyal Customer", 30, "Business travel", "Eco", 4, 5, "satisfied"),
    ("Male", "disloyal Customer", 30, "Personal Travel", "Eco", 2, 1, "neutral or dissatisfied"),
    ("Female", "Loyal Customer", 40, "Business travel", "Business", 4, 4, "satisfied"),
    ("Female", "Loyal Customer", 30, "Business travel", "Business", 3, 2, "neutral or dissatisfied"))
    .toDF("Gender", "Customer Type", "Age", "Type of Travel", "Class",
      "Inflight wifi service", "Seat comfort", "satisfaction")

  test("genderCounts (A1)") {
    val got = AirlineKpis.genderCounts(df).orderBy("Gender")
      .collect().map(r => (r.getString(0), r.getLong(1)))
    assert(got.toSeq == Seq(("Female", 2L), ("Male", 2L)))
  }

  test("satisfactionByClass (A3) groups on both keys") {
    val got = AirlineKpis.satisfactionByClass(df).orderBy("Class", "satisfaction")
      .collect().map(r => (r.getString(0), r.getString(1), r.getLong(2)))
    assert(got.toSeq == Seq(
      ("Business", "neutral or dissatisfied", 1L), ("Business", "satisfied", 1L),
      ("Eco", "neutral or dissatisfied", 1L), ("Eco", "satisfied", 1L)))
  }

  test("loyaltyByAge (A6): loyal = flag sum, disloyal = nonnull count - flag sum") {
    val got = AirlineKpis.loyaltyByAge(df).orderBy("Age")
      .collect().map(r => (r.getInt(0), r.getInt(1), r.getInt(2)))
    assert(got.toSeq == Seq((30, 2, 1), (40, 1, 0)))
  }

  test("meanSatisfactionByFeature (A7): one row per (feature, value), decimal(3,2)") {
    val small = df // features limited to the two rating cols present
    val flagged = small.withColumn("_sat",
      when(col("satisfaction") === "satisfied", 1L).otherwise(0L))
    val got = flagged.unpivot(
        ids = Array(col("_sat")),
        values = Array(col("Inflight wifi service"), col("Seat comfort")),
        variableColumnName = "feature_name", valueColumnName = "feature_value")
      .groupBy("feature_name", "feature_value")
      .agg((sum("_sat").cast("double") / count(lit(1))).cast("decimal(3,2)").as("m"))
    // a value seen only on satisfied rows must yield exactly 1.00 (the
    // reference's decimal(2,2) overflowed this to null)
    val wifi4 = got.filter(col("feature_name") === "Inflight wifi service" &&
      col("feature_value") === 4).select("m").head().getDecimal(0)
    assert(wifi4.compareTo(new java.math.BigDecimal("1.00")) == 0)
  }

  test("flightDistanceImpact uses valid aliased identifiers (K8 fix)") {
    val d2 = df.withColumn("Flight Distance", lit(100) + col("Age"))
    val got = AirlineKpis.flightDistanceImpact(d2)
    assert(got.columns.toSeq == Seq("flight_distance", "mean_satisfaction"))
    assert(got.count() == 2)
  }

  test("fused components == every AirlineKpis.all transform, table by table, nulls included") {
    import AirlineFixture.{csvLine, header}
    // csv field positions: Gender, Customer Type, Age, Type of Travel, Class,
    // Flight Distance, the rating "Seat comfort", satisfaction
    val nullable = Seq(1, 2, 3, 4, 5, 6, 13, 23)
    def blank(line: String, fields: Seq[Int]) = {
      val f = line.split(",", -1)
      fields.foreach(f(_) = "")
      f.mkString(",")
    }
    val lines = (0 until 60).map(csvLine) ++
      nullable.zipWithIndex.map { case (f, j) => blank(csvLine(60 + j), Seq(f)) } :+
      blank(csvLine(99), nullable)
    val dir = tmpDir("fused-in")
    val w = new java.io.PrintWriter(s"$dir/part-0.csv")
    try { w.println(header); lines.foreach(w.println) } finally w.close()
    val df = graft.sources.Tables.airlineCsv(spark, dir)
    nullable.foreach { f =>
      val c = header.split(",")(f)
      assert(df.filter(col(s"`$c`").isNull).count() >= 2, s"fixture has no null $c")
    }

    val split = AirlineKpis.splitComponents(AirlineKpis.fusedComponents(df))
    assert(split.map(_._1) == AirlineKpis.all.map(_._1))
    split.zip(AirlineKpis.all).foreach { case ((table, got, gotKeys), (_, transform, keys)) =>
      val want = transform(df)
      assert(gotKeys == keys, table)
      assert(got.schema.map(f => (f.name, f.dataType)) == want.schema.map(f => (f.name, f.dataType)),
        s"$table schema")
      def rows(d: org.apache.spark.sql.DataFrame) = d.collect().toSeq.map(_.toSeq).sortBy(_.toString)
      assert(rows(got) == rows(want), s"$table rows")
    }
  }
}
