package graft

import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.operators.CensusPipeline
import graft.sources.{Csv, Ingest}

/** Reference-parity golden tests (SURVEY.md §5): the golden CSVs in
  * /root/reference/csv/ are the reference's exact published outputs (EP1)
  * and query inputs (EP2/EP3). Spot values from reference report.md:322,334.
  */
class CensusParitySpec extends SparkSpec {

  private val refCsv = "/root/reference/csv"

  private def statesSchema = StructType(Seq(
    StructField("state", StringType), StructField("state_id", IntegerType),
    StructField("year", IntegerType)))
  private def incomeSchema = StructType(Seq(
    StructField("median_household_income", DoubleType),
    StructField("state_id", IntegerType), StructField("year", IntegerType)))
  private def ratesSchema = StructType(Seq(
    StructField("graduation_rate", DoubleType),
    StructField("state_id", IntegerType), StructField("year", IntegerType)))

  private lazy val states =
    Csv.read(spark, s"$refCsv/census_acs5_states.csv", statesSchema)
  private lazy val incomes =
    Csv.read(spark, s"$refCsv/census_acs5_median_household_incomes.csv",
      incomeSchema)
  private lazy val rates =
    Csv.read(spark, s"$refCsv/census_acs5_graduation_rates.csv", ratesSchema)

  test("golden CSV scan: 104 rows each, declared schema (S5)") {
    assert(states.count() === 104)
    assert(incomes.count() === 104)
    assert(rates.count() === 104)
    assert(states.schema.fields.map(_.name).toSeq ===
      Seq("state", "state_id", "year"))
  }

  test("fact view reproduces reference: 104 rows, Mississippi 2017 spots") {
    val fact = CensusPipeline.fact(states, incomes, rates).cache()
    assert(fact.count() === 104)
    val ms = fact.filter(col("State") === "Mississippi" && col("Year") === 2017)
      .collect()(0)
    assert(ms.getAs[Double]("Median_Household_Income") === 42009.0)
    assert(ms.getAs[Double]("Graduation_Rate") === 21.3)
  }

  test("chart query: per-state averages for 2018 (EP3)") {
    val fact = CensusPipeline.fact(states, incomes, rates)
    val chart = CensusPipeline.chart(fact, 2018).collect()
    assert(chart.length === 52) // 52 geographies per year
    val ms = chart.find(_.getAs[String]("State") == "Mississippi").get
    // 2018 Mississippi values from the golden CSVs
    val msIncome = incomes
      .filter(col("state_id") === 28 && col("year") === 2018)
      .collect()(0).getAs[Double]("median_household_income")
    assert(ms.getAs[Double]("avg_income") === msIncome)
  }

  test("EP1 extract: array-of-arrays decode, header promotion, union, rename") {
    val p2017 =
      """[["NAME","DP03_0062E","state"],
        |["Mississippi","42009","28"],["Missouri","51542","29"]]""".stripMargin
    val p2018 =
      """[["NAME","DP03_0062E","state"],
        |["Mississippi","43567","28"],["Missouri","53560","29"]]""".stripMargin
    val df = CensusPipeline.extract(spark,
      Seq(2017 -> p2017, 2018 -> p2018),
      Map("NAME" -> "state_name", "DP03_0062E" -> "median_household_income",
          "state" -> "state_id"))
    assert(df.columns.toSeq ===
      Seq("state_name", "median_household_income", "state_id", "year"))
    assert(df.count() === 4)
    val ms17 = df.filter(col("state_id") === "28" && col("year") === 2017)
      .collect()(0)
    assert(ms17.getAs[String]("median_household_income") === "42009")
  }

  test("runEndToEnd: staged payloads -> CSV -> star -> chart == golden chart") {
    import java.nio.file.{Files, Paths}
    val base = tempDir("graft_e2e").toString
    // stage payload files (one per year) from the golden CSVs
    def stage(csvPath: String, apiCol: String, outDir: String): Unit = {
      Files.createDirectories(Paths.get(outDir))
      val lines = scala.io.Source.fromFile(csvPath).getLines().toSeq
      val rows = lines.drop(1).map(_.split(","))
      rows.groupBy(_(2)).foreach { case (yr, rs) =>
        val payload = (Seq(Seq(apiCol, "state", "year")) ++
          rs.map(_.toSeq))
          .map(_.mkString("[\"", "\",\"", "\"]")).mkString("[", ",", "]")
        Files.writeString(Paths.get(s"$outDir/y$yr.json"), payload)
      }
    }
    stage(s"$refCsv/census_acs5_states.csv", "NAME", s"$base/states")
    stage(s"$refCsv/census_acs5_median_household_incomes.csv",
      "DP03_0062E", s"$base/incomes")
    stage(s"$refCsv/census_acs5_graduation_rates.csv",
      "DP02_0067PE", s"$base/rates")
    // NULL-safe compare: the golden data itself has an empty graduation
    // rate for Puerto Rico (Census API returns no DP02_0067PE there) —
    // the NULL must survive the whole pipeline, exactly as in Athena
    def rows(df: org.apache.spark.sql.DataFrame) = df.collect().map(r =>
      (r.getString(0),
        if (r.isNullAt(1)) None else Some(r.getDouble(1)),
        if (r.isNullAt(2)) None else Some(r.getDouble(2)))).toSet
    val chartE2e = rows(CensusPipeline.runEndToEnd(spark,
      s"$base/states", s"$base/incomes", s"$base/rates",
      s"$base/csv", 2018, singleFileCsv = true))
    val chartGolden = rows(CensusPipeline.chart(
      CensusPipeline.fact(states, incomes, rates), 2018))
    assert(chartE2e === chartGolden)
    assert(chartE2e.size === 52)
    assert(chartE2e.exists { case (s, g, _) =>
      s == "Puerto Rico" && g.isEmpty }) // the NULL is load-bearing
  }

  test("catalog DDL (S6): CREATE DATABASE/TABLE/VIEW star == golden fact") {
    val base = tempDir("graft_ddl").toString
    // at-rest CSVs in the reference layout (one dir per logical table)
    Csv.write(states, s"$base/states", single = true)
    Csv.write(incomes, s"$base/median_household_incomes", single = true)
    Csv.write(rates, s"$base/graduation_rates", single = true)
    CensusPipeline.registerCatalog(spark, base, db = "census_ddl_spec")
    // the DDL-defined objects are real catalog entries, not temp views
    assert(spark.catalog.databaseExists("census_ddl_spec"))
    assert(spark.catalog.tableExists("census_ddl_spec.states"))
    assert(spark.catalog.tableExists(
      "census_ddl_spec.income_vs_graduation_fact"))
    // the same 104-row fact the reference publishes, by catalog name only
    val fact = spark.table("census_ddl_spec.income_vs_graduation_fact")
    assert(fact.count() === 104)
    val ms = fact.filter(col("State") === "Mississippi" &&
      col("Year") === 2017).collect()(0)
    assert(ms.getAs[Double]("Median_Household_Income") === 42009.0)
    assert(ms.getAs[Double]("Graduation_Rate") === 21.3)
    // chart over the catalog star == chart over the DataFrame star
    def rows(df: org.apache.spark.sql.DataFrame) = df.collect().map(r =>
      (r.getString(0),
        if (r.isNullAt(1)) None else Some(r.getDouble(1)),
        if (r.isNullAt(2)) None else Some(r.getDouble(2)))).toSet
    assert(rows(CensusPipeline.chartFromCatalog(spark, 2018,
        db = "census_ddl_spec")) ===
      rows(CensusPipeline.chart(
        CensusPipeline.fact(states, incomes, rates), 2018)))
  }

  test("catalog DDL (S6): CTAS and INSERT INTO managed parquet tables") {
    spark.sql("CREATE DATABASE IF NOT EXISTS census_ctas_spec")
    spark.sql("DROP TABLE IF EXISTS census_ctas_spec.states_snapshot")
    states.createOrReplaceTempView("ctas_states_src")
    try {
      // CTAS materializes a year slice as a managed parquet table
      spark.sql(
        """CREATE TABLE census_ctas_spec.states_snapshot USING PARQUET AS
          |SELECT * FROM ctas_states_src WHERE year = 2017""".stripMargin)
      assert(spark.table("census_ctas_spec.states_snapshot").count() === 52)
      // INSERT INTO appends the next batch — the incremental-load verb
      spark.sql(
        """INSERT INTO census_ctas_spec.states_snapshot
          |SELECT * FROM ctas_states_src WHERE year = 2018""".stripMargin)
      val t = spark.table("census_ctas_spec.states_snapshot")
      assert(t.count() === 104)
      assert(t.filter(col("year") === 2018).count() === 52)
    } finally {
      spark.sql("DROP TABLE IF EXISTS census_ctas_spec.states_snapshot")
      spark.sql("DROP DATABASE IF EXISTS census_ctas_spec")
    }
  }

  test("CSV sink/scan roundtrip incl. malformed-to-null (S4/S5/P6)") {
    import spark.implicits._
    val tmp = tempDir("graft_csv").toString
    val df = Seq(("a", "1"), ("b", "oops"), ("c", "3")).toDF("k", "v")
    Csv.write(df, s"$tmp/t", single = true)
    val back = Csv.read(spark, s"$tmp/t", StructType(Seq(
      StructField("k", StringType), StructField("v", IntegerType))))
    assert(back.count() === 3)
    assert(back.filter(col("v").isNull).count() === 1) // "oops" -> null
    assert(back.filter(col("v") === 3).count() === 1)
  }
}
