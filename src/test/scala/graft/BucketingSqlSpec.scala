package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.ops.tb.TbPipeline

class BucketingSqlSpec extends AnyFunSuite {
  import SparkTestSession.{spark, sf}

  test("bucketed tables co-locate the join: no exchange between scans and join") {
    import spark.implicits._
    Tables.orders(spark, sf).write.mode("overwrite")
      .bucketBy(8, "o_custkey").sortBy("o_custkey")
      .saveAsTable("orders_b")
    Tables.customer(spark, sf).write.mode("overwrite")
      .bucketBy(8, "c_custkey").sortBy("c_custkey")
      .saveAsTable("customer_b")

    // disable broadcast so the join would otherwise need a shuffle
    val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      val joined = spark.table("orders_b")
        .join(spark.table("customer_b"), $"o_custkey" === $"c_custkey")
      joined.collect()
      val plan = joined.queryExecution.executedPlan.toString
      assert(plan.contains("SortMergeJoin"), s"expected SMJ:\n$plan")
      assert(!plan.contains("Exchange"),
        s"bucketed join must not shuffle:\n$plan")
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
  }

  test("the reference's SQL views run verbatim-shaped through spark.sql") {
    // latest_country_stats (init_db.sql:96-106): rank by cases and by
    // per-100k over the latest year, via the SQL API on registered views
    val p = TbPipeline.run(spark, ReferenceFiles.tbCsv, ReferenceFiles.popCsv)
    p.countrySummary.createOrReplaceTempView("country_summary")
    p.countryTrends.createOrReplaceTempView("country_trends")

    val stats = spark.sql(
      """SELECT country, iso3, total_cases, total_cases_per_100k,
        |  RANK() OVER (ORDER BY total_cases DESC) AS cases_rank,
        |  RANK() OVER (ORDER BY total_cases_per_100k DESC) AS rate_rank
        |FROM country_summary
        |WHERE year = (SELECT MAX(year) FROM country_summary)""".stripMargin)
    val idn = stats.filter(col("iso3") === "IDN").collect()(0)
    assert(idn.getAs[Int]("cases_rank") == 1)
    val phl = stats.filter(col("iso3") === "PHL").collect()(0)
    assert(phl.getAs[Int]("rate_rank") == 1) // PHL: 643.22 per 100k

    // regional yearly median (init_db.sql:109-122)
    val med = spark.sql(
      """SELECT year,
        |  SUM(total_cases) AS region_cases,
        |  MEDIAN(CAST(total_cases_per_100k AS DOUBLE)) AS median_rate,
        |  COUNT(DISTINCT iso3) AS n_countries
        |FROM country_trends GROUP BY year ORDER BY year""".stripMargin)
    assert(med.count() == 6)
    assert(med.filter(col("n_countries") =!= 10).count() == 0)
  }

  test("spark.sql and DataFrame API produce identical plans for the same query") {
    import spark.implicits._
    Tables.lineitem(spark, sf).createOrReplaceTempView("lineitem_v")
    val sqlRes = spark.sql(
      """SELECT l_returnflag, count(*) AS n FROM lineitem_v
        |GROUP BY l_returnflag""".stripMargin)
      .collect().map(_.toSeq).toSet
    val dfRes = Tables.lineitem(spark, sf)
      .groupBy($"l_returnflag").agg(count(lit(1)).as("n"))
      .collect().map(_.toSeq).toSet
    assert(sqlRes == dfRes)
  }
}
