package graft

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.ops.tb.{ReferenceSnapshot, TbPipeline, TbServing}

/** Executable serving demo: materializes the reference API's endpoint
  * payloads (flask_api_server.py:539-783) as JSON files from the
  * pipeline products via [[TbServing]] — the engine-side proof that a
  * reference user could serve the same responses from this library
  * (the HTTP layer itself is out of engine scope; these files ARE the
  * response bodies).
  *
  * Usage: TbServe <tbCsv> <popCsv> <outDir>
  * Writes: map_data.json, trends/<ISO3>.json ×10, comparison.json,
  *         yearly_trends.json, countries.json, stats.json
  */
object TbServe {

  /** JSON array of a DataFrame's rows (column names as keys). Payloads
    * are endpoint-sized (≤ tens of rows) by construction — the
    * collect here is the serving boundary, not a distributed step. */
  private def jsonRows(df: DataFrame): String =
    df.toJSON.collect().mkString("[", ",", "]")

  /** Materialize every endpoint payload under `outDir`. Returns the
    * (path → payload) map for spec inspection. */
  def writePayloads(spark: SparkSession, products: ops.tb.TbProducts,
                    outDir: String): Map[String, String] = {
    val coords = TbServing.countryCoords(spark)
    val summary = products.countrySummary

    // GET /api/map-data (flask_api_server.py:539-597): features carry
    // coordinates + a nested data struct; envelope adds regional sums.
    // JSON values render through Spark's own encoder (toJSON), so
    // product column types (decimal rates, long counts) format
    // consistently without driver-side type juggling.
    val mapRows = TbServing.mapData(summary, coords, year = None).cache()
    val year = mapRows.agg(max("year")).first().getInt(0)
    val features = jsonRows(mapRows.select(
      col("iso3"), col("country"), array(col("lat"), col("lon")).as("coordinates"),
      struct(
        col("year"), col("total_cases"), col("new_cases"), col("deaths"),
        col("population"), col("total_cases_per_100k"),
        col("new_cases_per_100k"), col("deaths_per_100k"),
        col("case_fatality_rate")).as("data")))
    val regional = TbServing.regionalStats(mapRows)
      .select(
        col("region_cases").as("total_cases"),
        col("region_deaths").as("total_deaths"),
        col("avg_rate").as("avg_cases_per_100k"))
      .withColumn("countries_count", lit(mapRows.count()))
      .toJSON.first()
    val mapPayload =
      s"""{"year":$year,"features":$features,"regional_stats":$regional,"data_source":"graft"}"""

    // GET /api/trends/<iso3> (flask:599-624), one payload per country
    val isoList = coords.select("iso3").collect().map(_.getString(0)).sorted
    val trendPayloads = isoList.map { iso =>
      val t = jsonRows(TbServing.countryTrendsFor(products.countryTrends, iso))
      s"trends/$iso.json" -> s"""{"iso3":"$iso","trends":$t}"""
    }.toMap

    // GET /api/comparison (flask:626-640)
    val comparison =
      s"""{"year":$year,"countries":${jsonRows(TbServing.comparison(summary, year))}}"""

    // GET /api/yearly-trends (flask:643-662)
    val yearly =
      s"""{"yearly_trends":${jsonRows(TbServing.yearlyTrendsAll(products.yearlyTrends))}}"""

    // GET /api/countries (flask:746-754)
    val countries = s"""{"countries":${jsonRows(coords.orderBy("iso3"))}}"""

    // GET /api/stats (flask:765-783) — deterministic fields only (no
    // wall-clock last_updated; the driver diff would flake on it)
    val stats = TbServing.stats(summary)
      .select(
        col("total_records"),
        concat(col("min_year"), lit("-"), col("max_year")).as("year_range"),
        col("n_countries").as("countries_count"))
      .withColumn("data_source", lit("graft"))
      .toJSON.first()

    val payloads = Map(
      "map_data.json" -> mapPayload,
      "comparison.json" -> comparison,
      "yearly_trends.json" -> yearly,
      "countries.json" -> countries,
      "stats.json" -> stats) ++ trendPayloads
    payloads.foreach { case (rel, body) =>
      val p = Paths.get(outDir, rel)
      Option(p.getParent).foreach(Files.createDirectories(_))
      Files.writeString(p, body)
    }
    mapRows.unpersist()
    payloads
  }

  def main(args: Array[String]): Unit = {
    val tbCsv = args.lift(0).getOrElse(ReferenceSnapshot.TbCsv)
    val popCsv = args.lift(1).getOrElse(ReferenceSnapshot.PopCsv)
    val outDir = args.lift(2).getOrElse("/tmp/tb_serve")
    val spark = GraftSession.create(appName = "graft-tb-serve",
      master = s"local[${sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")}]")
    spark.sparkContext.setLogLevel("WARN")
    val written = writePayloads(spark, TbPipeline.run(spark, tbCsv, popCsv), outDir)
    println(s"[serve] wrote ${written.size} endpoint payloads to $outDir")
    spark.stop()
  }
}
