package graft

import graft.ops.tb.{ReferenceSnapshot, TbCollect, TbPipeline, TbServing}
import graft.sources.Fetch

/** CLI orchestrator for the TB parity pipeline (SURVEY §7.1 cli/Main,
  * mirroring main_orchestrator.py's collect→process→serve lifecycle
  * (:282-436) minus the infra babysitting: one JVM, Spark reads and
  * writes directly).
  *
  * Usage: TbMain <tbSrc> <popSrc> <outDir> [format=parquet|csv]
  *
  * Collect phase: each source may be an `http(s)://` URL (downloaded)
  * or a local path / `file://` URI (snapshot copy) — both land under
  * <outDir>/raw guarded by the reference's 30-day staleness marker
  * (tb_data_collection.py:352-393), so re-runs skip fresh data and
  * `--force-collect`-style behavior is just deleting the marker.
  */
object TbMain {
  def main(args: Array[String]): Unit = {
    val tbSrc = args.lift(0).getOrElse(ReferenceSnapshot.TbCsv)
    val popSrc = args.lift(1).getOrElse(ReferenceSnapshot.PopCsv)
    val outDir = args.lift(2).getOrElse("/tmp/tb_out")
    val format = args.lift(3).getOrElse("parquet")

    val spark = GraftSession.create(appName = "graft-tb",
      master = s"local[${sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")}]")
    spark.sparkContext.setLogLevel("WARN")

    // Phase 1 — collect (main_orchestrator.py:397-436), with the
    // reference's try-next-on-failure chain (tb_data_collection.py:
    // 53-182, 320-350): primary CSV snapshot → GHO API JSONL (landed
    // by an external fetcher, path via GRAFT_GHO_JSONL) → synthetic.
    val rawDir = java.nio.file.Paths.get(outDir, "raw")
    def land(src: String, name: String): Option[String] = {
      val dest = rawDir.resolve(name)
      // one marker per source: landing the first must not mark the
      // second as fresh
      val marker = rawDir.resolve(s"$name.last_update.txt")
      try {
        val fetched = Fetch.fetchIfStale(src, dest, marker)
        println(s"[collect] $name ${if (fetched) "fetched" else "fresh (<30d), skipped"} -> $dest")
        Some(dest.toString)
      } catch {
        case e: Exception =>
          println(s"[collect] $name FAILED (${e.getMessage}) — falling back")
          None
      }
    }
    val (leg, tbLong) = TbCollect.collectTb(spark,
      primaryCsv = land(tbSrc, "who_tb_data.csv"),
      ghoJsonl = sys.env.get("GRAFT_GHO_JSONL"))
    println(s"[collect] TB data source leg: ${leg.name}")
    // population has no synthetic fallback in the reference (an empty
    // frame just skips the save, tb_data_collection.py:341-344); the
    // engine mirrors that but still needs a frame — empty on failure.
    val popRaw = land(popSrc, "worldbank_population.csv")
      .map(p => TbPipeline.readPopulationCsv(spark, p))
      .getOrElse(spark.createDataFrame(
        new java.util.ArrayList[org.apache.spark.sql.Row](), TbPipeline.popSchema))

    // Phase 2 — process
    val p = TbPipeline.runFrames(tbLong, popRaw)
    // Products partitioned by year on disk: the serving layer's year
    // point-filters become partition pruning at scale.
    TbPipeline.write(p.countrySummary, s"$outDir/country_summary", format)
    TbPipeline.write(p.yearlyTrends, s"$outDir/yearly_trends", format)
    TbPipeline.write(p.countryTrends, s"$outDir/country_trends", format,
      partitionBy = if (format == "parquet") Seq("year") else Nil)

    println("== country_summary (top 3 by total_cases)")
    p.countrySummary.show(3, truncate = false)
    println("== yearly_trends")
    p.yearlyTrends.show(10, truncate = false)
    println("== map-data 2023 (first 3)")
    TbServing.mapData(p.countrySummary, TbServing.countryCoords(spark), Some(2023))
      .select("iso3", "name", "lat", "lon", "total_cases").show(3)
    println("== quality")
    p.qualityReport.show(truncate = false)
    spark.stop()
  }
}
