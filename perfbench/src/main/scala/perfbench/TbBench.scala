package perfbench

import java.io.{BufferedInputStream, ByteArrayOutputStream, InputStream, OutputStream}
import java.net.Socket
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path}
import java.util.SplittableRandom

import jdk.net.ExtendedSocketOptions

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.col

import graft.{TbHttpServe, TbServe}
import graft.ops.tb.{TbPipeline, TbProducts}

/** `tb_pipeline`: the paper's own product. A WHO-shaped long-format
  * facts CSV and a population CSV go through TbPipeline.run, the three
  * product sinks, TbServe.writePayloads and TbHttpServe; a closed loop
  * of keep-alive clients then drives the REST routes. */
object TbBench extends Workload {
  type In = Inputs

  val Sea: Seq[(String, String)] = Seq(
    "IDN" -> "Indonesia", "KHM" -> "Cambodia",
    "LAO" -> "Lao People's Democratic Republic", "MMR" -> "Myanmar",
    "MYS" -> "Malaysia", "PHL" -> "Philippines", "SGP" -> "Singapore",
    "THA" -> "Thailand", "TLS" -> "Timor-Leste", "VNM" -> "Viet Nam")
  /** Countries in the facts file: the 10 SEA countries of the real WHO
    * snapshot plus synthetic ones up to WHO's 194 member states, so the
    * input is 19.4 times the real snapshot's 240 fact rows. */
  val Countries = 194
  val Years: Range = 2018 to 2023
  /** The indicators of the real snapshot (240 rows = 10 countries x 6
    * years x 4 indicators), the set TbSynth generates. The other four
    * whitelisted indicators are absent, as in the snapshot, and pivot
    * to 0. */
  val Indicators: Seq[String] = Seq("e_inc_num", "e_inc_100k", "e_mort_num", "e_mort_100k")

  /** Planted shares of invalid fact rows, each relative to the valid
    * rows. The real snapshot has none; these are assumed, so that
    * every validity filter of cleanTb drops rows. */
  val NullValueRate = 0.02
  val NegativeValueRate = 0.02
  val BadYearRate = 0.02
  val BadIndicatorRate = 0.02

  val NotFoundBody = """{"error":"Endpoint not found"}"""

  final case class Inputs(facts: String, population: String, nRows: Long,
                          countries: Seq[String],
                          /** year -> (total_cases, new_cases, deaths, population) */
                          yearly: Map[Int, (Double, Double, Double, Long)])

  private def iso3Of(i: Int): String =
    s"${"QXZ".charAt(i / 676)}${('A' + i / 26 % 26).toChar}${('A' + i % 26).toChar}"

  /** The facts file is written in the column order of the reference
    * collector's melt (indicator before year), while TbPipeline's
    * schema reads year before indicator: the whole file arrives with
    * year and indicator transposed, as the real snapshot does, and
    * cleanTb's swap repair has to fire. Rows come in melt order, one
    * indicator after another, with the invalid rows spread through. */
  def prepare(spark: SparkSession, seed: Long, dir: Path, root: Path): Inputs = {
    val rnd = new SplittableRandom(seed)
    val countries = Sea.map { case (iso, name) => (iso, name, "SEA") } ++
      (0 until Countries - Sea.size).map(i => (iso3Of(i), s"Synthland ${iso3Of(i)}", "SYN"))
    def row(c: (String, String, String), year: String, ind: String, v: String) =
      s"${c._2},${c._1},${c._3},$ind,$year,$v"
    val cells = for (c <- countries; year <- Years) yield {
      val inc = 100 + rnd.nextInt(500000)
      val values = Seq(inc, rnd.nextInt(600), inc / 10, rnd.nextInt(60))
      (c, year, Indicators.zip(values).toMap, 100000L + rnd.nextLong(300000000L))
    }
    val valid = for (ind <- Indicators; (c, year, vs, _) <- cells)
      yield row(c, year.toString, ind, vs(ind).toString)
    val yearly = cells.groupBy(_._2).map { case (year, cs) =>
      year -> (cs.map(_._3("e_inc_num").toDouble).sum, 0.0,
        cs.map(_._3("e_mort_num").toDouble).sum, cs.map(_._4).sum)
    }
    val pop = cells.map { case ((iso, name, _), year, _, p) => s"$name,$iso,$year,$p.0" }
    val nValid = valid.size
    def pick() = countries(rnd.nextInt(countries.size))
    def ind() = Indicators(rnd.nextInt(Indicators.size))
    def yr() = Years(rnd.nextInt(Years.size)).toString
    val invalid =
      Seq.fill((nValid * NullValueRate).toInt)(row(pick(), yr(), ind(), "")) ++
      Seq.fill((nValid * NegativeValueRate).toInt)(
        row(pick(), yr(), ind(), s"-${1 + rnd.nextInt(1000)}")) ++
      (0 until (nValid * BadYearRate).toInt).map { i =>
        row(pick(), Seq("1985", "2041", "1999", "2031")(i % 4), ind(), rnd.nextInt(1000).toString) } ++
      (0 until (nValid * BadIndicatorRate).toInt).map { i =>
        row(pick(), yr(), Seq("e_inc_num_lo", "c_notified", "e_tbhiv_prct")(i % 3),
          rnd.nextInt(1000).toString) }
    // each invalid row goes in at a seeded position among the valid ones
    val rows = (valid.zipWithIndex.map { case (r, i) => (i.toDouble, r) } ++
      invalid.map(r => (rnd.nextDouble() * nValid, r))).sortBy(_._1).map(_._2)
    Files.createDirectories(dir)
    val facts = dir.resolve("who_tb_facts.csv")
    val popCsv = dir.resolve("population.csv")
    Files.writeString(facts,
      rows.mkString("country,iso3,g_whoregion,indicator,year,value\n", "\n", "\n"))
    Files.writeString(popCsv, pop.mkString("country,iso3,year,population\n", "\n", "\n"))
    Inputs(facts.toString, popCsv.toString, rows.size.toLong, countries.map(_._1), yearly)
  }

  /** One pass from raw CSV to the three products and the endpoint
    * payloads, as TbMain and TbServe run it. */
  private def pass(spark: SparkSession, in: Inputs, out: Path): Map[String, String] = {
    val p = TbPipeline.run(spark, in.facts, in.population)
    writeProducts(p, out)
    TbServe.writePayloads(spark, p, out.resolve("payloads").toString)
  }

  private def writeProducts(p: TbProducts, out: Path): Unit = {
    TbPipeline.write(p.countrySummary, out.resolve("country_summary").toString)
    TbPipeline.write(p.yearlyTrends, out.resolve("yearly_trends").toString)
    TbPipeline.write(p.countryTrends, out.resolve("country_trends").toString,
      partitionBy = Seq("year"))
  }

  /** Output checks on a pass's written products and payloads. */
  private def check(spark: SparkSession, in: Inputs, out: Path,
                    payloads: Map[String, String]): Option[String] = {
    val nC = in.countries.size.toLong
    val trends = spark.read.parquet(out.resolve("country_trends").toString).count()
    val summary = spark.read.parquet(out.resolve("country_summary").toString).count()
    val yearly = spark.read.parquet(out.resolve("yearly_trends").toString)
      .select(col("year"), col("total_cases_region"), col("new_cases_region"),
        col("deaths_region"), col("total_population"))
      .collect().map(r => r.getInt(0) -> (r.getDouble(1), r.getDouble(2), r.getDouble(3), r.getLong(4)))
      .toMap
    val onDisk = payloads.forall { case (rel, body) =>
      Files.readString(out.resolve("payloads").resolve(rel)) == body }
    if (trends != nC * Years.size) Some(s"country_trends has $trends rows, expected ${nC * Years.size}")
    else if (summary != nC) Some(s"country_summary has $summary rows, expected $nC")
    else if (yearly != in.yearly) Some(s"yearly_trends sums differ: $yearly vs ${in.yearly}")
    else if (payloads.size != 15 || !onDisk) Some(s"payload files differ from the returned payloads")
    else None
  }

  /** Unchecked ETL passes, so the measured passes run warm. An ETL pass
    * is mostly Spark's planning on the driver, which the JIT takes
    * longer to compile than the corpus operators: in three JVMs, the
    * second pass still took about 20% more CPU, compile work left
    * out, than the fourth. */
  val WarmupPasses = 2

  def warmup(env: Env, in: Inputs): Unit = (0 until WarmupPasses).foreach { _ =>
    val out = env.dir("warmup")
    pass(env.spark, in, out)
    env.spark.catalog.clearCache()
    Util.deleteTree(out)
  }

  /** ETL passes for the first half of the time budget, at least
    * [[MinEtlPasses]], then HTTP load on the last pass's payloads for
    * the second half. */
  def untraced(env: Env, in: Inputs): Unit = {
    val etl = etlPasses(env, in, env.seconds / 2)
    val http = serve(env, in, etl.payloads, env.seconds / 2)
    env.put("work_per_cpu_s", in.nRows / Util.median(etl.times.map(_.appCpu)))
    env.put("op_p50_ms", http.p50)
  }

  final case class Etl(times: Seq[Util.Cost], payloads: Map[String, String])

  /** The CPU time of single ETL passes in one JVM varied by about 10%,
    * so the run reports the median of at least three. */
  val MinEtlPasses = 3

  private def etlPasses(env: Env, in: Inputs, budget: Double): Etl = {
    val spark = env.spark
    val times = mutable.ArrayBuffer.empty[Util.Cost]
    var payloads = Map.empty[String, String]
    val t0 = Util.now()
    while (times.size < MinEtlPasses || Util.secs(t0) < budget) {
      val out = env.dir(s"pass${times.size}")
      val (pl, cost) = Util.costed(pass(spark, in, out))
      times += cost
      spark.catalog.clearCache()
      env.op(check(spark, in, out, pl))
      payloads = pl
      Util.deleteTree(out)
    }
    System.err.println(s"[perfbench] ETL passes ${times.mkString(" ")}")
    Etl(times.toSeq, payloads)
  }

  def traced(env: Env, in: Inputs, tr: Tracer): Unit = {
    val spark = env.spark
    // layer by layer: each public function's output is cached and
    // materialized in full before the next layer reads it
    val out = env.dir("layers")
    def stage(name: String)(f: => DataFrame): DataFrame =
      tr.span(name) { val d = f.cache(); Util.materialize(d); d }
    val clean = stage("TbPipeline.cleanTb")(TbPipeline.cleanTb(TbPipeline.readTbCsv(spark, in.facts)))
    val pivot = stage("TbPipeline.pivotIndicators")(TbPipeline.pivotIndicators(clean))
    val joined = stage("TbPipeline.joinPopulation")(TbPipeline.joinPopulation(pivot,
      TbPipeline.cleanPopulation(TbPipeline.readPopulationCsv(spark, in.population))))
    val rated = stage("TbPipeline.deriveRates")(TbPipeline.deriveRates(joined))
    val products = tr.span("TbPipeline.products") {
      val ps = Seq(TbPipeline.countrySummary(rated), TbPipeline.yearlyTrends(rated),
        TbPipeline.countryTrends(rated), TbPipeline.qualityReport(rated)).map(_.cache())
      ps.foreach(Util.materialize)
      TbProducts(ps(0), ps(1), ps(2), ps(3))
    }
    tr.span("TbPipeline.write")(writeProducts(products, out))
    val payloads = tr.span("TbServe.writePayloads")(
      TbServe.writePayloads(spark, products, out.resolve("payloads").toString))
    env.op(check(spark, in, out, payloads))

    env.put("TbPipeline.cleanTb.wall_s", tr.wall("TbPipeline.cleanTb"))
    env.put("TbPipeline.cleanTb.rows_out", clean.count().toDouble)
    for (n <- Seq("pivotIndicators", "joinPopulation", "write"))
      env.put(s"TbPipeline.$n.shuffle_bytes", tr.group(s"TbPipeline.$n").shuffleWriteBytes.toDouble)
    for (n <- Seq("pivotIndicators", "joinPopulation", "deriveRates", "products", "write"))
      env.put(s"TbPipeline.$n.wall_s", tr.wall(s"TbPipeline.$n"))
    env.put("TbPipeline.write.bytes_written",
      Seq("country_summary", "yearly_trends", "country_trends")
        .map(d => Util.dirBytes(out.resolve(d))).sum.toDouble)
    env.put("TbServe.writePayloads.wall_s", tr.wall("TbServe.writePayloads"))
    env.put("tb_etl_rows_per_s", in.nRows / (Seq("cleanTb", "pivotIndicators",
      "joinPopulation", "deriveRates", "products", "write").map(n => s"TbPipeline.$n") :+
      "TbServe.writePayloads").map(tr.wall).sum)
    env.put("TbServe.writePayloads.jobs", tr.group("TbServe.writePayloads").jobs.toDouble)
    spark.catalog.clearCache()

    val http = tr.span("TbHttpServe.load")(serve(env, in, payloads, env.seconds / 2))
    env.put("http_p50_ms", http.p50)
    env.put("http_p99_ms", http.p99)
    http.routeP50.foreach { case (r, v) => env.put(s"TbHttpServe.$r.p50_ms", v) }
    env.put("TbHttpServe.bytes_per_req", http.bytesPerReq)
    env.put("TbHttpServe.conns_per_req", http.connsPerReq)
    env.put("TbHttpServe.delayed_ack_p50_ms", http.delayedAckP50)

    Registry.traced(env, Registry.prepare(env.root), tr)
  }

  // ------------------------------------------------------------- HTTP

  /** Request latencies in ms, to the end of the body: under load from
    * quick-ACK clients, and (`delayedAckP50`) from a client that
    * delays its ACKs. */
  final case class Http(p50: Double, p99: Double, routeP50: Map[String, Double],
                        bytesPerReq: Double, connsPerReq: Double, delayedAckP50: Double)

  /** The server answers on one dispatcher thread; with 4 clients plus
    * the server on 4 cores, latency was mostly the wait for a core. */
  val Clients = 2
  /** Seconds of unmeasured load before the measured load: the server's
    * code path is compiled by the JIT only after some ten thousand
    * requests. */
  val WarmLoadSecs = 2.0
  /** Visits of the delayed-ACK client after the load. */
  val DelayedAckVisits = 2

  /** One dashboard visit, as the reference's React dashboard makes it:
    * the page load fetches map-data, countries, comparison,
    * yearly-trends and stats, then the user picks [[TrendsPerVisit]]
    * SEA countries, each one trends request (in random letter case:
    * the route upper-cases it). One request per visit goes to a path
    * with no payload, alternately a synthetic country's trends and an
    * unknown route. Entries are (route class, path, status, body). */
  private def visit(in: Inputs, payloads: Map[String, String], rnd: SplittableRandom,
                    n: Long): Seq[(String, String, Int, String)] = {
    def cased(iso: String) = iso.map(c => if (rnd.nextBoolean()) c.toLower else c)
    val sea = Sea.map(_._1)
    val synthetic = in.countries.filterNot(sea.contains)
    val page = Seq("map-data" -> "map_data.json", "countries" -> "countries.json",
      "comparison" -> "comparison.json", "yearly-trends" -> "yearly_trends.json",
      "stats" -> "stats.json").map { case (r, f) => (r, s"/api/$r", 200, payloads(f)) }
    val clicks = Seq.fill(TrendsPerVisit) {
      val iso = sea(rnd.nextInt(sea.size))
      ("trends", s"/api/trends/${cased(iso)}", 200, payloads(s"trends/$iso.json"))
    }
    val missing = if (n % 2 == 0)
      ("not-found", s"/api/trends/${synthetic(rnd.nextInt(synthetic.size))}", 404, NotFoundBody)
    else ("not-found", "/api/no-such-route", 404, NotFoundBody)
    page ++ clicks :+ missing
  }

  /** Trends requests per dashboard visit: assumed, no source gives it. */
  val TrendsPerVisit = 3

  /** A keep-alive HTTP/1.1 client on one socket, reconnecting only
    * when the server closes the connection.
    *
    * TbHttpServe's server writes a reply's headers and body apart and
    * does not set TCP_NODELAY, so the body waits until the headers are
    * acknowledged. A client that delays its ACKs, as Linux does by
    * default, then waits about 40 ms for every reply: the kernel's
    * timer, not the server's work. With `quickAck` the client asks the
    * kernel to acknowledge at once, which leaves the server's own
    * latency. */
  private final class Client(port: Int, quickAck: Boolean) {
    private var sock: Socket = _
    private var in: InputStream = _
    private var out: OutputStream = _
    var connects = 0L
    var bytes = 0L

    private def connect(): Unit = {
      close()
      sock = new Socket("127.0.0.1", port)
      sock.setTcpNoDelay(true)
      in = new BufferedInputStream(sock.getInputStream)
      out = sock.getOutputStream
      connects += 1
    }

    def close(): Unit = if (sock != null) { sock.close(); sock = null }

    private def line(): String = {
      val b = new ByteArrayOutputStream()
      var c = in.read()
      while (c != '\n' && c != -1) { if (c != '\r') b.write(c); c = in.read() }
      if (c == -1 && b.size() == 0) throw new java.io.EOFException("connection closed")
      b.toString(UTF_8)
    }

    def get(path: String): (Int, String) = {
      if (sock == null) connect()
      try exchange(path)
      catch { case _: java.io.IOException => connect(); exchange(path) }
    }

    private def exchange(path: String): (Int, String) = {
      out.write(s"GET $path HTTP/1.1\r\nHost: 127.0.0.1\r\n\r\n".getBytes(UTF_8))
      out.flush()
      // the kernel leaves quick-ACK mode on its own, so re-arm it per reply
      if (quickAck) sock.setOption(ExtendedSocketOptions.TCP_QUICKACK, java.lang.Boolean.TRUE)
      val status = line().split(" ")(1).toInt
      var len = 0
      var closeAfter = false
      var h = line()
      while (h.nonEmpty) {
        val i = h.indexOf(':')
        val k = h.substring(0, i).trim.toLowerCase
        val v = h.substring(i + 1).trim
        if (k == "content-length") len = v.toInt
        if (k == "connection" && v.equalsIgnoreCase("close")) closeAfter = true
        h = line()
      }
      val body = in.readNBytes(len)
      bytes += body.length
      if (closeAfter) close()
      (status, new String(body, UTF_8))
    }
  }

  /** Closed loop: each client runs dashboard visits back to back and
    * sends its next request when the previous reply is complete. Each
    * request is timed to the end of its body; the reply is checked
    * against its payload after the clock stops. */
  private def serve(env: Env, in: Inputs, payloads: Map[String, String],
                    budget: Double): Http = {
    val server = TbHttpServe.start(payloads, 0)
    try {
      val port = server.getAddress.getPort
      /** Runs `visits` visits, or fewer if `until` comes first. */
      final class Worker(id: Int, quickAck: Boolean, visits: Long, until: Long) extends Thread {
        val lat = mutable.ArrayBuffer.empty[(String, Double)]
        var bad = 0L
        var firstBad: Option[String] = None
        val client = new Client(port, quickAck)
        override def run(): Unit = {
          val rnd = new SplittableRandom(env.seed * 31 + id)
          var n = 0L
          try while (n < visits && Util.now() < until) {
            for ((route, path, status, body) <- visit(in, payloads, rnd, n + id)) {
              val t0 = Util.now()
              val reply = try Right(client.get(path))
                          catch { case e: java.io.IOException => client.close(); Left(e.toString) }
              lat += route -> Util.secs(t0) * 1000
              val problem = reply match {
                case Right((st, got)) if st != status || got != body => Some(s"$path -> $st")
                case Right(_) => None
                case Left(err) => Some(s"$path -> $err")
              }
              problem.foreach { p =>
                bad += 1
                if (firstBad.isEmpty) firstBad = Some(p)
              }
            }
            n += 1
          } finally client.close()
        }
        def tally(): Unit = {
          (0L until lat.size.toLong - bad).foreach(_ => env.op(None))
          (0L until bad).foreach(_ => env.op(Some(s"HTTP ${firstBad.getOrElse("")}")))
        }
      }
      def load(secs: Double): Seq[Worker] = {
        val until = Util.now() + (secs * 1e9).toLong
        val ws = (0 until Clients).map(new Worker(_, quickAck = true, Long.MaxValue, until))
        ws.foreach(_.start())
        ws.foreach(_.join())
        ws
      }
      load(WarmLoadSecs)
      Util.awaitJitIdle()
      val ws = load(budget)
      val slow = new Worker(Clients, quickAck = false, DelayedAckVisits, Long.MaxValue)
      slow.run()
      (ws :+ slow).foreach(_.tally())
      val all = ws.flatMap(_.lat)
      val ms = all.map(_._2)
      Http(Util.median(ms), Util.quantile(ms, 0.99),
        all.groupBy(_._1).map { case (r, xs) => r -> Util.median(xs.map(_._2)) },
        ws.map(_.client.bytes).sum.toDouble / all.size,
        ws.map(_.client.connects).sum.toDouble / all.size,
        Util.median(slow.lat.map(_._2).toSeq))
    } finally server.stop(0)
  }
}
