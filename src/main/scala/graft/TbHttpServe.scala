package graft

import java.net.InetSocketAddress
import java.nio.charset.StandardCharsets

import com.sun.net.httpserver.{HttpExchange, HttpServer}

import graft.ops.tb.{ReferenceSnapshot, TbPipeline}

/** Live HTTP serving surface over the materialized endpoint payloads —
  * the reference's route table (`flask_api_server.py:710-783`) on the
  * JDK's built-in `com.sun.net.httpserver.HttpServer` (no new
  * dependency), closing the last "files, not a server" gap:
  * [[TbServe]] certifies the response BODIES against the golden
  * pipeline products, this serves exactly those bytes over HTTP
  * (byte-equality pinned in TbHttpServeSpec).
  *
  * Routes (reference parity):
  *  - `GET /api/map-data`      → map_data.json
  *  - `GET /api/trends/<iso3>` → trends/<ISO3>.json — case-insensitive
  *    (the reference upper-cases the path segment,
  *    `flask_api_server.py:728`); unknown ISO3 → 404
  *  - `GET /api/comparison`    → comparison.json
  *  - `GET /api/yearly-trends` → yearly_trends.json
  *  - `GET /api/countries`     → countries.json
  *  - `GET /api/stats`         → stats.json
  *  - `GET /api/health`        → liveness probe (status + service; no
  *    timestamp — the deterministic-payload stance of TbServe's stats)
  *  - anything else            → 404 `{"error":"Endpoint not found"}`
  *    (the reference's `errorhandler(404)`)
  *
  * Caching stance: the flask app caches each endpoint for 3600 s; here
  * every payload is materialized ONCE at startup from the pipeline
  * products — the same cache idea with the window widened to the
  * serving-process lifetime, which is faithful because the reference's
  * own data refresh is the 30-day [[graft.sources.Fetch]] protocol (an
  * hourly cache expiry re-reads identical bytes). Query-param variants
  * (`?year=`) are served at the default the payload was built with,
  * like a cache-warmed flask instance.
  */
object TbHttpServe {

  private val NotFound = """{"error":"Endpoint not found"}"""
  private val TrendsPath = "/api/trends/([A-Za-z]{3})".r

  /** Pure route table: request path → (status, body). Factored from
    * the exchange handling so the spec can cover the table without a
    * socket, while the integration test drives the real server. */
  private[graft] def route(path: String,
                           payloads: Map[String, String]): (Int, String) = {
    def payload(name: String): (Int, String) =
      payloads.get(name).map((200, _)).getOrElse((404, NotFound))
    path match {
      case "/api/map-data"      => payload("map_data.json")
      case "/api/comparison"    => payload("comparison.json")
      case "/api/yearly-trends" => payload("yearly_trends.json")
      case "/api/countries"     => payload("countries.json")
      case "/api/stats"         => payload("stats.json")
      case "/api/health" =>
        (200, """{"status":"healthy","service":"graft TB Data API"}""")
      case TrendsPath(iso) => payload(s"trends/${iso.toUpperCase}.json")
      case _ => (404, NotFound)
    }
  }

  private def respond(ex: HttpExchange, status: Int, body: String): Unit = {
    val bytes = body.getBytes(StandardCharsets.UTF_8)
    ex.getResponseHeaders.set("Content-Type", "application/json")
    ex.sendResponseHeaders(status, bytes.length.toLong)
    val os = ex.getResponseBody
    try os.write(bytes) finally os.close()
  }

  /** Start serving `payloads` on 127.0.0.1:`port` (0 = ephemeral;
    * read the bound port off the returned server). The caller owns
    * the server (`stop(0)` to shut down). */
  def start(payloads: Map[String, String], port: Int): HttpServer = {
    val server = HttpServer.create(new InetSocketAddress("127.0.0.1", port), 0)
    server.createContext("/", (ex: HttpExchange) => {
      try {
        val (status, body) = route(ex.getRequestURI.getPath, payloads)
        respond(ex, status, body)
      } finally ex.close()
    })
    server.start()
    server
  }

  /** Usage: TbHttpServe <tbCsv> <popCsv> <port> — runs the pipeline,
    * materializes the payloads, serves until killed. */
  def main(args: Array[String]): Unit = {
    val tbCsv = args.lift(0).getOrElse(ReferenceSnapshot.TbCsv)
    val popCsv = args.lift(1).getOrElse(ReferenceSnapshot.PopCsv)
    val port = args.lift(2).map(_.toInt).getOrElse(5000)
    val outDir = java.nio.file.Files
      .createTempDirectory("graft_http_serve").toString
    val spark = GraftSession.create(appName = "graft-tb-http-serve",
      master = s"local[${sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")}]")
    spark.sparkContext.setLogLevel("WARN")
    val payloads =
      TbServe.writePayloads(spark, TbPipeline.run(spark, tbCsv, popCsv), outDir)
    spark.stop() // payloads are materialized; serving needs no session
    val server = start(payloads, port)
    println(s"[http-serve] ${payloads.size} endpoints on " +
      s"http://127.0.0.1:${server.getAddress.getPort}/api/...")
    // the server's dispatcher thread is non-daemon: main may return,
    // the JVM serves until killed
  }
}
