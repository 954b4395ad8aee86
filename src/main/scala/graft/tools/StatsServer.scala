package graft.tools

import java.net.InetSocketAddress
import java.nio.charset.StandardCharsets

import com.sun.net.httpserver.{HttpExchange, HttpHandler, HttpServer}

/** Prometheus exposition endpoint (VERDICT r10 #6): the reference
  * serves its counters over HTTP (prometheus.py:40-77, a
  * prometheus_client HTTP server next to the relay loop); the repo
  * computed the exposition TEXT (#50 stats_export, oracle-checked)
  * but never served it. This closes that gap with the JDK's built-in
  * HttpServer — no new dependency, one daemon thread.
  *
  * `render` is called PER SCRAPE, so a server wired to a running
  * streaming pipeline re-derives the current counters each time a
  * scraper polls — the pull model Prometheus expects. The companion
  * `serve` wires it to the #50 batch query for a spool directory;
  * a streaming deployment passes its own thunk (e.g. over the
  * accumulated drain log).
  *
  * `serve`'s render thunk runs a Spark job per scrape: exposition
  * output is bounded (one line per metric series — hundreds, not
  * data-scale), and Prometheus scrape intervals are
  * seconds-to-minutes, so this is a diagnostics surface, never a
  * data-path collect. The relay's thunk (`RelayMain.Relay.metricsText`)
  * runs none: it sums the spool writer's manifests on the driver.
  */
final class StatsServer(port: Int, render: () => String) {
  private var server: HttpServer = _

  /** Bind and serve; `port` 0 picks an ephemeral port. */
  def start(): Unit = {
    server = HttpServer.create(new InetSocketAddress(port), 0)
    server.createContext("/metrics", new HttpHandler {
      override def handle(x: HttpExchange): Unit = {
        val (code, body) =
          try (200, render() + "\n")
          catch {
            case e: Throwable =>
              (500, s"# render failed: ${e.getClass.getName}: ${e.getMessage}\n")
          }
        val bytes = body.getBytes(StandardCharsets.UTF_8)
        // the exposition content type prometheus_client advertises
        x.getResponseHeaders.add("Content-Type",
          "text/plain; version=0.0.4; charset=utf-8")
        x.sendResponseHeaders(code, bytes.length.toLong)
        try x.getResponseBody.write(bytes) finally x.close()
      }
    })
    server.start()
  }

  /** The port actually bound (differs from the requested one when 0). */
  def boundPort: Int = server.getAddress.getPort

  def stop(): Unit = if (server != null) server.stop(0)
}

object StatsServer {
  /** Serve #50's exposition text for a spool data directory. */
  def serve(spark: org.apache.spark.sql.SparkSession, dir: String,
            port: Int = 9100): StatsServer = {
    val s = new StatsServer(port, () =>
      graft.operators.Envelope.statsExport(spark, dir)
        .collect().map(_.getString(0)).mkString("\n"))
    s.start()
    s
  }

  /**   sbt "runMain graft.tools.StatsServer [sfDir] [port]"  */
  def main(args: Array[String]): Unit = {
    val dir = args.headOption.getOrElse("/root/testdata/sf0.001")
    val port = args.lift(1).map(_.toInt).getOrElse(9100)
    val spark = graft.GraftSession.create()
    val s = serve(spark, dir, port)
    println(s"[stats] serving /metrics on port ${s.boundPort} for $dir")
    Thread.currentThread().join() // foreground tool: Ctrl-C to stop
  }
}
