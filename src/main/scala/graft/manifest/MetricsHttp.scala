package graft.manifest

import java.net.InetSocketAddress
import java.nio.charset.StandardCharsets

import com.sun.net.httpserver.{HttpExchange, HttpHandler, HttpServer}

import Records.SinkCounters

/** Minimal live-metrics HTTP surface over the manifest directory — the A4
  * analog of the reference's JSON monitoring API (web/api/api.go:8-14,
  * targets.go:43-121) and Prometheus endpoint (web/server.go:26-33).
  *
  * The engine's run state IS the manifest: per-sink commit entries
  * (rows/bytes/convs) plus the run records that
  * [[graft.pipeline.Pipeline.run]] persists from the limiter's verdict cells
  * (in/out/dropped per sink). Serving them requires no running SparkSession
  * — the JDK's built-in HttpServer reads the typed records through
  * [[Manifest]] on demand, so the endpoint can outlive (or predate) any job,
  * exactly like the reference's sidecar web server.
  *
  * Routes:
  *   GET /sinks        → JSON array of committed-sink manifest entries
  *   GET /runs         → JSON array of per-run metrics (live counters,
  *                       incl. per-stage scan/parse/route rows)
  *   GET /snapshots    → JSON array of the append-only snapshot commit log
  *                       (post-sweep: expired records no longer appear)
  *   GET /retention    → expire-snapshots state: pinned-reader horizon +
  *                       per-sink compacted stream bases
  *   GET /metrics      → Prometheus text exposition of the same cells
  *   GET /cluster      → live executor roster + per-executor task/storage
  *                       stats from the SparkContext status tracker — the
  *                       analog of the reference's cluster view
  *                       (web/api/cluster.go:21-60); `?node=host:port`
  *                       narrows to one executor the way the reference's
  *                       `?node=` proxies a single node's stats. Requires
  *                       a live session (pass `spark`); absent one the
  *                       route reports the sidecar state.
  *   GET /healthz      → "ok"
  */
final class MetricsHttp(root: String, port: Int,
    spark: Option[org.apache.spark.sql.SparkSession] = None) {
  private val manifest = new Manifest(root)
  private var server: Option[HttpServer] = None

  private def json(value: AnyRef): String = Records.mapper.writeValueAsString(value)

  /** Single response writer shared by every route. */
  private def respond(ex: HttpExchange, code: Int, payload: String, ct: String): Unit = {
    val bytes = payload.getBytes(StandardCharsets.UTF_8)
    ex.getResponseHeaders.add("Content-Type", ct)
    ex.sendResponseHeaders(code, bytes.length)
    val os = ex.getResponseBody
    try os.write(bytes) finally os.close()
  }

  /** A non-200 answer with a JSON error body. */
  private final class HttpError(val code: Int, msg: String) extends Exception(msg)

  private def errorJson(msg: String): String = json(Map("error" -> msg))

  /** The one handler behind every route. A monitoring sidecar degrades, it
    * never drops connections: an [[HttpError]] is answered with its code, any
    * other body() failure is a 500 with a JSON error, never an unanswered
    * exchange (client-side connection reset). */
  private def handler(body: HttpExchange => String,
      contentType: String = "application/json"): HttpHandler = ex =>
    try {
      val (code, payload, ct) =
        try (200, body(ex), contentType)
        catch {
          case e: HttpError => (e.code, errorJson(e.getMessage), "application/json")
          case e: Exception => (500, errorJson(e.toString), "application/json")
        }
      respond(ex, code, payload, ct)
    } finally ex.close()

  /** The request's query parameters; malformed percent-encoding is a 400. */
  private def params(ex: HttpExchange): Map[String, String] =
    try Option(ex.getRequestURI.getQuery).getOrElse("")
      .split("&").filter(_.contains("=")).map { kv =>
        val Array(k, v) = kv.split("=", 2)
        k -> java.net.URLDecoder.decode(v, "UTF-8")
      }.toMap
    catch { case e: IllegalArgumentException =>
      throw new HttpError(400, s"bad query string: ${e.getMessage}") }

  /** Prometheus text exposition (version 0.0.4) over the same manifest cells
    * — the reference serves /metrics via promhttp (web/server.go:32; counters
    * registered in monitoring/stats.go:10-118). Committed-sink entries become
    * per-sink totals; the per-run in/out/dropped limiter counters and stage
    * counters are summed across runs (monotone, counter semantics). */
  private def prometheusBody(): String = {
    val sb = new StringBuilder
    // exposition-format label escaping: backslash, quote, newline
    def esc(s: String): String =
      s.replace("\\", "\\\\").replace("\"", "\\\"").replace("\n", "\\n")
    def metric(name: String, help: String, mType: String,
        rows: Seq[(String, Long)], label: String): Unit = {
      if (rows.nonEmpty) {
        sb ++= s"# HELP $name $help\n# TYPE $name $mType\n"
        rows.foreach { case (k, v) => sb ++= s"""$name{$label="${esc(k)}"} $v""" + "\n" }
      }
    }
    def counter(name: String, help: String,
        rows: Seq[(String, Long)], label: String = "sink"): Unit =
      metric(name, help, "counter", rows, label)
    val entries = manifest.sinkEntries()
    counter("graft_sink_rows_total", "Rows committed per sink",
      entries.map(e => e.sink -> e.rowCount))
    counter("graft_sink_bytes_total", "Text bytes committed per sink",
      entries.map(e => e.sink -> e.bytes))
    // gauge, not counter: a re-committed sink re-counts its distinct convs,
    // so the value can legitimately decrease
    metric("graft_sink_convs", "Distinct conversations committed per sink",
      "gauge", entries.map(e => e.sink -> e.convs), "sink")

    val runs = manifest.runRecords()
    sb ++= s"# HELP graft_runs_total Completed pipeline runs\n" +
      s"# TYPE graft_runs_total counter\ngraft_runs_total ${runs.size}\n"
    // per-sink limiter counters summed across runs, one series per field
    val perSink = runs.flatMap(_.perSink).groupMapReduce(_._1)(_._2)(_ + _).toSeq
      .sortBy(_._1).map { case (sink, c) => sink -> Records.counters(c).toMap }
    Records.counters(SinkCounters()).foreach { case (f, _) =>
      counter(s"graft_sink_${f}_total", s"Limiter-observed $f per sink across runs",
        perSink.map { case (sink, c) => sink -> c(f) })
    }
    // per-stage counters summed across runs
    val stages = runs.flatMap(r => Records.counters(r.stages))
      .groupMapReduce(_._1)(_._2)(_ + _).toSeq.sortBy(_._1)
    counter("graft_stage_rows_total", "Per-stage observed counters across runs",
      stages, label = "stage")
    sb.result()
  }

  /** Live executor roster + per-executor task/storage stats — the cluster
    * view. In Spark the "nodes" the reference proxies with `?node=` are the
    * executors, and the driver's status tracker already aggregates their
    * heartbeats, so this is a read, not a fan-out of HTTP calls. */
  private def clusterBody(ex: HttpExchange): String = {
    val node = params(ex).get("node")
    json(spark match {
      case None =>
        Map("mode" -> "sidecar", "error" -> "no live SparkSession attached",
          "executors" -> Seq.empty)
      case Some(s) =>
        val st = s.sparkContext.statusTracker
        Map("mode" -> "live",
          "executors" -> st.getExecutorInfos.toSeq
            .filter(e => node.forall(_ == s"${e.host}:${e.port}"))
            .map(e => Map("node" -> s"${e.host}:${e.port}",
              "running_tasks" -> e.numRunningTasks(),
              "cache_size" -> e.cacheSize(),
              "used_onheap_storage" -> e.usedOnHeapStorageMemory(),
              "used_offheap_storage" -> e.usedOffHeapStorageMemory(),
              "total_onheap_storage" -> e.totalOnHeapStorageMemory(),
              "total_offheap_storage" -> e.totalOffHeapStorageMemory())),
          "default_parallelism" -> s.sparkContext.defaultParallelism,
          "active_jobs" -> st.getActiveJobIds().toSeq,
          "active_stages" -> st.getActiveStageIds().toSeq)
    })
  }

  private def htmlEsc(s: String): String =
    s.replace("&", "&amp;").replace("<", "&lt;").replace(">", "&gt;")

  /** Server-rendered status page — the lightweight stand-in for the
    * reference's web UI (web/ui): one HTML document over the same manifest
    * cells and live roster the JSON routes serve, no scripts, rendered
    * per request so it is always current. Anything but "/" under the root
    * context is a 404 (the JDK server routes unmatched paths here). */
  private def indexBody(ex: HttpExchange): String = {
    if (ex.getRequestURI.getPath != "/") throw new HttpError(404, "not found")
    val entries = manifest.sinkEntries()
    val runs = manifest.runRecords()
    val sinkRows = entries.map { e =>
      s"<tr><td>${htmlEsc(e.sink)}</td>" +
        s"<td>${e.rowCount}</td><td>${e.bytes}</td><td>${e.convs}</td></tr>"
    }.mkString
    val execRows = spark.toSeq.flatMap { s =>
      s.sparkContext.statusTracker.getExecutorInfos.toSeq.map { e =>
        s"<tr><td>${htmlEsc(e.host)}:${e.port}</td><td>${e.numRunningTasks()}</td>" +
          s"<td>${e.cacheSize()}</td></tr>"
      }
    }.mkString
    val clusterSection =
      if (spark.isDefined)
        s"""<h2>Executors</h2><table border="1" cellpadding="4">
           |<tr><th>node</th><th>running tasks</th><th>cache bytes</th></tr>$execRows</table>"""
          .stripMargin
      else "<h2>Executors</h2><p>sidecar mode — no live session</p>"
    s"""<!doctype html><html><head><title>graft status</title></head><body>
       |<h1>graft pipeline status</h1>
       |<p>${entries.size} committed sinks · ${runs.size} recorded runs ·
       |<a href="/sinks">sinks</a> · <a href="/runs">runs</a> ·
       |<a href="/snapshots">snapshots</a> · <a href="/retention">retention</a> ·
       |<a href="/metrics">metrics</a> ·
       |<a href="/cluster">cluster</a> · <a href="/healthz">healthz</a></p>
       |<h2>Committed sinks</h2><table border="1" cellpadding="4">
       |<tr><th>sink</th><th>rows</th><th>bytes</th><th>convs</th></tr>$sinkRows</table>
       |$clusterSection
       |</body></html>""".stripMargin
  }

  /** Starts the server; returns the bound port (use port=0 for ephemeral). */
  def start(): Int = {
    val s = HttpServer.create(new InetSocketAddress(port), 0)
    s.createContext("/", handler(indexBody, contentType = "text/html; charset=utf-8"))
    // the parseable records only: a file another process is mid-writing, or
    // a crash left truncated, is skipped
    s.createContext("/sinks", handler(_ => json(manifest.sinkEntries())))
    s.createContext("/runs", handler(_ => json(manifest.runRecords())))
    s.createContext("/healthz", handler(_ => "\"ok\""))
    s.createContext("/snapshots", handler(_ => json(manifest.snapshotLog())))
    // the expire-snapshots state: the horizon below which pinned reads fail
    // fast, and the per-sink compacted bases (Manifest.expireSnapshots)
    s.createContext("/retention", handler(_ => json(manifest.retention())))
    s.createContext("/metrics",
      handler(_ => prometheusBody(), contentType = "text/plain; version=0.0.4"))
    s.createContext("/cluster", handler(clusterBody))
    s.setExecutor(null) // single-threaded: a monitoring sidecar, not a data path
    s.start()
    server = Some(s)
    s.getAddress.getPort
  }

  def stop(): Unit = {
    server.foreach(_.stop(0))
    server = None
  }
}
