package graft.cli

import java.net.InetSocketAddress
import java.nio.charset.StandardCharsets

import com.sun.net.httpserver.{HttpExchange, HttpHandler, HttpServer}

import org.apache.spark.sql.functions._

/** `bgutil web` — the reference's "bgutil as a service" face
  * (cli/command_web.py + cli/web/namespaces/bgutil.py: POST a command
  * name + arguments, get the captured output back; plus
  * cli/web/namespaces/biggraphite.py's metric-metadata endpoint).
  * Zero-dependency JDK HttpServer; one Spark session serves every
  * request, so successive API calls reuse warm executors exactly like
  * [[Bgutil.shell]].
  *
  * Endpoints:
  *  - `GET /health` → `{"status":"ok"}`
  *  - `GET /render?target=<expr>&from=<s>&until=<s>[&format=json|csv|raw]`
  *    → graphite-web's render API (nested function-call targets via
  *    [[RenderTarget]]; grafana's graphite datasource JSON shape,
  *    plus the csv and raw views)
  *  - `GET /metrics/expand?query=<glob>[&leavesOnly=1]` → full paths
  *    of matching nodes; `GET /metrics/index.json` → all leaf names
  *  - `GET /api/biggraphite/metric/<name>` → metadata JSON or 404
  *  - `GET|POST /api/bgutil/<command>?arg=<a>&arg=<b>…` → runs the
  *    CLI command against the served db, returns captured console
  *    output as `{"output": "..."}`. Command allow-list = every
  *    non-interactive subcommand; unknown → 400. (The reference
  *    passes arguments as a JSON body; query params carry the same
  *    list without a JSON parser dependency.)
  */
object BgWeb {

  /** Subcommands servable over HTTP (no nested shell/web/daemon). */
  val Servable: Set[String] = Set("syncdb", "write", "read", "render",
    "list", "dirs", "du", "stats", "clean", "repair", "copy", "delete",
    "info", "clustersdiff", "compact", "expire")

  private def jsonEscape(s: String): String = s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  }

  private def respond(ex: HttpExchange, code: Int, body: String,
      contentType: String = "application/json"): Unit = {
    val bytes = body.getBytes(StandardCharsets.UTF_8)
    ex.getResponseHeaders.set("Content-Type", contentType)
    ex.sendResponseHeaders(code, bytes.length.toLong)
    ex.getResponseBody.write(bytes)
    ex.close()
  }

  /** One query-string parser for every handler (bare keys allowed,
    * values URL-decoded once — handlers previously each had a slightly
    * different copy). */
  private def parseParams(ex: HttpExchange): Array[(String, String)] = {
    val q = Option(ex.getRequestURI.getRawQuery).getOrElse("")
    q.split("&").filter(_.nonEmpty).map { kv =>
      val i = kv.indexOf('=')
      if (i < 0) (kv, "")
      else (kv.substring(0, i),
        java.net.URLDecoder.decode(kv.substring(i + 1), "UTF-8"))
    }
  }

  private def queryArgs(ex: HttpExchange): Array[String] =
    parseParams(ex).collect { case ("arg", v) => v }

  /** Build (not start) the server — tests bind port 0 and start/stop. */
  def build(db: Bgutil.Db, port: Int): HttpServer = {
    val server = HttpServer.create(new InetSocketAddress(port), 0)
    // without an executor the JDK server dispatches every request on
    // ONE thread — a cron-driven /api/bgutil/compact would stall every
    // concurrent /render and /health behind the maintenance run. Spark
    // schedules concurrent jobs from multiple threads fine. Daemon
    // threads: server.stop ends the dispatcher but never this pool, and
    // non-daemon workers would keep the JVM alive after it.
    val workers = new java.util.concurrent.atomic.AtomicInteger()
    server.setExecutor(java.util.concurrent.Executors.newFixedThreadPool(8,
      (r: Runnable) => {
        val t = new Thread(r, s"bgweb-http-${workers.incrementAndGet()}")
        t.setDaemon(true)
        t
      }))

    server.createContext("/health", new HttpHandler {
      override def handle(ex: HttpExchange): Unit =
        respond(ex, 200, """{"status":"ok"}""")
    })

    server.createContext("/api/biggraphite/metric/", new HttpHandler {
      override def handle(ex: HttpExchange): Unit = try {
        val name = ex.getRequestURI.getPath
          .stripPrefix("/api/biggraphite/metric/")
        Bgutil.metricInfo(db, name) match {
          case None =>
            respond(ex, 404, s"""{"error":"unknown metric: ${jsonEscape(name)}"}""")
          case Some(r) =>
            respond(ex, 200,
              s"""{"name":"${jsonEscape(r.getString(0))}",""" +
              s""""id":"${jsonEscape(r.getString(1))}",""" +
              s""""metadata":{"aggregator":"${jsonEscape(r.getString(2))}",""" +
              s""""retention":"${jsonEscape(r.getString(3))}"},""" +
              s""""updated_on":${r.getLong(4)}}""")
        }
      } catch {
        case e: Exception =>
          respond(ex, 500, s"""{"error":"${jsonEscape(e.getMessage)}"}""")
      }
    })

    // graphite-web's /metrics/find shape ({text, leaf} nodes), the API
    // dashboards browse the tree with (plugins/graphite.py:405-412)
    server.createContext("/metrics/find", new HttpHandler {
      override def handle(ex: HttpExchange): Unit = try {
        val glob = parseParams(ex).collectFirst { case ("query", v) => v }
          .getOrElse(throw new IllegalArgumentException("missing ?query="))
        val nodes = Bgutil.findNodes(db, glob)
          .map { case (name, leaf) =>
            s"""{"text":"${jsonEscape(name)}","leaf":$leaf}""" }
        respond(ex, 200, nodes.mkString("[", ",", "]"))
      } catch {
        case e: Exception =>
          respond(ex, 400, s"""{"error":"${jsonEscape(
            Option(e.getMessage).getOrElse(e.getClass.getSimpleName))}"}""")
      }
    })

    // graphite-web's /metrics/expand: expand a glob into the FULL
    // PATHS of every matching node (leaves and branches), the shape
    // scripted clients use ({"results": [...]})
    server.createContext("/metrics/expand", new HttpHandler {
      override def handle(ex: HttpExchange): Unit = try {
        val params = parseParams(ex)
        val glob = params.collectFirst { case ("query", v) => v }
          .getOrElse(throw new IllegalArgumentException("missing ?query="))
        val leavesOnly =
          params.collectFirst { case ("leavesOnly", v) => v }.contains("1")
        val nodes = Bgutil.findNodes(db, glob)
          .collect { case (name, leaf) if !leavesOnly || leaf =>
            s""""${jsonEscape(name)}"""" }.distinct.sorted
        respond(ex, 200, nodes.mkString("""{"results":[""", ",", "]}"))
      } catch {
        case e: Exception =>
          respond(ex, 400, s"""{"error":"${jsonEscape(
            Option(e.getMessage).getOrElse(e.getClass.getSimpleName))}"}""")
      }
    })

    // graphite-web's /metrics/index.json: every leaf metric name,
    // sorted — the autocomplete index. Inherently a full catalog dump
    // (graphite walks its whole tree for this too); the projection is
    // one pruned column off the catalog parquet, collected whole, so it
    // sorts on the driver (in Spark's UTF-8 byte order) instead of in a
    // range-sampled Spark sort.
    server.createContext("/metrics/index.json", new HttpHandler {
      override def handle(ex: HttpExchange): Unit = try {
        val names = db.catalog.select("name").collect().map(_.getString(0))
          .sortBy(org.apache.spark.unsafe.types.UTF8String.fromString)
          .map(n => s""""${jsonEscape(n)}"""")
        respond(ex, 200, names.mkString("[", ",", "]"))
      } catch {
        case e: Exception =>
          respond(ex, 500, s"""{"error":"${jsonEscape(
            Option(e.getMessage).getOrElse(e.getClass.getSimpleName))}"}""")
      }
    })

    // graphite-web's /render JSON API: one or more
    // target=<expression> params (nested function calls parsed by
    // RenderTarget), from/until epoch seconds, response
    // [{"target": name, "datapoints": [[value|null, ts], ...]}, ...] —
    // exactly what grafana's graphite datasource consumes
    server.createContext("/render", new HttpHandler {
      override def handle(ex: HttpExchange): Unit = try {
        val params = parseParams(ex)
        val targets = params.collect { case ("target", t) => t }
        require(targets.nonEmpty, "missing ?target=")
        def opt(name: String): Option[String] =
          params.collectFirst { case (`name`, v) => v }
        // reject an unknown format BEFORE evaluating any target — the
        // evaluation is the expensive part
        val format = opt("format").getOrElse("json")
        require(Set("json", "csv", "raw")(format),
          s"unknown format: $format")
        // graphite time syntax: epoch, now, -6h …; ?now= pins the
        // reference instant (tests, reproducible dashboards) — for the
        // relative times AND for the reads' stage choice; without it a
        // read's stage is chosen relative to its window end
        val pinnedNow = opt("now").map(_.toLong)
        val nowS = pinnedNow.getOrElse(System.currentTimeMillis() / 1000)
        val startS = RenderTarget.parseTime(opt("from").getOrElse("-1d"), nowS)
        val endS = RenderTarget.parseTime(opt("until").getOrElse("now"), nowS)
        val mdp = opt("maxDataPoints").map(_.toInt).getOrElse(0)
        // (name, [(ts, value-or-null)]) per series across all targets —
        // one shape, three serializations (format=json|csv|raw, like
        // graphite-web's render views). Ordering happens here on the
        // driver: legend order where a sortBy* materialized
        // series_order, name order otherwise; slots by ts.
        val series: Seq[(String, Seq[(Long, Option[Double])])] =
          targets.toSeq.flatMap { t =>
            val df = RenderTarget.render(db, t, startS, endS, mdp, pinnedNow)
            val legend = df.columns.contains("series_order")
            df.select((Seq("name", "ts", "value") ++
                (if (legend) Seq("series_order") else Nil)).map(col): _*)
              .collect()
              .groupBy(_.getString(0)).toSeq
              .sortBy { case (name, rows) =>
                (if (legend && !rows.head.isNullAt(3)) rows.head.getInt(3)
                 else Int.MaxValue, name) }
              .map { case (name, rows) =>
                (name, rows.sortBy(_.getLong(1)).toSeq.map { r =>
                  // NaN/Infinity are not JSON — graphite serializes
                  // those slots as null and so do we
                  val v =
                    if (r.isNullAt(2) ||
                        !java.lang.Double.isFinite(r.getDouble(2))) None
                    else Some(r.getDouble(2))
                  (r.getLong(1), v)
                })
              }
          }
        format match {
          case "json" =>
            val body = series.map { case (name, pts) =>
              s"""{"target":"${jsonEscape(name)}","datapoints":""" +
                pts.map { case (ts, v) =>
                  s"[${v.map(_.toString).getOrElse("null")},$ts]"
                }.mkString("[", ",", "]") + "}"
            }
            respond(ex, 200, body.mkString("[", ",", "]"))
          case "csv" =>
            // graphite's csv view: name,datetime,value — empty value
            // for None slots; timestamps in the session tz (UTC).
            // Combine-call legends contain commas ('sumSeries(a,b)'),
            // so names quote per RFC 4180 like python's csv.writer
            def csvField(s: String): String =
              if (s.exists(c => c == ',' || c == '"' || c == '\n' ||
                  c == '\r'))
                "\"" + s.replace("\"", "\"\"") + "\""
              else s
            val fmtr = java.time.format.DateTimeFormatter
              .ofPattern("yyyy-MM-dd HH:mm:ss")
              .withZone(java.time.ZoneOffset.UTC)
            val body = series.flatMap { case (name, pts) =>
              pts.map { case (ts, v) =>
                s"${csvField(name)}," +
                  s"${fmtr.format(java.time.Instant.ofEpochSecond(ts))}," +
                  v.map(_.toString).getOrElse("")
              }
            }.mkString("", "\n", "\n")
            respond(ex, 200, body, "text/csv")
          case _ => // raw
            // graphite's rawData view: name,start,end,step|v1,v2,…
            // (None for empty slots); step derives from the spine's
            // smallest positive gap, end is exclusive like graphite.
            // A single-slot spine starts at the window start, so the
            // window remainder IS its step (a 30s metric fetched over
            // [120,150) must say step 30, not a hardcoded 60).
            val body = series.map { case (name, pts) =>
              val ts = pts.map(_._1)
              val step =
                if (ts.length >= 2)
                  ts.sliding(2).map(w => w(1) - w(0)).filter(_ > 0).min
                else math.max(1L, endS - ts.head)
              val vals = pts.map(_._2.map(_.toString).getOrElse("None"))
              s"$name,${ts.head},${ts.last + step},$step|${vals.mkString(",")}"
            }.mkString("", "\n", "\n")
            respond(ex, 200, body, "text/plain")
        }
      } catch {
        case e: Exception =>
          respond(ex, 400, s"""{"error":"${jsonEscape(
            Option(e.getMessage).getOrElse(e.getClass.getSimpleName))}"}""")
      }
    })

    server.createContext("/api/bgutil/", new HttpHandler {
      override def handle(ex: HttpExchange): Unit = try {
        val cmd = ex.getRequestURI.getPath.stripPrefix("/api/bgutil/")
        if (!Servable(cmd))
          respond(ex, 400, s"""{"error":"unknown command: ${jsonEscape(cmd)}"}""")
        else {
          val out = new java.io.ByteArrayOutputStream()
          Console.withOut(new java.io.PrintStream(out, true, "UTF-8")) {
            Bgutil.run(db, cmd, queryArgs(ex))
          }
          respond(ex, 200,
            s"""{"output":"${jsonEscape(out.toString("UTF-8"))}"}""")
        }
      } catch {
        case e: Exception =>
          respond(ex, 400, s"""{"error":"${jsonEscape(
            Option(e.getMessage).getOrElse(e.getClass.getSimpleName))}"}""")
      }
    })

    server
  }

  /** Start and block forever (the CLI entry point). */
  def serve(db: Bgutil.Db, port: Int): Unit = {
    val server = build(db, port)
    server.start()
    println(s"bgutil web serving on port " +
      s"${server.getAddress.getPort} (health: /health)")
    Thread.currentThread().join()
  }
}
