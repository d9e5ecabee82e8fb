package graft.cli

import java.net.{HttpURLConnection, URI}

import graft.SparkSuite
import graft.cli.Bgutil.Db

/** The shell and web faces: same dispatch as the one-shot CLI, one warm
  * session, errors surfaced without killing the process. */
class BgWebSpec extends SparkSuite {

  private def freshDb(): Db = {
    val dir = java.nio.file.Files.createTempDirectory("bgweb").toString
    val db = Db(spark, dir)
    Bgutil.syncdb(db)
    Bgutil.write(db, "sys.cpu.0.load", 120L, 1.0, "60*60s:24*3600s", "average")
    Bgutil.write(db, "sys.mem.0.used", 150L, 7.0, "120*30s:24*3600s", "total")
    db
  }

  private def get(url: String): (Int, String) = {
    val conn = URI.create(url).toURL.openConnection()
      .asInstanceOf[HttpURLConnection]
    conn.setRequestMethod("GET")
    val code = conn.getResponseCode
    val stream = if (code >= 400) conn.getErrorStream else conn.getInputStream
    val body = new String(stream.readAllBytes(), "UTF-8")
    conn.disconnect()
    (code, body)
  }

  test("web: health, metric metadata, command-as-a-service, bad command") {
    val db = freshDb()
    val server = BgWeb.build(db, 0)
    server.start()
    val port = server.getAddress.getPort
    try {
      val (hc, hb) = get(s"http://localhost:$port/health")
      assert(hc === 200 && hb.contains("\"ok\""))

      // metric metadata endpoint (web/namespaces/biggraphite.py analog)
      val (mc, mb) = get(
        s"http://localhost:$port/api/biggraphite/metric/sys.cpu.0.load")
      assert(mc === 200, mb)
      assert(mb.contains("\"aggregator\":\"average\"") &&
        mb.contains("\"retention\":\"60*60s:24*3600s\""), mb)
      val (nc, _) = get(
        s"http://localhost:$port/api/biggraphite/metric/no.such.metric")
      assert(nc === 404)

      // bgutil-as-a-service (web/namespaces/bgutil.py analog)
      val (lc, lb) = get(
        s"http://localhost:$port/api/bgutil/list?arg=sys.**")
      assert(lc === 200, lb)
      assert(lb.contains("sys.cpu.0.load") && lb.contains("sys.mem.0.used"), lb)

      val (bc, bb) = get(s"http://localhost:$port/api/bgutil/nonsense")
      assert(bc === 400 && bb.contains("unknown command"), bb)

      // maintenance over HTTP: compact is servable (cron hits the web
      // face instead of spawning a JVM per run)
      val (cc, cb) = get(s"http://localhost:$port/api/bgutil/compact")
      assert(cc === 200, cb)
      assert(cb.contains("compacted stage"), cb)

      // a command whose ARGS are bad returns an error body, server lives
      val (ec, _) = get(s"http://localhost:$port/api/bgutil/read")
      assert(ec === 400)
      val (hc2, _) = get(s"http://localhost:$port/health")
      assert(hc2 === 200)

      // graphite-web /metrics/find shape: branches + leaves
      val (fc, fb) = get(s"http://localhost:$port/metrics/find?query=sys.*")
      assert(fc === 200, fb)
      assert(fb.contains("\"text\":\"sys.cpu\"") &&
        fb.contains("\"leaf\":false"), fb)
      val (flc, flb) = get(
        s"http://localhost:$port/metrics/find?query=sys.cpu.0.load")
      assert(flc === 200 && flb.contains("\"leaf\":true"), flb)

      // graphite-web /render JSON API with a nested function target
      val target = java.net.URLEncoder.encode(
        "scale(sumSeries(sys.*.0.*),2.0)", "UTF-8")
      val (rc, rb) = get(s"http://localhost:$port/render" +
        s"?target=$target&from=120&until=180")
      assert(rc === 200, rb)
      // combine names the series after the raw sumSeries call text;
      // pointwise scale keeps the name
      assert(rb.contains("\"target\":\"sumSeries(sys.*.0.*)\""), rb)
      // slot 120: cpu 1.0, mem None (its point sits at 150) → 1.0×2
      assert(rb.contains("[2.0,120]"), rb)
      // slot 150: mem 7.0 alone → 14.0
      assert(rb.contains("[14.0,150]"), rb)

      val (bc2, bb2) = get(s"http://localhost:$port/render?from=0&until=1")
      assert(bc2 === 400 && bb2.contains("missing ?target="), bb2)

      // format=csv: name,datetime,value rows; None slots empty
      val (cvc, cvb) = get(s"http://localhost:$port/render" +
        s"?target=sys.cpu.0.load&from=120&until=180&format=csv")
      assert(cvc === 200, cvb)
      assert(cvb.contains("sys.cpu.0.load,1970-01-01 00:02:00,1.0"), cvb)

      // format=raw: name,start,end,step|v1,v2,… with None gaps
      val (rwc, rwb) = get(s"http://localhost:$port/render" +
        s"?target=sys.mem.0.used&from=120&until=240&format=raw")
      assert(rwc === 200, rwb)
      // mem's stage0 step is 30 s: spine 120..210, point at 150
      assert(rwb.startsWith("sys.mem.0.used,120,240,30|"), rwb)
      assert(rwb.contains("None,7.0,None"), rwb)

      val (ufc, ufb) = get(s"http://localhost:$port/render" +
        s"?target=sys.cpu.0.load&from=120&until=180&format=svg")
      assert(ufc === 400 && ufb.contains("unknown format"), ufb)

      // csv quotes names containing the delimiter (combine legends)
      val t2 = java.net.URLEncoder.encode(
        "sumSeries(sys.cpu.0.load,sys.mem.0.used)", "UTF-8")
      val (qc, qb) = get(s"http://localhost:$port/render" +
        s"?target=$t2&from=120&until=150&format=csv")
      assert(qc === 200, qb)
      assert(qb.contains(
        "\"sumSeries(sys.cpu.0.load,sys.mem.0.used)\",1970-01-01"), qb)

      // raw derives a single-slot spine's step from the window
      // remainder (30s metric over [120,150) → step 30, not 60)
      val (r1c, r1b) = get(s"http://localhost:$port/render" +
        s"?target=sys.mem.0.used&from=120&until=150&format=raw")
      assert(r1c === 200, r1b)
      assert(r1b.startsWith("sys.mem.0.used,120,150,30|"), r1b)

      // /metrics/expand: full paths, branches included; leavesOnly=1
      val (xc, xb) = get(
        s"http://localhost:$port/metrics/expand?query=sys.*")
      assert(xc === 200, xb)
      assert(xb.contains("\"sys.cpu\"") && xb.contains("\"sys.mem\""), xb)
      val (xlc, xlb) = get(s"http://localhost:$port/metrics/expand" +
        s"?query=sys.*.0.*&leavesOnly=1")
      assert(xlc === 200, xlb)
      assert(xlb.contains("\"sys.cpu.0.load\"") &&
        xlb.contains("\"sys.mem.0.used\"") && !xlb.contains("false"), xlb)

      // /metrics/index.json: every leaf, sorted
      val (ic, ib) = get(s"http://localhost:$port/metrics/index.json")
      assert(ic === 200, ib)
      assert(ib === "[\"sys.cpu.0.load\",\"sys.mem.0.used\"]", ib)
    } finally server.stop(0)
  }

  test("render: sortBy* legend order survives the web face") {
    val db = Db(spark, java.nio.file.Files.createTempDirectory("bgweblegend").toString)
    Bgutil.syncdb(db)
    // maxima order (b, c, a) differs from name order (a, b, c)
    Bgutil.writePoints(db, Seq(("s.a", 120L, 1.0), ("s.b", 120L, 9.0),
      ("s.c", 120L, 5.0)), "60*60s:24*3600s", "average")
    val server = BgWeb.build(db, 0)
    server.start()
    val port = server.getAddress.getPort
    def order(target: String): Seq[String] = {
      val (c, body) = get(s"http://localhost:$port/render?target=" +
        java.net.URLEncoder.encode(target, "UTF-8") + "&from=120&until=180")
      assert(c === 200, body)
      "\"target\":\"([^\"]+)\"".r.findAllMatchIn(body).map(_.group(1)).toSeq
    }
    try {
      assert(order("sortByMaxima(s.*)") === Seq("s.b", "s.c", "s.a"))
      assert(order("sortByMinima(s.*)") === Seq("s.a", "s.c", "s.b"))
      assert(order("s.*") === Seq("s.a", "s.b", "s.c"))
    } finally server.stop(0)
  }

  test("render: ?now= steers the stage choice, not only relative times") {
    val db = Db(spark, java.nio.file.Files.createTempDirectory("bgwebnow").toString)
    Bgutil.syncdb(db)
    val now = 30L * 86400
    // a point every 10 minutes over [now-3d, now-2d): minute stage 0
    // keeps one day, the hourly stage 30 days
    val from = now - 3 * 86400
    Bgutil.writePoints(db, (0 until 144).map(i => ("s.x", from + i * 600L, 1.0)),
      "1440*60s:720*3600s", "average")
    val server = BgWeb.build(db, 0)
    server.start()
    val port = server.getAddress.getPort
    try {
      // measured from now, the window is 2-3 days old: past stage 0's
      // day, so it must come from the hourly stage (24 slots of 3600 s)
      val (c, body) = get(s"http://localhost:$port/render?target=s.x" +
        s"&from=-3d&until=-2d&now=$now&format=raw")
      assert(c === 200, body)
      assert(body.startsWith(s"s.x,$from,${from + 86400},3600|"), body)
      assert(body.trim.split("\\|")(1).split(",").toSeq === Seq.fill(24)("1.0"), body)
    } finally server.stop(0)
  }

  test("repeated identical /render and /metrics/find requests reply byte-identically") {
    val db = freshDb()
    Bgutil.write(db, "sys.cpu.1.load", 120L, 9.0, "60*60s:24*3600s", "average")
    val server = BgWeb.build(db, 0)
    server.start()
    val port = server.getAddress.getPort
    def twice(path: String): Unit = {
      val first = get(s"http://localhost:$port$path")
      assert(first._1 === 200, first._2)
      assert(get(s"http://localhost:$port$path") === first, path)
    }
    try {
      twice("/render?target=sys.cpu.0.load&from=120&until=240")
      twice("/render?target=" + java.net.URLEncoder.encode(
        "sortByMaxima(sys.*.*.*)", "UTF-8") + "&from=120&until=240&format=raw")
      twice("/metrics/find?query=sys.*")
      twice("/metrics/find?query=sys.cpu.*.load")
      twice("/metrics/expand?query=sys.**")
      twice("/api/biggraphite/metric/sys.cpu.1.load")
    } finally server.stop(0)
  }

  test("render: /api/bgutil/render answers a timeShift target like /render") {
    val db = freshDb()
    val server = BgWeb.build(db, 0)
    server.start()
    val port = server.getAddress.getPort
    try {
      val target = java.net.URLEncoder.encode(
        "timeShift(sys.cpu.0.load,'1min')", "UTF-8")
      val (rc, rb) = get(s"http://localhost:$port/render" +
        s"?target=$target&from=180&until=300")
      assert(rc === 200, rb)
      val series = "\"target\":\"([^\"]*)\",\"datapoints\":\\[(.*?)\\]\\}".r
      val web = series.findAllMatchIn(rb).toSeq.flatMap { m =>
        "\\[([^,\\]]+),(\\d+)\\]".r.findAllMatchIn(m.group(2)).map(p =>
          (m.group(1), p.group(2).toLong,
            Some(p.group(1)).filter(_ != "null").map(_.toDouble)))
      }
      // the point at 120 is drawn one minute later, inside the window
      assert(web === Seq(("sys.cpu.0.load", 180L, Some(1.0)),
        ("sys.cpu.0.load", 240L, None)), rb)
      val (ac, ab) = get(s"http://localhost:$port/api/bgutil/render" +
        s"?arg=$target&arg=180&arg=300")
      assert(ac === 200, ab)
      val output = ab.stripPrefix("{\"output\":\"").stripSuffix("\"}")
        .replace("\\n", "\n").replace("\\\"", "\"")
      assert(RenderTargetSpec.showRows(output) === web, output)
    } finally server.stop(0)
  }

  test("web: no non-daemon thread outlives a started and stopped server") {
    import scala.jdk.CollectionConverters._
    def nonDaemon(): Set[Thread] = Thread.getAllStackTraces.keySet.asScala
      .filter(t => t.isAlive && !t.isDaemon).toSet
    val before = nonDaemon()
    val server = BgWeb.build(freshDb(), 0)
    server.start()
    try {
      val (hc, _) = get(s"http://localhost:${server.getAddress.getPort}/health")
      assert(hc === 200)
    } finally server.stop(0)
    val left = nonDaemon() -- before
    assert(left.isEmpty, s"non-daemon threads left: ${left.map(_.getName)}")
  }

  test("shell: dispatches lines against one session, survives errors") {
    val db = freshDb()
    val script = Seq(
      "list sys.**",
      "definitely-not-a-command",
      "info",
      "exit").mkString("\n")
    val out = new java.io.ByteArrayOutputStream()
    Console.withOut(new java.io.PrintStream(out, true, "UTF-8")) {
      Bgutil.shell(db, new java.io.BufferedReader(
        new java.io.StringReader(script)))
    }
    val printed = out.toString("UTF-8")
    assert(printed.contains("sys.cpu.0.load"), printed)
    assert(printed.contains("error: unknown command: definitely-not-a-command"),
      printed)
    assert(printed.contains("catalog: 2 metrics"), printed)
  }
}
