package perfbench

import java.util.concurrent.ConcurrentLinkedQueue

import scala.jdk.CollectionConverters._

import com.sun.net.httpserver.HttpServer
import org.apache.spark.sql.SparkSession

import graft.cli.{BgWeb, Bgutil, RenderTarget}
import graft.sources.MetricCatalog

import Dashboard._
import Main.{quietly, timed, Args, Report}

/** `render_dashboard`: two closed-loop dashboard clients against a
  * pre-built, compacted store. Set-up loads the store through the CLI's
  * bulk write (`Bgutil.writePoints`), compacts it (`Bgutil.compact`) and
  * serves it (`BgWeb.build`); the timed part is read-only, so the
  * streaming layers stay idle. The set-up runs twice per run, first with
  * the JVM cold; the second store is the one served. */
object RenderDashboard {
  val Clients = 2
  val Setups = 2

  /** One answered request: kind, latency, reply size, and whether it was
    * timed with the tracer attached. */
  final case class Sample(kind: String, ms: Double, bytes: Int, traced: Boolean)

  /** One served store and what its set-up did: the seconds of the bulk
    * write, the files and bytes it wrote, and the compaction's seconds
    * and files. */
  final case class Store(db: Bgutil.Db, server: HttpServer, setupS: Double,
      loadS: Double, writtenFiles: Int, writtenBytes: Long,
      compactS: Double, filesAfter: Int, bytesRewritten: Long) {
    def port: Int = server.getAddress.getPort
  }

  /** Rounds of 17 pairs of requests: 1 round, 34 requests, at 20 s. */
  def rounds(seconds: Int): Int = math.max(1, seconds / 20)

  def run(spark: SparkSession, a: Args, report: Report): Unit = {
    val dash = new Dashboard(a.seed)
    // one bulk write of the whole store: the 20 panel metrics with their
    // history (about 32k points) and the other 980 metrics (about 5k)
    val load = (0 until Metrics).flatMap(i =>
      dash.points(i).map { case (ts, v) => (name(i), ts, v) })
    val plan = dash.requests(rounds(a.seconds))
    // a JVM's first set-up pays class loading, plan compilation and
    // codegen, and runs about three times as long as the next. `setup_s`
    // and the ingest and compaction figures take both: a single warm load
    // or compaction, 1-4 s long, moves with every burst of host load
    val stores = (0 until Setups).map { k =>
      val s = setup(spark, s"${a.root}/dash$k", load)
      System.err.println(f"perfbench: set-up $k ${s.setupS}%.2fs (load ${s.loadS}%.2fs, " +
        f"compact ${s.compactS}%.2fs)")
      if (k < Setups - 1) close(s)
      s
    }
    val store = stores.last
    // the clients send requests a pair at a time, each pair's two at
    // once, and wait for both replies
    def send(part: IndexedSeq[Request])(onReply: (Request, Http.Resp, Double) => Unit): Double = {
      val t0 = System.nanoTime()
      for (pair <- part.grouped(Clients)) {
        val threads = pair.map { q =>
          val t = new Thread(() => {
            val (r, s) = timed(Http.get(store.port, q.path))
            onReply(q, r, s)
          })
          t.start()
          t
        }
        threads.foreach(_.join())
      }
      (System.nanoTime() - t0) / 1e9
    }
    // likewise the first request of each kind pays for its plans: the
    // plan's first of each kind is sent once before, checked but not timed
    val warmS = send(plan.distinctBy(_.kind)) { (q, r, _) =>
      report.check(s"warm-up ${q.kind}", verify(dash, q, r))
    }
    System.err.println(f"perfbench: warm-up requests $warmS%.2fs")

    val tracer = if (a.trace) Some(new Tracer(spark.sparkContext)) else None
    val samples = new ConcurrentLinkedQueue[Sample]()
    val gc0 = Host.gcMs()
    // a traced run serves the first half bare and the second half with
    // the tracer attached: the difference is the tracing overhead
    def serve(part: IndexedSeq[Request], traced: Boolean): Double =
      send(part) { (q, r, s) =>
        report.check(q.kind, verify(dash, q, r))
        samples.add(Sample(q.kind, s * 1000, r.bytes, traced))
      }
    val (barePlan, tracedPlan) =
      plan.splitAt(if (tracer.isDefined) plan.length / Clients / 2 * Clients else plan.length)
    val bareS = serve(barePlan, traced = false)
    tracer.foreach(spark.sparkContext.addSparkListener)
    val tracedS = if (tracedPlan.isEmpty) 0.0 else serve(tracedPlan, traced = true)
    val wallS = bareS + tracedS
    val all = samples.asScala.toSeq
    val ms = all.map(_.ms)
    System.err.println("perfbench: render p50 by kind " + all.groupBy(_.kind).toSeq.sortBy(_._1)
      .map { case (k, v) => f"$k ${Stats.median(v.map(_.ms))}%.0fms x${v.length}" }.mkString(", "))
    System.err.println("perfbench: render latencies in order " +
      all.sortBy(_.ms).map(x => f"${x.kind} ${x.ms}%.0f").mkString(", "))
    val loadMs = stores.map(_.loadS * 1000)

    tracer match {
      case None =>
        report.put("setup_s", Stats.median(stores.map(_.setupS)), "s")
        report.put("render_p50_ms", Stats.median(ms), "ms")
        report.put("render_tail_ms", Stats.tail(ms), "ms")
        report.put("render_qps", all.length / wallS, "1/s")
        report.put("ingest_points_per_s",
          Setups * dash.pointCount / stores.map(_.loadS).sum, "points/s")
        report.put("ingest_commit_p50_ms", Stats.median(loadMs), "ms")
        report.put("ingest_commit_tail_ms", Stats.tail(loadMs), "ms")
        report.put("compact_s", Stats.mean(stores.map(_.compactS)), "s")
        report.put("store_bytes_per_point",
          Host.dataFiles(store.db.pointsPath)._2.toDouble / dash.pointCount, "B/point")
        report.put("heap_live_mb", Host.liveHeapMb(), "MB")
      case Some(tr) =>
        tr.drain()
        val traced = all.filter(_.traced)
        val bare = all.filterNot(_.traced)
        val w = tr.window
        val cores = Runtime.getRuntime.availableProcessors
        report.put("spark.jobs_per_request", w.jobs.get.toDouble / traced.length, "count")
        report.put("spark.tasks_per_request", w.tasks.get.toDouble / traced.length, "count")
        report.put("spark.slot_busy_frac", w.runMs.get / (tracedS * 1000 * cores), "frac")
        report.put("jvm.gc_ms_per_s", (Host.gcMs() - gc0) / wallS, "ms/s")
        val kinds = Seq("raw", "sum1000", "fn3", "week")
        sampled(tr, dash, store, kinds.flatMap(k => plan.find(_.kind == k)), report)
        report.put("web.response_bytes", Stats.median(all.map(_.bytes.toDouble)), "bytes")
        report.put("store.files_total", Host.dataFiles(store.db.pointsPath)._1, "count")
        Layers.idleStream(report)
        report.put("downsample.ns_per_point", Layers.downsampleNs(
          (0 until Metrics).map(i => (name(i), dash.points(i))), Retention, Aggregator), "ns")
        report.put("store.files_written_per_batch", store.writtenFiles, "count")
        report.put("store.bytes_written_per_point",
          store.writtenBytes.toDouble / dash.pointCount, "B/point")
        report.put("compact.files_before", store.writtenFiles, "count")
        report.put("compact.files_after", store.filesAfter, "count")
        report.put("compact.bytes_rewritten", store.bytesRewritten.toDouble, "bytes")
        // the halves hold different kinds; single-series fetches are in both
        def rawMs(xs: Seq[Sample]) = Stats.median(xs.filter(_.kind == "raw").map(_.ms))
        report.put("trace.overhead_ms", rawMs(traced) - rawMs(bare), "ms")
        Layers.writeSpans(tr, a)
    }
  }

  /** Load a fresh store with one bulk write (`Bgutil.writePoints`),
    * compact it and serve it. */
  private def setup(spark: SparkSession, dir: String,
      load: Seq[(String, Long, Double)]): Store = {
    val t0 = System.nanoTime()
    val db = Bgutil.Db(spark, dir)
    Bgutil.syncdb(db)
    val (_, loadS) = timed(Bgutil.writePoints(db, load, Retention, Aggregator))
    val written = Host.dataFileSet(db.pointsPath)
    val writtenBytes = written.toSeq.map(Host.size).sum
    val (_, compactS) = timed(quietly(Bgutil.compact(db)))
    val compacted = Host.dataFileSet(db.pointsPath)
    val server = BgWeb.build(db, 0)
    server.start()
    Store(db, server, (System.nanoTime() - t0) / 1e9, loadS, written.size, writtenBytes,
      compactS, compacted.size, (compacted -- written).toSeq.map(Host.size).sum)
  }

  private def close(s: Store): Unit = {
    s.server.stop(0)
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(s.db.dir))
  }

  /** Trace sampled requests layer by layer: each layer's public function
    * is called on its own, innermost first, so a layer's self time is
    * the difference between adjacent spans. */
  private def sampled(tr: Tracer, dash: Dashboard, store: Store,
      qs: Seq[Request], report: Report): Unit = {
    val db = store.db
    val rows = qs.zipWithIndex.map { case (q, n) =>
      val (matched, res) = tr.span(n, "catalog.resolve", "fetch.read") {
        MetricCatalog.globMetrics(db.catalog, q.glob).collect().length
      }
      val (points, read) = tr.span(n, "fetch.read", "render_fn.render") {
        Bgutil.read(db, q.glob, q.from, Now, q.maxDataPoints).collect().length
      }
      val (_, ren) = tr.span(n, "render_fn.render", "web.http") {
        RenderTarget.render(db, q.target, q.from, Now, q.maxDataPoints)
          .select("name", "ts", "value").orderBy("name", "ts").collect()
      }
      val (resp, http) = tr.span(n, "web.http", "") { Http.get(store.port, q.path) }
      report.check(s"traced ${q.kind}", verify(dash, q, resp))
      Layers.Sampled(matched, points, res, read, ren, http)
    }
    Layers.readPath(report, rows)
  }

  /** Check one reply against the closed-form store; None when correct. */
  def verify(dash: Dashboard, q: Request, r: Http.Resp): Option[String] = {
    if (r.code != 200) return Some(s"HTTP ${r.code}: ${r.body.take(200)}")
    def names(is: Seq[Int]) = is.map(i => name(i) -> dash.raw(i, q.from, Now)).toMap
    try q match {
      case Find(s) =>
        val nodes = Json.parse(r.body).elements().asScala.toSeq
        val texts = nodes.map(_.get("text").asText.split('.').last).sorted
        if (texts != (0 until 10).map(h => s"h$h") || nodes.exists(_.get("leaf").asBoolean))
          Some(s"find returned ${r.body.take(200)}")
        else None
      case _ =>
        val got = Json.series(r.body)
        q match {
          case Raw(i) => Layers.same(got, names(Seq(i)))
          case Glob10(s, h) => Layers.same(got, names((0 until 10).map(idx(s, h, _))))
          case Glob100(s) => Layers.same(got, names((0 until 100).map(s * 100 + _)))
          case Sum1000() => Layers.single(got, dash.sum(0 until Metrics, q.from, Now))
          case Fn1(s, m) =>
            Layers.single(got, dash.sum((0 until 10).map(idx(s, _, m)), q.from, Now))
          case Week(i) => Layers.same(got, Map(name(i) -> dash.week(i, WeekPoints)))
          case Fn2(_, _) => Layers.shape(got, (0 until 10).map(m => s"m$m").toSet, 10, Minutes)
          case Fn3(_, _) => Layers.shape(got, (0 until 10).map(h => s"h$h").toSet, 3, Minutes)
        }
    } catch { case e: Exception => Some(s"unreadable reply (${e.getMessage})") }
  }
}
