package perfbench

import java.nio.charset.StandardCharsets.UTF_8

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import com.sun.net.httpserver.HttpServer
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.streaming.StreamingQuery

import graft.cli.{BgWeb, Bgutil, RenderTarget}
import graft.model.{Aggregator, MetricMetadata, Retention}
import graft.sources.MetricCatalog
import graft.streaming.CarbonListener

import Main.{quietly, timed, Args, Report}

/** `carbon_ingest`: the carbon daemon path under a closed-loop writer,
  * compacted every few chunks, then read back over HTTP.
  *
  * The writer sends a chunk of plaintext lines over one socket
  * connection to `CarbonListener.Listener`, which spools it; the query
  * from `CarbonListener.ingestFromSpool` (metric auto-create on) drains
  * the spool into the store. The next chunk goes out only after the
  * benchmark's `StreamingQueryListener` has seen every line sent so far
  * committed. `Bgutil.compact` runs on the writer's thread between
  * chunks (it refuses to run beside an append). After the last chunk, a
  * single client renders the ingested metrics through `BgWeb` and checks
  * them against [[Carbon.Model]]. */
object CarbonIngest {
  val Setups = 2
  val Active = 8000
  val CompactEvery = 3
  val ReadGroups = 4
  val WarmRenders = 4

  /** Chunks the writer sends: a multiple of [[CompactEvery]], so the run
    * ends on a compaction; 3 at 20 s. */
  def chunks(seconds: Int): Int = math.max(1, seconds / 20) * CompactEvery

  final class Live(val db: Bgutil.Db, val server: HttpServer,
      val listener: CarbonListener.Listener, val query: StreamingQuery) {
    val model = new Carbon.Model
    var sent = 0L
    def port: Int = server.getAddress.getPort
    def spool: String = s"${db.dir}/carbon_spool"
    def stop(): Unit = { query.stop(); listener.stop(); server.stop(0) }
  }

  final case class Commit(ms: Double, spoolMs: Double, points: Int, spoolFiles: Int,
      newFiles: Int, newBytes: Long, newRows: Long, catalogCommit: Boolean, traced: Boolean)
  final case class Compact(s: Double, filesBefore: Int, filesAfter: Int, bytesRewritten: Long)

  def run(spark: SparkSession, a: Args, report: Report): Unit = {
    val gen = new Carbon(a.seed, Active)
    val tracker = new ProgressTracker
    spark.streams.addListener(tracker)
    val (c0lines, c0good) = gen.chunk(0)
    val setups = (0 until Setups).map { k =>
      val (live, s) = timed {
        val live = start(spark, s"${a.root}/carbon$k", tracker)
        // the first micro-batch of a query is cold (plan, codegen, state
        // store): part of set-up
        live.model(0, c0good)
        send(live, c0lines)
        await(live, tracker)
        live
      }
      if (k < Setups - 1) {
        live.stop()
        org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(live.db.dir))
      }
      (live, s)
    }
    val live = setups.last._1

    // a traced run sends the first half of the chunks bare and the rest
    // with the tracer attached: the difference is the tracing overhead
    val tracer = if (a.trace) Some(new Tracer(spark.sparkContext)) else None
    val n = chunks(a.seconds)
    val commits = ArrayBuffer.empty[Commit]
    val compactions = ArrayBuffer.empty[Compact]
    var traced = false
    var catalogToken = catalogVersion(live.db)
    val gc0 = Host.gcMs()
    val t0 = System.nanoTime()
    var tracedFrom = t0
    for (c <- 1 to n) {
      if (tracer.isDefined && c == n / 2 + 1) {
        tracer.foreach(spark.sparkContext.addSparkListener)
        traced = true
        tracedFrom = System.nanoTime()
      }
      val (lines, good) = gen.chunk(c)
      live.model(c, good)
      val before = if (traced) Host.dataFileSet(live.db.pointsPath) else Set.empty[String]
      val spoolBefore = if (traced) spoolFiles(live) else Set.empty[String]
      val t = System.nanoTime()
      val spoolMs = send(live, lines)
      val spooled = if (traced) (spoolFiles(live) -- spoolBefore).size else 0
      await(live, tracker)
      val ms = (System.nanoTime() - t) / 1e6
      val token = catalogVersion(live.db)
      val catalogCommit = token != catalogToken
      catalogToken = token
      val (newFiles, newBytes, newRows) =
        if (!traced) (0, 0L, 0L)
        else {
          val added = (Host.dataFileSet(live.db.pointsPath) -- before).toSeq
          (added.length, added.map(Host.size).sum, added.map(parquetRows).sum)
        }
      commits += Commit(ms, spoolMs, good.length, spooled, newFiles, newBytes,
        newRows, catalogCommit, traced)
      if (c % CompactEvery == 0) compactions += compact(live.db)
    }
    val wallS = (System.nanoTime() - t0) / 1e9
    tracer.foreach(_.drain())
    val tracedS = (System.nanoTime() - tracedFrom) / 1e9
    val gcPerS = (Host.gcMs() - gc0) / wallS

    val heapMb = if (tracer.isEmpty) Host.liveHeapMb() else 0.0
    val reads = readBack(live, gen, n, a.seed, report)
    val renders = reads.filterNot(_._1 == "catalog names")
    System.err.println("perfbench: set-ups " + setups.map(s => f"${s._2}%.2fs").mkString(", ") +
      "; commits " + commits.map(c => f"${c.ms / 1000}%.2fs").mkString(", ") +
      "; compactions " + compactions.map(c => f"${c.s}%.2fs").mkString(", ") +
      "; read-back " + reads.map(r => f"${r._2 / 1000}%.2fs").mkString(", "))
    tracer match {
      case None =>
        val ms = renders.map(_._2)
        val commitMs = commits.map(_.ms).toSeq
        // the JVM's cold start is part of the first set-up
        report.put("setup_s", Stats.median(setups.map(_._2)), "s")
        report.put("render_p50_ms", Stats.median(ms), "ms")
        report.put("render_tail_ms", Stats.tail(ms), "ms")
        report.put("render_qps", renders.length / (ms.sum / 1000), "1/s")
        report.put("ingest_points_per_s", commits.map(_.points).sum / wallS, "points/s")
        report.put("ingest_commit_p50_ms", Stats.median(commitMs), "ms")
        report.put("ingest_commit_tail_ms", Stats.tail(commitMs), "ms")
        report.put("compact_s", Stats.mean(compactions.map(_.s).toSeq), "s")
        report.put("store_bytes_per_point",
          Host.dataFiles(live.db.pointsPath)._2.toDouble / live.model.points, "B/point")
        report.put("heap_live_mb", heapMb, "MB")
      case Some(tr) =>
        val w = tr.window
        val cores = Runtime.getRuntime.availableProcessors
        val tc = commits.filter(_.traced).toSeq
        val batches = tracker.batches.takeRight(tc.length)
        def dur(k: String) = Stats.median(batches.map(p =>
          Option(p.durationMs.get(k)).map(_.doubleValue).getOrElse(0.0)))
        def state(f: org.apache.spark.sql.streaming.StateOperatorProgress => Double) =
          Stats.median(batches.map(p => p.stateOperators.headOption.map(f).getOrElse(0.0)))
        val points = tc.map(_.points).sum.toDouble
        report.put("spark.jobs_per_request", w.jobs.get.toDouble / tc.length, "count")
        report.put("spark.tasks_per_request", w.tasks.get.toDouble / tc.length, "count")
        report.put("spark.slot_busy_frac", w.runMs.get / (tracedS * 1000 * cores), "frac")
        report.put("jvm.gc_ms_per_s", gcPerS, "ms/s")
        report.put("listener.send_to_spool_ms", Stats.median(tc.map(_.spoolMs)), "ms")
        report.put("listener.spool_files_per_batch",
          Stats.mean(tc.map(_.spoolFiles.toDouble)), "count")
        report.put("ingest.trigger_ms", dur("triggerExecution"), "ms")
        report.put("ingest.add_batch_ms", dur("addBatch"), "ms")
        report.put("ingest.query_planning_ms", dur("queryPlanning"), "ms")
        report.put("ingest.wal_commit_ms", dur("walCommit"), "ms")
        report.put("ingest.commit_offsets_ms", dur("commitOffsets"), "ms")
        report.put("ingest.state_update_ms", state(_.allUpdatesTimeMs.toDouble), "ms")
        report.put("ingest.state_commit_ms", state(_.commitTimeMs.toDouble), "ms")
        report.put("ingest.state_rows_total", state(_.numRowsTotal.toDouble), "count")
        report.put("ingest.state_memory_mb", state(_.memoryUsedBytes / 1048576.0), "MB")
        report.put("ingest.jobs_per_batch", tr.stream.jobs.get.toDouble / tc.length, "count")
        report.put("ingest.tasks_per_batch", tr.stream.tasks.get.toDouble / tc.length, "count")
        report.put("ingest.catalog_commits", tc.count(_.catalogCommit).toDouble, "count")
        report.put("ingest.rows_emitted_per_point", tc.map(_.newRows).sum / points, "count")
        report.put("downsample.ns_per_point", Layers.downsampleNs(
          (1 to n).flatMap(c => gen.chunk(c)._2.groupBy(_._1).toSeq.sortBy(_._1).map {
            case (i, ps) => (gen.name(i), ps.map(p => (p._2, p._3)))
          }), Carbon.Retention, Carbon.Aggregator), "ns")
        report.put("store.files_written_per_batch", Stats.mean(tc.map(_.newFiles.toDouble)), "count")
        report.put("store.bytes_written_per_point", tc.map(_.newBytes).sum / points, "B/point")
        report.put("compact.files_before",
          Stats.median(compactions.map(_.filesBefore.toDouble).toSeq), "count")
        report.put("compact.files_after",
          Stats.median(compactions.map(_.filesAfter.toDouble).toSeq), "count")
        report.put("compact.bytes_rewritten",
          Stats.median(compactions.map(_.bytesRewritten.toDouble).toSeq), "bytes")
        sampled(tr, live, gen, n, report)
        report.put("web.response_bytes", Stats.median(renders.map(_._3.toDouble)), "bytes")
        report.put("store.files_total", Host.dataFiles(live.db.pointsPath)._1, "count")
        report.put("trace.overhead_ms", Stats.median(tc.map(_.ms)) -
          Stats.median(commits.filterNot(_.traced).map(_.ms).toSeq), "ms")
        Layers.writeSpans(tr, a)
    }
    live.stop()
  }

  /** A fresh db served over HTTP, with a carbon listener spooling into
    * the db's `carbon_spool` (where the read face's hot overlay looks) and
    * the ingest query draining it with metric auto-create. */
  private def start(spark: SparkSession, dir: String, tracker: ProgressTracker): Live = {
    val db = Bgutil.Db(spark, dir)
    Bgutil.syncdb(db)
    val server = BgWeb.build(db, 0)
    server.start()
    val spool = s"$dir/carbon_spool"
    val listener = new CarbonListener.Listener(0, spool).start()
    val meta = MetricMetadata(Aggregator.fromName(Carbon.Aggregator),
      Retention.fromString(Carbon.Retention))
    val query = CarbonListener.ingestFromSpool(spark, spool, db.pointsPath,
      s"$dir/checkpoint", _ => meta, autoCreate = Some(db.catalogStore)).start()
    tracker.watch(query.id)
    new Live(db, server, listener, query)
  }

  /** Write `lines` on one connection; the listener spools them when the
    * connection ends and then closes its side, so the return marks the
    * spool file's arrival. Returns milliseconds from first byte to then. */
  private def send(live: Live, lines: Seq[String]): Double = {
    val t0 = System.nanoTime()
    val sock = new java.net.Socket("127.0.0.1", live.listener.localPort)
    try {
      val out = new java.io.BufferedOutputStream(sock.getOutputStream, 1 << 16)
      lines.foreach { l => out.write(l.getBytes(UTF_8)); out.write('\n') }
      out.flush()
      sock.shutdownOutput()
      sock.getInputStream.read()
    } finally sock.close()
    live.sent += lines.length
    (System.nanoTime() - t0) / 1e6
  }

  /** Wait until every line sent so far is committed. */
  private def await(live: Live, tracker: ProgressTracker): Unit =
    if (!tracker.awaitRows(live.sent, 120000))
      throw new IllegalStateException(s"${live.sent} lines not committed within 120 s")

  private def spoolFiles(live: Live): Set[String] =
    Option(new java.io.File(live.spool).list()).map(_.toSet).getOrElse(Set.empty)

  private def catalogVersion(db: Bgutil.Db): String = {
    val p = java.nio.file.Paths.get(db.dir, "CURRENT")
    if (java.nio.file.Files.exists(p)) java.nio.file.Files.readString(p) else ""
  }

  private def parquetRows(path: String): Long = {
    val in = org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(
      new org.apache.hadoop.fs.Path(path), new org.apache.hadoop.conf.Configuration())
    val r = org.apache.parquet.hadoop.ParquetFileReader.open(in)
    try r.getRecordCount finally r.close()
  }

  /** `Bgutil.compact` between chunks. */
  private def compact(db: Bgutil.Db): Compact = {
    val before = Host.dataFileSet(db.pointsPath)
    val (_, s) = timed(quietly(Bgutil.compact(db)))
    val after = Host.dataFileSet(db.pointsPath)
    Compact(s, before.size, after.size, (after -- before).toSeq.map(Host.size).sum)
  }

  /** The read-back: in [[ReadGroups]] seeded groups, stage 0 equals the
    * model and stage 1 of the in-order metrics is the mean of their
    * stage-0 minutes; the catalog holds exactly the well-formed names
    * sent. The JVM's first renders pay plan compilation, codegen and JIT
    * work, so the first [[WarmRenders]] group renders are sent once
    * untimed (but checked) before the timed pass over all of them. Each
    * timed request gives (what, ms, reply bytes). */
  private def readBack(live: Live, gen: Carbon, n: Int, seed: Long,
      report: Report): Seq[(String, Double, Int)] = {
    val out = ArrayBuffer.empty[(String, Double, Int)]
    def get(what: String, path: String, timedPass: Boolean)(
        check: String => Option[String]): Unit = {
      val (r, s) = timed(Http.get(live.port, path))
      report.check(if (timedPass) what else s"warm-up $what",
        if (r.code != 200) Some(s"HTTP ${r.code}: ${r.body.take(200)}")
        else try check(r.body) catch {
          case e: Exception => Some(s"unreadable reply (${e.getMessage})")
        })
      if (timedPass) out += ((what, s * 1000, r.bytes))
    }
    val from = Carbon.T0 - 960
    val until = gen.ts(n) + 60
    // the read plans its stage from the window's age relative to
    // `until`: a window reaching back two days is served by stage 1
    val h1 = (until + 3599) / 3600 * 3600
    val h0 = h1 - 2 * 86400
    val r = new scala.util.Random(seed)
    val groups = r.shuffle((0 until (gen.first(n) + gen.active) / 100).toList).take(ReadGroups)
    val renders = groups.flatMap { g =>
      val members = (g * 100 until g * 100 + 100).filter(live.model.names)
      val target = Http.enc(s"carbon.g$g.*")
      val inOrder = members.filter(Carbon.inOrder).map(i => gen.name(i) -> i).toMap
      Seq[(String, String, String => Option[String])](
        (s"stage0 g$g", s"/render?target=$target&from=$from&until=$until&format=json",
          body => Layers.same(Json.series(body), members.map(i => gen.name(i) ->
            (from until until by 60L).map(t => (t, live.model.stage0(i, t)))).toMap)),
        (s"stage1 g$g", s"/render?target=$target&from=$h0&until=$h1&format=json",
          body => Layers.same(Json.series(body).filter(s => inOrder.contains(s._1)),
            inOrder.map { case (name, i) =>
              name -> (h0 until h1 by 3600L).map(t => (t, live.model.stage1(i, t)))
            })))
    }
    for ((what, path, check) <- renders.take(WarmRenders)) get(what, path, false)(check)
    for ((what, path, check) <- renders) get(what, path, true)(check)
    get("catalog names", "/metrics/index.json", timedPass = true) { body =>
      val got = Json.parse(body).elements().asScala.map(_.asText).toSet
      val want = live.model.names.map(gen.name).toSet
      if (got == want) None
      else Some(s"${(got -- want).take(3)} unexpected, ${(want -- got).take(3)} missing")
    }
    out.toSeq
  }

  /** Trace the read path on the ingested store, layer by layer: 30-minute
    * group reads, plain or under `sumSeries`, one public function at a
    * time. */
  private def sampled(tr: Tracer, live: Live, gen: Carbon, n: Int, report: Report): Unit = {
    val until = gen.ts(n) + 60
    val r = new scala.util.Random(17)
    val rows = (0 until 3).map { k =>
      val g = r.nextInt((gen.first(n) + gen.active) / 100)
      val glob = s"carbon.g$g.*"
      val target = if (k % 2 == 0) glob else s"sumSeries($glob)"
      val from = until - 1800
      val (matched, res) = tr.span(k, "catalog.resolve", "fetch.read") {
        MetricCatalog.globMetrics(live.db.catalog, glob).collect().length
      }
      val (points, read) = tr.span(k, "fetch.read", "render_fn.render") {
        Bgutil.read(live.db, glob, from, until).collect().length
      }
      val (_, ren) = tr.span(k, "render_fn.render", "web.http") {
        RenderTarget.render(live.db, target, from, until)
          .select("name", "ts", "value").orderBy("name", "ts").collect()
      }
      val (resp, http) = tr.span(k, "web.http", "") {
        Http.get(live.port,
          s"/render?target=${Http.enc(target)}&from=$from&until=$until&format=json")
      }
      report.check(s"traced render g$g", if (resp.code == 200) None
        else Some(s"HTTP ${resp.code}: ${resp.body.take(200)}"))
      Layers.Sampled(matched, points, res, read, ren, http)
    }
    Layers.readPath(report, rows)
  }
}
