package perfbench

import graft.model.{Aggregator, Metric, MetricMetadata, Retention}
import graft.streaming.Downsampler

import Main.Report

/** Reply checks and per-layer summaries shared by the workloads. */
object Layers {
  type Series = Map[String, IndexedSeq[(Long, Double)]]

  private def close(a: Double, b: Double): Boolean =
    (a.isNaN && b.isNaN) || math.abs(a - b) <= 1e-9 * math.max(1.0, math.abs(b))

  private def diff(name: String, got: Seq[(Long, Double)],
      want: Seq[(Long, Double)]): Option[String] =
    if (got.map(_._1) != want.map(_._1))
      Some(s"$name: ${got.length} slots from ${got.headOption.map(_._1)}, " +
        s"want ${want.length} from ${want.headOption.map(_._1)}")
    else got.zip(want).collectFirst {
      case ((t, g), (_, w)) if !close(g, w) => s"$name@$t: got $g, want $w"
    }

  /** Every expected series, and no other, with the expected slots. */
  def same(got: Series, want: Series): Option[String] =
    if (got.keySet != want.keySet)
      Some(s"series ${(got.keySet -- want.keySet).take(3)} unexpected, " +
        s"${(want.keySet -- got.keySet).take(3)} missing")
    else want.toSeq.sortBy(_._1).flatMap { case (n, w) => diff(n, got(n), w) }.headOption

  /** Exactly one series, with the expected slots. */
  def single(got: Series, want: IndexedSeq[(Long, Double)]): Option[String] =
    if (got.size != 1) Some(s"${got.size} series, want 1")
    else diff(got.head._1, got.head._2, want)

  /** `count` series named from `names`, each with `slots` slots. */
  def shape(got: Series, names: Set[String], count: Int, slots: Int): Option[String] =
    if (got.size != count || !got.keySet.subsetOf(names))
      Some(s"series ${got.keySet.toSeq.sorted.take(5)}, want $count of ${names.size}")
    else got.collectFirst { case (n, s) if s.length != slots => s"$n: ${s.length} slots" }

  /** One traced sampled request: metrics the glob matched, points the read
    * returned, and the spans of the four calls, innermost first. */
  final case class Sampled(matched: Int, points: Int, resolve: Span, read: Span,
      render: Span, http: Span)

  /** Per-layer numbers of the read path from traced sampled requests; a
    * layer's own share is its span minus the span of the layer it calls. */
  def readPath(report: Report, rows: Seq[Sampled]): Unit = {
    def median(f: Sampled => Double) = Stats.median(rows.map(f))
    def mean(f: Sampled => Long) = Stats.mean(rows.map(r => f(r).toDouble))
    def ratio(num: Long, den: Long) = if (den > 0) num.toDouble / den else 0.0
    report.put("catalog.resolve_ms", median(_.resolve.ms), "ms")
    report.put("catalog.jobs_per_resolve", mean(_.resolve.counts.jobs.get), "count")
    report.put("catalog.rows_scanned_per_match", ratio(
      rows.map(_.resolve.counts.inRecords.get).sum, rows.map(_.matched.toLong).sum), "count")
    report.put("catalog.bytes_read_per_resolve", mean(_.resolve.counts.inBytes.get), "bytes")
    report.put("fetch.self_ms", median(r => r.read.ms - r.resolve.ms), "ms")
    report.put("fetch.jobs_per_request",
      mean(r => r.read.counts.jobs.get - r.resolve.counts.jobs.get), "count")
    report.put("fetch.tasks_per_request",
      mean(r => r.read.counts.tasks.get - r.resolve.counts.tasks.get), "count")
    report.put("fetch.rows_read_per_point_returned", ratio(
      rows.map(r => r.read.counts.inRecords.get - r.resolve.counts.inRecords.get).sum,
      rows.map(_.points.toLong).sum), "count")
    report.put("fetch.bytes_read_per_request",
      mean(r => r.read.counts.inBytes.get - r.resolve.counts.inBytes.get), "bytes")
    report.put("render_fn.self_ms", median(r => r.render.ms - r.read.ms), "ms")
    report.put("render_fn.jobs_per_request",
      mean(r => r.render.counts.jobs.get - r.read.counts.jobs.get), "count")
    report.put("web.self_ms", median(r => r.http.ms - r.render.ms), "ms")
  }

  /** Stream-layer metrics of a workload that runs no streaming query: the
    * layers did no work, which reads as 0. */
  def idleStream(report: Report): Unit = {
    for (m <- Seq("listener.send_to_spool_ms", "ingest.trigger_ms",
        "ingest.add_batch_ms", "ingest.query_planning_ms", "ingest.wal_commit_ms",
        "ingest.commit_offsets_ms", "ingest.state_update_ms", "ingest.state_commit_ms"))
      report.put(m, 0.0, "ms")
    for (m <- Seq("listener.spool_files_per_batch", "ingest.state_rows_total",
        "ingest.jobs_per_batch", "ingest.tasks_per_batch", "ingest.catalog_commits",
        "ingest.rows_emitted_per_point"))
      report.put(m, 0.0, "count")
    report.put("ingest.state_memory_mb", 0.0, "MB")
  }

  /** Nanoseconds per point of the incremental downsampler
    * (`Downsampler.feed`) over the workload's own points, one call per
    * (metric, points) feed in the order the workload sends them; a first
    * pass warms the JIT. */
  def downsampleNs(feeds: Seq[(String, Seq[(Long, Double)])],
      retention: String, aggregator: String): Double = {
    val meta = MetricMetadata(Aggregator.fromName(aggregator), Retention.fromString(retention))
    val metrics = feeds.map(_._1).distinct.map(n => n -> Metric(n, meta)).toMap
    val calls = feeds.map { case (n, ps) => (metrics(n), ps) }
    def pass(): Long = {
      val d = new Downsampler()
      val t0 = System.nanoTime()
      calls.foreach { case (m, ps) => d.feed(m, ps) }
      System.nanoTime() - t0
    }
    pass()
    pass().toDouble / math.max(1, feeds.map(_._2.length).sum)
  }

  /** Write the traced run's spans next to the build, for reading later. */
  def writeSpans(tr: Tracer, a: Main.Args): Unit = {
    val dir = java.nio.file.Paths.get(".bench_build", "traces")
    java.nio.file.Files.createDirectories(dir)
    val f = dir.resolve(s"${a.workload}-seed${a.seed}.json")
    java.nio.file.Files.writeString(f, tr.spansJson + "\n")
    System.err.println(s"perfbench: spans written to $f")
  }
}
