package graft.operators

import org.apache.spark.sql.functions._
import graft.SparkSuite
import graft.model._
import graft.sources.{MetricCatalog, PointsStore}

/** End-to-end read path (SURVEY.md §7.2 minimum slice) and the multimodal
  * decode plumbing. */
class ReaderAndMultimodalSpec extends SparkSuite {
  import spark.implicits._

  test("minimum end-to-end slice: write -> rollup -> find -> dense fetch") {
    val dir = java.nio.file.Files.createTempDirectory("e2e").toString
    val retention = Retention.fromString("60*60s:24*3600s")
    val metric = Metric("sys.cpu.0.load",
      MetricMetadata(Aggregator.Average, retention))

    // raw points: 3 sub-minute samples per minute for 30 minutes
    val start = 864000L
    val raw = (0 until 30).flatMap { i =>
      Seq((start + i * 60 + 0, -1.0), (start + i * 60 + 15, 1.0),
        (start + i * 60 + 30, i * 3.0))
    }.toDF("ts", "value")
      .withColumn("metric_id", lit(metric.id))
      .withColumn("count", lit(1.0))
      .withColumn("replica", lit(0))

    // stage0 write (raw points live at stage0's 60 s precision after
    // last-write-wins... here we keep sub-minute points: the grouper does
    // the per-step aggregation at read)
    PointsStore.write(raw, dir, retention.stage0)

    // catalog with one metric; find by glob
    val catalog = MetricCatalog.withDerivedColumns(
      Seq((metric.name, metric.id, metric.aggregator.name,
        retention.toString)).toDF("name", "id", "aggregator", "retention"))
    val found = MetricCatalog.globMetrics(catalog, "sys.cpu.*.load")
    assert(found.count() === 1)

    // fetch a window straddling the data, dense at 60 s
    val matched = Seq(TimeSeriesReader.Matched(metric.name, metric.id,
      metric.aggregator.name, retention.toString, None))
    val series = TimeSeriesReader.fetchMatched(spark, matched, dir,
      startS = start + 3, endS = start + 1800 - 3, nowS = start + 1810)
    val values = series.orderBy("ts").select("value").collect().map(r =>
      if (r.isNullAt(0)) None else Some(r.getDouble(0)))
    // aligned window [start, start+1800): 30 slots, avg = minute index
    assert(values.length === 30)
    assert(values.toSeq === (0 until 30).map(i => Some(i.toDouble)))
  }

  test("findAndFetch resolves glob and fetches all matches") {
    val dir = java.nio.file.Files.createTempDirectory("faf").toString
    val retention = Retention.fromString("60*60s:24*3600s")
    val m1 = Metric("sys.cpu.0.load", MetricMetadata(Aggregator.Average, retention))
    val m2 = Metric("sys.cpu.1.load", MetricMetadata(Aggregator.Total, retention))
    val raw = Seq((m1.id, 0L, 1.0, 1.0, 0), (m1.id, 10L, 3.0, 1.0, 0),
      (m2.id, 0L, 5.0, 1.0, 0), (m2.id, 10L, 7.0, 1.0, 0))
      .toDF("metric_id", "ts", "value", "count", "replica")
    PointsStore.write(raw, dir, retention.stage0)
    val catalog = MetricCatalog.withDerivedColumns(
      Seq((m1.name, m1.id, "average", retention.toString),
        (m2.name, m2.id, "total", retention.toString))
        .toDF("name", "id", "aggregator", "retention"))
    // a window inside stage0's retention at nowS plans stage0 (60 s)
    val got = TimeSeriesReader.findAndFetchPlanned(spark, catalog, dir,
      "sys.cpu.*.load", 0L, 60L, nowS = 60L)
      .orderBy("name", "ts").as[(String, Long, Double)].collect().toSeq
    assert(got === Seq(("sys.cpu.0.load", 0L, 2.0), ("sys.cpu.1.load", 0L, 12.0)))
  }

  test("multimodal decode plumbing: typed metadata from binary payloads") {
    val df = Seq((1L, "IMGPAYLOADxxxxxxxxx"), (2L, "Zz"), (3L, ""))
      .toDF("id", "txt")
      .select(col("id"), col("txt").cast("binary").as("payload"))
    val meta = Multimodal.decodeMeta(df, "id", "payload", partitions = 2)
      .collect().sortBy(_.id)
    assert(meta.length === 3)
    assert(meta(0).ok && meta(0).n_bytes === 19)
    assert(Set("image", "audio", "video").contains(meta(0).kind))
    assert(meta(1).ok && meta(1).n_bytes === 2)
    assert(!meta(2).ok && meta(2).kind === "invalid")
    // deterministic: same payload -> same metadata
    val again = Multimodal.decodeMeta(df, "id", "payload").collect().sortBy(_.id)
    assert(again.toSeq === meta.toSeq)
  }

  test("frame sampling plan") {
    val meta = Seq((1L, 10), (2L, 1)).toDF("id", "n_frames")
    val got = Multimodal.sampleFrames(meta, stride = 4)
      .as[(Long, Int)].collect().toSeq.sorted
    assert(got === Seq((1L, 0), (1L, 4), (1L, 8), (2L, 0)))
  }
}
