package graft

import org.apache.spark.sql.functions._
import graft.model._
import graft.operators.{Downsample, TimeSeriesReader}
import graft.sources.{MetricCatalog, PointsStore}
import graft.streaming.StreamingIngest

/** End-to-end on the driver-provided testdata: events → staged points →
  * partitioned store → glob find → re-aggregated read, checked against a
  * direct computation (SURVEY.md §3.1/§3.2 as one flow). */
class FullPipelineSpec extends SparkSuite {
  import spark.implicits._

  test("events through store and back (sf0.001)") {
    val dir = "/root/testdata/sf0.001"
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val ev = spark.read.parquet(s"$dir/events.parquet")
    // ts is nanosecond longs in older driver testdata, timestamp in newer
    val tsS = ev.schema("ts").dataType match {
      case org.apache.spark.sql.types.LongType => expr("ts div 1000000000")
      case _ => unix_timestamp(col("ts"))
    }
    val raw = ev.select(
      concat(lit("ev."), col("event_type"), lit("."), col("user_id") % 10).as("name"),
      tsS.as("ts"),
      col("value"))

    val retention = Retention.fromString("1440*60s:720*3600s")
    val catalog = MetricCatalog.catalogRows(raw.select(col("name"),
      lit("average").as("aggregator"), lit(retention.toString).as("retention"))
      .distinct(), 0L)

    // ingest: stage every point for each stage, keyed by the catalog id,
    // and land all stages in one store write
    val keyed = raw
      .withColumn("metric_id", graft.functions.GraftFunctions.graft_uuid5(col("name")))
      .withColumn("aggregator", lit("average"))
    val storeDir = java.nio.file.Files.createTempDirectory("pipe").toString
    PointsStore.writeMulti(retention.stages.map(st =>
      (Downsample.stagePoints(keyed, st), st, 1)), storeDir)

    // read back at stage1 (3600 s) through glob find + grouped fetch: a
    // day that ended a day before nowS is past stage0's one-day retention
    val got = TimeSeriesReader.findAndFetchPlanned(spark, catalog, storeDir,
      "ev.click.*", 1704067200L, 1704067200L + 86400,
      nowS = 1704067200L + 2 * 86400)
      .filter(col("value").isNotNull)
      .withColumn("value", round(col("value"), 6))
      .orderBy("name", "ts")
      .as[(String, Long, Double)].collect().toSeq

    // direct oracle: the ingest path last-write-wins per 60 s stage0 step,
    // so the expected hourly average is over the deduped step values
    val want = Downsample.lastWriteWins(raw.withColumnRenamed("name", "metric_id"),
        60, col("ts"))
      .filter(col("metric_id").rlike("^ev\\.click\\.[^.]*$"))
      .filter(col("ts") >= 1704067200L && col("ts") < 1704067200L + 86400)
      .groupBy(col("metric_id").as("name"),
        (floor(col("ts") / 3600) * 3600).cast("long").as("ts"))
      .agg(round(avg("value"), 6).as("value"))
      .orderBy("name", "ts")
      .as[(String, Long, Double)].collect().toSeq

    assert(got.nonEmpty)
    assert(got === want)
  }

  test("carbon lines → streaming ingest + auto-create → bgutil read: " +
      "the full daemon lifecycle") {
    implicit val sqlCtx = spark.sqlContext
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import org.apache.spark.sql.streaming.Trigger
    import graft.cli.{Bgutil, RenderTarget}

    val dbDir = java.nio.file.Files.createTempDirectory("carbon_e2e").toString
    val ckpt = java.nio.file.Files.createTempDirectory("ckpt").toString
    val db = Bgutil.Db(spark, dbDir)
    Bgutil.syncdb(db)

    // the text a carbon daemon would receive on :2003, garbage included
    val input = MemoryStream[String]
    val points = StreamingIngest.parseCarbonLines(input.toDF())
    val meta = MetricMetadata(Aggregator.Average,
      Retention.fromString("60*60s:24*3600s"))
    input.addData(
      "sys.cpu.0.load 1.0 60",
      "sys.cpu.0.load 3.0 120",
      "not a parsable line at all",
      "sys.cpu.1.load 5.0 60")
    val q = StreamingIngest.startIngestJob(points, _ => meta,
      db.pointsPath, ckpt, autoCreate = Some(db.catalogStore))
      .trigger(Trigger.AvailableNow()).start()
    q.awaitTermination()

    // metrics exist (auto-created) and the planned read sees the points
    assert(Bgutil.list(db, "sys.cpu.*.load").collect().map(_.getString(0)).toSeq
      === Seq("sys.cpu.0.load", "sys.cpu.1.load"))
    val series = Bgutil.read(db, "sys.cpu.*.load", 60L, 180L)
      .filter(col("value").isNotNull)
      .select("name", "ts", "value").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getDouble(2))).toSet
    assert(series === Set(
      ("sys.cpu.0.load", 60L, 1.0), ("sys.cpu.0.load", 120L, 3.0),
      ("sys.cpu.1.load", 60L, 5.0)))

    // and a render target runs off the same store
    val rendered = RenderTarget.render(db,
      "alias(sumSeries(sys.cpu.*.load),'total.load')", 60L, 180L).collect()
      .map(r => (r.getLong(1), Option(r.get(2)))).toMap
    assert(rendered(60L) === Some(6.0))
  }

  test("flagship entry returns a dense multi-metric day (driver smoke)") {
    val df = SparkEntry.entry(spark)
    assert(df.columns.toSeq === Seq("name", "ts", "value"))
    val n = df.count()
    // every found metric gets a full 24-slot hourly spine
    assert(n > 0 && n % 24 === 0)
  }
}
