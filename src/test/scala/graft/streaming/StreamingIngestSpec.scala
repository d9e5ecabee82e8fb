package graft.streaming

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.streaming.OutputMode
import graft.SparkSuite
import graft.model._
import graft.streaming.StreamingIngest.{OutPoint, RawPoint}

/** The streaming ingest path must reproduce the incremental downsampler's
  * golden sequences (tests/drivers/test_drivers_downsampling.py) across
  * micro-batches, with state carried in the state store. */
class StreamingIngestSpec extends SparkSuite {
  import spark.implicits._


  test("micro-batched feed reproduces the golden emission sequence") {
    implicit val sqlCtx = spark.sqlContext
    val meta = StreamingIngestSpec.meta
    val input = MemoryStream[RawPoint]
    val out = StreamingIngest.downsampleFlow(
      input.toDS(), StreamingIngestSpec.lookupMeta, capacity = 3, idleTimeoutMs = 0)
    val query = out.writeStream
      .format("memory").queryName("ds_out")
      .outputMode(OutputMode.Append)
      .start()
    try {
      // batch 1: single point -> stage0 + provisional stage1
      input.addData(RawPoint("test.metric.sum", 0L, 1.0))
      query.processAllAvailable()
      val b1 = spark.table("ds_out").as[OutPoint].collect().toSeq
      assert(b1.toSet === Set(
        OutPoint("test.metric.sum", "3*10s_0", 0L, 1.0, 1.0),
        OutPoint("test.metric.sum", "3*100s_aggr", 0L, 1.0, 1.0)))

      // batch 2: override + new step, state survived the batch boundary
      input.addData(RawPoint("test.metric.sum", 0L, 5.0),
        RawPoint("test.metric.sum", 10L, 9.0))
      query.processAllAvailable()
      val b2 = spark.table("ds_out").as[OutPoint].collect().toSeq
        .diff(b1)
      assert(b2.toSet === Set(
        OutPoint("test.metric.sum", "3*10s_0", 0L, 5.0, 1.0),
        OutPoint("test.metric.sum", "3*10s_0", 10L, 9.0, 1.0),
        OutPoint("test.metric.sum", "3*100s_aggr", 0L, 14.0, 2.0)))
    } finally {
      query.stop()
      spark.sql("DROP TABLE IF EXISTS ds_out")
    }
  }

  test("last-write-wins store of emissions equals reference end state") {
    implicit val sqlCtx = spark.sqlContext
    val meta = StreamingIngestSpec.meta
    val input = MemoryStream[RawPoint]
    val out = StreamingIngest.downsampleFlow(input.toDS(), StreamingIngestSpec.lookupMeta, capacity = 3, idleTimeoutMs = 0)
    val query = out.writeStream
      .format("memory").queryName("ds_out2")
      .outputMode(OutputMode.Append)
      .start()
    try {
      // the test_feed_extended sequence split across three micro-batches
      input.addData(RawPoint("m", 0L, 1.0), RawPoint("m", 1L, 2.0))
      query.processAllAvailable()
      input.addData(RawPoint("m", 10L, 15.0), RawPoint("m", 30L, 25.0))
      query.processAllAvailable()
      input.addData(RawPoint("m", 60L, 150.0), RawPoint("m", 300L, 1500.0),
        RawPoint("m", 300L, 1501.0))
      query.processAllAvailable()
      val all = spark.table("ds_out2").as[OutPoint].collect().toSeq
      // upsert semantics: last emission per (metric, stage, ts) wins
      val store = all.zipWithIndex
        .groupBy { case (p, _) => (p.metric, p.stage, p.ts) }
        .map { case (_, es) => es.maxBy(_._2)._1 }.toSet
      assert(store === Set(
        OutPoint("m", "3*10s_0", 0L, 2.0, 1.0),
        OutPoint("m", "3*10s_0", 10L, 15.0, 1.0),
        OutPoint("m", "3*10s_0", 30L, 25.0, 1.0),
        OutPoint("m", "3*10s_0", 60L, 150.0, 1.0),
        OutPoint("m", "3*10s_0", 300L, 1501.0, 1.0),
        OutPoint("m", "3*100s_aggr", 0L, 192.0, 4.0),
        OutPoint("m", "3*100s_aggr", 300L, 1501.0, 1.0)))
    } finally {
      query.stop()
      spark.sql("DROP TABLE IF EXISTS ds_out2")
    }
  }
}

class IngestJobSpec extends graft.SparkSuite {
  import spark.implicits._
  import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
  import org.apache.spark.sql.streaming.Trigger
  import org.apache.spark.sql.functions._
  import graft.streaming.StreamingIngest.RawPoint

  test("ingest job writes the store across restarts (checkpointed state)") {
    implicit val sqlCtx = spark.sqlContext
    val storeDir = java.nio.file.Files.createTempDirectory("ingest").toString
    val ckptDir = java.nio.file.Files.createTempDirectory("ckpt").toString

    // one source across restarts: the checkpoint tracks its offsets, so
    // only the query object is recreated (a real restart)
    val input = MemoryStream[RawPoint]
    def drain(points: RawPoint*): Unit = {
      input.addData(points: _*)
      val q = StreamingIngest.startIngestJob(input.toDS(),
        StreamingIngestSpec.lookupMeta, storeDir, ckptDir)
        .trigger(Trigger.AvailableNow()).start()
      q.awaitTermination()
    }

    // run 1: two points; run 2 (fresh query, same checkpoint): an override
    // plus a step that closes the first stage1 window
    drain(RawPoint("m", 0L, 1.0), RawPoint("m", 10L, 9.0))
    drain(RawPoint("m", 0L, 5.0), RawPoint("m", 300L, 70.0))

    val store = spark.read.parquet(storeDir)
    // read-side merge: last write per (stage, metric, ts) wins, ordered
    // by the checkpoint-monotonic batch_seq
    val merged = graft.operators.Downsample.lastWriteWins(
      store.filter(col("stage") === "3*100s_aggr"), 100, col("batch_seq"))
    val stage1 = merged.select("ts", "value", "count")
      .as[(Long, Double, Double)].collect().toSet
    // after both runs: step 0 = 5 + 9 = 14 (count 2), step 300 = 70
    assert(stage1.map(_._1) === Set(0L, 300L))
    val byTs = stage1.map(t => t._1 -> ((t._2, t._3))).toMap
    assert(byTs(300L) === ((70.0, 1.0)))
    assert(byTs(0L)._1 === 14.0 && byTs(0L)._2 === 2.0)
  }

  test("a streamed store holds one row per (metric_id, stage, ts, batch_seq)") {
    implicit val sqlCtx = spark.sqlContext
    val storeDir = java.nio.file.Files.createTempDirectory("ingest1").toString
    val ckptDir = java.nio.file.Files.createTempDirectory("ckpt1").toString
    val input = MemoryStream[RawPoint]
    val q = StreamingIngest.startIngestJob(input.toDS(),
      StreamingIngestSpec.lookupMeta, storeDir, ckptDir).start()
    val rnd = new scala.util.Random(11)
    try for (b <- 0 until 4) {
      // per batch: same-step duplicates and out-of-order points around
      // the head, plus points older than the 20-slot buffer
      input.addData(Seq.fill(80) {
        val ts = if (rnd.nextInt(8) == 0) rnd.nextInt(100).toLong
          else b * 300L + rnd.nextInt(60)
        RawPoint(s"m${rnd.nextInt(3)}", ts, rnd.nextInt(9).toDouble)
      }: _*)
      q.processAllAvailable()
    } finally q.stop()
    val store = spark.read.parquet(storeDir)
    assert(store.select("batch_seq").distinct().count() === 4)
    val dup = store.groupBy("metric_id", "stage", "ts", "batch_seq")
      .count().filter(col("count") > 1)
    assert(dup.count() === 0, dup.collect().mkString(", "))
  }
}

class CarbonLineSpec extends graft.SparkSuite {
  import spark.implicits._

  test("plaintext protocol lines parse; malformed lines drop; NaN survives") {
    val lines = Seq(
      "sys.cpu.0.load 1.5 1704067200",
      "  sys.mem.0.used   7   1704067260  ", // extra whitespace fine
      "sys.bad.value abc 1704067200",        // non-numeric value → drop
      "sys.bad.ts 1.0 notatime",             // non-numeric ts → drop
      "toofew 1.0",                          // missing field → drop
      "way too many fields 1 2",             // extra field → drop
      "sys.gap.metric NaN 1704067320"        // NaN = missing marker, kept
    ).toDF("value")
    val pts = StreamingIngest.parseCarbonLines(lines).collect()
    assert(pts.map(_.metric).sorted.toSeq ===
      Seq("sys.cpu.0.load", "sys.gap.metric", "sys.mem.0.used"))
    val byName = pts.map(p => p.metric -> p).toMap
    assert(byName("sys.cpu.0.load") ===
      StreamingIngest.RawPoint("sys.cpu.0.load", 1704067200L, 1.5))
    assert(byName("sys.mem.0.used").value === 7.0)
    assert(byName("sys.gap.metric").value.isNaN)
  }
}

class AutoCreateIngestSpec extends graft.SparkSuite {
  import spark.implicits._
  import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
  import org.apache.spark.sql.streaming.Trigger
  import graft.streaming.StreamingIngest.RawPoint

  test("unseen metrics are committed to the catalog mid-stream; " +
      "a batch with no new metrics commits nothing") {
    implicit val sqlCtx = spark.sqlContext
    val dbDir = java.nio.file.Files.createTempDirectory("autocreate").toString
    val ckptDir = java.nio.file.Files.createTempDirectory("ckpt").toString
    val db = graft.cli.Bgutil.Db(spark, dbDir)
    graft.cli.Bgutil.syncdb(db)

    val input = MemoryStream[RawPoint]
    def drain(points: RawPoint*): Unit = {
      input.addData(points: _*)
      val q = StreamingIngest.startIngestJob(input.toDS(),
        StreamingIngestSpec.lookupMeta, db.pointsPath, ckptDir,
        autoCreate = Some(db.catalogStore))
        .trigger(Trigger.AvailableNow()).start()
      q.awaitTermination()
    }

    drain(RawPoint("auto.m1", 0L, 1.0))
    val cat1 = db.catalog.select("name", "aggregator", "retention")
      .collect().map(r => (r.getString(0), r.getString(1), r.getString(2)))
    assert(cat1.toSet === Set(("auto.m1", "total", "3*10s:3*100s")))

    // mid-stream: a later batch brings one genuinely new metric
    drain(RawPoint("auto.m1", 10L, 2.0), RawPoint("auto.m2", 10L, 3.0))
    val cat2 = db.catalog.select("name").collect().map(_.getString(0))
    assert(cat2.sorted.toSeq === Seq("auto.m1", "auto.m2"))
    // derived columns and id are populated like a bgutil write would
    val m2 = db.catalog.filter(org.apache.spark.sql.functions.col("name") === "auto.m2")
      .select("id", "p0", "p1", "depth").collect().head
    assert(m2.getString(0) === graft.model.MetricName.metricId("auto.m2"))
    assert((m2.getString(1), m2.getString(2), m2.getInt(3)) === (("auto", "m2", 2)))

    // replay-shaped batch (no unseen names): the catalog pointer must not
    // move — idempotent auto-create, one row per metric forever
    val pointer = java.nio.file.Paths.get(s"$dbDir/CURRENT")
    val tokenBefore = java.nio.file.Files.readString(pointer)
    drain(RawPoint("auto.m1", 20L, 4.0), RawPoint("auto.m2", 20L, 5.0))
    assert(java.nio.file.Files.readString(pointer) === tokenBefore)
    assert(db.catalog.groupBy("name").count()
      .filter(org.apache.spark.sql.functions.col("count") > 1).count() === 0)
  }
}

object StreamingIngestSpec {
  /** Held outside the suite so stateful-stream closures never capture the
    * (non-serializable) test class. */
  val meta: MetricMetadata = MetricMetadata(
    aggregator = Aggregator.Total,
    retention = Retention.fromString("3*10s:3*100s"))

  val lookupMeta: String => MetricMetadata = _ => meta
}
