package graft.sources

import org.apache.spark.sql.functions._
import graft.SparkSuite
import graft.model.Stage

/** Store lifecycle beyond reads/writes: streaming-upsert compaction and
  * TTL bucket drops (the Cassandra compaction/TTL analogs). */
class StoreLifecycleSpec extends SparkSuite {
  import spark.implicits._

  test("compactStageSlices folds batch_seq re-emissions to final values") {
    val dir = java.nio.file.Files.createTempDirectory("compact").toString
    val stage = Stage(1000, 60, stage0 = false)
    // batch 1 emits a running aggregate, batch 2 supersedes it
    PointsStore.write(Seq(("m", 0L, 10.0, 1.0, 0, 1L), ("m", 60L, 5.0, 1.0, 0, 1L))
      .toDF("metric_id", "ts", "value", "count", "replica", "batch_seq"),
      dir, stage)
    PointsStore.write(Seq(("m", 0L, 30.0, 3.0, 0, 2L))
      .toDF("metric_id", "ts", "value", "count", "replica", "batch_seq"),
      dir, stage)
    // raw file rows: 3; logical rows after LWW: 2
    assert(spark.read.parquet(dir).count() === 3)
    val before = PointsStore.read(spark, dir, stage, 0L, 120L)
      .orderBy("ts").select("ts", "value").as[(Long, Double)].collect().toSeq
    assert(before === Seq((0L, 30.0), (60L, 5.0)))

    PointsStore.compactStageSlices(spark, dir, stage)
    // physically 2 rows now, same logical contents
    assert(spark.read.parquet(dir).count() === 2)
    val after = PointsStore.read(spark, dir, stage, 0L, 120L)
      .orderBy("ts").select("ts", "value").as[(Long, Double)].collect().toSeq
    assert(after === before)
  }

  test("writeMulti: one job lands both stages identically to two writes") {
    val fine = Stage(1440, 60, stage0 = true)
    val coarse = Stage(720, 3600, stage0 = false)
    val stage0Rows = Seq(("m1", 60L, 1.0, 1.0, 0), ("m2", 120L, 2.0, 1.0, 0))
      .toDF("metric_id", "ts", "value", "count", "replica")
    val rollupRows = Seq(("m1", 0L, 1.0, 1.0, 0), ("m2", 0L, 2.0, 1.0, 0))
      .toDF("metric_id", "ts", "value", "count", "replica")

    val seq = java.nio.file.Files.createTempDirectory("wm_seq").toString
    PointsStore.write(stage0Rows, seq, fine, writeSalt = 2)
    PointsStore.write(rollupRows, seq, coarse, writeSalt = 1)
    val one = java.nio.file.Files.createTempDirectory("wm_one").toString
    PointsStore.writeMulti(
      Seq((stage0Rows, fine, 2), (rollupRows, coarse, 1)), one)

    def dump(d: String) = spark.read.parquet(d)
      .select("stage", "bucket", "metric_id", "ts", "value", "count")
      .orderBy("stage", "ts", "metric_id")
      .as[(String, Long, String, Long, Double, Double)].collect().toSeq
    assert(dump(one) === dump(seq))
    // pruned per-stage reads see exactly their own rows
    assert(PointsStore.read(spark, one, fine, 0L, 3600L).count() === 2)
    assert(PointsStore.read(spark, one, coarse, 0L, 3600L).count() === 2)
  }

  test("writeMulti refuses mixed column sets with a contract message") {
    val fine = Stage(1440, 60, stage0 = true)
    val coarse = Stage(720, 3600, stage0 = false)
    val plain = Seq(("m1", 60L, 1.0, 1.0, 0))
      .toDF("metric_id", "ts", "value", "count", "replica")
    val seqd = plain.withColumn("batch_seq", lit(1L))
    val dir = java.nio.file.Files.createTempDirectory("wm_mixed").toString
    val e = intercept[IllegalArgumentException] {
      PointsStore.writeMulti(Seq((plain, fine, 1), (seqd, coarse, 1)), dir)
    }
    // the error names the offending batch/stage and the contract,
    // instead of a raw AnalysisException deep inside the union
    assert(e.getMessage.contains("batch 1"))
    assert(e.getMessage.contains("batch_seq"))
    // nothing was written, and no guard marker leaked
    val left = Option(new java.io.File(dir).listFiles())
      .getOrElse(Array.empty)
    assert(left.forall(f => !f.getName.startsWith("_APPENDING") &&
      !f.getName.startsWith("_COMPACTING") && !f.getName.startsWith("stage=")))
  }

  test("compactStageSlices compacts per bucket slice; sinceS bounds scope") {
    val dir = java.nio.file.Files.createTempDirectory("compact_sl").toString
    val stage = Stage(1440, 60, stage0 = true)
    val span = PointsStore.bucketSpanS(60) // 120000 s
    // three buckets, each with a superseded batch-1 row
    def rows(seq: Long, v: Double) = (0 until 3).map(b =>
      ("m", b * span + 60L, v, 1.0, 0, seq))
      .toDF("metric_id", "ts", "value", "count", "replica", "batch_seq")
    PointsStore.write(rows(1L, 1.0), dir, stage)
    PointsStore.write(rows(2L, 9.0), dir, stage)
    assert(PointsStore.listBuckets(dir, stage) === Seq(0L, span, 2 * span))
    assert(spark.read.parquet(dir).count() === 6)

    // sinceS limits compaction to the two newest buckets
    val touched = PointsStore.compactStageSlices(spark, dir, stage,
      bucketsPerSlice = 1, sinceS = span + 1)
    assert(touched === Seq(span, 2 * span))
    // bucket 0 still has both raw rows; others are folded to one row each
    assert(spark.read.parquet(dir).count() === 4)

    // full pass folds the rest; logical contents unchanged throughout
    PointsStore.compactStageSlices(spark, dir, stage, bucketsPerSlice = 2)
    assert(spark.read.parquet(dir).count() === 3)
    val got = PointsStore.read(spark, dir, stage, 0L, 3 * span)
      .orderBy("ts").select("ts", "value").as[(Long, Double)].collect().toSeq
    assert(got === (0 until 3).map(b => (b * span + 60L, 9.0)))
  }

  test("dropExpiredBuckets deletes only wholly-expired bucket partitions") {
    val dir = java.nio.file.Files.createTempDirectory("ttl").toString
    // stage duration = 24 h; bucket span = max(2000*3600, 6h) capped — for
    // 3600 s precision span = 3600*2000 s; use a 60 s stage0 instead:
    // span = max(60*2000, 6h) = 120000 s; duration = 1440*60 = 86400 s
    val stage = Stage(1440, 60, stage0 = true)
    val span = PointsStore.bucketSpanS(60)
    val nowS = 10 * span
    // bucket 0 is wholly older than nowS - 86400; the bucket containing
    // (nowS - span) survives
    PointsStore.write(Seq(("m", 10L, 1.0, 1.0, 0))
      .toDF("metric_id", "ts", "value", "count", "replica"), dir, stage)
    PointsStore.write(Seq(("m", nowS - span, 2.0, 1.0, 0))
      .toDF("metric_id", "ts", "value", "count", "replica"), dir, stage)

    val deleted = PointsStore.dropExpiredBuckets(dir, nowS)
    assert(deleted.size === 1 && deleted.head.contains("bucket=0"))
    val left = spark.read.parquet(dir).select("ts").as[Long].collect().toSeq
    assert(left === Seq(nowS - span))
  }
}
