package graft.cli

import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.functions.{col, lit}

import graft.SparkSuite
import graft.cli.Bgutil.Db
import graft.model.Retention
import graft.sources.PointsStore

/** The planned read's job budget, and the freshness of the schemas it
  * no longer infers on every request. */
class ReadPathSpec extends SparkSuite {

  /** Spark jobs started by `body`, counted by a listener. */
  private def jobsOf(body: => Unit): Int = {
    val jobs = new AtomicInteger()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = {
        jobs.incrementAndGet(); ()
      }
    }
    org.apache.spark.ListenerDrain(spark.sparkContext)
    spark.sparkContext.addSparkListener(listener)
    try { body; org.apache.spark.ListenerDrain(spark.sparkContext) }
    finally spark.sparkContext.removeSparkListener(listener)
    jobs.get
  }

  private def series(db: Db, glob: String, startS: Long,
      endS: Long): Seq[(Long, Option[Double])] =
    Bgutil.read(db, glob, startS, endS).collect().toSeq
      .map(r => (r.getLong(1), if (r.isNullAt(2)) None else Some(r.getDouble(2))))
      .sortBy(_._1)

  test("a warm single-series read runs in at most 4 Spark jobs") {
    val db = Db(spark, java.nio.file.Files.createTempDirectory("readjobs").toString)
    Bgutil.syncdb(db)
    Bgutil.writePoints(db,
      (0 until 120).flatMap(i => Seq(("sys.cpu.0.load", i * 60L, i.toDouble),
        ("sys.cpu.1.load", i * 60L, 2.0 * i))),
      "1440*60s:720*3600s", "average")
    def readOnce(): Int = Bgutil.read(db, "sys.cpu.0.load", 0L, 7200L).collect().length
    assert(readOnce() === 120) // cold: infers the catalog and store schemas
    // warm: the catalog scan, the points exchange, the fold's broadcast
    // and the result — no schema inference, broadcast metadata join,
    // second aggregation exchange or range-sampling sort
    val jobs = jobsOf { assert(readOnce() === 120) }
    assert(jobs <= 4, s"a warm single-series read ran $jobs Spark jobs")
  }

  test("reads see appended points, and a batch_seq append's last-write-wins") {
    val db = Db(spark, java.nio.file.Files.createTempDirectory("readfresh").toString)
    Bgutil.syncdb(db)
    // one stage, 60 s; a bucket spans 120000 s, so ts 120060 lands in
    // bucket=120000 and ts 60 in bucket=0
    val retention = "10000*60s"
    Bgutil.writePoints(db, Seq(("m.a", 120060L, 1.0)), retention, "average")
    assert(series(db, "m.a", 120000L, 120180L) ===
      Seq((120000L, None), (120060L, Some(1.0)), (120120L, None)))

    // a plain append: the next read shows the new point
    Bgutil.writePoints(db, Seq(("m.a", 120120L, 2.0)), retention, "average")
    assert(series(db, "m.a", 120000L, 120180L) ===
      Seq((120000L, None), (120060L, Some(1.0)), (120120L, Some(2.0))))

    // a streaming-style append brings the first batch_seq column: two
    // re-emissions of one slot, the later one (batch_seq 2) must win.
    // Its files sort first (bucket=0), so the store's inferred schema
    // now carries batch_seq; a schema kept from before the append would
    // skip the merge and average the two (6.0)
    val id = db.catalog.filter(col("name") === "m.a").select("id").head().getString(0)
    val stage0 = Retention.fromString(retention).stage0
    import spark.implicits._
    PointsStore.write(Seq((60L, 5.0, 1L), (60L, 7.0, 2L)).toDF("ts", "value", "batch_seq")
      .select(lit(id).as("metric_id"), col("ts"), col("value"),
        lit(1.0).as("count"), lit(0).as("replica"), col("batch_seq")),
      db.pointsPath, stage0, writeSalt = 1)
    assert(series(db, "m.a", 0L, 180L) ===
      Seq((0L, None), (60L, Some(7.0)), (120L, None)))
  }
}
