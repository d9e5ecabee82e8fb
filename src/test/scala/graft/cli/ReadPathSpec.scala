package graft.cli

import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.functions.{col, lit}

import graft.SparkSuite
import graft.cli.Bgutil.Db
import graft.model.Retention
import graft.operators.TimeSeriesReader
import graft.sources.{MetricCatalog, PointsStore}

/** The planned read's job budget, the freshness of the schemas it no
  * longer infers on every request, and the per-catalog-version memo of
  * glob matches. */
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

  private def names(db: Db, glob: String): Set[String] =
    Bgutil.read(db, glob, 0L, 180L).collect().map(_.getString(0)).toSet

  test("a warm single-series read: at most 3 jobs on a repeated glob, 4 on a new one") {
    val db = Db(spark, java.nio.file.Files.createTempDirectory("readjobs2").toString)
    Bgutil.syncdb(db)
    Bgutil.writePoints(db,
      (0 until 120).flatMap(i => Seq(("sys.cpu.0.load", i * 60L, i.toDouble),
        ("sys.cpu.1.load", i * 60L, 2.0 * i))),
      "1440*60s:720*3600s", "average")
    def readOnce(glob: String): Int = Bgutil.read(db, glob, 0L, 7200L).collect().length
    assert(readOnce("sys.cpu.0.load") === 120) // cold: infers the schemas
    // repeated glob: the memo answers the resolve; the points exchange,
    // the one collect of the grouped points and the explode of the
    // driver-built vectors remain
    val warm = jobsOf { assert(readOnce("sys.cpu.0.load") === 120) }
    assert(warm <= 3, s"a warm repeated-glob read ran $warm Spark jobs")
    // a glob not seen before adds its one catalog job
    val fresh = jobsOf { assert(readOnce("sys.cpu.0.loa*") === 120) }
    assert(fresh <= 4, s"a warm new-glob read ran $fresh Spark jobs")
  }

  /** A store holding one metric with a plain point at 120060 (bucket
    * 120000). */
  private def plainStore(prefix: String, name: String): Db = {
    val db = Db(spark, java.nio.file.Files.createTempDirectory(prefix).toString)
    Bgutil.syncdb(db)
    Bgutil.writePoints(db, Seq((name, 120060L, 1.0)), "10000*60s", "average")
    db
  }

  /** Two streaming-style re-emissions of `name`'s slot 60 (bucket 0,
    * whose files sort first, so the store's schema carries batch_seq);
    * batch 2 wins. No catalog commit. */
  private def appendSeq(db: Db, name: String): Unit = {
    val id = Bgutil.resolve(db, name).head.id
    import spark.implicits._
    PointsStore.write(Seq((60L, 5.0, 1L), (60L, 7.0, 2L)).toDF("ts", "value", "batch_seq")
      .select(lit(id).as("metric_id"), col("ts"), col("value"),
        lit(1.0).as("count"), lit(0).as("replica"), col("batch_seq")),
      db.pointsPath, Retention.fromString("10000*60s").stage0, writeSalt = 1)
  }

  test("a warm read of a store carrying batch_seq shuffles the points once") {
    val db = plainStore("readseq", "q.a")
    appendSeq(db, "q.a")
    def readOnce(): Seq[(Long, Option[Double])] = series(db, "q.a", 0L, 180L)
    val want = Seq((0L, None), (60L, Some(7.0)), (120L, None))
    assert(readOnce() === want)
    // the last-write-wins merge keeps the metric_id partitioning, so
    // pointGrouper adds no exchange: the points exchange, the grouped
    // collect and the explode
    val jobs = jobsOf { assert(readOnce() === want) }
    assert(jobs <= 3, s"a warm batch_seq read ran $jobs Spark jobs")
  }

  test("the collected grouped points are one planned scan per retention class") {
    import org.apache.spark.sql.catalyst.plans.logical.Union
    val db = Db(spark, java.nio.file.Files.createTempDirectory("readunion").toString)
    Bgutil.syncdb(db)
    Bgutil.writePoints(db, (0 until 12).map(i => (s"u.cpu.$i", 120L, i.toDouble)),
      "60*60s:24*3600s", "average")
    Bgutil.writePoints(db, Seq(("u.cpu.12", 120L, 5.0)), "60*60s:24*3600s", "total")
    def unions(glob: String): Seq[Int] =
      TimeSeriesReader.groupedPoints(spark, Bgutil.resolve(db, glob), db.pointsPath,
          120L, 240L, 240L, 0)._2
        .queryExecution.optimizedPlan.collect { case u: Union => u.children.size }
    // 13 metrics, mixed aggregators, one retention: no Union at all
    assert(unions("u.cpu.*") === Nil)
    // a second retention class: exactly one 2-way Union
    Bgutil.writePoints(db, Seq(("u.gpu.0", 120L, 1.0), ("u.gpu.1", 150L, 2.0)),
      "120*30s:24*3600s", "average")
    assert(unions("u.*.*") === Seq(2))
  }

  test("the driver holds one vector per metric, not one row per slot") {
    import org.apache.spark.sql.catalyst.plans.logical.LocalRelation
    val db = Db(spark, java.nio.file.Files.createTempDirectory("readvec").toString)
    Bgutil.syncdb(db)
    Bgutil.writePoints(db, (0 until 30).map(i => (s"v.m$i", 60L * i, i.toDouble)),
      "1440*60s:720*3600s", "average")
    val q = Bgutil.read(db, "v.*", 0L, 7200L)
    val held = q.queryExecution.analyzed.collect { case l: LocalRelation => l.data.size }
    assert(held === Seq(30))
    assert(q.count() === 30 * 120)
    // a reducing render over the vectors sums every slot
    val sum = RenderTarget.render(db, "sumSeries(v.*)", 0L, 7200L).collect()
      .map(r => (r.getAs[Long]("ts"), Option(r.getAs[java.lang.Double]("value"))))
      .sortBy(_._1)
    assert(sum.length === 120)
    assert(sum.take(30).map(_._2.map(_.doubleValue)).toSeq ===
      (0 until 30).map(i => Some(i.toDouble)))
    assert(sum.drop(30).forall(_._2.isEmpty))
  }

  test("an invalid glob leaves no memo entry") {
    val db = Db(spark, java.nio.file.Files.createTempDirectory("memobad").toString)
    Bgutil.syncdb(db)
    Bgutil.writePoints(db, Seq(("b.a", 60L, 1.0)), "10000*60s", "average")
    val entries = Bgutil.CatalogMemo.entries
    intercept[IllegalArgumentException](Bgutil.resolve(db, "b.{a"))
    assert(Bgutil.CatalogMemo.entries === entries)
  }

  test("a repeated resolve runs no Spark job") {
    val db = Db(spark, java.nio.file.Files.createTempDirectory("resolve0").toString)
    Bgutil.syncdb(db)
    Bgutil.writePoints(db, Seq(("r.a", 60L, 1.0), ("r.b", 60L, 2.0)),
      "10000*60s", "average")
    val first = Bgutil.resolve(db, "r.*")
    assert(first.map(_.name) === Seq("r.a", "r.b"))
    var again: Seq[graft.operators.TimeSeriesReader.Matched] = Nil
    assert(jobsOf { again = Bgutil.resolve(db, "r.*") } === 0)
    assert(again === first)
  }

  test("a catalog commit is a new memo key: the next read sees a new name") {
    val db = Db(spark, java.nio.file.Files.createTempDirectory("memofresh").toString)
    Bgutil.syncdb(db)
    val retention = "10000*60s"
    Bgutil.writePoints(db, Seq(("n.a", 60L, 1.0)), retention, "average")
    assert(names(db, "n.*") === Set("n.a"))
    val before = db.catalogVersion
    Bgutil.writePoints(db, Seq(("n.b", 60L, 2.0)), retention, "average")
    assert(db.catalogVersion !== before)
    assert(names(db, "n.*") === Set("n.a", "n.b"))
  }

  test("points are never memoized: appends and compaction show on the next read") {
    val db = plainStore("memopoints", "p.a")
    val version = db.catalogVersion
    assert(series(db, "p.*", 0L, 180L) === Seq((0L, None), (60L, None), (120L, None)))
    // an append on the same catalog version: the memoized glob reads it
    appendSeq(db, "p.a")
    val appended = Seq((0L, None), (60L, Some(7.0)), (120L, None))
    assert(series(db, "p.*", 0L, 180L) === appended)
    Bgutil.compact(db)
    assert(db.catalogVersion === version)
    assert(series(db, "p.*", 0L, 180L) === appended)
    assert(series(db, "p.*", 120000L, 120180L) ===
      Seq((120000L, None), (120060L, Some(1.0)), (120120L, None)))
  }

  test("a legacy unversioned catalog, rewritten in place, is not memoized") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("memolegacy").toString
    val db = Db(spark, dir)
    def writeCatalog(ns: String*): Unit =
      MetricCatalog.withMetricId(MetricCatalog.withDerivedColumns(ns.toDF("name")))
        .withColumn("aggregator", lit("average"))
        .withColumn("retention", lit("10000*60s"))
        .withColumn("updated_on", lit(0L))
        .write.mode("overwrite").parquet(s"$dir/catalog")
    writeCatalog("l.a")
    assert(db.catalogVersion === None)
    val entries = Bgutil.CatalogMemo.entries
    assert(Bgutil.resolve(db, "l.*").map(_.name) === Seq("l.a"))
    assert(Bgutil.CatalogMemo.entries === entries)
    writeCatalog("l.a", "l.b")
    assert(Bgutil.resolve(db, "l.*").map(_.name) === Seq("l.a", "l.b"))
  }

  test("the catalog memo is a bounded LRU") {
    val db = Db(spark, java.nio.file.Files.createTempDirectory("memolru").toString)
    Bgutil.syncdb(db)
    Bgutil.writePoints(db, Seq(("e.a", 60L, 1.0)), "10000*60s", "average")
    // Entries + 1 distinct globs, each matching e.a
    val globs = (0 to Bgutil.CatalogMemo.Entries).map(i => s"e.{a,x$i}")
    globs.foreach(g => assert(Bgutil.resolve(db, g).map(_.name) === Seq("e.a")))
    assert(Bgutil.CatalogMemo.entries === Bgutil.CatalogMemo.Entries)
    // the least recently used glob was evicted: resolving it scans again
    assert(jobsOf(Bgutil.resolve(db, globs.head)) === 1)
    // the most recently used one is still held
    assert(jobsOf(Bgutil.resolve(db, globs.last)) === 0)
  }

  test("a durable slot beats a lingering spool backlog line") {
    import org.apache.spark.sql.streaming.Trigger
    import graft.model.{Aggregator, MetricMetadata}
    import graft.streaming.CarbonListener
    val dir = java.nio.file.Files.createTempDirectory("hotlinger").toString
    val db = Db(spark, dir)
    Bgutil.syncdb(db)
    val spool = java.nio.file.Paths.get(dir, "carbon_spool")
    java.nio.file.Files.createDirectories(spool)
    val meta = MetricMetadata(Aggregator.Average, Retention.fromString("60*60s:24*3600s"))
    def spoolWrite(file: String, lines: String): Unit =
      java.nio.file.Files.writeString(spool.resolve(file), lines)
    def drain(): Unit =
      CarbonListener.ingestFromSpool(spark, spool.toString, db.pointsPath,
          s"$dir/ckpt", _ => meta, autoCreate = Some(db.catalogStore))
        .trigger(Trigger.AvailableNow()).start().awaitTermination()
    spoolWrite("batch-0.txt", "h.m 1.0 60\n")
    drain()
    spoolWrite("batch-1.txt", "h.m 5.0 65\n")
    drain()
    assert(series(db, "h.m", 60L, 180L) === Seq((60L, Some(5.0)), (120L, None)))
    // a lingering file (the spool cleaner is asynchronous) holds a line
    // for the durable slot with a later raw ts than the durable point's:
    // it must not shadow the durable value. An undrained file fills the
    // empty slot, a raw-ts tie going to the later line
    spoolWrite("batch-0.txt", "h.m 1.0 119\n")
    spoolWrite("batch-2.txt", "h.m 2.0 125\nh.m 6.0 125\n")
    assert(series(db, "h.m", 60L, 180L) === Seq((60L, Some(5.0)), (120L, Some(6.0))))
  }
}
