package graft.sources

import org.apache.spark.sql.functions._
import graft.SparkSuite
import graft.model.{Metric, MetricMetadata, Retention, Stage}

/** Finder glob matrix (tests/plugins/test_graphite.py:163-191) against the
  * catalog DataFrame, plus the partitioned points store round-trip. */
class CatalogAndStoreSpec extends SparkSuite {
  import spark.implicits._

  private lazy val catalog = MetricCatalog.withDerivedColumns(
    Seq("a", "a.a", "a.b.c", "x.y").toDF("name"))

  private def globNames(glob: String): Seq[String] =
    MetricCatalog.globMetrics(catalog, glob).select("name").as[String]
      .collect().toSeq

  private def dirNames(glob: String): Seq[String] =
    MetricCatalog.globDirectories(catalog, glob).select("name").as[String]
      .collect().toSeq

  test("bare-comma glob resolves via the regex-only path") {
    // 'a.a,x.y' compiles to '^a\.a|x\.y$' — whole-pattern alternation;
    // the component predicates / fully-defined shortcut must not
    // contradict it (they would demand a single 'a,x'-literal component)
    assert(globNames("a.a,x.y") === Seq("a.a", "x.y"))
  }

  test("finder glob matrix (test_graphite.py:186-191)") {
    assert(globNames("a") === Seq("a"))
    assert(dirNames("a") === Seq("a"))
    assert(globNames("a.*") === Seq("a.a"))
    assert(dirNames("a.*") === Seq("a.b"))
    assert(globNames("*.{a,b,c,y,z}") === Seq("a.a", "x.y"))
    assert(dirNames("*.{a,b,c,y,z}") === Seq("a.b"))
    assert(globNames("?.[a-c]") === Seq("a.a"))
    assert(globNames("?.[a-z]") === Seq("a.a", "x.y"))
    assert(globNames("*.*.*") === Seq("a.b.c"))
  }

  test("directories derive every proper prefix (elasticsearch.py:587-629)") {
    assert(MetricCatalog.directories(catalog).as[String].collect().sorted
      .toSeq === Seq("a", "a.b", "x"))
  }

  test("derived component columns match the ES document shape") {
    val row = catalog.filter($"name" === "a.b.c")
      .select("p0", "p1", "p2", "depth", "parent").collect().head
    assert(row.getString(0) === "a" && row.getString(1) === "b" &&
      row.getString(2) === "c" && row.getInt(3) === 3 &&
      row.getString(4) === "a.b.")
  }

  test("result cap (drivers/cassandra.py:2149-2176)") {
    assert(globNames("**").size === 4)
    assert(MetricCatalog.globMetrics(catalog, "**", maxMetrics = 2)
      .count() === 2)
  }

  test("strict glob raises TooManyMetrics past the cap (cassandra.py:605-607)") {
    assertThrows[MetricCatalog.TooManyMetrics] {
      MetricCatalog.globMetricsStrict(catalog, "**", maxMetrics = 2).count()
    }
    assert(MetricCatalog.globMetricsStrict(catalog, "a.*").count() === 1)
  }

  test("points store round-trip with partition pruning") {
    val dir = java.nio.file.Files.createTempDirectory("pts").toString
    val stage = Stage.fromString("60*60s", stage0 = true)
    val pts = (0 until 500).map(i =>
      ("m1", i * 60L, i.toDouble, 1.0, 0)).toDF(
      "metric_id", "ts", "value", "count", "replica")
    PointsStore.write(pts, dir, stage)
    val got = PointsStore.read(spark, dir, stage, 0L, 6000L, Seq("m1"))
    assert(got.count() === 100)
    // partition pruning: the bucket filter must reach the file index
    val planStr = got.queryExecution.executedPlan.toString
    assert(planStr.contains("PartitionFilters") &&
      planStr.contains("bucket"), planStr.take(2000))
    // and the ts/metric filters must be pushed to parquet
    assert(planStr.contains("PushedFilters") && planStr.contains("ts"),
      planStr.take(2000))
  }

  test("component predicates reach the parquet scan (F5 pushdown)") {
    val dir = java.nio.file.Files.createTempDirectory("cat").toString
    catalog.write.mode("overwrite").parquet(dir)
    val onDisk = spark.read.parquet(dir)
    val got = MetricCatalog.globMetrics(onDisk, "a.*")
    val plan = got.queryExecution.executedPlan.toString
    // equality on p0 and depth must be pushed to the scan
    assert(plan.contains("PushedFilters") &&
      plan.contains("EqualTo(p0,a)") && plan.contains("EqualTo(depth,2)"),
      plan.take(2500))
  }

  test("bucketed points x bucketed catalog joins without shuffling points") {
    import org.apache.spark.sql.functions.{col, sum => sqlSum}
    val pts = (0 until 1000).map(i =>
      (s"m${i % 50}", i.toLong, i.toDouble)).toDF("metric_id", "ts", "value")
    val cat = (0 until 50).map(i => (s"m$i", "average"))
      .toDF("metric_id", "aggregator")
    spark.sql("DROP TABLE IF EXISTS pts_bucketed")
    spark.sql("DROP TABLE IF EXISTS cat_bucketed")
    // the in-memory metastore forgets tables between JVMs but their
    // warehouse directories persist — clear them too
    val wh = new java.net.URI(spark.conf.get("spark.sql.warehouse.dir")).getPath
    Seq("pts_bucketed", "cat_bucketed").foreach { t =>
      val d = new java.io.File(wh, t)
      if (d.exists()) {
        java.nio.file.Files.walk(d.toPath)
          .sorted(java.util.Comparator.reverseOrder())
          .forEach(p => java.nio.file.Files.delete(p))
      }
    }
    PointsStore.writeBucketed(pts, "pts_bucketed", buckets = 8)
    PointsStore.writeBucketed(cat, "cat_bucketed", buckets = 8)
    val joined = spark.table("pts_bucketed")
      .join(spark.table("cat_bucketed").hint("merge"), Seq("metric_id"))
      .groupBy("metric_id", "aggregator").agg(sqlSum("value").as("s"))
    assert(joined.count() === 50)
    // co-located buckets: the sort-merge join must read both sides
    // without an Exchange (shuffle) under it
    val plan = joined.queryExecution.executedPlan.toString
    assert(plan.contains("SortMergeJoin"), plan.take(2000))
    val joinPart = plan.substring(plan.indexOf("SortMergeJoin"))
    assert(!joinPart.contains("Exchange hashpartitioning"), joinPart.take(2500))
    spark.sql("DROP TABLE IF EXISTS pts_bucketed")
    spark.sql("DROP TABLE IF EXISTS cat_bucketed")
  }

  test("retention expiry drops whole old buckets") {
    val dir = java.nio.file.Files.createTempDirectory("pts2").toString
    val stage = Stage.fromString("10*60s", stage0 = true) // 600 s retention
    val pts = Seq(("m", 0L, 1.0, 1.0, 0), ("m", 100000L, 2.0, 1.0, 0))
      .toDF("metric_id", "ts", "value", "count", "replica")
    PointsStore.write(pts, dir, stage)
    val all = spark.read.parquet(dir)
    val kept = PointsStore.expireOldBuckets(all, Seq(stage), nowS = 100100L)
    assert(kept.select("ts").as[Long].collect().toSeq === Seq(100000L))
  }

  test("the writers produce exactly the declared schemas") {
    import org.apache.spark.sql.types.StructType
    def tmp(p: String) = java.nio.file.Files.createTempDirectory(p).toString
    /** One data file's footer schema and the directory's column order. */
    def written(dir: String): (StructType, Seq[String]) = {
      val file = java.nio.file.Files.walk(java.nio.file.Paths.get(dir))
        .filter(_.toString.endsWith(".parquet")).findFirst().get.toString
      (spark.read.parquet(file).schema, spark.read.parquet(dir).columns.toSeq)
    }
    def dataCols(s: StructType, partitions: Int) = StructType(s.dropRight(partitions))

    val cat = tmp("declcat")
    MetricCatalog.writeDated(MetricCatalog.catalogRows(
      Seq(("a.b", "average", "60*60s", 0.5))
        .toDF("name", "aggregator", "retention", "xfilesfactor"), 60L), cat)
    assert(written(cat) ===
      ((dataCols(MetricCatalog.Schema, 1), MetricCatalog.Schema.fieldNames.toSeq)))

    val stage = Stage(1440, 60, stage0 = true)
    val seqd = tmp("declseq")
    PointsStore.writeMulti(Seq((Seq(("m", 60L, 1.0, 1.0, 0, 3L))
      .toDF("metric_id", "ts", "value", "count", "replica", "batch_seq"),
      stage, 1)), seqd)
    assert(written(seqd) ===
      ((dataCols(PointsStore.Schema, 2), PointsStore.Schema.fieldNames.toSeq)))
    assert(PointsStore.declaresUpserts(seqd))
    // a plain batch keeps its columns: no batch_seq, no declaration
    val plain = tmp("declplain")
    PointsStore.write(Seq(("m", 60L, 1.0, 1.0, 0))
      .toDF("metric_id", "ts", "value", "count", "replica"), plain, stage)
    assert(written(plain)._2 === PointsStore.Schema.fieldNames.toSeq
      .filterNot(_ == "batch_seq"))
    assert(!PointsStore.declaresUpserts(plain))
  }
}
