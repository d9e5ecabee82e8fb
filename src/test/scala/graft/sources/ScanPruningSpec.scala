package graft.sources

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.{FileSourceScanExec, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.functions._
import graft.SparkSuite
import graft.model.Stage

/** What the built-in parquet scan skips on the catalog and points
  * layouts: whole bucket directories by partition pruning, and row groups
  * by the pushed glob / metric_id predicates. The vectorized reader
  * applies no record-level filter, so the scan's output rows are exactly
  * the rows of the row groups that survived. */
class ScanPruningSpec extends SparkSuite {
  import spark.implicits._

  private def scans(p: SparkPlan): Seq[FileSourceScanExec] = {
    val here = p match {
      case a: AdaptiveSparkPlanExec => scans(a.executedPlan)
      case q: QueryStageExec => scans(q.plan)
      case f: FileSourceScanExec => Seq(f)
      case _ => Nil
    }
    here ++ p.children.flatMap(scans)
  }

  /** Collect `df`, then its one scan's (files read, rows output). */
  private def scanned(df: DataFrame): (Array[org.apache.spark.sql.Row], Long, Long) = {
    val rows = df.collect()
    val scan = scans(df.queryExecution.executedPlan)
    assert(scan.size === 1, s"expected one file scan, saw ${scan.size}")
    (rows, scan.head.metrics("numFiles").value,
      scan.head.metrics("numOutputRows").value)
  }

  test("a p0 = 'sys' glob over the 3-family catalog reads 500 of 1500 rows") {
    val dir = java.nio.file.Files.createTempDirectory("catprune").toString
    val names =
      (0 until 500).map(i => s"ev.click.h$i.latency") ++
      (0 until 500).map(i => s"sys.cpu.h$i.load") ++
      (0 until 500).map(i => s"zz.tail.h$i.usage")
    val cat = MetricCatalog.withDerivedColumns(names.toDF("name"))
      .withColumn("id", col("name"))
    // one file per p0 family: disjoint p0 stats per file, so the pushed
    // p0 equality proves two of the three files empty
    Seq("ev", "sys", "zz").foreach { fam =>
      cat.filter(col("p0") === fam).coalesce(1)
        .write.mode("append").parquet(dir)
    }
    val (rows, _, read) = scanned(
      MetricCatalog.globMetrics(spark.read.parquet(dir), "sys.cpu.*.load"))
    assert(rows.length === 500)
    assert(rows.forall(_.getAs[String]("name").startsWith("sys.cpu.")))
    assert(read === 500, s"expected only the sys file's rows, read $read")
  }

  test("a one-id fetch reads only the in-range bucket's files, and fewer " +
      "rows than that bucket holds (metric_id row-group pruning)") {
    val dir = java.nio.file.Files.createTempDirectory("ptsprune").toString
    val stage = Stage(points = 24 * 60, precisionS = 60, stage0 = false)
    val span = PointsStore.bucketSpanS(60) // 120000 s per bucket
    // 40 metrics × 3 buckets × 10 points; writeSalt = 8 fans each bucket
    // out over several files, each holding a hash slice of the metrics
    val pts = (0 until 40).flatMap { m =>
      (0 until 30).map(i => (s"metric-$m", i * 12000L, m + i * 0.5, 1L, 0))
    }.toDF("metric_id", "ts", "value", "count", "replica")
    // tiny fixture: AQE would coalesce the salted shuffle to one task and
    // one file per bucket — disable it so the salt actually fans files out
    spark.conf.set("spark.sql.adaptive.coalescePartitions.enabled", "false")
    try PointsStore.write(pts, dir, stage, writeSalt = 8)
    finally spark.conf.set("spark.sql.adaptive.coalescePartitions.enabled", "true")

    def parquetFiles(d: java.io.File): Seq[java.io.File] =
      Option(d.listFiles()).getOrElse(Array.empty).toSeq.flatMap { f =>
        if (f.isDirectory) parquetFiles(f)
        else if (f.getName.endsWith(".parquet")) Seq(f) else Nil
      }
    val allFiles = parquetFiles(new java.io.File(dir))
    val bucketFiles =
      allFiles.count(_.getParentFile.getName == s"bucket=$span")
    assert(allFiles.size > bucketFiles)
    assert(bucketFiles > 1, s"expected salt fan-out, saw $bucketFiles file(s)")

    val (rows, files, read) = scanned(
      PointsStore.read(spark, dir, stage, span, 2 * span, Seq("metric-7"))
        .select("metric_id", "ts", "value"))
    val want = (10 until 20).map(i => ("metric-7", i * 12000L, 7 + i * 0.5))
    assert(rows.map(r => (r.getString(0), r.getLong(1), r.getDouble(2)))
      .sortBy(_._2).toSeq === want)
    // partition pruning: only the in-range bucket's files were listed
    assert(files === bucketFiles)
    // row-group pruning inside them: the bucket holds 40 × 10 rows
    assert(read >= 10 && read < 400,
      s"expected metric_id row-group pruning: read $read of 400 rows")
  }
}
