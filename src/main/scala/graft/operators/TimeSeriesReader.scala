package graft.operators

import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{ArrayType, DoubleType, LongType, StringType, StructField, StructType}

import graft.model.{Retention, Stage}
import graft.sources.{MetricCatalog, PointsStore}

/** The Finder/Reader facade: glob → metrics → aligned window → pruned
  * scan → re-aggregation → dense series, mirroring the reference read
  * lifecycle (SURVEY.md §3.1; plugins/graphite.py:61-496).
  *
  * Planning (stage pick, window alignment) is pure driver-side logic on
  * [[graft.model.Retention]]; data movement is one pruned scan plus the
  * [[Downsample.pointGrouper]] shuffle.
  */
object TimeSeriesReader {

  /** A planned fetch: the aligned window and chosen stage
    * (metric.py:593-623). `stepS` may be a coarser multiple of the stage
    * precision when consolidation applies. */
  final case class FetchPlan(startS: Long, endS: Long, stage: Stage, stepS: Long)

  def plan(retention: Retention, startS: Long, endS: Long, nowS: Long): FetchPlan = {
    val (s, e, stage) = retention.alignTimeWindow(startS, endS, nowS)
    FetchPlan(s, e, stage, stage.precisionS)
  }

  /** graphite-web's maxDataPoints consolidation, planned server-side:
    * when the aligned window holds more than `maxDataPoints` steps, the
    * step widens to the smallest multiple of the stage precision that
    * fits the budget (graphite consolidates client-side after fetching;
    * planning it here means the consolidation happens INSIDE the same
    * grouped pass that re-aggregates replicas — no extra shuffle, and
    * far fewer rows leave the cluster). The window edges re-align to the
    * coarser step. */
  def planConsolidated(retention: Retention, startS: Long, endS: Long,
      nowS: Long, maxDataPoints: Int): FetchPlan = {
    val p = plan(retention, startS, endS, nowS)
    val points = (p.endS - p.startS) / p.stepS
    if (maxDataPoints <= 0 || points <= maxDataPoints) p
    else {
      val factor = Math.floorDiv(points + maxDataPoints - 1, maxDataPoints)
      // keep the fine-aligned edges: consolidated windows anchor at
      // p.startS (graphite-web consolidates the fetched series from its
      // first point), so the emitted spine stays inside [startS, endS)
      // and holds ceil(points/factor) ≤ maxDataPoints slots — no
      // out-of-window slot and no budget overshoot from re-aligning
      // outward to the coarser step
      FetchPlan(p.startS, p.endS, p.stage, p.stepS * factor)
    }
  }

  /** Combined find: leaves (metrics) and branches (directories) matching
    * one glob, as graphite-web's find_nodes returns LeafNode/BranchNode
    * sets together (plugins/graphite.py:405-412). One catalog pass per
    * kind; `is_leaf` distinguishes them. */
  def findNodes(catalog: DataFrame, glob: String,
      maxMetrics: Int = 5000): DataFrame = {
    val leaves = MetricCatalog.globMetrics(catalog, glob, maxMetrics)
      .select(col("name"), lit(true).as("is_leaf"))
    val dirs = MetricCatalog.globDirectories(catalog, glob, maxMetrics)
      .select(col("name"), lit(false).as("is_leaf"))
    leaves.unionByName(dirs).orderBy("name", "is_leaf")
  }

  /** One metric a glob matched: the catalog columns a fetch plans with.
    * `xff` is set when the metric has an xFilesFactor. */
  final case class Matched(name: String, id: String, aggregator: String,
      retention: String, xff: Option[Double])

  /** Resolve a glob against the catalog — graphite's find
    * (plugins/graphite.py:365-412) — into the glob-capped, name-ordered
    * match list a fetch plans with: one catalog job. */
  def resolve(catalog: DataFrame, glob: String,
      maxMetrics: Int = 5000): IndexedSeq[Matched] = {
    val hasXff = catalog.columns.contains("xfilesfactor")
    val cols = Seq("name", "id", "aggregator", "retention") ++
      (if (hasXff) Seq("xfilesfactor") else Nil)
    MetricCatalog.globMetrics(catalog, glob, maxMetrics)
      .select(cols.map(col): _*).collect().toIndexedSeq
      .map(r => Matched(r.getString(0), r.getString(1), r.getString(2),
        r.getString(3),
        if (hasXff && !r.isNullAt(4)) Some(r.getDouble(4)) else None))
  }

  /** Planned multi-metric read — the full find+fetch lifecycle
    * (plugins/graphite.py:365-412,142-225): [[resolve]], then
    * [[fetchMatched]]. */
  def findAndFetchPlanned(spark: SparkSession, catalog: DataFrame,
      baseDir: String, glob: String, startS: Long, endS: Long,
      nowS: Long, maxMetrics: Int = 5000, maxDataPoints: Int = 0): DataFrame =
    fetchMatched(spark, resolve(catalog, glob, maxMetrics), baseDir, startS,
      endS, nowS, maxDataPoints)

  /** The rows every read returns: one per (name, ts) slot. */
  val SeriesSchema: StructType = StructType(Seq(
    StructField("name", StringType),
    StructField("ts", LongType, nullable = false),
    StructField("value", DoubleType)))

  /** What the driver holds of a fetch: one row per metric, its dense
    * slot vector (null where no point). */
  private val VectorSchema = StructType(Seq(
    StructField("name", StringType),
    StructField("values", ArrayType(DoubleType))))

  /** Fetch the dense series of resolved metrics. The matched metrics are
    * grouped by retention driver-side (the match list is bounded by the
    * glob cap, so this is planning metadata, not data); each retention
    * class picks its stage + aligned window (metric.py:593-623) and runs
    * ONE pruned scan + [[Downsample.pointGrouper]], so plan fan-out is
    * #distinct retentions, never #metrics.
    *
    * Spark does every data reduction: the scan is hash-partitioned by
    * metric_id once, which the batch_seq last-write-wins merge and both
    * pointGrouper aggregations share; aggregator and xFilesFactor ride as
    * literals keyed on metric_id. The grouped (metric_id, ts, value) rows
    * of every class ([[groupedPoints]]) are collected in one result job,
    * and each matched metric is then densified on the driver into one
    * vector against its class's spine — a slot per step, null where no
    * point — the way the reference's read_points builds its arrays in
    * the web process (plugins/graphite.py:182-219). Every matched leaf
    * gets a vector, so a metric with no points in the window comes back
    * all-null.
    *
    * `hot` fills slots the durable store leaves null, keyed by (name,
    * ts) — carbonlink's merge (plugins/graphite.py:196-205); durable
    * values always win.
    *
    * The driver keeps one row per metric, its vector; a posexplode turns
    * the vectors into (name, ts, value) rows inside Spark, so a reducing
    * render streams the slots instead of holding a driver-side row per
    * slot (a local row per slot ran a 3 GB driver out of heap on
    * sumSeries over 5000 metrics × 1440 slots). Rows come back
    * unordered. */
  def fetchMatched(spark: SparkSession, matched: Seq[Matched],
      baseDir: String, startS: Long, endS: Long, nowS: Long,
      maxDataPoints: Int = 0,
      hot: Map[(String, Long), Double] = Map.empty): DataFrame = {
    if (matched.isEmpty)
      return spark.createDataFrame(java.util.Collections.emptyList[Row](), SeriesSchema)
    val (classes, points) = groupedPoints(spark, matched, baseDir, startS,
      endS, nowS, maxDataPoints)
    val byId = scala.collection.mutable.HashMap
      .empty[String, scala.collection.mutable.LongMap[java.lang.Double]]
    points.collect().foreach { r =>
      byId.getOrElseUpdate(r.getString(0),
        scala.collection.mutable.LongMap.empty[java.lang.Double])
        .update(r.getLong(1), if (r.isNullAt(2)) null else r.getDouble(2))
    }
    val none = scala.collection.mutable.LongMap.empty[java.lang.Double]
    classes.map { case (p, ms) =>
      val slots =
        if (p.endS > p.startS) Math.toIntExact((p.endS - p.startS - 1) / p.stepS + 1)
        else 0
      val vectors = new java.util.ArrayList[Row](ms.size)
      for (m <- ms) {
        val pts = byId.getOrElse(m.id, none)
        val values = new Array[java.lang.Double](slots)
        var i = 0
        while (i < slots) {
          val ts = p.startS + i * p.stepS
          values(i) = pts.getOrNull(ts) match {
            case null if hot.nonEmpty =>
              hot.get((m.name, ts)).map(Double.box).orNull
            case d => d
          }
          i += 1
        }
        vectors.add(Row(m.name, values))
      }
      spark.createDataFrame(vectors, VectorSchema)
        .select(col("name"), posexplode(col("values")))
        .select(col("name"), (col("pos") * p.stepS + p.startS).as("ts"),
          col("col").as("value"))
    }.reduce(_ unionByName _)
  }

  /** The retention classes of a fetch — each one's plan and metrics, in
    * retention order — and the grouped points [[fetchMatched]] collects:
    * one pruned scan + pointGrouper per class, unioned. */
  private[graft] def groupedPoints(spark: SparkSession, matched: Seq[Matched],
      baseDir: String, startS: Long, endS: Long, nowS: Long,
      maxDataPoints: Int): (Seq[(FetchPlan, Seq[Matched])], DataFrame) = {
    val classes = matched.groupBy(_.retention).toSeq.sortBy(_._1).map {
      case (retStr, ms) =>
        (planConsolidated(Retention.fromString(retStr), startS, endS, nowS,
          maxDataPoints), ms)
    }
    (classes, classes.map { case (p, ms) => grouped(spark, baseDir, ms, p) }
      .reduce(_ unionByName _))
  }

  /** One retention class's grouped points in the plan's window:
    * (metric_id, ts, value) rows, at most one per slot. */
  private def grouped(spark: SparkSession, baseDir: String,
      ms: Seq[Matched], p: FetchPlan): DataFrame = {
    val clampedStart = math.max(p.startS, p.endS - p.stage.durationS)
    // consolidation (step > stage precision) is where xFilesFactor
    // bites: under-filled coarse windows come back NaN when the
    // catalog carries a factor (whisper consolidation semantics)
    val hasXff = ms.exists(_.xff.isDefined)
    val xffSrc =
      if (hasXff && p.stepS > p.stage.precisionS) Some(p.stage.precisionS)
      else None
    val scan = PointsStore
      .read(spark, baseDir, p.stage, clampedStart, p.endS, ms.map(_.id),
        byMetric = true)
      .withColumn("aggregator", perMetric(ms.map(m => (m.id, m.aggregator))))
      .withColumn("xff", perMetric(ms.map(m => (m.id, m.xff.getOrElse(0.0)))))
    // consolidated windows anchor at the (stage-aligned) window start,
    // which need not be a multiple of the widened step: shift to a
    // start-relative timeline for the grouping, shift back after —
    // pointGrouper itself stays absolute-aligned for plain reads
    val series =
      if (p.stepS > p.stage.precisionS)
        Downsample.pointGrouper(
            scan.withColumn("ts", col("ts") - p.startS), p.stepS, xffSrc)
          .withColumn("ts", col("ts") + p.startS)
      else Downsample.pointGrouper(scan, p.stepS, xffSrc)
    series.filter(col("ts") >= p.startS && col("ts") < p.endS)
      .select("metric_id", "ts", "value")
  }

  /** A per-metric attribute as an expression over metric_id: one literal
    * when every metric shares the value, else a CASE over the id set of
    * each value (hashed IN lists — per-row cost does not grow with the
    * match count the way a map-literal lookup's scan would). */
  private def perMetric[T](values: Seq[(String, T)]): Column = {
    val byValue = values.groupBy(_._2).toSeq
      .map { case (v, ids) => (v, ids.map(_._1)) }
      .sortBy { case (v, ids) => (-ids.size, v.toString) }
    byValue.tail.foldLeft(lit(byValue.head._1)) { case (rest, (v, ids)) =>
      when(col("metric_id").isin(ids: _*), lit(v)).otherwise(rest)
    }
  }
}
