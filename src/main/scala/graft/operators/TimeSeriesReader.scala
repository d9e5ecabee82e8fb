package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.model.{Metric, Retention, Stage}
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

  /** Fetch one metric's dense series from a points store directory.
    * Returns rows (ts, value) covering every step of the aligned window,
    * with nulls where no data exists (plugins/graphite.py:182-219). */
  def fetchSeries(spark: SparkSession, baseDir: String, metric: Metric,
      startS: Long, endS: Long, nowS: Long): DataFrame = {
    val p = plan(metric.retention, startS, endS, nowS)
    val clampedStart = math.max(p.startS, p.endS - p.stage.durationS)
    val rows = PointsStore.read(spark, baseDir, p.stage, clampedStart, p.endS,
      Seq(metric.id))
      .withColumn("aggregator", lit(metric.aggregator.name))
    val series = Downsample.pointGrouper(rows, p.stepS)
    Downsample.denseSpine(series, p.startS, p.endS, p.stepS)
      .select(col("ts"), col("value"))
      .orderBy("ts")
  }

  /** Resolve a glob against the catalog and fetch every matching series,
    * one result row per (name, ts) — the find+fetch_async flow
    * (plugins/graphite.py:365-412,142-225) as a single plan: the glob
    * filter prunes the catalog scan, a broadcast join attaches metadata,
    * and one grouped pass re-aggregates all series together. */
  def findAndFetch(spark: SparkSession, catalog: DataFrame, baseDir: String,
      glob: String, stage: Stage, startS: Long, endS: Long): DataFrame = {
    val metrics = MetricCatalog.globMetrics(catalog, glob)
      .select(col("id").as("metric_id"), col("name"), col("aggregator"))
    val rows = PointsStore.read(spark, baseDir, stage, startS, endS)
      .drop("aggregator")
      .join(broadcast(metrics), Seq("metric_id"))
    Downsample.pointGrouper(rows, stage.precisionS)
      .join(broadcast(metrics.select("metric_id", "name")), Seq("metric_id"))
      .select(col("name"), col("ts"), col("value"))
      .orderBy("name", "ts")
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

  /** Planned multi-metric read — the full find+fetch lifecycle
    * (plugins/graphite.py:365-412,142-225) as ONE scan per retention class:
    * resolve the glob, group the matched metrics by retention driver-side
    * (the match list is bounded by the glob cap, so this is planning
    * metadata, not data), pick the stage + aligned window per retention
    * (metric.py:593-623), then run a single pruned scan + pointGrouper +
    * dense spine per group. Plan fan-out = #distinct retentions (typically
    * a handful), never #metrics — a glob matching 5,000 metrics is still
    * one scan, unlike a per-metric plan/union loop.
    *
    * The points move through ONE exchange: the scan is hash-partitioned by
    * metric_id, which every later grouping (batch_seq last-write-wins,
    * both pointGrouper aggregations, the per-metric slot fold) already
    * satisfies. The aggregator and xFilesFactor ride as literals keyed on
    * metric_id instead of a join. Rows come back in no particular order;
    * consumers that print sort for themselves.
    *
    * Every found leaf gets a dense vector — metrics with no points in the
    * window come back all-null (plugins/graphite.py:182-219). */
  def findAndFetchPlanned(spark: SparkSession, catalog: DataFrame,
      baseDir: String, glob: String, startS: Long, endS: Long,
      nowS: Long, maxMetrics: Int = 5000, maxDataPoints: Int = 0): DataFrame = {
    import spark.implicits._
    val hasXff = catalog.columns.contains("xfilesfactor")
    val cols = Seq("name", "id", "aggregator", "retention") ++
      (if (hasXff) Seq("xfilesfactor") else Nil)
    val matched = MetricCatalog.globMetrics(catalog, glob, maxMetrics)
      .select(cols.map(col): _*).collect()
    if (matched.isEmpty)
      return Seq.empty[(String, Long, Double)].toDF("name", "ts", "value")
    val groups = matched.groupBy(_.getAs[String]("retention")).toSeq.sortBy(_._1)
    groups.map { case (retStr, rows) =>
      val p = planConsolidated(Retention.fromString(retStr), startS, endS,
        nowS, maxDataPoints)
      val clampedStart = math.max(p.startS, p.endS - p.stage.durationS)
      val metas = rows.toSeq.map(r => (r.getAs[String]("id"),
        r.getAs[String]("name"), r.getAs[String]("aggregator"),
        if (hasXff) r.getAs[Double]("xfilesfactor") else 0.0))
      // consolidation (step > stage precision) is where xFilesFactor
      // bites: under-filled coarse windows come back NaN when the
      // catalog carries a factor (whisper consolidation semantics)
      val xffSrc =
        if (hasXff && p.stepS > p.stage.precisionS) Some(p.stage.precisionS)
        else None
      val scan = PointsStore
        .read(spark, baseDir, p.stage, clampedStart, p.endS, metas.map(_._1),
          byMetric = true)
        .withColumn("aggregator", perMetric(metas.map(m => (m._1, m._3))))
        .withColumn("xff", perMetric(metas.map(m => (m._1, m._4))))
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
      densify(series, metas.map(m => (m._1, m._2)).toDF("metric_id", "name"), p)
    }.reduce(_ unionByName _)
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

  /** Dense vectors: every metric of `names` gets one row per slot of the
    * plan's spine, null where the grouped `series` has no point
    * (plugins/graphite.py:182-219). `series` is clustered by metric_id,
    * so folding each metric's points into one array needs no exchange;
    * the missing slots come from a hashed set difference against the
    * spine, and one sort per metric orders its slots by ts. */
  private def densify(series: DataFrame, names: DataFrame,
      p: FetchPlan): DataFrame = {
    val slotType = "array<struct<ts:bigint,value:double>>"
    val folded = series
      .filter(col("ts") >= p.startS && col("ts") < p.endS)
      .groupBy("metric_id")
      .agg(collect_list(struct(col("ts"), col("value"))).as("__pts"))
    val spine =
      if (p.endS > p.startS) sequence(lit(p.startS), lit(p.endS - 1), lit(p.stepS))
      else array().cast("array<bigint>")
    val pts = coalesce(col("__pts"), array().cast(slotType))
    val empty = transform(array_except(spine, transform(pts, _.getField("ts"))),
      t => struct(t.as("ts"), lit(null).cast("double").as("value")))
    names.join(folded, Seq("metric_id"), "left")
      .select(col("name"), explode(array_sort(concat(pts, empty))).as("__s"))
      .select(col("name"), col("__s.ts").as("ts"), col("__s.value").as("value"))
  }
}
