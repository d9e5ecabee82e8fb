package graft.sources

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.types._

import graft.glob.{Glob, GlobPredicates}

/** The metric-name catalog as a DataFrame: one row per metric with derived
  * per-component path columns `p0..pN`, `depth`, and `parent` — the same
  * shape the reference stores in `metrics_metadata`
  * (biggraphite/drivers/cassandra.py:662-713) and as ES documents
  * (biggraphite/drivers/elasticsearch.py:202-221). Those columns are what
  * make glob resolution a pruned columnar scan instead of a regex-only
  * full scan.
  */
object MetricCatalog {

  /** Live catalog handle for streaming metric auto-create: read the
    * current committed catalog (None before the first commit) and commit
    * a replacement version atomically. [[graft.cli.Bgutil.Db]]'s
    * versioned CURRENT pointer is the standard implementation; tests may
    * back it with anything. Runs on the DRIVER inside foreachBatch —
    * implementations need not be serializable. */
  trait CatalogStore {
    def current(spark: SparkSession): Option[DataFrame]
    def commit(df: DataFrame): Unit
  }

  /** Number of materialized component columns; the reference's
    * COMPONENTS_MAX_LEN=64 is env-tunable (drivers/cassandra_common.py:20-22).
    * 16 covers realistic Graphite namespaces; deeper names still work via
    * the regex path. */
  val MaxComponents = 16

  /** A committed catalog's columns in the order [[catalogRows]] and
    * [[writeDated]] write them; rows made without xfilesfactor read it
    * as null. */
  val Schema: StructType = StructType(
    Seq("name", "aggregator", "retention").map(StructField(_, StringType)) ++
      Seq(StructField("xfilesfactor", DoubleType)) ++
      (0 until MaxComponents).map(i => StructField(s"p$i", StringType)) ++
      Seq(StructField("depth", IntegerType), StructField("parent", StringType),
        StructField("id", StringType), StructField("updated_on", LongType),
        StructField("updated_month", LongType)))

  /** Add id/p0..pN/depth/parent columns to a DataFrame with a `name`
    * column. Pure column derivations — no shuffle. */
  def withDerivedColumns(df: DataFrame, maxComponents: Int = MaxComponents): DataFrame = {
    val parts = split(col("name"), "\\.")
    val withComponents = (0 until maxComponents).foldLeft(df) { (d, i) =>
      d.withColumn(s"p$i", get(parts, lit(i)))
    }
    withComponents
      .withColumn("depth", size(parts))
      .withColumn("parent",
        when(size(parts) > 1,
          concat(concat_ws(".", slice(parts, lit(1), size(parts) - 1)), lit(".")))
          .otherwise(lit("")))
  }

  /** `MetricName.sanitize` as a column: drop empty path components,
    * "a..b." → "a.b" (metric.py:181-194). Every writer applies it before
    * a name is keyed, so a metric has one name however it came in. Two
    * regex replaces rather than split/filter/join: a higher-order
    * `filter` has no generated code, and this runs on every carbon line. */
  def sanitizedName(name: Column): Column =
    regexp_replace(regexp_replace(name, "\\.\\.+", "."), "^\\.|\\.\\z", "")

  /** The one way a catalog row is made. `metrics` carries name,
    * aggregator, retention and optionally xfilesfactor; each row gains the
    * derived p0..pN/depth/parent columns, `updated_on`, and `id` = UUIDv5
    * of the name (native graft_uuid5, codegen'd) — the key every writer
    * stores the metric's points under. */
  def catalogRows(metrics: DataFrame, updatedOn: Long): DataFrame =
    withDerivedColumns(metrics)
      .withColumn("id", graft.functions.GraftFunctions.graft_uuid5(col("name")))
      .withColumn("updated_on", lit(updatedOn))

  /** The one catalog upsert (create_metric, drivers/cassandra.py
    * 1783-1804): [[dedupByName]] over the committed catalog and the
    * incoming [[catalogRows]], an incoming row winning a tie on
    * `updated_on` — so a metric re-created with a new aggregator or
    * retention at the same instant takes the new one. */
  def upsert(existing: Option[DataFrame], incoming: DataFrame): DataFrame =
    existing match {
      case None => incoming
      case Some(cat) => dedupByName(
        cat.withColumn("__incoming", lit(0)).unionByName(
          incoming.withColumn("__incoming", lit(1)), allowMissingColumns = true),
        col("__incoming")).drop("__incoming")
    }

  /** Resolve a glob over the catalog: prunable component predicates + the
    * authoritative anchored-regex post-filter, sorted by name and capped —
    * the reference's max_metrics_per_pattern guard
    * (drivers/cassandra.py:291-295,2149-2176). */
  def globMetrics(catalog: DataFrame, glob: String,
      maxMetrics: Int = 5000): DataFrame = {
    require(Glob.isValid(glob), s"invalid glob: $glob")
    // a bare top-level comma makes the compiled regex a whole-pattern
    // alternation ('a,b' → '^a|b$', matching the reference tokenizer);
    // per-component predicates and the fully-defined shortcut would
    // contradict it, so the regex alone is authoritative here
    if (Glob.hasTopLevelAlternation(glob))
      return catalog.filter(col("name").rlike(Glob.toRegex(glob)))
        .orderBy("name").limit(maxMetrics)
    GlobPredicates.fullyDefined(glob) match {
      case Some(names) =>
        // fully-defined shortcut (drivers/cassandra.py:2100-2113)
        catalog.filter(col("name").isin(names: _*)).orderBy("name").limit(maxMetrics)
      case None =>
        catalog.filter(GlobPredicates.forMetrics(glob, col("name"),
            maxComponents = MaxComponents))
          .orderBy("name").limit(maxMetrics)
    }
  }

  /** Directory names derived from metrics — the ES driver's approach when
    * no directory index exists (drivers/elasticsearch.py:587-629): every
    * proper prefix of every metric name. */
  def directories(catalog: DataFrame): DataFrame = {
    val parts = split(col("name"), "\\.")
    catalog
      // depth-1 names have no parent dirs (and sequence(1,0) would step
      // BACKWARD in Spark, yielding phantom empty prefixes)
      .filter(size(parts) > 1)
      .select(explode(sequence(lit(1), size(parts) - 1)).as("d"), parts.as("parts"))
      .select(concat_ws(".", slice(col("parts"), lit(1), col("d"))).as("name"))
      .distinct()
  }

  /** The reference's hard failure when a glob explodes
    * (drivers/cassandra.py:605-607, TooManyMetrics): resolve with a
    * limit of max+1 and throw if the cap is hit. */
  final class TooManyMetrics(glob: String, max: Int)
    extends RuntimeException(
      s"Query '$glob' yields more than $max results")

  def globMetricsStrict(catalog: DataFrame, glob: String,
      maxMetrics: Int = 5000): DataFrame = {
    // cache before counting so the guard and the downstream consumer share
    // one scan instead of re-executing the glob twice
    val capped = globMetrics(catalog, glob, maxMetrics + 1).cache()
    if (capped.count() > maxMetrics) {
      capped.unpersist()
      throw new TooManyMetrics(glob, maxMetrics)
    }
    capped
  }

  /** Glob over directory names (drivers/cassandra.py:2071-2076). */
  def globDirectories(catalog: DataFrame, glob: String,
      maxMetrics: Int = 5000): DataFrame = {
    require(Glob.isValid(glob), s"invalid glob: $glob")
    directories(catalog)
      .filter(col("name").rlike(Glob.toRegex(glob)))
      .orderBy("name").limit(maxMetrics)
  }

  /** Latest-version dedup by name — the ES doc resolution rule
    * (drivers/elasticsearch.py:667-677): keep the most recent updated_on,
    * the greatest `tieBreak` among rows of one updated_on. */
  private def dedupByName(catalog: DataFrame, tieBreak: Column): DataFrame = {
    val w = Window.partitionBy(col("name"))
      .orderBy(col("updated_on").desc, tieBreak.desc)
    catalog.withColumn("__rn", row_number().over(w))
      .filter(col("__rn") === 1).drop("__rn")
  }

  /** 30-day span of the dated catalog layout — the ES driver's dated
    * metadata indices (drivers/elasticsearch.py:461-533 writes
    * `index-YYYY-MM-DD` and scans only the recent ones) mapped onto a
    * parquet partition column. */
  val MonthSpanS: Long = 30L * 86400

  /** Derive the `updated_month` partition column (floor of updated_on to
    * the 30-day grid). Idempotent — re-deriving overwrites in place. */
  def withUpdatedMonth(catalog: DataFrame): DataFrame =
    catalog.withColumn("updated_month",
      (col("updated_on") / MonthSpanS).cast("long") * MonthSpanS)

  /** Write a catalog partitioned by `updated_month` — the dated-index
    * layout: maintenance scans over "metrics updated before/after T"
    * then prune whole month directories instead of reading the full
    * catalog (see [[expiredMetrics]]). */
  def writeDated(catalog: DataFrame, dir: String): Unit =
    withUpdatedMonth(catalog).write.mode("overwrite")
      .partitionBy("updated_month").parquet(dir)

  /** Metrics whose catalog entry went stale (bgutil clean,
    * drivers/cassandra.py:3052-3141): updated_on older than maxAgeS, on
    * a dated catalog ([[writeDated]]). The month floor never exceeds
    * updated_on, so `updated_month <= cutoff` is a lossless
    * partition-pruning pre-filter: whole new-month dirs are skipped at
    * plan time. */
  def expiredMetrics(catalog: DataFrame, nowS: Long, maxAgeS: Long): DataFrame = {
    val cutoff = nowS - maxAgeS
    catalog.filter(col("updated_month") <= lit(cutoff))
      .filter(col("updated_on") <= lit(cutoff))
  }

  /** Orphan points: points whose metric has no catalog row (bgutil repair,
    * drivers/cassandra.py:2734-2842) — a left-anti join. */
  def orphanPoints(points: DataFrame, catalog: DataFrame): DataFrame =
    points.join(catalog.select(col("id").as("metric_id")), Seq("metric_id"), "left_anti")

  /** Directories missing from a directory table (drivers/cassandra.py
    * 2844-2934): expected ancestor set minus existing. The store keeps no
    * directory table — directories derive from the catalog — so this and
    * [[emptyDirectories]] serve the oracle's reconciliation queries. */
  def missingDirectories(catalog: DataFrame, existingDirs: DataFrame): DataFrame =
    directories(catalog).join(existingDirs, Seq("name"), "left_anti")

  /** Directories with no metric beneath them (clean empty dirs,
    * drivers/cassandra.py:2936-3050): anti-join dirs against the ancestor
    * closure of live metrics. */
  def emptyDirectories(existingDirs: DataFrame, catalog: DataFrame): DataFrame =
    existingDirs.join(directories(catalog), Seq("name"), "left_anti")
}
