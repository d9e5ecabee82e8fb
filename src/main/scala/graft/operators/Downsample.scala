package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window

/** Batch downsampling and read-time re-aggregation as declarative DataFrame
  * transforms — the Spark-native equivalent of the reference's per-point
  * Python loops.
  *
  * Reference semantics:
  *  - rollup: biggraphite/drivers/_downsampling.py:29-349 — stage0
  *    last-write-wins per step, then each coarser stage aggregates stage0
  *    points per step via Aggregator.merge, storing (value, count) partials
  *  - read-time grouping: biggraphite/accessor.py:413-584 (PointGrouper) —
  *    group source-stage rows per target step, accumulate per replica,
  *    aggregate with the metric's aggregator, return the replica with the
  *    highest point count (accessor.py:468-505)
  *  - NaN rules: metric.py:340-370 (see graft.model.Aggregator)
  *
  * All five aggregators are computed in one codegen'd pass and dispatched by
  * the metric's `aggregator` column — one shuffle per rollup regardless of
  * how many metrics/aggregators are involved. Partial (map-side) aggregation
  * applies to every branch, so this scales linearly at 100 TB.
  */
object Downsample {

  private def nn(v: Column): Column = when(!isnan(v) && v.isNotNull, v)

  /** Merge raw stage0 rows (count=1 each) into per-step (value, count)
    * partials: metric.py:218-261 `Aggregator.merge` as grouped columns.
    * Expects columns: metric_id, ts (seconds), value, aggregator.
    * Emits: metric_id, aggregator, ts (step-aligned), value, count.
    */
  def rollupStage(points: DataFrame, precisionS: Long,
      extraGroupCols: Seq[Column] = Nil): DataFrame = {
    val stepTs = (floor(col("ts") / precisionS) * precisionS).cast("long")
    points
      .withColumn("__ord", when(nn(col("value")).isNotNull, col("ts")))
      .groupBy(Seq(col("metric_id"), col("aggregator"), stepTs.as("ts"))
        ++ extraGroupCols: _*)
      .agg(
        sum(nn(col("value"))).as("sum_v"),
        count(nn(col("value"))).cast("double").as("cnt_nn"),
        min(nn(col("value"))).as("min_v"),
        max(nn(col("value"))).as("max_v"),
        max_by(col("value"), col("__ord")).as("last_v"),
        count(lit(1)).cast("double").as("cnt_all"))
      .select(
        col("metric_id"), col("aggregator"), col("ts"),
        mergedValue().as("value"),
        mergedCount().as("count"))
  }

  /** Raw points (metric_id, ts, value, aggregator) as stored at stage
    * `st` — the batch form of the carbon write path: stage0 keeps the last
    * write per step with count 1 ([[lastWriteWins]]), a coarser stage holds
    * Aggregator.merge's (value, count) partial per step ([[rollupStage]]).
    * Emits metric_id, ts (step-aligned), value, count, replica = 0 — the
    * [[graft.sources.PointsStore.write]] contract. */
  def stagePoints(raw: DataFrame, st: graft.model.Stage): DataFrame =
    if (st.stage0)
      lastWriteWins(raw, st.precisionS, col("ts"))
        .select(col("metric_id"),
          (floor(col("ts") / st.precisionS) * st.precisionS).cast("long").as("ts"),
          col("value"), lit(1.0).as("count"), lit(0).as("replica"))
    else
      rollupStage(raw, st.precisionS)
        .select(col("metric_id"), col("ts"), col("value"), col("count"),
          lit(0).as("replica"))

  /** Merge already-aggregated (value, count) rows into a coarser stage —
    * same dispatch but counts are summed (weighted), matching
    * Aggregator.merge over partials. Expects: metric_id, ts, value, count,
    * aggregator. */
  def rollupAggregatedStage(points: DataFrame, precisionS: Long): DataFrame = {
    val stepTs = (floor(col("ts") / precisionS) * precisionS).cast("long")
    points
      .withColumn("__ord", when(nn(col("value")).isNotNull, col("ts")))
      .groupBy(col("metric_id"), col("aggregator"), stepTs.as("ts"))
      .agg(
        sum(nn(col("value"))).as("sum_v"),
        sum(when(nn(col("value")).isNotNull, col("count")).otherwise(lit(0.0))).as("cnt_nn"),
        min(nn(col("value"))).as("min_v"),
        max(nn(col("value"))).as("max_v"),
        max_by(col("value"), col("__ord")).as("last_v"),
        sum(col("count")).cast("double").as("cnt_all"))
      .select(
        col("metric_id"), col("aggregator"), col("ts"),
        mergedValue().as("value"),
        mergedCount().as("count"))
  }

  /** metric.py merge: value column per aggregator; all-NaN groups keep NaN
    * (min/max of the empty non-NaN set is null → NaN). */
  private def mergedValue(): Column = {
    val naN = lit(Double.NaN)
    when(col("aggregator").isin("total", "average", "sum"),
        coalesce(col("sum_v"), naN))
      .when(col("aggregator").isin("minimum", "min"), coalesce(col("min_v"), naN))
      .when(col("aggregator").isin("maximum", "max"), coalesce(col("max_v"), naN))
      .otherwise(coalesce(col("last_v"), naN)) // last
  }

  /** metric.py:340-370: total/average count only non-NaN inputs; the others
    * keep every contributing count. */
  private def mergedCount(): Column =
    when(col("aggregator").isin("total", "average", "sum"), col("cnt_nn"))
      .otherwise(col("cnt_all"))

  /** Skew-resistant rollup: salt the group key, aggregate to per-salt
    * partials, then merge the partials with [[rollupAggregatedStage]].
    * Same result as [[rollupStage]] (the aggregators' partial merge is
    * associative by construction — metric.py:218-261), but a metric whose
    * step holds millions of points spreads over `saltBuckets` reducers
    * instead of hot-spotting one. Use when AQE skew handling isn't enough
    * (e.g. a single monster key at 100 TB). */
  def rollupStageSalted(points: DataFrame, precisionS: Long,
      saltBuckets: Int): DataFrame = {
    // `last` partials would lose intra-step ordering (their ts is
    // step-aligned, so the merge could not tell which salt was newest);
    // route those metrics through the direct path
    val lastRows = points.filter(col("aggregator") === "last")
    val salted = points.filter(col("aggregator") =!= "last")
      .withColumn("__salt", pmod(hash(col("ts")), lit(saltBuckets)))
    // salt rides as its own grouping column — metric_id stays untouched,
    // so ids containing any separator character are safe
    val partials = rollupStage(salted, precisionS,
      extraGroupCols = Seq(col("__salt")))
    rollupAggregatedStage(partials, precisionS)
      .unionByName(rollupStage(lastRows, precisionS))
  }

  /** Last-write-wins dedup per (metric_id, step): latest `orderCol` wins —
    * the batch analog of the stage0 ring-buffer override
    * (_downsampling.py:128-189) and of Cassandra upsert semantics. */
  def lastWriteWins(points: DataFrame, precisionS: Long, orderCol: Column,
      extraKeys: Seq[String] = Nil): DataFrame = {
    val cols = points.columns
    val step = floor(col("ts") / precisionS)
    // max_by over the packed row needs no sort (vs a row_number window)
    // and aggregates partially map-side — the winner per slot is decided
    // before the shuffle wherever a mapper holds competing writes. The
    // key columns pass through as the grouping keys themselves, not as
    // struct fields, so a later per-metric grouping still sees the
    // input's metric_id partitioning and needs no exchange of its own
    val keys = "metric_id" +: extraKeys
    points
      .withColumn("__row", struct(cols.map(col): _*))
      .groupBy(Seq(col("metric_id"), step.as("__step"))
        ++ extraKeys.map(col): _*)
      .agg(max_by(col("__row"), orderCol).as("__row"))
      .select(cols.map(c => if (keys.contains(c)) col(c) else col(s"__row.$c")): _*)
  }

  /** Derive the `replica` column from a 16-bit `shard` column
    * (2-bit replica ‖ 14-bit writer, accessor.py:40-63 — see
    * [[graft.model.Shard]]). Rows written by DIFFERENT writers of the
    * same replica land in one replica group, so [[pointGrouper]]'s
    * per-replica accumulation spans writers exactly like the reference
    * (accessor.py:480-505 keys its accumulators on the unpacked
    * replica, never the raw shard). */
  def withReplicaFromShard(df: DataFrame): DataFrame =
    df.withColumn("replica",
      shiftright(col("shard").bitwiseAND(lit(graft.model.Shard.ReplicaMask)),
        graft.model.Shard.ReplicaShift).cast("int"))

  /** Read-time re-aggregation with replica resolution
    * (accessor.py:413-584). Input: metric_id, ts, value, count, replica,
    * aggregator. Groups to `targetPrecisionS` steps; per (group, replica)
    * runs Aggregator.aggregate; keeps the replica with the highest summed
    * count (ties → lowest replica id, matching the reference's first-wins
    * iteration order at accessor.py:480-505). Emits metric_id, ts, value.
    *
    * `xffSourcePrecisionS`: when set, enforces the metric's xFilesFactor
    * (stored and round-tripped by the reference, metric.py:691-698;
    * consumed by graphite/whisper at aggregation time): a window whose
    * known/expected source-point ratio is below the row's `xff` column
    * comes back NaN. `expected` = targetPrecision / sourcePrecision,
    * `known` = source rows present in the winning replica's window. */
  def pointGrouper(rows: DataFrame, targetPrecisionS: Long,
      xffSourcePrecisionS: Option[Long] = None): DataFrame = {
    val stepTs = (floor(col("ts") / targetPrecisionS) * targetPrecisionS).cast("long")
    val xffCol = if (xffSourcePrecisionS.isDefined) col("xff") else lit(0.0)
    val perReplica = rows
      .withColumn("__ord", when(nn(col("value")).isNotNull, col("ts")))
      .groupBy(col("metric_id"), col("aggregator"), col("replica"), stepTs.as("ts"))
      .agg(
        sum(nn(col("value"))).as("sum_v"),
        sum(when(nn(col("value")).isNotNull, col("count")).otherwise(lit(0.0))).as("cnt_nn"),
        min(nn(col("value"))).as("min_v"),
        max(nn(col("value"))).as("max_v"),
        max_by(col("value"), col("__ord")).as("last_v"),
        sum(col("count")).cast("double").as("count_sum"),
        count(lit(1)).cast("double").as("rows_n"),
        max(xffCol).as("__xff"))
    val naN = lit(Double.NaN)
    val finalValue =
      when(col("aggregator").isin("total", "sum"), coalesce(col("sum_v"), naN))
        .when(col("aggregator") === "average",
          when(col("cnt_nn") > 0, col("sum_v") / col("cnt_nn")).otherwise(naN))
        .when(col("aggregator").isin("minimum", "min"), coalesce(col("min_v"), naN))
        .when(col("aggregator").isin("maximum", "max"), coalesce(col("max_v"), naN))
        .otherwise(coalesce(col("last_v"), naN))
    // Densest-replica pick as a second aggregation instead of a ranking
    // window: max_by over (count_sum, -replica) needs no sort, keeps
    // map-side partial aggregation, and AQE can coalesce the exchange —
    // strictly cheaper than row_number at scale.
    val picked = perReplica
      .withColumn("value", finalValue)
      .groupBy(col("metric_id"), col("ts"))
      .agg(max_by(struct(col("value"), col("rows_n"), col("__xff")),
        struct(col("count_sum"), -col("replica"))).as("__w"))
    xffSourcePrecisionS match {
      case None =>
        picked.select(col("metric_id"), col("ts"), col("__w.value").as("value"))
      case Some(srcP) =>
        val expected = lit((targetPrecisionS / srcP).toDouble)
        picked.select(col("metric_id"), col("ts"),
          when(col("__w.rows_n") / expected < col("__w.__xff"), naN)
            .otherwise(col("__w.value")).as("value"))
    }
  }

  /** Dense time-spine materialization (plugins/graphite.py:182-219): one
    * slot per step in [startS, endS), null where no point. */
  def denseSpine(points: DataFrame, startS: Long, endS: Long, stepS: Long): DataFrame = {
    val spine = points.sparkSession.range(startS, endS, stepS)
      .select(col("id").as("ts"))
    val metricIds = points.select("metric_id").distinct()
    metricIds.crossJoin(spine)
      .join(points, Seq("metric_id", "ts"), "left")
      .select(col("metric_id"), col("ts"), col("value"))
  }
}
