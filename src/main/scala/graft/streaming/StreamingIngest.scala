package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
import org.apache.spark.sql.types.{DoubleType, LongType}

import graft.model._

/** Structured-Streaming ingestion: the carbon write path (SURVEY.md §3.2)
  * as `groupByKey(metric).flatMapGroupsWithState` carrying the exact
  * ring-buffer downsampler state per metric.
  *
  * Semantics preserved from the reference
  * (biggraphite/drivers/_downsampling.py, plugins/carbon.py:177-369):
  *  - per-metric ring buffer (capacity 20) with last-write-wins per stage0
  *    step; out-of-order points within the buffer are merged, older ones
  *    dropped from rollups
  *  - every emission is (metric, stage, ts, value, count); persisting with
  *    last-write-wins per (metric, stage, ts) — e.g. a foreachBatch upsert
  *    — reproduces the store exactly (re-emission of running coarse
  *    aggregates replaces the DelayedWriter, _delayed_writer.py:27-148)
  *  - idle metrics are evicted via processing-time timeout, replacing the
  *    hourly purge sweep (_downsampling.py:72-82)
  */
object StreamingIngest {

  /** One incoming raw point. */
  final case class RawPoint(metric: String, ts: Long, value: Double)

  /** Parse carbon plaintext-protocol lines (`<name> <value> <timestamp>`,
    * the format carbon daemons accept on :2003 and what a
    * socket/text-file streaming source yields) into [[RawPoint]]s.
    * Malformed lines are DROPPED, like carbon's per-line try/except;
    * `nan` values parse (NaN is the protocol's missing marker,
    * metric.py:32). Names are sanitized here, so the ring-buffer state,
    * the auto-create and the spool overlay all see one name. Pure column
    * expressions — the parse stays inside whole-stage codegen on the
    * ingest hot path. */
  def parseCarbonLines(lines: DataFrame, lineCol: String = "value"): Dataset[RawPoint] = {
    val spark = lines.sparkSession
    import spark.implicits._
    val parts = split(trim(col(lineCol)), "\\s+")
    lines
      .select(parts.as("p"))
      .filter(size(col("p")) === 3)
      .select(
        graft.sources.MetricCatalog.sanitizedName(element_at(col("p"), 1))
          .as("metric"),
        try_element_at(col("p"), lit(3)).try_cast(LongType).as("ts"),
        try_element_at(col("p"), lit(2)).try_cast(DoubleType).as("value"))
      // try_cast yields null on garbage (non-numeric value/ts) → drop,
      // but keeps NaN values; an empty metric name is not a metric
      .filter(col("metric") =!= "" && col("ts").isNotNull &&
        col("value").isNotNull)
      .as[RawPoint]
  }

  /** One emitted downsampled row. */
  final case class OutPoint(metric: String, stage: String, ts: Long,
      value: Double, count: Double)

  /** Build the per-metric stateful transform. `metadataFor` resolves a
    * metric name to its metadata (e.g. from a broadcast catalog snapshot);
    * it must be serializable.
    *
    * `idleTimeoutMs > 0` enables processing-time state eviction (the purge
    * sweep). Note ProcessingTimeTimeout makes Spark schedule follow-up
    * batches to advance the timeout clock — correct for a real
    * always-on ingest, but a drain-and-stop run (Trigger.AvailableNow, or
    * processAllAvailable in tests) should pass 0 for NoTimeout. */
  def downsampleFlow(
      pointsStream: Dataset[RawPoint],
      metadataFor: String => MetricMetadata,
      capacity: Int = Downsampler.Capacity,
      idleTimeoutMs: Long = 2 * 3600 * 1000L): Dataset[OutPoint] = {
    val spark = pointsStream.sparkSession
    import spark.implicits._
    val timeoutConf =
      if (idleTimeoutMs > 0) GroupStateTimeout.ProcessingTimeTimeout
      else GroupStateTimeout.NoTimeout
    pointsStream
      .groupByKey(_.metric)
      .flatMapGroupsWithState[MetricAggregates.State, OutPoint](
        OutputMode.Append, timeoutConf) {
        (metric: String, rows: Iterator[RawPoint],
            state: GroupState[MetricAggregates.State]) =>
          if (state.hasTimedOut) {
            state.remove()
            Iterator.empty
          } else {
            val agg = new MetricAggregates(metadataFor(metric), capacity)
            if (state.exists) agg.restore(state.get)
            val emitted = agg.update(rows.map(p => (p.ts, p.value)).toSeq)
            state.update(agg.snapshot)
            if (idleTimeoutMs > 0) state.setTimeoutDuration(idleTimeoutMs)
            emitted.iterator.map(e =>
              OutPoint(metric, e.stage.toString, e.ts, e.value, e.count))
          }
      }
  }

  /** Wire the stateful downsample flow into a running ingest job: each
    * micro-batch's emissions are appended per stage into a
    * [[graft.sources.PointsStore]] layout. A batch holds at most one
    * emission per (metric, stage, ts) — the state function runs once per
    * metric per batch and [[MetricAggregates.update]] emits each step at
    * most once — so across batches the store read's last-write-wins on
    * `batch_seq` is the only merge, like Cassandra upserts. This is the
    * carbon plugin's write path (plugins/carbon.py:177-204) as one
    * streaming query.
    *
    * Caller owns trigger/checkpoint choice, e.g.
    * `.trigger(Trigger.AvailableNow)` for drain-and-stop. On local
    * single-JVM runs set
    * `spark.sql.streaming.checkpoint.fileChecksum.enabled=false`
    * (Spark 4.1 checksum manager can deadlock there). */
  def startIngestJob(
      pointsStream: Dataset[RawPoint],
      metadataFor: String => MetricMetadata,
      storeDir: String,
      checkpointDir: String,
      capacity: Int = Downsampler.Capacity,
      idleTimeoutMs: Long = 0L,
      autoCreate: Option[graft.sources.MetricCatalog.CatalogStore] = None) = {
    import graft.sources.PointsStore
    val out = downsampleFlow(pointsStream, metadataFor, capacity, idleTimeoutMs)
    out.writeStream
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: Dataset[OutPoint], batchId: Long) =>
        val spark = batch.sparkSession
        // metric auto-create BEFORE the data lands, like the carbon
        // plugin's creation path ahead of the write
        // (plugins/carbon.py:310-369)
        autoCreate.foreach(store =>
          autoCreateMetrics(batch, store, metadataFor,
            System.currentTimeMillis() / 1000))
        val stages = batch.select("stage").distinct()
          .collect().map(_.getString(0))
        val perStage = stages.toSeq.map { stageStr =>
          val st = Stage.fromString(stageStr.stripSuffix("_0").stripSuffix("_aggr"),
            stage0 = stageStr.endsWith("_0"))
          // points are keyed by the metric's UUIDv5 like the reference's
          // tables (metric.py:157-178) and every other writer — the same
          // id auto-create commits to the catalog, so a planned read links
          // catalog.id → points.metric_id with no name/ID mismatch
          val rows = batch.filter(col("stage") === stageStr)
            .select(graft.functions.GraftFunctions.graft_uuid5(col("metric"))
              .as("metric_id"), col("ts"), col("value"), col("count"))
            .withColumn("replica", lit(0))
            // batchId is monotonic across restarts (checkpoint-tracked):
            // readers resolve upserts by last-write-wins on batch_seq
            .withColumn("batch_seq", lit(batchId))
          (rows, st, 8)
        }
        // every stage in ONE write job with ONE commit: per-batch
        // latency was the SUM of sequential per-stage job commits
        if (perStage.nonEmpty) PointsStore.writeMulti(perStage, storeDir)
        ()
      }
  }

  /** Metric auto-create for one micro-batch (plugins/carbon.py:310-369:
    * the creation thread drains a queue of unseen metrics and writes
    * metadata before points become visible): left-anti the batch's
    * metric names against the committed catalog, make
    * [[graft.sources.MetricCatalog.catalogRows]] (metadata from
    * `metadataFor`) for the genuinely new ones, and commit their
    * [[graft.sources.MetricCatalog.upsert]]. Unlike `bgutil write`, which
    * re-creates, only unseen metrics are created, like the carbon
    * plugin. Replay-idempotent by construction — a replayed batch
    * left-antis to empty against the already-updated catalog and
    * commits nothing. All relations are metric-metadata-sized; the
    * `metadataFor` mapping runs distributed (Dataset.map), never a
    * driver-side loop over names. */
  private def autoCreateMetrics(batch: Dataset[OutPoint],
      store: graft.sources.MetricCatalog.CatalogStore,
      metadataFor: String => MetricMetadata, nowS: Long): Unit = {
    import graft.sources.MetricCatalog
    val spark = batch.sparkSession
    import spark.implicits._
    val names = batch.select(col("metric").as("name")).distinct()
    val existing = store.current(spark)
    val fresh = (existing match {
      case Some(cat) => names.join(cat.select("name"), Seq("name"), "left_anti")
      case None => names
    }).as[String]
    val rows = fresh.map { n =>
      val m = metadataFor(n)
      (n, m.aggregator.name, m.retention.toString)
    }.toDF("name", "aggregator", "retention")
    val enriched = MetricCatalog.catalogRows(rows, nowS)
      .localCheckpoint(true) // tiny; avoids recomputing for the commit
    if (!enriched.isEmpty) store.commit(MetricCatalog.upsert(existing, enriched))
  }
}
