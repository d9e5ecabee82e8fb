package graft.sources

import org.apache.spark.sql.{DataFrame, DataFrameWriter, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.model.Stage

/** Partitioned Parquet layout for the points table: one directory tree
  * partitioned by (stage, bucket) where bucket is a time span sized like
  * the reference's Cassandra row keys — Spark's partition pruning then
  * plays the role of the hand-built per-partition SELECTs
  * (biggraphite/drivers/cassandra.py:796-809,1846-1919).
  *
  * Schema: [[Schema]], read as declared, never inferred.
  */
object PointsStore {

  /** metric_id, ts (epoch s), value, count, replica, the `batch_seq` of
    * a store that declares upserts, then the (stage, bucket) partition
    * columns; a file lacking a column reads it as null. */
  val Schema: StructType = StructType(Seq(
    StructField("metric_id", StringType),
    StructField("ts", LongType),
    StructField("value", DoubleType),
    StructField("count", DoubleType),
    StructField("replica", IntegerType),
    StructField("batch_seq", LongType),
    StructField("stage", StringType),
    StructField("bucket", LongType)))

  /** Zero-byte file in a store's root declaring that it holds batch_seq
    * upserts; Spark's listing skips names starting with `_`. */
  val UpsertsMarker = "_upserts"

  def declaresUpserts(baseDir: String): Boolean =
    java.nio.file.Files.exists(java.nio.file.Paths.get(baseDir, UpsertsMarker))

  /** The store's rows; a plain store's files never carry batch_seq. */
  def scan(spark: SparkSession, baseDir: String): DataFrame =
    scan(spark, baseDir, declaresUpserts(baseDir))

  private def scan(spark: SparkSession, baseDir: String,
      upserts: Boolean): DataFrame =
    spark.read.schema(
      if (upserts) Schema else StructType(Schema.filterNot(_.name == "batch_seq"))
    ).parquet(baseDir)

  /** Partition sizing constants ported from drivers/cassandra.py:641-648:
    * target ~2000 points per read partition, hard cap 25000 points, never
    * finer than 6 h per partition. */
  val ExpectedPointsPerRead = 2000L
  val MaxPartitionSize = 25000L
  val MinPartitionSpanS: Long = 6L * 3600

  /** Bucket span in seconds for a stage (the `_row_size_ms` analog). */
  def bucketSpanS(precisionS: Long): Long =
    math.min(precisionS * MaxPartitionSize,
      math.max(precisionS * ExpectedPointsPerRead, MinPartitionSpanS))

  /** Salt sized to a micro-batch's row count: one writer per ~32k rows,
    * capped at 64 files per (stage, bucket). Live ingest concentrates a
    * batch into one or two time buckets, so the batch size — not the
    * bucket count — decides how many parallel writers the hot bucket
    * needs; callers that know their batch size should pass
    * `writeSalt = saltFor(n)` instead of the flat default. */
  def saltFor(rows: Long): Int =
    math.max(1, math.min(64, (rows / 32768L + 1).toInt))

  /** Append points for one stage. Expects metric_id, ts, value, count,
    * replica. The shuffle implied by the partitioned write is the batch
    * analog of the reference's per-partition unlogged batches
    * (drivers/cassandra.py:2235-2257).
    *
    * The repartition key is SALTED by metric hash: live ingest always
    * lands in the current time bucket, so repartitioning on (stage,
    * bucket) alone would funnel every point of a batch through ONE task.
    * Salting spreads the hot bucket over `writeSalt` writers; the
    * partitionBy directory layout (and thus read-side pruning) is
    * unchanged — each output partition simply holds writeSalt files.
    *
    * Sizing `writeSalt`: the default 8 is for LIVE ingest, where a
    * micro-batch concentrates in one or two time buckets. A historical
    * BACKFILL spanning many buckets already parallelizes across the
    * bucket dimension — pass writeSalt = 1 there to avoid paying
    * salt× small files per bucket for no extra parallelism. */
  def write(points: DataFrame, baseDir: String, stage: Stage,
      writeSalt: Int = 8): Unit =
    writeMulti(Seq((points, stage, writeSalt)), baseDir)

  /** Append points for SEVERAL stages as ONE write job with ONE commit —
    * the multi-stage form of [[write]]. A micro-batch that lands stage0
    * plus its rollups (the streaming ingest's steady state, and any
    * backfill) otherwise pays one job submission, one shuffle barrier
    * and one output commit PER STAGE; on an object store each commit is
    * its own rename storm, and per-batch ingest latency is the SUM of
    * the sequential commits. The union write executes every stage's
    * branch inside one job (the small rollup branches fill scheduler
    * slots the big stage0 shuffle leaves idle) and commits once.
    * Concurrent jobs against one output root would NOT be a safe
    * substitute: they share the committer's `_temporary` staging dir,
    * and the first `commitJob` deletes the others' pending task output.
    *
    * All batches must share one schema (metric_id, ts, value, count,
    * replica, and optionally batch_seq — the [[write]] contract); each
    * gets its own salt, sized to ITS row count (`saltFor`). Batches with
    * batch_seq declare the store's upserts before their rows land. */
  def writeMulti(batches: Seq[(DataFrame, Stage, Int)],
      baseDir: String): Unit = {
    require(batches.nonEmpty, "writeMulti needs at least one batch")
    // fail with the contract, not a raw AnalysisException deep inside
    // the union: a caller mixing batches with and without the optional
    // batch_seq column should be pointed at the offending stage
    val head = batches.head._1.columns.toSet
    for (((df, stage, _), i) <- batches.zipWithIndex) {
      val cols = df.columns.toSet
      require(cols == head,
        s"writeMulti batch $i (stage $stage) has columns " +
          s"${cols.toSeq.sorted.mkString(", ")} but batch 0 has " +
          s"${head.toSeq.sorted.mkString(", ")} — all batches must share " +
          "one column set (metric_id, ts, value, count, replica, and " +
          "batch_seq on all batches or none)")
    }
    if (head.contains("batch_seq") && !declaresUpserts(baseDir)) {
      java.nio.file.Files.createDirectories(java.nio.file.Paths.get(baseDir))
      java.nio.file.Files.newOutputStream(
        java.nio.file.Paths.get(baseDir, UpsertsMarker)).close()
    }
    append(batches.map { case (points, stage, writeSalt) =>
      val span = bucketSpanS(stage.precisionS)
      points
        .withColumn("stage", lit(stage.toString))
        .withColumn("bucket", (col("ts") / span).cast("long") * span)
        .withColumn("__salt", pmod(hash(col("metric_id")), lit(writeSalt)))
    }.reduce(_ unionByName _)
      .repartition(col("stage"), col("bucket"), col("__salt"))
      .drop("__salt"), baseDir)
  }

  /** Append points that already carry their `stage` and `bucket` columns
    * (a salted [[writeMulti]] batch, or rows copied out of a store) through
    * the layout writer, under the append side of the compaction guard. */
  def append(points: DataFrame, baseDir: String): Unit =
    Compaction.guardedAppend(points.sparkSession, baseDir) {
      layout(points).mode("append").parquet(baseDir)
    }

  /** The one writer of the points layout — appends and compaction both go
    * through it, so every file of the store has the same shape. */
  private def layout(points: DataFrame): DataFrameWriter[Row] =
    points
      // local sort inside each writer: row groups become metric-id
      // clustered, so min/max stats actually prune a single-series
      // fetch (unsorted uuid ids span every row group's stats range);
      // the bloom filter catches the IN-list probes stats can't.
      // Leading with (stage, bucket) satisfies the file writer's
      // required ordering — otherwise it inserts its own partition-col
      // sort and the metric clustering is lost
      .sortWithinPartitions("stage", "bucket", "metric_id", "ts")
      .write
      // ndv sized to ONE FILE's content (saltFor targets ~32k rows per
      // writer), not the corpus: a 1M-ndv bloom is a ~1.2 MB bitmap per
      // file — measurable pure overhead on small writes — while 32k ndv
      // is ~40 KB and still right-sized for what a file can hold
      .option("parquet.bloom.filter.enabled#metric_id", "true")
      .option("parquet.bloom.filter.expected.ndv#metric_id", "32768")
      .partitionBy("stage", "bucket")

  /** Pruned scan of one stage and time range; `metricIds` optionally
    * narrows to a metric set (pushed to parquet as an IN filter).
    * Partition pruning on (stage, bucket) replaces the reference's
    * hand-computed partition list (drivers/cassandra.py:1887-1919);
    * inside the surviving files the IN filter skips row groups by
    * metric_id stats, dictionary and bloom filter, which the layout
    * writer's (metric_id, ts) sort makes selective.
    *
    * A store that declares upserts ([[UpsertsMarker]]) resolves them
    * HERE: each streaming micro-batch re-emits running coarse aggregates,
    * and the upsert contract (Cassandra-style last-write-wins,
    * StreamingIngest.startIngestJob) keeps the highest batch_seq per
    * (metric, replica, step), so every consumer of the read path sees
    * exactly the final state. A plain store's rows of one step are
    * partials pointGrouper combines, never merged.
    *
    * `byMetric` hash-partitions the pruned rows by metric_id before that
    * merge: the merge and every later per-metric grouping of the read
    * (pointGrouper's two aggregations) then run on the one exchange. */
  def read(spark: SparkSession, baseDir: String, stage: Stage,
      startS: Long, endS: Long, metricIds: Seq[String] = Nil,
      byMetric: Boolean = false): DataFrame = {
    val upserts = declaresUpserts(baseDir)
    readFrom(scan(spark, baseDir, upserts), upserts, stage, startS, endS,
      metricIds, byMetric)
  }

  /** [[read]] against a caller-supplied [[scan]] of the store — so a
    * compaction loop can list the store's files ONCE and prune per slice,
    * instead of re-listing the whole table every slice. */
  private def readFrom(base: DataFrame, upserts: Boolean, stage: Stage,
      startS: Long, endS: Long, metricIds: Seq[String] = Nil,
      byMetric: Boolean = false): DataFrame = {
    val span = bucketSpanS(stage.precisionS)
    val b0 = startS / span * span
    // endS is exclusive: a window ending on a bucket boundary stops at
    // the bucket before it
    val b1 = (endS - 1) / span * span
    var df = base
      .filter(col("stage") === stage.toString)
      .filter(col("bucket") >= b0 && col("bucket") <= b1)
      .filter(col("ts") >= startS && col("ts") < endS)
    if (metricIds.nonEmpty) df = df.filter(col("metric_id").isin(metricIds: _*))
    if (byMetric) df = df.repartition(col("metric_id"))
    if (upserts) {
      // null batch_seq (rows appended before the store declared its
      // upserts) must LOSE to any real sequence — max_by would otherwise
      // return null for an all-null group and erase the row entirely
      df = graft.operators.Downsample.lastWriteWins(
        df.withColumn("batch_seq",
          coalesce(col("batch_seq"), lit(Long.MinValue))),
        stage.precisionS, col("batch_seq"), extraKeys = Seq("replica"))
    }
    df
  }

  /** Bucketed table layout for co-located joins: points and catalog
    * bucketed by metric_id land join-compatible partitions on disk, so a
    * points ⋈ metadata join (J1) needs NO shuffle of the points side —
    * the at-scale alternative to broadcasting when the catalog itself is
    * huge. Spark bucketing requires the session catalog, hence
    * saveAsTable. */
  def writeBucketed(points: DataFrame, tableName: String, buckets: Int): Unit = {
    val sortCols =
      if (points.columns.contains("ts")) Seq("metric_id", "ts")
      else Seq("metric_id")
    points.write.mode("overwrite")
      .bucketBy(buckets, "metric_id")
      .sortBy(sortCols.head, sortCols.tail: _*)
      .format("parquet")
      .saveAsTable(tableName)
  }

  /** Driver-side listing of the bucket partition values present for one
    * stage — directory metadata only (one entry per bucket dir), never
    * row data, so it stays trivially small at any data volume. */
  def listBuckets(baseDir: String, stage: Stage): Seq[Long] = {
    // match on the DECODED dir name: Spark escapes partition values with
    // its own %XX scheme ('*' → %2A), so building the escaped name by
    // hand is fragile; decoding mirrors dropExpiredBuckets
    val root = new java.io.File(baseDir)
    Option(root.listFiles()).getOrElse(Array.empty).toSeq
      .filter(d => d.isDirectory && d.getName.startsWith("stage="))
      .filter(d => java.net.URLDecoder.decode(
        d.getName.stripPrefix("stage="), "UTF-8") == stage.toString)
      .flatMap(d => Option(d.listFiles()).getOrElse(Array.empty).toSeq)
      .filter(f => f.isDirectory && f.getName.startsWith("bucket="))
      .map(_.getName.stripPrefix("bucket=").toLong)
      .sorted
  }

  /** Driver-side listing of the stage partition values present in a
    * store — directory metadata only, one entry per stage dir. */
  def listStages(baseDir: String): Seq[Stage] = {
    val root = new java.io.File(baseDir)
    Option(root.listFiles()).getOrElse(Array.empty).toSeq
      .filter(d => d.isDirectory && d.getName.startsWith("stage="))
      .map(d => Stage.fromString(java.net.URLDecoder.decode(
        d.getName.stripPrefix("stage="), "UTF-8")))
      .sortBy(_.toString)
  }

  /** Rolling per-slice compaction: collapse streaming re-emissions a few
    * buckets at a time instead of materializing the whole stage at once —
    * at 100 TB a whole-stage pass would stage the entire table; each
    * slice bounds the working set to `bucketsPerSlice` partitions (time-window
    * compaction, the TWCS analog of drivers/cassandra.py:943-1019, which
    * also compacts per 3 h window precisely so compaction never touches
    * the whole table).
    *
    * Slices are independent and the job is restartable at slice
    * granularity: a killed run leaves earlier slices compacted and later
    * ones still holding re-emissions, which the read merge resolves.
    * `sinceS` compacts only buckets at or after the cutoff: a live store
    * only re-emits watermark-recent windows, so steady-state compaction
    * touches a CONSTANT number of recent buckets, not the table's age.
    *
    * The winning `batch_seq` is kept, so a fresh re-emission after
    * compaction still supersedes the compacted row via the normal read
    * merge. A plain store's slices are rewritten without a merge.
    * Slices are rewritten through the same layout writer appends use, so
    * a compacted bucket keeps its (metric_id, ts) clustering.
    * Returns the compacted bucket values. */
  def compactStageSlices(spark: SparkSession, baseDir: String, stage: Stage,
      bucketsPerSlice: Int = 8, sinceS: Long = Long.MinValue): Seq[Long] = {
    require(bucketsPerSlice > 0)
    val span = bucketSpanS(stage.precisionS)
    // Guarded: a concurrent PointsStore.write (the streaming ingest
    // job, most likely) fails fast instead of being silently dropped
    // by a slice's read-then-overwrite. The bucket list AND the base
    // file listing are taken INSIDE the guard — a listing from before
    // the flag was raised could miss an append that completed in the
    // gap (the rewriteSlices ordering contract).
    Compaction.guardedCompaction(spark, baseDir) {
      val buckets = listBuckets(baseDir, stage)
        .filter(b => sinceS == Long.MinValue || b + span > sinceS)
      // base listed ONCE; each slice's dynamic overwrite (set PER-WRITE,
      // never on the session) replaces only its own (stage, bucket)
      // dirs, which no later slice reads
      val upserts = declaresUpserts(baseDir)
      val base = scan(spark, baseDir, upserts)
      Compaction.rewriteSlices(buckets, bucketsPerSlice) { slice =>
        // readFrom prunes to the slice's buckets and applies batch_seq
        // last-write-wins; rewrite only those partition dirs
        readFrom(base, upserts, stage, slice.min, slice.max + span)
      } { (staged, _) =>
        layout(staged).mode("overwrite")
          .option("partitionOverwriteMode", "dynamic")
          .parquet(baseDir)
      }
      buckets
    }
  }

  /** TTL enforcement as a METADATA operation: delete whole bucket
    * directories whose entire span is older than the stage's retention
    * (the reference's per-stage TTL + time-window compaction,
    * drivers/cassandra.py:752,943-946 — expiry never touches live data
    * files). Returns the deleted partition paths. Rows younger than the
    * cutoff inside a surviving bucket are left for read-side ts filters
    * (same as Cassandra, where TTL'd cells linger until compaction).
    *
    * Runs on the MUTATOR side of the repo-wide compaction guard
    * ([[Compaction.guardedMutation]]): a TTL sweep racing a
    * [[compactStageSlices]] would otherwise either have its deleted
    * buckets silently resurrected (slice staged before the delete,
    * overwritten after) or yank files out from under the stage — the
    * race now fails fast with [[ConcurrentCompactionException]]. */
  def dropExpiredBuckets(baseDir: String, nowS: Long): Seq[String] = {
    val root = new java.io.File(baseDir)
    if (!root.exists()) return Nil
    Compaction.guardedMutation(baseDir) {
    val deleted = Seq.newBuilder[String]
    for {
      stageDir <- Option(root.listFiles()).getOrElse(Array.empty)
      if stageDir.isDirectory && stageDir.getName.startsWith("stage=")
      stageStr = java.net.URLDecoder.decode(
        stageDir.getName.stripPrefix("stage="), "UTF-8")
      stage = Stage.fromString(stageStr)
      cutoff = nowS - stage.durationS
      span = bucketSpanS(stage.precisionS)
      bucketDir <- Option(stageDir.listFiles()).getOrElse(Array.empty)
      if bucketDir.isDirectory && bucketDir.getName.startsWith("bucket=")
      bucket = bucketDir.getName.stripPrefix("bucket=").toLong
      if bucket + span <= cutoff
    } {
      org.apache.commons.io.FileUtils.deleteQuietly(bucketDir)
      deleted += bucketDir.getPath
    }
    deleted.result()
    }
  }

  /** Retention enforcement — the TTL/compaction-window analog
    * (drivers/cassandra.py:752,943-946): per-stage, keep only rows newer
    * than the stage duration. The bucket predicate prunes whole partitions
    * before the row-level ts filter touches the survivors' pages. Returns
    * the surviving rows; a caller overwrites the table location (or
    * deletes partition dirs out-of-band on a real deployment). */
  def expireOldBuckets(points: DataFrame, stages: Seq[Stage], nowS: Long): DataFrame =
    stages.map { st =>
      val span = bucketSpanS(st.precisionS)
      val cutoff = nowS - st.durationS
      points.filter(col("stage") === st.toString &&
        col("bucket") >= cutoff / span * span &&
        col("ts") >= cutoff)
    }.reduce(_ unionByName _)
}
