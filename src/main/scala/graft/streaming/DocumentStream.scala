package graft.streaming

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery

import graft.operators.TextAnalysis

/** Streaming face of the training-data curation operators: documents
  * arrive continuously (crawl output, log shipping) and must be deduped
  * and quality-gated BEFORE they hit the corpus store — the same
  * operators [[graft.operators.Dedup]] / [[graft.operators.TextAnalysis]]
  * run in batch, expressed over an unbounded stream.
  *
  * Scale shape: the dedup state is keyed on a 128-bit content hash and
  * bounded by the event-time watermark — state size is (arrival rate ×
  * horizon), independent of total corpus size, so the stream never
  * accumulates 100 TB of history. The quality gate is stateless column
  * arithmetic (no shuffle, no state); it composes before the dedup so
  * rejected documents never enter the state store at all.
  */
object DocumentStream {

  /** Exact streaming dedup on content: drop any document whose text hash
    * was already seen within the watermark horizon. Uses
    * `dropDuplicatesWithinWatermark`, so state for a hash is evicted once
    * the watermark passes its event time — re-posts farther apart than
    * the horizon are treated as new documents (document the horizon as
    * the dedup guarantee, exactly like the reference treats its
    * ±15 min out-of-order window, drivers/cassandra.py:638-640).
    *
    * `eventTimeCol` must be a timestamp column; the watermark is set
    * here, so callers should not set another one downstream. */
  def dedupExact(docs: DataFrame, textCol: String, eventTimeCol: String,
      watermark: String = "1 hour"): DataFrame =
    docs
      .withColumn("__content_key", md5(col(textCol)))
      .withWatermark(eventTimeCol, watermark)
      .dropDuplicatesWithinWatermark("__content_key")
      .drop("__content_key")

  /** Stateless curation gate: language-independent quality score +
    * PII redaction in one pass. Safe in any output mode — pure column
    * arithmetic, no aggregation — so it runs per micro-batch with zero
    * state. Returns the input columns plus `quality_score` and
    * `redacted`; documents below `minQuality` are dropped. */
  def qualityGate(docs: DataFrame, textCol: String,
      minQuality: Double): DataFrame = {
    val scored = TextAnalysis.qualityScore(docs, textCol)
      .filter(col("quality_score") >= minQuality)
    TextAnalysis.redactPii(scored, textCol)
      .drop("n_tokens", "stopword_ratio", "avg_word_len")
  }

  /** End-to-end curation job: gate → dedup → parquet append, stamped
    * with `batch_seq` = batchId so a micro-batch replayed after a crash
    * resolves last-write-wins on read (same idempotency contract as
    * [[StreamingIngest.startIngestJob]]'s points). */
  def startCurationJob(docs: DataFrame, textCol: String,
      eventTimeCol: String, outDir: String, checkpointDir: String,
      minQuality: Double = 0.0,
      watermark: String = "1 hour"): StreamingQuery = {
    val curated = dedupExact(qualityGate(docs, textCol, minQuality),
      textCol, eventTimeCol, watermark)
    curated.writeStream
      .outputMode("append")
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        batch.withColumn("batch_seq", lit(batchId))
          .write.mode("append").parquet(outDir)
        ()
      }
      .start()
  }

  /** Append the batch's HISTORY-novel documents to a content-keyed
    * store: documents whose md5 is already anywhere in `storeDir` are
    * dropped, ties within the batch resolve to the lowest `idCol`, and
    * survivors land partitioned by the key's first `prefixChars` hex
    * chars (an EXISTING store's width wins — see [[DefaultPrefixChars]]).
    *
    * The prefix partitioning is the scale story: the anti-join reads
    * ONLY the key column of ONLY the partitions whose prefixes occur in
    * the batch (≤ 16^width, collected driver-side from the deduped
    * batch — batch-bounded metadata). Per micro-batch that is a
    * column-pruned, partition-pruned scan, not a full-history pass.
    *
    * Crash-replay idempotent BY CONSTRUCTION: if a batch's append
    * committed but the checkpoint didn't, the replayed batch anti-joins
    * against its own earlier output and appends nothing — no
    * batch_seq/LWW resolution needed on read.
    *
    * ONE WRITER PER STORE: the dedup guarantee is anti-join-then-append,
    * so two jobs appending to the same store can both pass the
    * anti-join before either commits and double-admit a document. A
    * streaming query serializes its own batches; do not point two
    * queries at one store. */
  def appendNovel(batch: DataFrame, textCol: String, idCol: String,
      storeDir: String, batchId: Long,
      prefixChars: Int = DefaultPrefixChars): Unit =
    // appender flag for the whole anti-join→append span: a concurrent
    // [[compactStore]] would otherwise read-then-overwrite the kp dirs
    // this batch is appending into and silently drop it — with the
    // two-flag protocol one side fails fast instead
    graft.sources.Compaction.guardedAppend(batch.sparkSession, storeDir) {
      novelAgainstStore(batch, textCol, idCol, storeDir, prefixChars)
        .withColumn("batch_seq", lit(batchId))
        // one writer per prefix: without this every shuffle task writes
        // into every kp= dir it holds a row for — up to tasks × dirs tiny
        // files PER MICRO-BATCH (the bg_curation_stream bench measured
        // the spray at ~4× the whole path's useful work)
        .repartition(col("kp"))
        .write.mode("append").partitionBy("kp").parquet(storeDir)
    }

  /** Key-prefix width for NEW history stores: 1 hex char = 16
    * partition directories. The width bounds BOTH sides of the
    * per-batch cost: the append writes at most `16^width` files per
    * micro-batch (one writer per touched prefix — at ~15 ms per file
    * commit, the 2-char width's 256-file floor measured 4-5 s/batch on
    * small batches, ~4× the path's useful work), and the anti-join
    * prunes history to the batch's prefixes, which only bites when a
    * batch touches FEW prefixes (a trickle). Width 1 is the balanced
    * default; pass 2 when provisioning a store for single-document
    * trickles over deep history. The width is written into the store's
    * layout and DETECTED from it afterwards — every later batch
    * follows the store, so mixed-width corruption cannot happen. */
  val DefaultPrefixChars = 1

  /** The batch's HISTORY-novel rows (see [[appendNovel]], which writes
    * them): batch-deduped on the content key (ties to the lowest
    * `idCol`), then anti-joined against ONLY the key column of ONLY the
    * store partitions whose prefixes occur in the batch. Returns the
    * input columns plus `content_key` and `kp`. */
  private[streaming] def novelAgainstStore(batch: DataFrame,
      textCol: String, idCol: String, storeDir: String,
      prefixChars: Int = DefaultPrefixChars): DataFrame = {
    require(prefixChars >= 1 && prefixChars <= 4,
      s"prefixChars must be in [1, 4], got $prefixChars")
    val spark = batch.sparkSession
    val cols = batch.columns
    require(!cols.contains("content_key") && !cols.contains("kp"),
      "appendNovel: input must not already have content_key/kp columns")
    // an empty first batch leaves only _SUCCESS behind (no files, no
    // schema to infer) — history exists only once a kp= partition does.
    // An existing store also fixes the prefix width (dir name length):
    // the parameter only applies to the store's FIRST batch.
    val kpDirs = {
      val p = new org.apache.hadoop.fs.Path(storeDir)
      val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
      if (!fs.exists(p)) Array.empty[String]
      else fs.listStatus(p).map(_.getPath.getName)
        .filter(_.startsWith("kp="))
    }
    val width = kpDirs.headOption.map(_.length - "kp=".length)
      .getOrElse(prefixChars)
    val keyed = batch
      .withColumn("content_key", md5(col(textCol)))
      .withColumn("kp", substring(col("content_key"), 1, width))
    val batchDedup = keyed
      .groupBy("content_key", "kp")
      .agg(min_by(struct(cols.map(col).toSeq: _*), col(idCol)).as("__w"))
      .select(col("content_key") +: col("kp") +:
        cols.map(c => col(s"__w.$c").as(c)): _*)
    if (kpDirs.isEmpty) batchDedup
    else {
      // prefixes from the pre-dedup batch: the same kp set (dedup only
      // drops duplicate keys) without re-running the groupBy
      val prefixes = keyed.select("kp").distinct().collect()
        .map(_.getString(0)).toSeq
      // EXPLICIT read schema, never inference: when every kp= directory
      // so far happens to be all-digits (hex prefixes like "62", "97"),
      // partition-type inference types kp as INT — then a hex prefix in
      // the filter crashes the cast, and a zero-padded one ("07" read
      // back as 7) would silently MISS its history and re-admit
      // duplicates. Only the two key columns are read at all.
      val histSchema = org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("content_key",
          org.apache.spark.sql.types.StringType),
        org.apache.spark.sql.types.StructField("kp",
          org.apache.spark.sql.types.StringType)))
      val hist = spark.read.schema(histSchema).parquet(storeDir)
        .filter(col("kp").isin(prefixes: _*))
        .select("content_key")
      batchDedup.join(hist, Seq("content_key"), "left_anti")
    }
  }

  /** History-backed streaming dedup: unlike [[dedupExact]], whose state
    * is bounded by the watermark horizon, this job checks every batch
    * against the FULL durable corpus — the store IS the state, the
    * streaming engine holds none, and a duplicate is dropped no matter
    * how long ago the original arrived. */
  def startHistoryDedupJob(docs: DataFrame, textCol: String,
      idCol: String, storeDir: String,
      checkpointDir: String): StreamingQuery =
    docs.writeStream
      .outputMode("append")
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        appendNovel(batch, textCol, idCol, storeDir, batchId)
      }
      .start()

  /** Running dataset card over the stream — the live twin of
    * [[graft.operators.Profile.datasetCard]]: per-group doc / token /
    * byte totals, an HLL distinct-content sketch, and p50/p90/p99
    * token-length percentiles from a mergeable quantile sketch, all
    * updating every micro-batch. Complete-mode aggregation whose state
    * is ONE row per group plus its bounded sketches (sources/languages
    * — metadata-sized, never corpus-sized; sketches are the only
    * 100 TB-viable streaming form of distinct counts and percentiles),
    * with each trigger snapshotting the latest card to `outDir`
    * (overwrite: the newest card is the card).
    *
    * Percentiles use `percentile_approx` (Spark's Greenwald-Khanna
    * quantile summary — partials merge across batches and executors):
    * rank error ≤ n/`sketchAccuracy`, and EXACT element-rank answers
    * while a group holds ≤ `sketchAccuracy` docs. The batch face's
    * exact `percentile` interpolates between elements where the sketch
    * returns an observed element, so the two cards agree within one
    * inter-element gap at matched rank — both bounds pinned in
    * DocumentStreamSpec. */
  def startStatsJob(docs: DataFrame, groupCol: String, textCol: String,
      outDir: String, checkpointDir: String,
      sketchAccuracy: Int = 10000): StreamingQuery = {
    require(sketchAccuracy > 0,
      s"sketchAccuracy must be positive, got $sketchAccuracy")
    def sketchPct(q: Double, name: String) =
      percentile_approx(col("__tok"), lit(q), lit(sketchAccuracy))
        .cast("double").as(name)
    val card = docs
      .select(col(groupCol),
        size(TextAnalysis.tokens(col(textCol))).cast("long").as("__tok"),
        octet_length(col(textCol)).cast("long").as("__bytes"),
        md5(col(textCol)).as("__fp"))
      .groupBy(col(groupCol))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("__tok")).as("n_tokens"),
        sum(col("__bytes")).as("n_bytes"),
        approx_count_distinct(col("__fp")).as("n_unique"),
        sketchPct(0.5, "p50_tokens"),
        sketchPct(0.9, "p90_tokens"),
        sketchPct(0.99, "p99_tokens"))
    card.writeStream
      .outputMode("complete")
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: DataFrame, _: Long) =>
        batch.write.mode("overwrite").parquet(outDir)
        ()
      }
      .start()
  }

  /** Classifier routing at ingest — the fastText-gate deployment shape:
    * a [[graft.operators.Classify.nbFit]] model is trained OFFLINE
    * (broadcast-sized by construction), frozen, and applied to every
    * micro-batch; documents land in the store PARTITIONED BY predicted
    * label, so downstream mixture/cap sampling prunes whole label
    * directories. Stateless per batch — the frozen model is the only
    * input besides the batch, so a crash-replayed batch re-scores
    * bit-identically (integer-scaled log sums); `batch_seq` stamps make
    * double-appends LWW-resolvable on read, the curation-job contract.
    * Returns every input column plus `predicted` and `score`. The
    * model is frozen ONCE at stream start
    * ([[graft.operators.Classify.nbFreeze]]); each trigger scores as a
    * stateless projection ([[graft.operators.Classify.nbScoreFrozen]])
    * — no per-batch model join or classifier shuffle. */
  def startClassifierRoutingJob(docs: DataFrame, idCol: String,
      textCol: String, model: DataFrame, outDir: String,
      checkpointDir: String): StreamingQuery = {
    val reserved = Seq("predicted", "score", "batch_seq")
      .filter(docs.columns.contains)
    require(reserved.isEmpty,
      s"input stream already has column(s) ${reserved.mkString(", ")} — " +
        "they are produced by the routing job; rename them upstream")
    val frozen = graft.operators.Classify.nbFreeze(model)
    docs.writeStream
      .outputMode("append")
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        graft.operators.Classify.nbScoreFrozen(frozen, batch, textCol)
          .withColumn("batch_seq", lit(batchId))
          .write.mode("append").partitionBy("predicted").parquet(outDir)
        ()
      }
      .start()
  }

  /** The routing jobs' reserved-output-column guard, shared by both
    * LR faces (the NB job keeps its inline copy of the same check). */
  private def requireNoRoutingColumns(docs: DataFrame): Unit = {
    val reserved = Seq("predicted", "score", "batch_seq")
      .filter(docs.columns.contains)
    require(reserved.isEmpty,
      s"input stream already has column(s) ${reserved.mkString(", ")} — " +
        "they are produced by the routing job; rename them upstream")
  }

  /** Logreg routing at ingest — [[startClassifierRoutingJob]] with the
    * LEARNED gate ([[graft.operators.LogReg]]) instead of NB: a model
    * fitted offline (weights + the corpus idf it was featurized with,
    * [[graft.operators.Vectorize.tfidfSparseWithIdf]]) is frozen ONCE
    * at stream start ([[graft.operators.LogReg.freeze]]) and every
    * micro-batch scores as one stateless native projection
    * ([[graft.operators.LogReg.scoreFrozen]] — no explode, no feature
    * shuffle, no model join per trigger). Output lands partitioned by
    * `predicted`, so downstream reads prune to the accepted/rejected
    * side; `batch_seq` makes crash replays LWW-resolvable, and
    * replays re-score bit-identically (the margin is an
    * integer-scaled sum). The store's `predicted` partition column is
    * written as an explicit STRING label ('true'/'false' — the NB
    * router's label-column shape): Spark's partition inference has no
    * boolean type, so writing the boolean would read back as a
    * surprise string anyway; making it a string at the write keeps
    * the batch schema and the read-back schema identical. Consumers
    * prune with `predicted = 'true'`. */
  def startLrRoutingJob(docs: DataFrame, idCol: String,
      textCol: String, weights: DataFrame, idf: DataFrame,
      outDir: String, checkpointDir: String): StreamingQuery = {
    // validate the stream's columns BEFORE freeze's collect jobs and
    // model requires: the cheap actionable error comes first
    requireNoRoutingColumns(docs)
    startLrRoutingJob(docs, idCol, textCol,
      graft.operators.LogReg.freeze(weights, idf), outDir, checkpointDir)
  }

  /** [[startLrRoutingJob]] taking the deployment artifact directly —
    * the [[graft.operators.LogReg.fitTextFrozen]] → route path: the
    * model trained in one corpus pass routes without ever re-deriving
    * its (weights, idf) as relations. */
  def startLrRoutingJob(docs: DataFrame, idCol: String,
      textCol: String, frozen: graft.operators.LogReg.FrozenLrModel,
      outDir: String, checkpointDir: String): StreamingQuery = {
    requireNoRoutingColumns(docs)
    docs.writeStream
      .outputMode("append")
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        graft.operators.LogReg.scoreFrozen(frozen, batch, textCol)
          // explicit string label BEFORE the partitioned write: the
          // store's schema is then the batch's schema (partition
          // inference would have stringified a boolean on read anyway)
          .withColumn("predicted", col("predicted").cast("string"))
          .withColumn("batch_seq", lit(batchId))
          .write.mode("append").partitionBy("predicted").parquet(outDir)
        ()
      }
      .start()
  }

  /** Streaming per-slice token heavy hitters — the streaming face of
    * [[graft.operators.Profile.topTokensSketch]], completing the
    * batch/streaming card symmetry ([[startStatsJob]] carries the
    * quantile sketches, this job the token sketch): a complete-mode
    * aggregation whose per-group state is ONE bounded Misra-Gries
    * summary ([[graft.functions.FrequentItemsSketch]]) merged across
    * every micro-batch — the same mergeable-partials mechanics
    * `percentile_approx` already exercises in [[startStatsJob]], so
    * crash replays resume from the checkpointed summary. Each batch
    * overwrites `outDir` with the current top-`k` per group
    * (groupCol, token, cnt, max_err, rk); `max_err` 0 certifies the
    * card equals the exact batch card over everything streamed so far
    * (pinned against the one-shot batch face in DocumentStreamSpec).
    * State per group is ≤ `capacity` counters regardless of how much
    * text ever streams — the 100 TB-safe invariant. */
  def startTopTokensJob(docs: DataFrame, groupCol: String,
      textCol: String, outDir: String, checkpointDir: String,
      k: Int = 20, capacity: Int = 4096): StreamingQuery = {
    require(k > 0, s"k must be positive, got $k")
    require(k <= capacity, s"k=$k exceeds sketch capacity=$capacity")
    import graft.functions.FrequentItemsSketch.frequent_items
    val summaries = docs
      .select(col(groupCol),
        explode(TextAnalysis.tokens(col(textCol))).as("__token"))
      .filter(col("__token") =!= "")
      .groupBy(col(groupCol))
      .agg(frequent_items(col("__token"), capacity).as("__fi"))
    summaries.writeStream
      .outputMode("complete")
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: DataFrame, _: Long) =>
        batch
          .select(col(groupCol),
            posexplode(slice(col("__fi"), 1, k)).as(Seq("__i", "__e")))
          .select(col(groupCol), col("__e.item").as("token"),
            col("__e.est").as("cnt"), col("__e.max_err").as("max_err"),
            (col("__i") + 1).cast("long").as("rk"))
          .write.mode("overwrite").parquet(outDir)
        ()
      }
      .start()
  }

  /** ONE micro-batch of the full curation path — the composite a
    * deployment actually runs per trigger instead of three separate
    * jobs: quality gate (stateless) + frozen-classifier routing
    * ([[graft.operators.Classify.nbScoreFrozen]]: pure column
    * expressions over a driver-frozen model, `predicted`/`score` ride
    * as columns) in ONE projection pass → history-novel append into
    * the content-key-prefix-partitioned store (the [[appendNovel]]
    * anti-join: per batch a column-pruned, partition-pruned scan,
    * never a full-history pass) → a per-batch CARD INCREMENT
    * (`groupCol`-grouped doc/token/byte totals of what actually
    * entered the corpus) into `cardDir` partitioned by `batch_seq`.
    *
    * Idempotency: the store append replays as a no-op (the anti-join
    * sees the earlier attempt's rows); the card increment is computed
    * from the SAME novel set and dynamic-partition-overwrites only its
    * own `batch_seq=` directory, so a replayed batch rewrites an
    * identical increment (or, having appended nothing, leaves the
    * original untouched). The one at-least-once caveat: a crash AFTER
    * the store commit but BEFORE the card commit under-counts that
    * batch's card — the store stays authoritative, and
    * [[graft.operators.Profile.datasetCard]] over it recomputes the
    * exact totals at any time.
    *
    * Execution shape (the r13 re-measurement of ROUND_NOTES_r12 §10's
    * "planning floor": per-trigger analyze+optimize is ~0.13 s — the
    * real cost was the join-shaped routing re-EXECUTING the gate and
    * the source on both join sides, 3× the source rows per trigger,
    * plus the NB explode/shuffle/window): the gate and the frozen
    * scoring are now one stateless map over the batch, pinned ONCE
    * (source read 1×, regex 1×, scoring 1×), the anti-join reads the
    * pin, and the two writes read the pinned novel set. Per trigger:
    * one projection job, one pruned anti-join, two writes — no
    * classifier shuffle at all. */
  def curationBatch(batch: DataFrame, batchId: Long, textCol: String,
      idCol: String, groupCol: String,
      model: graft.operators.Classify.FrozenNbModel,
      minQuality: Double, storeDir: String, cardDir: String): Unit = {
    val reserved = Seq("predicted", "score", "batch_seq")
      .filter(batch.columns.contains)
    require(reserved.isEmpty,
      s"input stream already has column(s) ${reserved.mkString(", ")} — " +
        "they are produced by the curation job; rename them upstream")
    // a micro-batch arrives with the SOURCE's partitioning — often one
    // file = ONE partition — and the regex-heavy gate+score pass would
    // run single-core. Fan small batches out to the executor cores
    // first; the 1-batch shuffle is trivial next to the per-document
    // work it unlocks. Batches already wider keep their layout.
    val cores = batch.sparkSession.sparkContext.defaultParallelism
    val spread =
      if (batch.rdd.getNumPartitions < cores) batch.repartition(cores)
      else batch
    // gate + routing pinned in ONE pass: everything downstream (the
    // prefix collect, the batch dedup, the anti-join, both writes)
    // reads this pin — the source and the per-document expressions
    // execute exactly once per trigger
    val routed = graft.operators.Classify.nbScoreFrozen(model,
        qualityGate(spread, textCol, minQuality), textCol)
      .localCheckpoint(true)
    // appender flag across the anti-join→append span (see
    // [[appendNovel]]): a concurrent [[compactStore]] fails fast
    // instead of silently dropping this batch's postings
    try graft.sources.Compaction.guardedAppend(
        batch.sparkSession, storeDir) {
      val novel = novelAgainstStore(routed, textCol, idCol, storeDir)
        .localCheckpoint(true)
      try {
        novel.withColumn("batch_seq", lit(batchId))
          .repartition(col("kp")) // one writer per prefix, see appendNovel
          .write.mode("append").partitionBy("kp").parquet(storeDir)
        novel
          .groupBy(col(groupCol))
          .agg(count(lit(1)).as("n_docs"),
            sum(size(TextAnalysis.tokens(col(textCol))).cast("long"))
              .as("n_tokens"),
            sum(octet_length(col(textCol)).cast("long")).as("n_bytes"))
          .withColumn("batch_seq", lit(batchId))
          .write.mode("overwrite")
          .option("partitionOverwriteMode", "dynamic")
          .partitionBy("batch_seq")
          .parquet(cardDir)
      } finally novel.unpersist(false)
    } finally routed.unpersist(false)
  }

  /** [[curationBatch]] taking the model as a relation: freezes it
    * (one metadata-scale collect) and delegates. Streaming callers
    * should freeze ONCE via [[graft.operators.Classify.nbFreeze]] and
    * use the frozen overload per trigger. */
  def curationBatch(batch: DataFrame, batchId: Long, textCol: String,
      idCol: String, groupCol: String, model: DataFrame,
      minQuality: Double, storeDir: String, cardDir: String): Unit =
    curationBatch(batch, batchId, textCol, idCol, groupCol,
      graft.operators.Classify.nbFreeze(model), minQuality, storeDir,
      cardDir)

  /** The running card [[curationBatch]] maintains: sum the per-batch
    * increments plus the [[rebuildCard]] summary, if one exists. The
    * summary's `folded_thru` watermark masks every increment it already
    * subsumes (`batch_seq <= folded_thru`), so a rebuild crash that
    * leaves folded increment directories behind cannot double-count —
    * stale directories are simply ignored until the next rebuild's
    * cleanup. Mergeable by construction (plain sums); the read is one
    * aggregation over metadata-sized rows. Fails loudly if no batch has
    * produced a card yet. */
  def curationCard(spark: org.apache.spark.sql.SparkSession,
      cardDir: String, groupCol: String): DataFrame = {
    // mergeSchema: increment footers lack the summary's folded_thru
    val raw = spark.read.option("mergeSchema", "true").parquet(cardDir)
    val all =
      if (raw.columns.contains("folded_thru")) raw
      else raw.withColumn("folded_thru", lit(null).cast("long"))
    val thru = all.filter(col("batch_seq") === -1L)
      .agg(max(col("folded_thru"))).head().get(0) match {
        case null => Long.MinValue
        case t: Long => t
      }
    all.filter(col("batch_seq") === -1L || col("batch_seq") > thru)
      .groupBy(col(groupCol))
      .agg(sum("n_docs").as("n_docs"), sum("n_tokens").as("n_tokens"),
        sum("n_bytes").as("n_bytes"))
  }

  /** Compact AND repair the card: recompute the group totals from the
    * STORE (the authoritative state) into one summary partition
    * (`batch_seq=-1`) carrying `folded_thru` = the max `batch_seq`
    * present in the store at scan time, then drop every increment
    * directory the summary subsumes. Run on the maintenance cadence —
    * the increment log otherwise grows one directory per trigger
    * forever, and this also heals the one at-least-once window
    * [[curationBatch]] documents (store committed, card increment
    * lost), because the summary is derived from the store, not from
    * the possibly-lossy increments.
    *
    * Crash-consistent via the watermark: a crash after the summary
    * write but before the directory drops leaves increments that
    * [[curationCard]] already masks (`batch_seq <= folded_thru`), and
    * the next rebuild cleans them. Concurrent batches: the commit
    * order [[curationBatch]] guarantees (store append commits BEFORE
    * the card increment) means a FULLY-committed batch scanned here is
    * subsumed and its increment masked, and a batch that missed the
    * scan entirely stays live above the watermark — but a store append
    * that is only PARTIALLY visible at scan time (the rebuild raced
    * the commit) can be partially counted into a summary whose
    * watermark then masks that batch's full increment, so the card
    * UNDERCOUNTS that batch until the next rebuild re-derives it from
    * the (by then fully committed) store. Self-healing, never
    * double-counting — schedule rebuilds off the trigger cadence if
    * the window matters. Guarded against a second concurrent rebuild.
    * An empty store is a no-op. Returns the dropped directories. */
  def rebuildCard(spark: org.apache.spark.sql.SparkSession,
      storeDir: String, cardDir: String, textCol: String,
      groupCol: String): Seq[String] =
    graft.sources.Compaction.guardedCompaction(spark, cardDir) {
      // a store with no committed batch yet (missing dir, or an empty
      // first batch's _SUCCESS with no files to infer a schema from)
      // means nothing to fold — the cron no-ops instead of crashing
      val storePath = new org.apache.hadoop.fs.Path(storeDir)
      val storeFs = storePath.getFileSystem(
        spark.sparkContext.hadoopConfiguration)
      val hasData = storeFs.exists(storePath) &&
        storeFs.listStatus(storePath).exists { st =>
          val n = st.getPath.getName
          !n.startsWith("_") && !n.startsWith(".")
        }
      if (!hasData) Seq.empty
      else {
      val store = spark.read.parquet(storeDir)
      // ONE store scan: group totals + per-group max batch_seq, pinned
      // (the watermark derivation and the write both read it)
      val summary = store
        .groupBy(col(groupCol))
        .agg(count(lit(1)).as("n_docs"),
          sum(size(TextAnalysis.tokens(col(textCol))).cast("long"))
            .as("n_tokens"),
          sum(octet_length(col(textCol)).cast("long")).as("n_bytes"),
          max(col("batch_seq")).as("__thru"))
        .localCheckpoint(true)
      try {
        // one watermark for the whole summary (max over groups): the
        // commit-order argument needs a single scan-time high-water
        // mark. An EMPTY store (rebuild cron fires before the first
        // non-empty batch) has no watermark and nothing to fold — the
        // aggregate row is null, and that is a no-op, not an NPE
        val thruRow = summary.agg(max("__thru")).head()
        if (thruRow.isNullAt(0)) Seq.empty
        else {
        val thru = thruRow.getLong(0)
        summary.drop("__thru")
          .withColumn("folded_thru", lit(thru))
          .withColumn("batch_seq", lit(-1L))
          .write.mode("overwrite")
          .option("partitionOverwriteMode", "dynamic")
          .partitionBy("batch_seq").parquet(cardDir)
        val p = new org.apache.hadoop.fs.Path(cardDir)
        val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
        val doomed = fs.listStatus(p).map(_.getPath)
          .filter { d =>
            val n = d.getName
            n.startsWith("batch_seq=") &&
              n.stripPrefix("batch_seq=").toLongOption
                .exists(s => s >= 0 && s <= thru)
          }.toSeq
        doomed.foreach(fs.delete(_, true))
        doomed.map(_.toString)
        }
      } finally summary.unpersist(false)
      }
    }

  /** Compact a history/curation store's `kp=` partitions after
    * streaming appends: every micro-batch drops one file per touched
    * prefix ([[appendNovel]]'s one-writer-per-prefix floor), so at
    * trickle cadence each of the ≤ 16^width directories accumulates
    * one small file per trigger and the anti-join's pruned scan
    * degrades into file-open overhead — the same small-files failure
    * [[graft.operators.Similarity.compactIvfIndex]] exists for, fixed
    * the same way: rewrite a slice of prefixes at a time (read,
    * localCheckpoint, one writer per prefix, dynamic-overwrite only
    * that slice's directories), so a killed run leaves earlier slices
    * compacted and later ones untouched, and reads are correct
    * throughout.
    *
    * Runs under the compaction guard on the STORE dir, and the store's
    * writers ([[appendNovel]] / [[curationBatch]]) hold the appender
    * flag across their anti-join→append span — the standard two-flag
    * protocol: a compaction racing a micro-batch fails fast on one
    * side or the other instead of silently dropping the batch, so this
    * is safe to cron against a live stream (the losing trigger retries
    * via the stream's own restart policy).
    *
    * The prefix list comes from the directory names (metadata-only)
    * and the read carries an EXPLICIT schema with `kp` as a string —
    * partition-type inference on all-digit hex prefixes types `kp` INT
    * and would rewrite `kp=07` as `kp=7`, corrupting the store's width
    * detection and dedup (the exact appendNovel bug round 12 fixed;
    * a compactor must never reintroduce it). */
  /** Per-prefix maintenance report for a curation store: (kp, docs,
    * files) — the [[compactStore]] trigger signal (every micro-batch
    * appends ~one file per touched prefix, so `files` grows with
    * trigger count until a compaction folds it). Read-only,
    * metadata-scale: only the two key columns are read (EXPLICIT
    * schema — the all-digit-prefix inference trap), and the file count
    * rides the `_metadata` column, never a driver-side listing of data
    * files. An absent or not-yet-committed store reports zero rows. */
  def storeStats(spark: org.apache.spark.sql.SparkSession,
      storeDir: String): DataFrame = {
    import org.apache.spark.sql.types.{StructType, StructField, StringType}
    val schema = StructType(Seq(StructField("content_key", StringType),
      StructField("kp", StringType)))
    val p = new org.apache.hadoop.fs.Path(storeDir)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val hasData = fs.exists(p) && fs.listStatus(p).exists { st =>
      val n = st.getPath.getName
      !n.startsWith("_") && !n.startsWith(".")
    }
    if (!hasData)
      spark.createDataFrame(
        spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
        StructType(Seq(StructField("kp", StringType),
          StructField("docs", org.apache.spark.sql.types.LongType),
          StructField("files", org.apache.spark.sql.types.LongType))))
    else spark.read.schema(schema).parquet(storeDir)
      .groupBy(col("kp"))
      .agg(count(lit(1)).as("docs"),
        countDistinct(col("_metadata.file_path")).as("files"))
      .orderBy("kp")
  }

  /** One store-maintenance decision, reported typed (the
    * [[graft.operators.Similarity.maintainIvfIndex]] contract): what
    * ran, and the signals it ran on. */
  final case class StoreMaintenance(action: String, prefixes: Long,
    maxFilesPerPrefix: Long, increments: Long)

  /** The curation store's cron verb — ONE call an operator schedules,
    * completing the maintenance symmetry with the IVF index
    * (`maintainindex`) and making the two store verbs a DECISION
    * instead of two blind invocations:
    *
    *  - any kp prefix holding more than `maxFiles` data files →
    *    [[compactStore]] (the per-trigger small-file fold);
    *  - the card's increment log exceeding `maxIncrements` live
    *    `batch_seq=` directories → [[rebuildCard]] (fold + heal from
    *    the authoritative store).
    *
    * Both signals are metadata-scale reads ([[storeStats]] is a
    * two-column pruned aggregate; the increment count is one directory
    * listing). Dispatch is typed, never a mid-cron exception for a
    * policy decision: `action` ∈ {"compact+rebuildcard", "compact",
    * "rebuildcard", "noop"}. Concurrency keeps the repo-wide fail-fast
    * contract — a live appender racing the dispatched compaction
    * throws [[graft.sources.ConcurrentCompactionException]] rather
    * than silently dropping a batch (run the cron off the trigger
    * cadence, or catch and retry). */
  def maintainStore(spark: org.apache.spark.sql.SparkSession,
      storeDir: String, cardDir: String, maxFiles: Long = 16,
      maxIncrements: Long = 64, textCol: String = "text",
      groupCol: String = "source",
      prefixesPerSlice: Int = 8): StoreMaintenance = {
    val stats = storeStats(spark, storeDir).collect()
    val worst = if (stats.isEmpty) 0L else stats.map(_.getLong(2)).max
    val cardPath = new org.apache.hadoop.fs.Path(cardDir)
    val cardFs = cardPath.getFileSystem(
      spark.sparkContext.hadoopConfiguration)
    val increments =
      if (!cardFs.exists(cardPath)) 0L
      else cardFs.listStatus(cardPath).count { st =>
        val n = st.getPath.getName
        n.startsWith("batch_seq=") &&
          n.stripPrefix("batch_seq=").toLongOption.exists(_ >= 0L)
      }.toLong
    val doCompact = worst > maxFiles
    val doRebuild = increments > maxIncrements
    if (doCompact) compactStore(spark, storeDir, prefixesPerSlice)
    if (doRebuild) rebuildCard(spark, storeDir, cardDir, textCol, groupCol)
    val action = (doCompact, doRebuild) match {
      case (true, true)  => "compact+rebuildcard"
      case (true, false) => "compact"
      case (false, true) => "rebuildcard"
      case _             => "noop"
    }
    StoreMaintenance(action, stats.length.toLong, worst, increments)
  }

  def compactStore(spark: org.apache.spark.sql.SparkSession,
      storeDir: String, prefixesPerSlice: Int = 8): Unit =
    graft.sources.Compaction.guardedCompaction(spark, storeDir) {
      require(prefixesPerSlice > 0,
        s"prefixesPerSlice must be positive, got $prefixesPerSlice")
      val p = new org.apache.hadoop.fs.Path(storeDir)
      val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
      val kps =
        if (!fs.exists(p)) Seq.empty[String]
        else fs.listStatus(p).map(_.getPath.getName)
          .filter(_.startsWith("kp=")).map(_.stripPrefix("kp=")).sorted.toSeq
      if (kps.nonEmpty) {
        // file schema WITHOUT inference: read the data files directly
        // (each kp dir as a root yields no partition column), then pin
        // kp as an explicit string column for the partitioned read
        val fileSchema = spark.read.parquet(s"$storeDir/kp=*").schema
        val full = org.apache.spark.sql.types.StructType(
          fileSchema.fields :+ org.apache.spark.sql.types.StructField(
            "kp", org.apache.spark.sql.types.StringType))
        val base = spark.read.schema(full).parquet(storeDir)
        graft.sources.Compaction.rewriteSlices(kps, prefixesPerSlice) {
          slice => base.filter(col("kp").isin(slice: _*))
        } { (staged, slice) =>
          staged.repartition(slice.length, col("kp"))
            .write.mode("overwrite")
            .option("partitionOverwriteMode", "dynamic")
            .partitionBy("kp")
            .parquet(storeDir)
        }
      }
    }

  /** The end-to-end streaming curation job: [[curationBatch]] per
    * trigger. `model` is trained offline ([[graft.operators.Classify
    * .nbFit]]) and FROZEN ONCE here (one metadata-scale collect at
    * stream start) — every trigger scores through the frozen maps,
    * never re-reading or re-joining the model relation. */
  def startCurationPipelineJob(docs: DataFrame, textCol: String,
      idCol: String, groupCol: String, model: DataFrame,
      storeDir: String, cardDir: String, checkpointDir: String,
      minQuality: Double = 0.0): StreamingQuery = {
    val frozen = graft.operators.Classify.nbFreeze(model)
    docs.writeStream
      .outputMode("append")
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        curationBatch(batch, batchId, textCol, idCol, groupCol, frozen,
          minQuality, storeDir, cardDir)
      }
      .start()
  }
}
