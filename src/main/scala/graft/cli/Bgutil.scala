package graft.cli

import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._

import graft.model._
import graft.operators.{Downsample, TimeSeriesReader}
import graft.sources.{MetricCatalog, PointsStore}

/** `bgutil`-equivalent admin CLI (biggraphite/cli/commands.py:38-54) over a
  * directory-backed database: the metric catalog (parquet versions behind
  * the `<db>/CURRENT` pointer) and `<db>/points` ((stage,
  * bucket)-partitioned parquet).
  *
  * Subcommands: syncdb, write, read, list, du, stats, clean, repair,
  * copy, delete, info — each a thin driver over the library operators,
  * exactly as the reference CLI wraps its accessor.
  */
object Bgutil {

  final case class Db(spark: SparkSession, dir: String) {
    import java.nio.file.{Files, Paths, StandardCopyOption}

    /** Catalog versions commit via a CURRENT pointer file: the parquet is
      * written to a fresh `catalog_v{N}` dir, then CURRENT is replaced by
      * an atomic rename. A writer killed mid-commit leaves the previous
      * version intact — readers never observe a partial catalog. */
    private def currentFile = Paths.get(s"$dir/CURRENT")
    /** The committed catalog version's directory; the pointer holds an
      * opaque "N-nonce" token. */
    def catalogVersion: String = {
      require(hasCatalog, s"$dir has no catalog: run syncdb first")
      s"$dir/catalog_v${Files.readString(currentFile).trim}"
    }
    def pointsPath = s"$dir/points"
    def catalog: DataFrame = catalogAt(catalogVersion)
    /** The catalog version stored at `path`, read with the declared
      * [[MetricCatalog.Schema]]. */
    def catalogAt(path: String): DataFrame =
      spark.read.schema(MetricCatalog.Schema).parquet(path)
    def points: DataFrame = PointsStore.scan(spark, pointsPath)
    def hasCatalog: Boolean = Files.exists(currentFile)

    /** This db's catalog as a [[MetricCatalog.CatalogStore]] — the
      * handle [[graft.streaming.StreamingIngest.startIngestJob]] uses
      * for mid-stream metric auto-create. */
    def catalogStore: MetricCatalog.CatalogStore = new MetricCatalog.CatalogStore {
      override def current(s: SparkSession): Option[DataFrame] =
        if (hasCatalog) Some(catalog) else None
      override def commit(df: DataFrame): Unit = commitCatalog(df)
    }

    /** Commit a new catalog version. Crash-atomic AND concurrency-loud:
      * each commit writes to a unique `catalog_v{N}-{nonce}` directory
      * (two racing writers can never clobber each other's parquet), then
      * re-reads the pointer just before the atomic move and fails if
      * another commit won the race — a compare-and-swap on the pointer
      * content. A genuine lost-update window remains between the check
      * and the move (the filesystem has no CAS primitive), but a
      * concurrent commit now almost always fails loudly instead of
      * silently discarding updates; this is a single-writer tool like
      * the reference CLI. */
    def commitCatalog(df: DataFrame): Unit = {
      def token: Option[String] =
        if (hasCatalog) Some(Files.readString(currentFile).trim) else None
      val prevToken = token
      val prevVersion = prevToken.map(_.takeWhile(_.isDigit).toLong).getOrElse(0L)
      val nonce = java.util.UUID.randomUUID().toString.take(8)
      val nextToken = s"${prevVersion + 1}-$nonce"
      val next = s"$dir/catalog_v$nextToken"
      // the DATED layout (partitioned by 30-day updated_on month, the ES
      // dated-index analog) so time-scoped maintenance scans prune whole
      // month dirs; a commit of zero rows writes no data file and reads
      // back as the empty catalog
      MetricCatalog.writeDated(df, next)
      if (token != prevToken) {
        org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(next))
        throw new IllegalStateException(
          s"concurrent catalog commit detected: pointer moved from " +
            s"$prevToken to $token while writing v$nextToken; " +
            "this commit was discarded — retry on the new version")
      }
      val tmp = Paths.get(s"$dir/catalog.CURRENT.tmp")
      Files.writeString(tmp, nextToken)
      Files.move(tmp, currentFile, StandardCopyOption.ATOMIC_MOVE,
        StandardCopyOption.REPLACE_EXISTING)
      // keep the replaced version: a render that resolved it may still be
      // scanning it. Every older version is garbage (best-effort), as is
      // one a killed commit left behind; a concurrent commit's in-flight
      // version is never older than the replaced one
      Option(new java.io.File(dir).listFiles()).getOrElse(Array.empty)
        .filter { f =>
          val v = f.getName.stripPrefix("catalog_v").takeWhile(_.isDigit)
          f.getName.startsWith("catalog_v") && v.nonEmpty && v.toLong < prevVersion
        }
        .foreach(org.apache.commons.io.FileUtils.deleteQuietly(_))
    }
  }

  def main(args: Array[String]): Unit = {
    if (args.length < 2) {
      System.err.println(
        "usage: bgutil <dbdir> <syncdb|write|read|render|list|dirs|du|stats|clean|repair|copy|delete|compact|expire|markers|clearmarkers|indexstats|maintainindex|recallprobe|sweeporphans|rebuildcard|compactstore|storestats|maintainstore|textindexstats|compacttextindex|compactscdlog|compactlayout|info|clustersdiff|shell|web> [args...]\n" +
        "  compact [sinceS] [bucketsPerSlice]            fold streaming re-emissions (all stages)\n" +
        "  expire <nowS>                                 drop whole bucket dirs past retention\n" +
        "  markers [dir]                                 inspect guard markers + provenance\n" +
        "  clearmarkers [dir]                            stale-marker recovery (confirm holder dead first)\n" +
        "  indexstats <indexDir>                         IVF index per-cell postings/files + skew + orphans\n" +
        "  maintainindex <indexDir> [maxSkew] [maxFiles] [minRecall] [srcParquet [idCol] [vecCol]]\n" +
        "                                                auto compact-vs-retrain from the signals; srcParquet\n" +
        "                                                enables PQ rebuild + PQ recall (else refused-pq)\n" +
        "  recallprobe <indexDir> [n] [k] [nProbe] [srcParquet [idCol] [vecCol]]\n" +
        "                                                measured recall@k vs brute force; srcParquet = PQ source\n" +
        "                                                floats, or a held-out query pool for a float index\n" +
        "  sweeporphans <indexDir>                       reclaim crashed-swap orphan generations (guarded)\n" +
        "  rebuildcard <storeDir> <cardDir> [textCol] [groupCol]  fold the curation card's increment log\n" +
        "  compactstore <storeDir> [prefixesPerSlice]    fold a curation store's per-trigger small files\n" +
        "  storestats <storeDir>                         curation store per-prefix docs/files report\n" +
        "  maintainstore <storeDir> <cardDir> [maxFiles] [maxIncrements] [textCol] [groupCol]  one cron decision: compact and/or rebuild card\n" +
        "  textindexstats <indexDir>                     text/phrase index per-bucket postings/files\n" +
        "  compacttextindex <indexDir> [bucketsPerSlice] fold a text index's per-append small files\n" +
        "  compactscdlog <logDir>                        drop an SCD changelog's replay duplicates\n" +
        "  compactlayout <dir> [nFiles]                  refold an append-fragmented z-order layout\n" +
        "  read <glob> <startS> <endS> [maxDataPoints]   dense series, optionally consolidated\n" +
        "  render <target> <startS> <endS> [maxDataPoints]  evaluate a graphite target expression\n" +
        "  dirs <glob>                                   directory glob, derived from the catalog\n" +
        "  clustersdiff <otherDb> <t0> <t1> <glob...>    cross-cluster diff + timing pctls\n" +
        "  carbon <port> [retention] [aggregator]        carbon plaintext daemon -> streaming ingest\n" +
        "  shell                                         interactive loop, one warm session\n" +
        "  web [port]                                    bgutil-as-a-service (default 8080)")
      sys.exit(2)
    }
    val spark = SparkSession.builder()
      .master(s"local[${sys.env.getOrElse("SPARK_GRAFT_CPUS", "8")}]")
      .config("spark.sql.shuffle.partitions",
        sys.env.getOrElse("SPARK_GRAFT_CPUS", "8"))
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    try run(Db(spark, args(0)), args(1), args.drop(2))
    catch {
      case e: IllegalArgumentException =>
        System.err.println(e.getMessage); spark.stop(); sys.exit(2)
    }
    finally spark.stop()
  }

  def run(db: Db, cmd: String, rest: Array[String]): Unit = cmd match {
    case "syncdb" => syncdb(db)
    case "write" => write(db, rest(0), rest(1).toLong, rest(2).toDouble,
      if (rest.length > 3) rest(3) else Retention.default.toString,
      if (rest.length > 4) rest(4) else "average")
    case "read" => read(db, rest(0), rest(1).toLong, rest(2).toLong,
      maxDataPoints = if (rest.length > 3) rest(3).toInt else 0)
      .orderBy("name", "ts").show(200)
    case "render" => deterministicOrder(RenderTarget.render(db, rest(0),
      rest(1).toLong, rest(2).toLong,
      maxDataPoints = if (rest.length > 3) rest(3).toInt else 0))
      .show(200, truncate = false)
    case "list" => list(db, rest(0)).show(200, truncate = false)
    case "du" => du(db).show(200, truncate = false)
    case "stats" => stats(db).show(200, truncate = false)
    case "clean" => clean(db, rest(0).toLong, rest(1).toLong)
    case "repair" => repair(db).show(200, truncate = false)
    case "dirs" => listDirs(db, rest(0)).show(200, truncate = false)
    case "copy" => copy(db, rest(0), rest(1))
    case "delete" => delete(db, rest(0))
    case "compact" => compact(db,
      sinceS = if (rest.length > 0) rest(0).toLong else Long.MinValue,
      bucketsPerSlice = if (rest.length > 1) rest(1).toInt else 8)
    case "expire" => expire(db, rest(0).toLong)
    case "markers" => markers(db,
      if (rest.nonEmpty) rest(0) else db.pointsPath)
    case "clearmarkers" => clearMarkersCmd(db,
      if (rest.nonEmpty) rest(0) else db.pointsPath)
    case "indexstats" => indexStatsCmd(db, rest(0))
    case "maintainindex" => maintainIndexCmd(db, rest(0),
      maxSkew = if (rest.length > 1) rest(1).toDouble else 4.0,
      maxFiles = if (rest.length > 2) rest(2).toLong else 4L,
      minRecall = if (rest.length > 3) rest(3).toDouble else Double.NaN,
      sourceParquet = if (rest.length > 4) Some(rest(4)) else None,
      sourceIdCol = if (rest.length > 5) rest(5) else "vec_id",
      sourceVecCol = if (rest.length > 6) rest(6) else "embedding")
    case "rebuildcard" =>
      val dropped = graft.streaming.DocumentStream.rebuildCard(db.spark,
        rest(0), rest(1),
        textCol = if (rest.length > 2) rest(2) else "text",
        groupCol = if (rest.length > 3) rest(3) else "source")
      dropped.foreach(p => println(s"folded $p"))
      println(s"folded ${dropped.length} increment dir(s)")
    case "compactstore" =>
      graft.streaming.DocumentStream.compactStore(db.spark, rest(0),
        prefixesPerSlice = if (rest.length > 1) rest(1).toInt else 8)
      println(s"compacted ${rest(0)}")
    case "storestats" =>
      val rows = graft.streaming.DocumentStream
        .storeStats(db.spark, rest(0)).collect()
      println("kp\tdocs\tfiles")
      rows.foreach(r =>
        println(s"${r.getString(0)}\t${r.getLong(1)}\t${r.getLong(2)}"))
      println(s"total: ${rows.map(_.getLong(1)).sum} doc(s) in " +
        s"${rows.map(_.getLong(2)).sum} file(s) across " +
        s"${rows.length} prefix(es)")
    case "maintainstore" =>
      val r = graft.streaming.DocumentStream.maintainStore(db.spark,
        rest(0), rest(1),
        maxFiles = if (rest.length > 2) rest(2).toLong else 16L,
        maxIncrements = if (rest.length > 3) rest(3).toLong else 64L,
        textCol = if (rest.length > 4) rest(4) else "text",
        groupCol = if (rest.length > 5) rest(5) else "source")
      println(s"action=${r.action} prefixes=${r.prefixes} " +
        s"maxFilesPerPrefix=${r.maxFilesPerPrefix} " +
        s"increments=${r.increments}")
    case "textindexstats" => textIndexStatsCmd(db, rest(0))
    case "compacttextindex" =>
      graft.operators.Retrieval.compactTextIndex(db.spark, rest(0),
        bucketsPerSlice = if (rest.length > 1) rest(1).toInt else 16)
      println(s"compacted text index ${rest(0)}")
    case "compactscdlog" =>
      // the before/after row counts ARE the operator signal (how many
      // replay duplicates the log carried); two column-pruned counts
      // next to a full rewrite is noise
      val before = db.spark.read.parquet(rest(0)).count()
      graft.streaming.ScdStream.compactLog(db.spark, rest(0))
      val after = db.spark.read.parquet(rest(0)).count()
      println(s"compacted scd log ${rest(0)}: $before -> $after row(s)")
    case "compactlayout" =>
      graft.operators.Layout.compactLayout(db.spark, rest(0),
        nFiles = if (rest.length > 1) rest(1).toInt else 0)
      println(s"compacted layout ${rest(0)}")
    case "recallprobe" =>
      // no srcParquet → float self-postings probe. With srcParquet:
      // a PQ index probes against the source floats (its exact side
      // NEEDS them); a float index treats the source as a HELD-OUT
      // query pool (the k12b shape) — one arg convention, routed by
      // what the index actually is
      val n = if (rest.length > 1) rest(1).toInt else 32
      val k = if (rest.length > 2) rest(2).toInt else 3
      val nProbe = if (rest.length > 3) rest(3).toInt else 1
      val r =
        if (rest.length > 4) {
          val src = db.spark.read.parquet(rest(4))
          val idCol = if (rest.length > 5) rest(5) else "vec_id"
          val vecCol = if (rest.length > 6) rest(6) else "embedding"
          if (graft.operators.Similarity.isPqIndex(db.spark, rest(0)))
            graft.operators.ProductQuantization.recallProbe(db.spark,
              rest(0), src, idCol, vecCol, n, k, nProbe)
          else graft.operators.Similarity.recallProbeHeldOut(db.spark,
            rest(0), src, idCol, vecCol, n, k, nProbe)
        } else graft.operators.Similarity.recallProbe(db.spark, rest(0),
          nQueries = n, k = k, nProbe = nProbe)
      println(f"recall=$r%.4f")
    case "sweeporphans" =>
      val swept = graft.operators.Similarity
        .sweepOrphanGenerations(db.spark, rest(0))
      swept.foreach(p => println(s"swept $p"))
      println(s"swept ${swept.length} orphan dir(s)")
    case "info" => info(db)
    case "clustersdiff" => clustersDiff(db, Db(db.spark, rest(0)),
      rest(1).toLong, rest(2).toLong, rest.drop(3).toSeq)
    case "carbon" => carbonDaemon(db, rest(0).toInt,
      if (rest.length > 1) rest(1) else Retention.default.toString,
      if (rest.length > 2) rest(2) else "average")
    case "shell" => shell(db)
    case "web" => BgWeb.serve(db,
      if (rest.nonEmpty) rest(0).toInt else 8080)
    case other => throw new IllegalArgumentException(s"unknown command: $other")
  }

  /** `bgutil shell` (cli/command_shell.py): an interactive loop over the
    * SAME session and Db — successive commands skip the JVM/SparkSession
    * startup the one-shot CLI pays per invocation. Each line is
    * `<command> [args...]`; `exit`/`quit`/EOF ends. Errors print and the
    * loop continues (the reference embeds IPython; a dependency-free
    * line shell is the analog a Spark CLI can ship). */
  /** `bgutil carbon <port> [retention] [aggregator]` — the full daemon:
    * a carbon plaintext listener on `port` spooling into
    * `<db>/carbon_spool`, a checkpointed Structured Streaming ingest
    * job (stateful downsampling + metric auto-create into this db's
    * versioned catalog), running until killed. The streaming analog of
    * the reference's carbon plugin process (plugins/carbon.py). */
  def carbonDaemon(db: Db, port: Int, retention: String,
      aggregator: String): Unit = {
    import graft.streaming.CarbonListener
    val meta = MetricMetadata(Aggregator.fromName(aggregator),
      Retention.fromString(retention))
    val listener = new CarbonListener.Listener(
      port, s"${db.dir}/carbon_spool").start()
    println(s"carbon listening on port ${listener.localPort}; " +
      s"default schema $retention/$aggregator")
    val q = CarbonListener.ingestFromSpool(db.spark,
        s"${db.dir}/carbon_spool", db.pointsPath,
        s"${db.dir}/carbon_checkpoint", _ => meta,
        autoCreate = Some(db.catalogStore))
      .start()
    try q.awaitTermination()
    finally listener.stop()
  }

  def shell(db: Db, in: java.io.BufferedReader = Console.in): Unit = {
    println("graft bgutil shell — <command> [args...]; exit to quit")
    var line = in.readLine()
    while (line != null && line.trim != "exit" && line.trim != "quit") {
      val parts = line.trim.split("\\s+").filter(_.nonEmpty)
      if (parts.nonEmpty) {
        try run(db, parts(0), parts.drop(1))
        catch { case e: Exception => println(s"error: ${e.getMessage}") }
      }
      line = in.readLine()
    }
  }

  /** `bg-clusters-diff` (cli/clusters_diff.py): fetch the same glob
    * queries from two databases, report per-target value-dissymmetry
    * percentiles AND per-query fetch-timing percentiles for each host —
    * both in the reference's interpolation-free percentile convention
    * (clusters_diff.py:231-246,513-529). Timings are wall-clock per
    * query, one measurement per (host, glob), like the reference's
    * HostResult.query_to_time_s. */
  def clustersDiff(db: Db, other: Db, startS: Long, endS: Long,
      globs: Seq[String]): Unit = {
    import graft.operators.ClustersDiff
    require(globs.nonEmpty, "clustersdiff: at least one glob query")
    // persist each fetch so the timing count() and the dissymmetry join
    // below share ONE read per (host, glob) — previously the diff plan
    // re-fetched everything the timer had already read
    def timedFetch(d: Db, g: String): (DataFrame, Double) = {
      val t0 = System.nanoTime()
      val df = read(d, g, startS, endS).persist()
      df.count() // force the fetch into the cache
      (df, (System.nanoTime() - t0) / 1e9)
    }
    val fetched = globs.map { g =>
      val (a, ta) = timedFetch(db, g)
      val (b, tb) = timedFetch(other, g)
      (a, b, ta, tb)
    }
    try {
      val dissy = fetched.map { case (a, b, _, _) =>
        ClustersDiff.dissymmetries(a, b)
      }.reduce(_ unionByName _)
      println(s"value dissymmetry percentiles over ${globs.size} queries:")
      ClustersDiff.referencePctls(dissy, col("dissymmetry"))
        .show(truncate = false)
      for ((name, times) <- Seq(
          db.dir -> fetched.map(_._3), other.dir -> fetched.map(_._4)))
        println(s"host $name fetch timing pctls: " +
          ClustersDiff.timingPctls(times)
            .map { case (l, t) => f"p$l%s=$t%.3fs" }.mkString(" "))
    } finally fetched.foreach { case (a, b, _, _) =>
      a.unpersist(); b.unpersist()
    }
  }

  /** Create the table layout (drivers/cassandra.py:2289-2355 syncdb). */
  def syncdb(db: Db): Unit = {
    import db.spark.implicits._
    if (!db.hasCatalog)
      db.commitCatalog(MetricCatalog.catalogRows(Seq.empty[(String, String, String)]
        .toDF("name", "aggregator", "retention"), 0L))
  }

  /** `bgutil write`: ingest one point, (re-)creating the metric
    * (cli/command_write.py) — [[writePoints]] of one point. */
  def write(db: Db, name: String, ts: Long, value: Double,
      retentionStr: String, aggregatorName: String): Unit =
    writePoints(db, Seq((name, ts, value)), retentionStr, aggregatorName)

  /** Directory glob (drivers/cassandra.py:2071-2076), derived from the
    * catalog's metric names like `/metrics/find` (the ES model). */
  def listDirs(db: Db, glob: String, maxResults: Int = 5000): DataFrame =
    MetricCatalog.globDirectories(db.catalog, glob, maxResults)

  /** Batched point ingest — `bgutil write` fed a point list
    * (cli/command_write.py), and the one write path every CLI writer
    * takes: names are sanitized, the batch's metrics are (re-)created in
    * ONE [[MetricCatalog.upsert]] of their [[MetricCatalog.catalogRows]]
    * (`updated_on` = the batch's latest ts), and every stage's points —
    * keyed by the catalog id, staged by [[Downsample.stagePoints]] — land
    * in one store write. All points share one retention/aggregator (like
    * a single bgutil invocation). */
  def writePoints(db: Db, points: Seq[(String, Long, Double)],
      retentionStr: String, aggregatorName: String): Unit = {
    if (points.isEmpty) return
    import db.spark.implicits._
    val metadata = MetricMetadata(Aggregator.fromName(aggregatorName),
      Retention.fromString(retentionStr))
    syncdb(db)
    val name = MetricCatalog.sanitizedName(col("name"))
    val metrics = points.map(_._1).distinct.toDF("name")
      .select(name.as("name")).filter(col("name") =!= "").distinct()
      .withColumn("aggregator", lit(metadata.aggregator.name))
      .withColumn("retention", lit(metadata.retention.toString))
    db.commitCatalog(MetricCatalog.upsert(Some(db.catalog),
      MetricCatalog.catalogRows(metrics, points.map(_._2).max)))

    // a partitioned source, not a local relation: the optimizer would
    // fold the projection below onto the driver and ship the rows inside
    // every task's closure
    val sc = db.spark.sparkContext
    val raw = sc.parallelize(points, sc.defaultParallelism)
      .toDF("name", "ts", "value")
      .withColumn("name", name).filter(col("name") =!= "")
      .withColumn("metric_id", graft.functions.GraftFunctions.graft_uuid5(col("name")))
      .withColumn("aggregator", lit(metadata.aggregator.name))
    // every stage in ONE write job with ONE commit (writeMulti)
    PointsStore.writeMulti(metadata.retention.stages.map(st =>
      (Downsample.stagePoints(raw, st), st, 1)), db.pointsPath)
  }

  /** Catalog answers memoized per committed catalog version: a version
    * directory is never rewritten, so (version, query) always has the
    * same answer, and a commit's new version is a new key — nothing is
    * ever invalidated. A fixed LRU bounds it;
    * every entry is glob-capped (≤ 2 × 5000 rows for a find), so the
    * memo holds at most [[CatalogMemo.Entries]] × that many rows. Points
    * are never memoized. */
  private[graft] object CatalogMemo {
    val Entries = 64
    /** One answer, computed once: a request of a key being computed
      * waits for it (a dashboard sends the same glob from several
      * panels at once). A failed computation (an invalid glob) leaves no
      * entry behind. */
    private final class Cell(compute: () => AnyRef) {
      lazy val value: AnyRef = compute()
    }
    private val lru = new java.util.LinkedHashMap[(String, Any), Cell](
        16, 0.75f, true) {
      override def removeEldestEntry(
          e: java.util.Map.Entry[(String, Any), Cell]): Boolean =
        size() > Entries
    }
    def entries: Int = lru.synchronized(lru.size())

    /** `compute` over `db`'s current catalog, memoized per (version,
      * `query`); `query` names both the kind of answer and its
      * arguments. */
    def apply[V <: AnyRef](db: Db, query: Product)(compute: DataFrame => V): V = {
      val v = db.catalogVersion
      val key = (v, query)
      val cell = lru.synchronized(lru.computeIfAbsent(key,
        _ => new Cell(() => compute(db.catalogAt(v)))))
      try cell.value.asInstanceOf[V]
      catch { case e: Throwable => lru.synchronized(lru.remove(key, cell)); throw e }
    }
  }

  /** The metrics a glob matches (glob-capped, name-ordered), memoized per
    * catalog version: a repeated glob resolves with no Spark job, like
    * the reference's find cache keyed on the query
    * (plugins/graphite.py:368-371). */
  def resolve(db: Db, glob: String,
      maxMetrics: Int = 5000): IndexedSeq[TimeSeriesReader.Matched] =
    CatalogMemo(db, ("match", glob, maxMetrics))(
      TimeSeriesReader.resolve(_, glob, maxMetrics))

  /** graphite-web's find_nodes — (name, is_leaf), ordered — memoized per
    * catalog version like [[resolve]]. */
  def findNodes(db: Db, glob: String): IndexedSeq[(String, Boolean)] =
    CatalogMemo(db, ("nodes", glob))(
      TimeSeriesReader.findNodes(_, glob).collect().toIndexedSeq
        .map(r => (r.getString(0), r.getBoolean(1))))

  /** One metric's catalog row (name, id, aggregator, retention,
    * updated_on), memoized per catalog version like [[resolve]]. */
  def metricInfo(db: Db, name: String): Option[org.apache.spark.sql.Row] =
    CatalogMemo(db, ("metric", name))(_.filter(col("name") === name)
      .select("name", "id", "aggregator", "retention", "updated_on")
      .collect().headOption)

  /** Read dense series for every metric matching the glob
    * (cli/command_read.py:73-147): the memoized [[resolve]], then one
    * planned fetch ([[TimeSeriesReader.fetchMatched]]) that reduces in
    * Spark, collects once and densifies on the driver, filling empty
    * slots from the carbon spool backlog. `maxDataPoints > 0`
    * consolidates server-side (graphite-web's maxDataPoints), applying
    * xFilesFactor when the catalog carries it. `nowS` is the instant
    * stage selection measures age from; without one, the window end
    * stands in for it. Rows come back unordered. */
  def read(db: Db, glob: String, startS: Long, endS: Long,
      maxDataPoints: Int = 0, nowS: Option[Long] = None): DataFrame = {
    val matched = resolve(db, glob)
    TimeSeriesReader.fetchMatched(db.spark, matched, db.pointsPath, startS,
      endS, nowS.getOrElse(endS), maxDataPoints,
      hot = spoolBacklog(db, matched, startS, endS))
  }

  /** Carbonlink parity (plugins/graphite.py:196-205): the read face
    * FILLS empty spine slots from the carbon daemon's unflushed points —
    * here the carbon spool. It holds the backlog the streaming job hasn't
    * drained yet AND drained files its asynchronous cleaner has not
    * deleted yet: a drained file can linger well after its batch
    * committed. Returns the spool lines of the matched metrics as (name,
    * stage0 step) → value. Lines are LWW-resolved per (metric, stage0
    * step) by LATEST RAW TS (arrival order only breaks exact-duplicate-ts
    * ties), the same rule the streaming downsampler's ts-sorted update
    * and the batch downsampler apply, so a slot answers the same whether
    * its point is still hot or already durable. The fetch lets durable
    * values WIN over the spool, so a lingering already-drained line never
    * shadows a newer durable value. Slots the spool can't hit (coarser
    * consolidated spines) keep the durable value, same as carbonlink's
    * grain mismatch. A db with no spool (no daemon) pays one file-exists
    * check. */
  private def spoolBacklog(db: Db, matched: Seq[TimeSeriesReader.Matched],
      startS: Long, endS: Long): Map[(String, Long), Double] = {
    val spoolDir = new java.io.File(s"${db.dir}/carbon_spool")
    val files = Option(spoolDir.listFiles(
        (_: java.io.File, n: String) => n.startsWith("batch-")))
      .getOrElse(Array.empty[java.io.File])
    if (files.isEmpty || matched.isEmpty) return Map.empty
    // backlog points are by nature stage0-recent: snap to the metric's
    // own stage0 precision (first stage of its retention)
    val precision = matched.map(m =>
      m.name -> Retention.fromString(m.retention).stage0.precisionS).toMap
    // the drain deletes consumed files CONCURRENTLY with this scan — a
    // listed file may be gone by execution time, which is the normal
    // operating state, not an error. Collected order is Spark's scan
    // order (file by file, line by line). Only lines whose raw ts
    // can snap into the window reach the driver: a step lies within one
    // precision of its points
    val maxPrec = precision.values.max
    val lines = graft.streaming.StreamingIngest.parseCarbonLines(
        db.spark.read.option("ignoreMissingFiles", "true")
          .text(files.map(_.getPath): _*))
      .filter(col("metric").isin(precision.keys.toSeq: _*) &&
        col("ts") > startS - maxPrec && col("ts") < endS + maxPrec)
      .select("metric", "ts", "value").collect()
    val latest = scala.collection.mutable.HashMap.empty[(String, Long), (Long, Double)]
    lines.foreach { r =>
      val (name, ts, v) = (r.getString(0), r.getLong(1), r.getDouble(2))
      val prec = precision(name)
      val step = (ts.toDouble / prec).toLong * prec
      // a later line wins a raw-ts tie
      if (step >= startS && step < endS &&
          latest.get((name, step)).forall(_._1 <= ts))
        latest((name, step)) = (ts, v)
    }
    latest.map { case (k, (_, v)) => k -> v }.toMap
  }

  /** `bgutil render`'s output order: legend order when a sortBy*
    * materialized one, (name, ts) otherwise. */
  private def deterministicOrder(out: DataFrame): DataFrame = {
    // terminal display shapes (the pie reducers) have no ts column
    val keys =
      if (out.columns.contains("series_order")) Seq("series_order", "ts")
      else Seq("name", "ts")
    out.orderBy(keys.filter(out.columns.contains).map(col): _*)
  }

  /** Resolve a glob to names (cli/command_list.py:23-49). */
  def list(db: Db, glob: String): DataFrame =
    MetricCatalog.globMetrics(db.catalog, glob).select("name")

  /** 24 bytes/point estimate per metric (cli/command_du.py:24-75);
    * `total = true` is the `-s` flag (one summed row). */
  def du(db: Db, total: Boolean = false): DataFrame = {
    val per = db.points.groupBy("metric_id").agg((count(lit(1)) * 24).as("bytes"))
    if (total) per.agg(sum("bytes").as("bytes")) else per
  }

  /** Per-namespace metric/point counts (cli/command_stats.py:54-94).
    * Namespaces are classified by the FIRST matching regex rule, like
    * the reference's Namespaces config (command_stats.py:54-77); names
    * matching no rule fall into "other". Default: first path component. */
  def stats(db: Db, nsRules: Seq[(String, String)] = Nil): DataFrame = {
    val ns =
      if (nsRules.isEmpty) split(col("name"), "\\.").getItem(0)
      else nsRules.foldRight(lit("other"): Column) { case ((label, regex), rest) =>
        when(col("name").rlike(regex), label).otherwise(rest)
      }
    db.catalog.select(ns.as("ns"), col("id").as("metric_id"))
      .join(db.points, Seq("metric_id"), "left")
      .groupBy("ns")
      .agg(countDistinct("metric_id").as("metrics"), count(col("ts")).as("points"))
  }

  /** Drop expired metrics and TTL-expired points
    * (drivers/cassandra.py:3052-3141 + per-stage TTLs). */
  def clean(db: Db, nowS: Long, maxAgeS: Long): Unit = {
    db.commitCatalog(db.catalog.filter(col("updated_on") > nowS - maxAgeS))
    // per-stage TTL: drop whole expired bucket partitions (metadata-only,
    // like Cassandra's TTL + compaction windows)
    PointsStore.dropExpiredBuckets(db.pointsPath, nowS)
  }

  /** `bgutil compact [sinceS] [bucketsPerSlice]` — the maintenance
    * operator a deployment crons: fold streaming batch_seq re-emissions
    * to their final values, every stage present in the store, a few
    * buckets at a time (the TWCS analog the reference tunes in DDL,
    * drivers/cassandra.py:943-1019). `sinceS` bounds steady-state runs
    * to watermark-recent buckets so nightly compaction touches a
    * constant number of partitions, not the table's age. */
  def compact(db: Db, sinceS: Long = Long.MinValue,
      bucketsPerSlice: Int = 8): Unit =
    PointsStore.listStages(db.pointsPath).foreach { st =>
      val done = PointsStore.compactStageSlices(db.spark, db.pointsPath, st,
        bucketsPerSlice, sinceS)
      println(s"compacted stage $st: ${done.length} bucket(s)")
    }

  /** `bgutil expire <nowS>` — TTL enforcement as a metadata operation:
    * delete whole bucket partitions older than their stage's retention
    * (clean's points half, exposed standalone for cron). */
  def expire(db: Db, nowS: Long): Unit = {
    val deleted = PointsStore.dropExpiredBuckets(db.pointsPath, nowS)
    deleted.foreach(p => println(s"expired $p"))
    println(s"expired ${deleted.length} bucket partition(s)")
  }

  /** `bgutil markers [dir]` — report the compaction-guard markers under
    * a store directory (default: this db's points store) WITH their
    * provenance (host / pid / start time), the confirm-the-holder-is-
    * actually-dead step an operator runs before `clearmarkers`. Covers
    * any guarded store path (points, ANN/text index, z-order layout,
    * SCD log) — pass its directory. Read-only. */
  def markers(db: Db, dir: String): Unit = {
    val ms = graft.sources.Compaction.inspectMarkers(db.spark, dir)
    if (ms.isEmpty) println(s"no guard markers under $dir")
    else ms.foreach(m => println(
      s"${m.kind}\thost=${m.host}\tpid=${m.pid}\t" +
        s"started_ms=${m.startedMs}\t${m.path}"))
  }

  /** `bgutil clearmarkers [dir]` — stale-marker recovery after a crash:
    * delete every guard marker under the directory. Run `markers` first
    * and confirm the reported holder is dead — clearing a LIVE holder's
    * marker reopens the append/compaction race the guard exists to
    * close. */
  def clearMarkersCmd(db: Db, dir: String): Unit = {
    val cleared = graft.sources.Compaction.clearMarkers(db.spark, dir)
    cleared.foreach(p => println(s"cleared $p"))
    println(s"cleared ${cleared.length} marker(s)")
  }

  /** `bgutil indexstats <indexDir>` — the IVF maintenance report on the
    * CLI: per-cell postings + file counts through the generation
    * pointer, the posting-skew and files-per-cell summary those rows
    * roll up to (the compact-vs-retrain trigger inputs), and any orphan
    * generations a crashed retrain swap left behind. Read-only;
    * metadata-scale (one row per cell, vectors never deserialized). */
  def indexStatsCmd(db: Db, dir: String): Unit = {
    import graft.operators.Similarity
    val cells = Similarity.indexStats(db.spark, dir)
      .collect().map(r => (r.getInt(0), r.getLong(1), r.getLong(2)))
    println("cell_id\tpostings\tfiles")
    cells.foreach { case (c, p, f) => println(s"$c\t$p\t$f") }
    val skew =
      if (cells.isEmpty) 0.0
      else cells.map(_._2).max.toDouble * cells.length / cells.map(_._2).sum
    val orphans = Similarity.orphanGenerations(db.spark, dir)
    println(f"cells=${cells.length} posting_skew=$skew%.2f " +
      s"max_files_per_cell=${if (cells.isEmpty) 0L else cells.map(_._3).max} " +
      s"orphan_generations=${if (orphans.isEmpty) "none"
        else orphans.mkString(",")}")
  }

  /** `bgutil textindexstats <indexDir>` — the text/phrase-index
    * maintenance report: per-term-bucket postings + file counts (the
    * [[graft.operators.Retrieval.compactTextIndex]] trigger signal —
    * every append/micro-batch drops one more file per touched bucket),
    * with the [[graft.operators.Retrieval.MarkerBucket]] partition
    * broken out as the appended-docs ledger. Read-only;
    * metadata-scale. */
  def textIndexStatsCmd(db: Db, dir: String): Unit = {
    import graft.operators.Retrieval
    val rows = Retrieval.textIndexStats(db.spark, dir)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    println("term_bucket\tpostings\tfiles")
    rows.foreach { case (b, p, f) => println(s"$b\t$p\t$f") }
    val (markers, buckets) = rows.partition(_._1 == Retrieval.MarkerBucket)
    // appended-doc count = Σ__tf over the marker partition (1 per live
    // marker, Σfolded for a fold row) — one pruned aggregate
    val appended =
      if (markers.isEmpty) 0L
      else db.spark.read.parquet(s"$dir/postings")
        .filter(col("term_bucket") === Retrieval.MarkerBucket)
        .agg(coalesce(sum("__tf"), lit(0L))).head().getLong(0)
    println(s"buckets=${buckets.length} " +
      s"max_files_per_bucket=${if (buckets.isEmpty) 0L
        else buckets.map(_._3).max} " +
      s"marker_rows=${markers.map(_._2).sum} appended_docs=$appended")
  }

  /** `bgutil maintainindex <indexDir> [maxSkew] [maxFiles] [minRecall]
    * [srcParquet [idCol] [vecCol]]` — the cron face of
    * [[graft.operators.Similarity.maintainIvfIndex]]: read the
    * indexstats signals, dispatch retrain (skew over threshold, or
    * measured recall under the floor) or compact (files over
    * threshold) or nothing, and report what ran. `srcParquet` names
    * the float source-vector relation an IVF-PQ index retrains from
    * (and measures recall against); without it a PQ decision that
    * needs the vectors prints `refused-pq` instead of throwing. */
  def maintainIndexCmd(db: Db, dir: String, maxSkew: Double,
      maxFiles: Long, minRecall: Double = Double.NaN,
      sourceParquet: Option[String] = None,
      sourceIdCol: String = "vec_id",
      sourceVecCol: String = "embedding"): Unit = {
    val m = graft.operators.Similarity.maintainIvfIndex(db.spark, dir,
      maxSkew = maxSkew, maxFiles = maxFiles, minRecall = minRecall,
      rebuildFrom = sourceParquet.map(p =>
        (db.spark.read.parquet(p), sourceIdCol, sourceVecCol)))
    val recallNote =
      if (m.recall.isNaN) "" else f" recall=${m.recall}%.4f"
    println(f"${m.action}: cells=${m.cells} posting_skew=${m.postingSkew}%.2f " +
      s"max_files_per_cell=${m.maxFilesPerCell} " +
      s"orphan_generations=${if (m.orphans.isEmpty) "none"
        else m.orphans.mkString(",")}" + recallNote)
  }

  /** Orphan points without a catalog row (drivers/cassandra.py:2734-2842). */
  def repair(db: Db): DataFrame =
    MetricCatalog.orphanPoints(db.points, db.catalog)
      .select("metric_id").distinct()

  /** Copy points of a subtree to a new prefix (cli/command_copy.py:37-190).
    * Each copied point carries the destination metric's id — the uuid5 of
    * `newPrefix + name`, the id a catalog row for that name gets — so the
    * copy reads back under the new name once the name is in the catalog.
    * The copy is an ordinary store append: the layout writer, under the
    * compaction guard. */
  def copy(db: Db, glob: String, newPrefix: String): Unit = {
    val ids = MetricCatalog.globMetrics(db.catalog, glob)
      .select(col("id").as("metric_id"), col("name"))
    PointsStore.append(db.points.join(broadcast(ids), Seq("metric_id"))
      .withColumn("metric_id", graft.functions.GraftFunctions.graft_uuid5(
        concat(lit(newPrefix), col("name"))))
      .drop("name"), db.pointsPath)
  }

  /** Delete a subtree from the catalog (cli/command_delete.py:26-55). */
  def delete(db: Db, glob: String): Unit = {
    val regex = graft.glob.Glob.toRegex(glob)
    db.commitCatalog(db.catalog.filter(!col("name").rlike(regex)))
  }

  def info(db: Db): Unit = {
    println(s"catalog: ${db.catalog.count()} metrics")
    val perStage =
      if (PointsStore.listStages(db.pointsPath).isEmpty) Array.empty[Row]
      else db.points.groupBy("stage").count().collect()
    if (perStage.nonEmpty)
      println(s"points: ${perStage.map(_.getLong(1)).sum} rows, stages: " +
        perStage.map(_.getString(0)).sorted.mkString(", "))
    else println("points: empty")
  }
}
