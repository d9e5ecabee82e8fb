package graft.sources

import java.nio.ByteBuffer

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.model.{MetricName, Retention, Stage}

/** Whisper (.wsp) bulk import — S6 (cli/import_whisper.py:51-303) as a
  * Spark job: `binaryFile` datasource scan → pure-JVM byte decoding →
  * (metadata, points) DataFrames ready for the catalog / PointsStore.
  *
  * The on-disk format is whisper's public pack layout:
  *   header  !2LfL  = aggregationType u32, maxRetention u32, xff f32,
  *                    archiveCount u32
  *   archive !3L    = offset u32, secondsPerPoint u32, points u32
  *   point   !Ld    = timestamp u32, value f64   (12 bytes)
  * Archives are ordered finest-first; the first maps to stage0 and the
  * rest to aggregated stages with count=1, exactly as the reference
  * importer emits them (import_whisper.py:98-131: `(ts, value, 1,
  * stage)`); slots with timestamp 0 are empty and skipped.
  *
  * The per-file decode loop is deliberately imperative (a binary codec,
  * like the Multimodal decode path); everything around it — file
  * parallelism, name derivation, store writes — is declarative Spark.
  */
object WhisperImport {

  /** whisper.py aggregationTypeToMethod. */
  private val AggregationNames = Map(
    1 -> "average", 2 -> "sum", 3 -> "last", 4 -> "max", 5 -> "min")

  final case class ArchiveInfo(offset: Int, secondsPerPoint: Int, points: Int)

  final case class WhisperInfo(aggregationMethod: String, maxRetention: Long,
      xFilesFactor: Double, archives: Seq[ArchiveInfo]) {
    def retention: Retention = Retention(archives.zipWithIndex.map {
      case (a, i) => Stage(a.points.toLong, a.secondsPerPoint.toLong,
        stage0 = i == 0)
    }.toList)
  }

  /** Metric name from a .wsp path under `rootDir`
    * (import_whisper.py:51-67): relative path, extension stripped,
    * separators → dots, prefix prepended, sanitized like every other
    * writer's names. */
  def metricNameFromPath(rootDir: String, prefix: String, wspPath: String): String = {
    val root = rootDir.stripSuffix("/") + "/"
    val rel = wspPath.stripPrefix("file:").stripPrefix(root.stripPrefix("file:"))
    require(!rel.contains(".."), s"$wspPath not a child of $rootDir")
    MetricName.sanitize(prefix + rel.stripSuffix(".wsp").replace("/", "."))
  }

  /** Decode the header + archive table (whisper.info equivalent). */
  def parseInfo(bytes: Array[Byte]): WhisperInfo = {
    val buf = ByteBuffer.wrap(bytes) // big-endian by default, matching '!'
    val aggType = buf.getInt()
    val maxRetention = buf.getInt().toLong & 0xFFFFFFFFL
    val xff = buf.getFloat()
    val archiveCount = buf.getInt()
    require(archiveCount > 0 && archiveCount < 64,
      s"implausible archive count $archiveCount — not a whisper file?")
    val archives = (0 until archiveCount).map { _ =>
      ArchiveInfo(buf.getInt(), buf.getInt(), buf.getInt())
    }
    WhisperInfo(AggregationNames.getOrElse(aggType, "average"),
      maxRetention, xff.toDouble, archives)
  }

  /** Decode every stored point of every archive:
    * (stageString, ts, value, count=1). */
  def decodePoints(bytes: Array[Byte]): Seq[(String, Long, Double, Double)] = {
    val info = parseInfo(bytes)
    val buf = ByteBuffer.wrap(bytes)
    info.archives.zipWithIndex.flatMap { case (a, i) =>
      val stage = Stage(a.points.toLong, a.secondsPerPoint.toLong,
        stage0 = i == 0).toString
      (0 until a.points).flatMap { slot =>
        val off = a.offset + slot * 12
        if (off + 12 > bytes.length) None
        else {
          val ts = buf.getInt(off).toLong & 0xFFFFFFFFL
          if (ts == 0) None // empty slot
          else Some((stage, ts, buf.getDouble(off + 4), 1.0))
        }
      }
    }
  }

  /** Scan `rootDir` recursively for .wsp files and decode them all.
    * Returns (metadata, points):
    *   metadata: name, aggregator, retention, xfilesfactor
    *   points:   metric_id (UUIDv5 of the name, the catalog id), stage,
    *             bucket, ts, value, count, replica — the store's layout
    * File-level parallelism comes from the binaryFile scan partitioning;
    * at scale the decode is embarrassingly parallel (one task chain per
    * file batch, no shuffle until the store write). */
  def importDirectory(spark: SparkSession, rootDir: String,
      prefix: String = ""): (DataFrame, DataFrame) = {
    import spark.implicits._
    val files = spark.read.format("binaryFile")
      .option("pathGlobFilter", "*.wsp")
      .option("recursiveFileLookup", "true")
      .load(rootDir)
      .select(col("path"), col("content"))
      .as[(String, Array[Byte])]

    val meta = files.map { case (path, bytes) =>
      val info = parseInfo(bytes)
      (metricNameFromPath(rootDir, prefix, path), info.aggregationMethod,
        info.retention.toString, info.xFilesFactor)
    }.toDF("name", "aggregator", "retention", "xfilesfactor")

    val points = files.flatMap { case (path, bytes) =>
      val id = MetricName.metricId(metricNameFromPath(rootDir, prefix, path))
      val span = parseInfo(bytes).retention.stages.map(st =>
        st.toString -> PointsStore.bucketSpanS(st.precisionS)).toMap
      decodePoints(bytes).map { case (stage, ts, v, c) =>
        (id, stage, ts / span(stage) * span(stage), ts, v, c, 0)
      }
    }.toDF("metric_id", "stage", "bucket", "ts", "value", "count", "replica")

    (meta, points)
  }

  /** Full import into a bgutil-layout database: every stage's points in
    * one store append (each decoded row already knows its stage and
    * bucket, so no stage set is collected first), and the imported
    * metrics' [[MetricCatalog.catalogRows]], stamped with the import
    * time, returned for the caller to commit. */
  def importToStore(spark: SparkSession, rootDir: String, storeDir: String,
      prefix: String = ""): DataFrame = {
    val (meta, points) = importDirectory(spark, rootDir, prefix)
    PointsStore.append(points.repartition(col("stage"), col("bucket")), storeDir)
    MetricCatalog.catalogRows(meta, System.currentTimeMillis() / 1000)
  }
}
