package graft.sources

import java.nio.ByteBuffer
import java.nio.file.{Files, Paths}

import org.apache.spark.sql.functions._
import graft.SparkSuite
import graft.model.{MetricName, Stage}

/** Whisper bulk import (S6, cli/import_whisper.py:51-303) against a
  * hand-crafted .wsp binary in whisper's public pack layout. */
class WhisperImportSpec extends SparkSuite {
  import spark.implicits._

  /** Two archives: 3×60 s (stage0) and 2×120 s; average, xff 0.5. */
  private def wspBytes: Array[Byte] = {
    val buf = ByteBuffer.allocate(100) // 16 + 2*12 + 3*12 + 2*12
    buf.putInt(1)          // aggregationType = average
    buf.putInt(240)        // maxRetention
    buf.putFloat(0.5f)     // xFilesFactor
    buf.putInt(2)          // archiveCount
    buf.putInt(40).putInt(60).putInt(3)   // archive0: offset 40, 60 s, 3 pts
    buf.putInt(76).putInt(120).putInt(2)  // archive1: offset 76, 120 s, 2 pts
    buf.putInt(60).putDouble(1.5)         // stage0 slot: ts 60 → 1.5
    buf.putInt(120).putDouble(2.5)        // stage0 slot: ts 120 → 2.5
    buf.putInt(0).putDouble(0.0)          // empty slot (ts 0)
    buf.putInt(120).putDouble(2.0)        // stage1 slot: ts 120 → 2.0
    buf.putInt(0).putDouble(0.0)          // empty slot
    buf.array()
  }

  test("metric name derivation from wsp path (import_whisper.py:51-67)") {
    assert(WhisperImport.metricNameFromPath("/data/whisper", "",
      "/data/whisper/sys/cpu/load.wsp") === "sys.cpu.load")
    assert(WhisperImport.metricNameFromPath("/data/whisper", "imported.",
      "file:/data/whisper/sys/cpu/load.wsp") === "imported.sys.cpu.load")
    assertThrows[IllegalArgumentException](
      WhisperImport.metricNameFromPath("/data/whisper", "",
        "/data/whisper/../etc/passwd.wsp"))
  }

  test("header + archives + points decode from the binary layout") {
    val info = WhisperImport.parseInfo(wspBytes)
    assert(info.aggregationMethod === "average")
    assert(info.xFilesFactor === 0.5)
    assert(info.retention.toString === "3*60s:2*120s")

    val pts = WhisperImport.decodePoints(wspBytes)
    assert(pts === Seq(
      ("3*60s_0", 60L, 1.5, 1.0), ("3*60s_0", 120L, 2.5, 1.0),
      ("2*120s_aggr", 120L, 2.0, 1.0)))
  }

  test("directory import → metadata + points → pruned-readable store") {
    val root = Files.createTempDirectory("wsp").toString
    Files.createDirectories(Paths.get(s"$root/sys/cpu"))
    Files.write(Paths.get(s"$root/sys/cpu/load.wsp"), wspBytes)
    Files.write(Paths.get(s"$root/sys/cpu/idle.wsp"), wspBytes)

    val (meta, points) = WhisperImport.importDirectory(spark, root, "w.")
    assert(meta.orderBy("name").select("name", "aggregator", "retention")
      .as[(String, String, String)].collect().toSeq === Seq(
      ("w.sys.cpu.idle", "average", "3*60s:2*120s"),
      ("w.sys.cpu.load", "average", "3*60s:2*120s")))
    assert(points.count() === 6) // 3 stored points × 2 files

    val store = Files.createTempDirectory("wsp_store").toString
    val catalog = WhisperImport.importToStore(spark, root, store, "w.")
    assert(catalog.count() === 2)
    val s0 = PointsStore.read(spark, store, Stage(3, 60, stage0 = true), 0L, 240L)
      .filter(col("metric_id") === MetricName.metricId("w.sys.cpu.load"))
      .orderBy("ts").select("ts", "value").as[(Long, Double)].collect()
    assert(s0.toSeq === Seq((60L, 1.5), (120L, 2.5)))
  }

  test("imported points read back through the returned catalog") {
    import graft.cli.Bgutil
    import graft.operators.TimeSeriesReader
    val root = Files.createTempDirectory("wsp_read").toString
    Files.createDirectories(Paths.get(s"$root/sys/cpu"))
    Files.write(Paths.get(s"$root/sys/cpu/load.wsp"), wspBytes)
    val db = Bgutil.Db(spark, Files.createTempDirectory("wsp_db").toString)
    val catalog = WhisperImport.importToStore(spark, root, db.pointsPath, "w.")
    def values(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getString(0), r.getLong(1),
        if (r.isNullAt(2)) None else Some(r.getDouble(2)))).sortBy(_._2).toSeq
    val want = Seq(("w.sys.cpu.load", 60L, Some(1.5)),
      ("w.sys.cpu.load", 120L, Some(2.5)), ("w.sys.cpu.load", 180L, None))
    assert(values(TimeSeriesReader.findAndFetchPlanned(spark, catalog,
      db.pointsPath, "w.sys.cpu.*", 60L, 240L, nowS = 240L)) === want)
    // committed, the catalog serves the CLI read face too
    db.commitCatalog(catalog)
    assert(values(Bgutil.read(db, "w.sys.cpu.*", 60L, 240L)) === want)
  }
}
