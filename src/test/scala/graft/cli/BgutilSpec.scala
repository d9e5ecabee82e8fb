package graft.cli

import graft.SparkSuite
import graft.cli.Bgutil.Db

/** End-to-end CLI flow: syncdb → write → list/read/du/stats →
  * copy/delete/clean (cli/commands.py:38-54 surface). */
class BgutilSpec extends SparkSuite {

  test("write → list → read → maintenance round-trip") {
    val dir = java.nio.file.Files.createTempDirectory("bgutil").toString
    val db = Db(spark, dir)
    Bgutil.syncdb(db)

    // write three points for two metrics (retention 60*60s:24*3600s)
    Bgutil.write(db, "sys.cpu.0.load", 120L, 1.0, "60*60s:24*3600s", "average")
    Bgutil.write(db, "sys.cpu.0.load", 180L, 3.0, "60*60s:24*3600s", "average")
    Bgutil.write(db, "sys.mem.0.used", 120L, 7.0, "60*60s:24*3600s", "total")

    assert(Bgutil.list(db, "sys.*.0.*").collect().map(_.getString(0)).toSeq ===
      Seq("sys.cpu.0.load", "sys.mem.0.used"))

    val seriesDf = Bgutil.read(db, "sys.cpu.*.load", 120L, 240L)
    val series = seriesDf.orderBy("ts").collect()
    assert(series.length === 2)
    assert(series.map(r => (r.getAs[Long]("ts"), r.getAs[Double]("value"))).toSeq ===
      Seq((120L, 1.0), (180L, 3.0)))

    assert(Bgutil.du(db).count() === 2)
    // du -s: one total row = sum of per-metric bytes
    val totalBytes = Bgutil.du(db, total = true).collect()(0).getLong(0)
    assert(totalBytes === Bgutil.du(db).agg(
      org.apache.spark.sql.functions.sum("bytes")).collect()(0).getLong(0))
    val st = Bgutil.stats(db).collect().map(r =>
      (r.getString(0), r.getLong(1))).toMap
    assert(st("sys") === 2)
    // regex-rule classification, first match wins, fallback "other"
    val st2 = Bgutil.stats(db, Seq(
      ("cpus", "^sys\\.cpu\\."), ("memory", "^sys\\.mem\\."))).collect()
      .map(r => (r.getString(0), r.getLong(1))).toMap
    assert(st2 === Map("cpus" -> 1L, "memory" -> 1L))

    assert(Bgutil.repair(db).count() === 0)

    Bgutil.copy(db, "sys.cpu.0.load", "copy.")
    assert(Bgutil.repair(db).count() === 1) // copied ids have no catalog row

    Bgutil.delete(db, "sys.mem.**")
    assert(Bgutil.list(db, "sys.**").collect().map(_.getString(0)).toSeq ===
      Seq("sys.cpu.0.load"))

    // clean with a tight max age drops everything older
    Bgutil.clean(db, nowS = 10000L, maxAgeS = 100L)
    assert(db.catalog.count() === 0)
  }

  test("render applies a graphite function chain over the planned read") {
    val dir = java.nio.file.Files.createTempDirectory("bgrender").toString
    val db = Db(spark, dir)
    Bgutil.syncdb(db)
    // counter-style series: 10, 40, 100 → perSecond = (Δ/60): 0.5, 1.0
    Bgutil.write(db, "sys.net.0.rx", 60L, 10.0, "60*60s:24*3600s", "average")
    Bgutil.write(db, "sys.net.0.rx", 120L, 40.0, "60*60s:24*3600s", "average")
    Bgutil.write(db, "sys.net.0.rx", 180L, 100.0, "60*60s:24*3600s", "average")

    val rate = Bgutil.render(db, "sys.net.*.rx", 60L, 240L,
      Seq("perSecond", "scale:60"))
      .collect().map(r => (r.getAs[Long]("ts"), Option(r.get(
        r.fieldIndex("value"))).map(_.asInstanceOf[Double])))
    assert(rate.toSeq === Seq((60L, None), (120L, Some(30.0)),
      (180L, Some(60.0))))

    val summ = Bgutil.render(db, "sys.net.*.rx", 60L, 240L,
      Seq("summarize:120:sum", "aliasByNode:1,2"))
      .collect().map(r => (r.getAs[String]("name"), r.getAs[Long]("ts"),
        r.getAs[Double]("value")))
    // windows align to multiples of 120: [0,120)={60s:10}, [120,240)={40,100}
    assert(summ.toSeq === Seq(("net.0", 0L, 10.0), ("net.0", 120L, 140.0)))

    intercept[IllegalArgumentException] {
      Bgutil.render(db, "sys.net.*.rx", 60L, 240L, Seq("bogusFn"))
    }
  }

  test("directories table maintained on write, reconciled by repair") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("bgutil_dirs").toString
    val db = Db(spark, dir)
    Bgutil.syncdb(db)
    Bgutil.write(db, "sys.cpu.0.load", 60L, 1.0, "60*60s:24*3600s", "average")
    Bgutil.writePoints(db, Seq(("app.api.req", 60L, 2.0)),
      "60*60s:24*3600s", "total")
    assert(db.hasDirectories)
    assert(Bgutil.listDirs(db, "**").collect().map(_.getString(0)).toSeq ===
      Seq("app", "app.api", "sys", "sys.cpu", "sys.cpu.0"))
    assert(Bgutil.listDirs(db, "sys.*").collect().map(_.getString(0)).toSeq ===
      Seq("sys.cpu"))

    // tamper: drop one real dir, add a bogus empty one
    db.commitDirectories(
      Seq("app", "app.api", "sys", "sys.cpu", "zz.ghost").toDF("name"))
    val added = Bgutil.repairDirectories(db)
    assert(added.collect().map(_.getString(0)).toSeq === Seq("sys.cpu.0"))
    assert(Bgutil.listDirs(db, "**").collect().map(_.getString(0)).toSeq ===
      Seq("app", "app.api", "sys", "sys.cpu", "sys.cpu.0")) // ghost gone
  }

  test("catalog commits are versioned behind an atomic CURRENT pointer") {
    val dir = java.nio.file.Files.createTempDirectory("bgutil_ver").toString
    val db = Db(spark, dir)
    Bgutil.syncdb(db)
    Bgutil.write(db, "a.b", 60L, 1.0, "60*60s:24*3600s", "average")
    Bgutil.write(db, "a.c", 60L, 2.0, "60*60s:24*3600s", "average")
    val current = java.nio.file.Paths.get(s"$dir/CURRENT")
    assert(java.nio.file.Files.exists(current))
    // pointer token is "N-nonce": N counts commits, the nonce keeps
    // concurrent committers from ever sharing a directory
    val token = java.nio.file.Files.readString(current).trim
    assert(token.takeWhile(_.isDigit).toLong === 3L) // syncdb + 2 writes
    // only the current version dir remains (older ones garbage-collected)
    val dirs = new java.io.File(dir).listFiles()
      .filter(f => f.isDirectory && f.getName.startsWith("catalog_v"))
      .map(_.getName).toSeq
    assert(dirs === Seq(s"catalog_v$token"))
    assert(db.catalog.count() === 2)
  }

  test("writePoints batches: one catalog merge, stage rollups, readable back") {
    val dir = java.nio.file.Files.createTempDirectory("bgutil_batch").toString
    val db = Db(spark, dir)
    Bgutil.syncdb(db)
    val pts = Seq(
      ("sys.cpu.0.load", 0L, 1.0), ("sys.cpu.0.load", 60L, 3.0),
      ("sys.cpu.0.load", 3620L, 5.0), // second stage-1 window
      ("sys.cpu.1.load", 0L, 7.0))
    Bgutil.writePoints(db, pts, "60*60s:24*3600s", "average")
    assert(db.catalog.count() === 2)
    // stage0 series reads back at 60 s
    val s0 = Bgutil.read(db, "sys.cpu.0.load", 0L, 120L).collect()
    assert(s0.map(r => (r.getAs[Long]("ts"), r.getAs[Double]("value"))).toSeq
      === Seq((0L, 1.0), (60L, 3.0)))
    // stage1 rollup exists: (0, avg partial of 2 pts), (3600, 1 pt)
    val st1 = graft.sources.PointsStore.read(spark, db.pointsPath,
      graft.model.Stage(24, 3600, stage0 = false), 0L, 7200L)
    assert(st1.count() === 3) // 2 metrics in window 0 + 1 in window 3600
  }

  test("read is one planned scan per retention class, not a per-metric union") {
    val dir = java.nio.file.Files.createTempDirectory("bgutil_plan").toString
    val db = Db(spark, dir)
    Bgutil.syncdb(db)
    // 12 metrics sharing ONE retention → the read plan must contain no
    // Union at all (the old implementation built a 12-way union)
    (0 until 12).foreach { i =>
      Bgutil.write(db, s"sys.cpu.$i.load", 120L, i.toDouble,
        "60*60s:24*3600s", "average")
    }
    val q = Bgutil.read(db, "sys.cpu.*.load", 120L, 240L)
    val unions = q.queryExecution.optimizedPlan.collect {
      case u: org.apache.spark.sql.catalyst.plans.logical.Union => u
    }
    assert(unions.isEmpty,
      s"expected no Union for a single retention class:\n${q.queryExecution.optimizedPlan}")
    assert(q.count() === 12 * 2) // 12 metrics × 2 spine slots

    // a second retention class adds exactly ONE union branch, not one per metric
    Bgutil.write(db, "sys.gpu.0.load", 120L, 42.0, "120*30s:24*3600s", "average")
    Bgutil.write(db, "sys.gpu.1.load", 150L, 43.0, "120*30s:24*3600s", "average")
    val q2 = Bgutil.read(db, "sys.*.*.load", 120L, 240L)
    val unions2 = q2.queryExecution.optimizedPlan.collect {
      case u: org.apache.spark.sql.catalyst.plans.logical.Union => u
    }
    assert(unions2.size === 1 && unions2.head.children.size === 2,
      s"expected one 2-way union for two retention classes")
    // 12 metrics × 2 slots at 60 s + 2 metrics × 4 slots at 30 s
    assert(q2.count() === 12 * 2 + 2 * 4)

    // mixed aggregators within one retention class still plan no Union
    // (the per-metric aggregator is a literal, not one branch per kind)
    Bgutil.write(db, "sys.cpu.12.load", 120L, 5.0, "60*60s:24*3600s", "total")
    Bgutil.write(db, "sys.cpu.13.load", 120L, 6.0, "60*60s:24*3600s", "maximum")
    val q3 = Bgutil.read(db, "sys.cpu.*.load", 120L, 240L)
    val unions3 = q3.queryExecution.optimizedPlan.collect {
      case u: org.apache.spark.sql.catalyst.plans.logical.Union => u
    }
    assert(unions3.isEmpty,
      s"expected no Union for mixed aggregators:\n${q3.queryExecution.optimizedPlan}")
    assert(q3.count() === 14 * 2)
  }

  test("compact + expire: stream-append → CLI compact → identical read") {
    import org.apache.spark.sql.functions.col
    import org.apache.spark.sql.streaming.Trigger
    import graft.model.{Aggregator, MetricMetadata, Retention}
    import graft.sources.PointsStore
    import graft.streaming.CarbonListener

    val dbDir = java.nio.file.Files.createTempDirectory("bgcompact").toString
    val db = Db(spark, dbDir)
    Bgutil.syncdb(db)
    val spool = new java.io.File(s"$dbDir/carbon_spool"); spool.mkdirs()
    val ckpt = s"$dbDir/ckpt"
    val meta = MetricMetadata(Aggregator.Average,
      Retention.fromString("60*60s:24*3600s"))
    def drain(batchFile: String, lines: Seq[String]): Unit = {
      java.nio.file.Files.writeString(
        java.nio.file.Paths.get(spool.getPath, batchFile),
        lines.mkString("", "\n", "\n"))
      val q = CarbonListener.ingestFromSpool(spark, spool.getPath,
          db.pointsPath, ckpt, _ => meta,
          autoCreate = Some(db.catalogStore))
        .trigger(Trigger.AvailableNow()).start()
      q.awaitTermination()
    }
    // batch 0, then batch 1 re-emitting the SAME steps with new values —
    // the store now holds superseded batch_seq rows for both stages
    drain("batch-0.txt", Seq(
      "sys.cpu.0.load 1.0 60", "sys.cpu.0.load 3.0 120",
      "sys.cpu.1.load 5.0 60"))
    drain("batch-1.txt", Seq(
      "sys.cpu.0.load 9.0 60", "sys.cpu.1.load 7.0 120"))

    def snapshot() = Bgutil.read(db, "sys.cpu.*.load", 60L, 180L)
      .collect().map(r => (r.getString(0), r.getLong(1),
        if (r.isNullAt(2)) None else Some(r.getDouble(2)))).toSet
    val before = snapshot()
    // the re-emitted step resolves to the LATEST batch before compaction
    assert(before.contains(("sys.cpu.0.load", 60L, Some(9.0))))
    val physBefore = spark.read.parquet(db.pointsPath).count()

    Bgutil.run(db, "compact", Array.empty)

    // identical logical contents, strictly fewer physical rows (the
    // superseded re-emissions are gone), batch_seq kept (non-terminal)
    assert(snapshot() === before)
    val physAfter = spark.read.parquet(db.pointsPath).count()
    assert(physAfter < physBefore, s"$physAfter !< $physBefore")
    assert(spark.read.parquet(db.pointsPath).columns.contains("batch_seq"))
    // ...and a fresh streaming append AFTER compaction still supersedes
    drain("batch-2.txt", Seq("sys.cpu.0.load 11.0 60"))
    assert(snapshot().contains(("sys.cpu.0.load", 60L, Some(11.0))))

    // expire far past every stage's retention: all bucket dirs drop
    Bgutil.run(db, "expire", Array((60L + 100L * 86400L).toString))
    PointsStore.listStages(db.pointsPath).foreach { st =>
      assert(PointsStore.listBuckets(db.pointsPath, st).isEmpty,
        s"stage $st still has buckets")
    }
  }

  test("carbonlink hot read: spool backlog visible before the drain") {
    import org.apache.spark.sql.functions.col
    import org.apache.spark.sql.streaming.Trigger
    import graft.model.{Aggregator, MetricMetadata, Retention}
    import graft.streaming.CarbonListener

    val dbDir = java.nio.file.Files.createTempDirectory("bghot").toString
    val db = Db(spark, dbDir)
    Bgutil.syncdb(db)
    val spool = new java.io.File(s"$dbDir/carbon_spool"); spool.mkdirs()
    val meta = MetricMetadata(Aggregator.Average,
      Retention.fromString("60*60s:24*3600s"))
    def drain(): Unit = {
      val q = CarbonListener.ingestFromSpool(spark, spool.getPath,
          db.pointsPath, s"$dbDir/ckpt", _ => meta,
          autoCreate = Some(db.catalogStore))
        .trigger(Trigger.AvailableNow()).start()
      q.awaitTermination()
    }
    def spoolWrite(file: String, lines: String): Unit =
      java.nio.file.Files.writeString(
        java.nio.file.Paths.get(spool.getPath, file), lines)
    def slot(ts: Long): Option[Double] =
      Bgutil.read(db, "sys.hot.m", 60L, 240L).filter(col("ts") === ts)
        .collect().headOption.flatMap(r =>
          if (r.isNullAt(2)) None else Some(r.getDouble(2)))

    // a durable point at slot 60 via a DRAINED batch (uniform
    // batch_seq schema); the 120 slot stays empty
    spoolWrite("batch-0.txt", "sys.hot.m 1.0 60\n")
    drain()
    assert(slot(60L) === Some(1.0))
    assert(slot(120L) === None)

    // points land in the spool (daemon received them, job hasn't
    // drained) — OUT OF ORDER, plus a line for the already-durable slot
    spoolWrite("batch-1.txt",
      "sys.hot.m 9.0 122\nsys.hot.m 7.0 121\nsys.hot.m 4.0 61\n")
    // the read face fills the EMPTY slot from the backlog, resolving
    // the in-step race by LATEST RAW TS (the same rule the ingest's
    // in-batch LWW applies, so hot and durable answers match); the
    // durable slot is NOT shadowed by the backlog
    assert(slot(120L) === Some(9.0))
    assert(slot(60L) === Some(1.0))

    // drain; cleanSource=delete empties the spool, points are durable
    drain()
    // the gap-filled slot answers the same now that it is durable
    assert(slot(120L) === Some(9.0))
    // the already-durable slot: the drained 4.0@61 point legitimately
    // supersedes batch-0's 1.0 via batch_seq LWW — before the drain
    // the overlay correctly did NOT let the backlog shadow durable data
    assert(slot(60L) === Some(4.0))
  }

  test("markers + clearmarkers: inspect provenance, recover, default dir") {
    import graft.sources.Compaction
    val dir = java.nio.file.Files.createTempDirectory("bgmk").toString
    val db = Db(spark, dir)
    Bgutil.syncdb(db)
    Bgutil.write(db, "sys.mk.a", 60L, 1.0, "60*60s:24*3600s", "average")
    def stdout(f: => Unit): String = {
      val bos = new java.io.ByteArrayOutputStream()
      Console.withOut(new java.io.PrintStream(bos))(f)
      bos.toString("UTF-8")
    }
    // clean store: no markers
    assert(stdout(Bgutil.markers(db, db.pointsPath))
      .contains("no guard markers"))
    // a live compaction's marker reports provenance through the CLI face
    Compaction.guardedCompaction(spark, db.pointsPath) {
      val out = stdout(Bgutil.markers(db, db.pointsPath))
      assert(out.contains("_COMPACTING"))
      assert(out.contains(s"pid=${ProcessHandle.current().pid()}"))
    }
    // crash analog: a stale marker left behind; clearmarkers recovers
    java.nio.file.Files.createFile(java.nio.file.Paths.get(
      db.pointsPath, Compaction.CompactingMarker))
    val cleared = stdout(Bgutil.clearMarkersCmd(db, db.pointsPath))
    assert(cleared.contains("cleared 1 marker(s)"))
    assert(stdout(Bgutil.markers(db, db.pointsPath))
      .contains("no guard markers"))
    // and the dispatch face defaults [dir] to the db's points store
    val viaRun = stdout(Bgutil.run(db, "markers", Array.empty))
    assert(viaRun.contains("no guard markers"))
  }

  test("indexstats + maintainindex: the IVF maintenance report and the " +
      "auto compact-vs-retrain dispatch on the CLI") {
    import spark.implicits._
    import graft.operators.Similarity
    val db = Db(spark, java.nio.file.Files.createTempDirectory("bgix").toString)
    def stdout(f: => Unit): String = {
      val bos = new java.io.ByteArrayOutputStream()
      Console.withOut(new java.io.PrintStream(bos))(f)
      bos.toString("UTF-8")
    }
    // 4 angular clusters, one per cell; then a pile of appends near
    // cluster 0 drifts the distribution away from the frozen quantizer
    def vecs(ids: Range, cluster: Int => Int) = {
      val base = Array(0.0, math.Pi / 2, math.Pi, 3 * math.Pi / 2)
      ids.map { i =>
        val a = base(cluster(i)) + 0.02 * ((i % 7) - 3)
        (i.toLong, Array(math.cos(a).toFloat, math.sin(a).toFloat))
      }.toDF("id", "vec")
    }
    val dir = java.nio.file.Files.createTempDirectory("bgix_idx").toString
    Similarity.buildIvfIndex(vecs(0 until 20, _ % 4), "id", "vec", dir,
      k = 4, iters = 2)
    val report = stdout(Bgutil.run(db, "indexstats", Array(dir)))
    assert(report.contains("cell_id\tpostings\tfiles"))
    assert(report.contains("cells=4"))
    assert(report.contains("orphan_generations=none"))
    // drifted appends push the skew over the CLI-passed threshold:
    // maintainindex dispatches the retrain and reports it
    Similarity.appendToIvfIndex(vecs(100 until 160, _ => 0), "id", "vec", dir)
    val acted = stdout(Bgutil.run(db, "maintainindex", Array(dir, "2.0")))
    assert(acted.startsWith("retrain:"), acted)
    assert(Similarity.livePaths(spark, dir)._2.endsWith("postings_g1"))
    // the post-retrain report reads through the generation pointer
    assert(stdout(Bgutil.run(db, "indexstats", Array(dir)))
      .contains("orphan_generations=none"))
    // recall probe on the CLI: full probe is exact by construction
    val probed = stdout(Bgutil.run(db, "recallprobe",
      Array(dir, "16", "3", "8")))
    assert(probed.trim === "recall=1.0000", probed)
    // srcParquet on a FLOAT index routes to the held-out-pool probe
    // (not the PQ face, which would fail on a missing codebooks)
    val qsrc = java.nio.file.Files
      .createTempDirectory("bgix_q").toString + "/q.parquet"
    vecs(400 until 420, _ % 4).write.parquet(qsrc)
    val heldout = stdout(Bgutil.run(db, "recallprobe",
      Array(dir, "8", "3", "8", qsrc, "id", "vec")))
    assert(heldout.trim === "recall=1.0000", heldout)
    // orphan sweep on the CLI: nothing to reclaim on a healthy index
    assert(stdout(Bgutil.run(db, "sweeporphans", Array(dir)))
      .contains("swept 0 orphan dir(s)"))
  }

  test("rebuildcard + compactstore: curation-store maintenance on the " +
      "CLI; maintainindex refuses or rebuilds a PQ index via srcParquet") {
    import spark.implicits._
    import graft.streaming.DocumentStream
    val db = Db(spark, java.nio.file.Files.createTempDirectory("bgcur").toString)
    def stdout(f: => Unit): String = {
      val bos = new java.io.ByteArrayOutputStream()
      Console.withOut(new java.io.PrintStream(bos))(f)
      bos.toString("UTF-8")
    }
    val model = graft.operators.Classify.nbFit(Seq(
      ("en", "the quick brown fox jumps over the lazy dog here"),
      ("fr", "le renard brun rapide saute par dessus le chien"))
      .toDF("lang", "text"), "lang", "text", vocabSize = 16)
    val store = java.nio.file.Files.createTempDirectory("bgcur_st").toString
    val card = java.nio.file.Files.createTempDirectory("bgcur_cd").toString
    def docs(ids: Range) = ids
      .map(i => (i.toLong, s"unique document number $i with plain words", "web"))
      .toDF("doc_id", "text", "source")
    DocumentStream.curationBatch(docs(0 until 8), 0L, "text", "doc_id",
      "source", model, 0.0, store, card)
    DocumentStream.curationBatch(docs(8 until 16), 1L, "text", "doc_id",
      "source", model, 0.0, store, card)
    def storeFiles(): Int = {
      import scala.jdk.CollectionConverters._
      java.nio.file.Files.walk(java.nio.file.Paths.get(store))
        .iterator().asScala.count(_.toString.endsWith(".parquet"))
    }
    def kpDirs(): Set[String] = new java.io.File(store).listFiles()
      .map(_.getName).filter(_.startsWith("kp=")).toSet
    val totals0 = DocumentStream.curationCard(spark, card, "source")
      .collect().map(r => (r.getString(0), r.getLong(1))).toSet
    assert(totals0 === Set(("web", 16L)))
    // rebuildcard folds both increments into the summary
    val folded = stdout(Bgutil.run(db, "rebuildcard", Array(store, card)))
    assert(folded.contains("folded 2 increment dir(s)"), folded)
    assert(DocumentStream.curationCard(spark, card, "source")
      .collect().map(r => (r.getString(0), r.getLong(1))).toSet === totals0)
    // compactstore folds the per-trigger small files: fewer files, same
    // rows, identical kp directory NAMES (the explicit-schema read must
    // never retype a digit prefix)
    val (filesBefore, dirsBefore) = (storeFiles(), kpDirs())
    val rowsBefore = spark.read.parquet(store).count()
    stdout(Bgutil.run(db, "compactstore", Array(store)))
    assert(storeFiles() < filesBefore,
      s"expected fewer files: ${storeFiles()} !< $filesBefore")
    assert(kpDirs() === dirsBefore)
    assert(spark.read.parquet(store).count() === rowsBefore)
    // and the anti-join still sees the compacted history
    DocumentStream.curationBatch(docs(0 until 16), 2L, "text", "doc_id",
      "source", model, 0.0, store, card)
    assert(spark.read.parquet(store).count() === rowsBefore)

    // ---- PQ maintainindex on the CLI ----
    import graft.operators.ProductQuantization
    def vecs(ids: Range, cluster: Int => Int) = {
      val base = Array(0.0, math.Pi / 2, math.Pi, 3 * math.Pi / 2)
      ids.map { i =>
        val a = base(cluster(i)) + 0.02 * ((i % 7) - 3)
        (i.toLong, Array(math.cos(a).toFloat, math.sin(a).toFloat))
      }.toDF("id", "vec")
    }
    val idx = java.nio.file.Files.createTempDirectory("bgcur_pq").toString
    ProductQuantization.buildIvfPqIndex(vecs(0 until 20, _ % 4),
      "id", "vec", idx, kCells = 4, coarseIters = 2, m = 2, ksub = 4,
      pqIters = 1)
    ProductQuantization.appendToIvfPqIndex(vecs(100 until 160, _ => 0),
      "id", "vec", idx)
    // skewed PQ index, no source → typed refusal on the CLI, no throw
    val refused = stdout(Bgutil.run(db, "maintainindex", Array(idx, "2.0")))
    assert(refused.startsWith("refused-pq:"), refused)
    // with the source relation the same signals rebuild a generation
    val src = java.nio.file.Files.createTempDirectory("bgcur_src").toString + "/v.parquet"
    vecs(0 until 20, _ % 4).union(vecs(100 until 160, _ => 0))
      .write.parquet(src)
    val acted = stdout(Bgutil.run(db, "maintainindex",
      Array(idx, "2.0", "4", "NaN", src, "id", "vec")))
    assert(acted.startsWith("retrain:"), acted)
    assert(spark.read.parquet(s"$idx/postings_g1").count() === 80)
    // PQ recall probe on the CLI via the same srcParquet convention
    val probed = stdout(Bgutil.run(db, "recallprobe",
      Array(idx, "8", "3", "4", src, "id", "vec")))
    assert(probed.trim.startsWith("recall="), probed)
    val recall = probed.trim.stripPrefix("recall=").toDouble
    assert(recall > 0.0 && recall <= 1.0, probed)
  }

  test("textindexstats + compacttextindex + compactscdlog + " +
      "compactlayout: maintenance parity for the text index, SCD log " +
      "and z-order layout on the CLI") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    import graft.operators.{Layout, Retrieval}
    val db = Db(spark, java.nio.file.Files.createTempDirectory("bgtx").toString)
    def stdout(f: => Unit): String = {
      val bos = new java.io.ByteArrayOutputStream()
      Console.withOut(new java.io.PrintStream(bos))(f)
      bos.toString("UTF-8")
    }
    def parquetFiles(dir: String): Int = {
      import scala.jdk.CollectionConverters._
      java.nio.file.Files.walk(java.nio.file.Paths.get(dir))
        .iterator().asScala.count(_.toString.endsWith(".parquet"))
    }

    // ---- text index: stats report + compaction through the CLI ----
    val docs = (0 until 30)
      .map(i => (i.toLong, s"term$i shared common words here"))
      .toDF("doc_id", "text")
    val idx = java.nio.file.Files.createTempDirectory("bgtx_idx").toString
    Retrieval.buildTextIndex(docs.filter(col("doc_id") < 20),
      "doc_id", "text", idx, nBuckets = 8)
    Retrieval.appendToTextIndex(
      docs.filter(col("doc_id") >= 20 && col("doc_id") < 25),
      "doc_id", "text", idx)
    Retrieval.appendToTextIndex(docs.filter(col("doc_id") >= 25),
      "doc_id", "text", idx)
    val report = stdout(Bgutil.run(db, "textindexstats", Array(idx)))
    assert(report.contains("term_bucket\tpostings\tfiles"), report)
    assert(report.contains("buckets=8"), report)
    assert(report.contains("appended_docs=10"), report)
    // two appends → marker partition holds 10 live marker rows
    assert(report.contains("marker_rows=10"), report)
    val queries = Seq((1L, "shared common")).toDF("qid", "qtext")
    def top(): Set[(Long, Long, Double, Int)] =
      Retrieval.bm25IndexTopK(queries, "qid", "qtext", idx, k = 5)
        .collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getInt(3)))
        .toSet
    val before = top()
    val filesBefore = parquetFiles(idx)
    stdout(Bgutil.run(db, "compacttextindex", Array(idx)))
    assert(parquetFiles(idx) < filesBefore,
      s"expected fewer files: ${parquetFiles(idx)} !< $filesBefore")
    assert(top() === before, "probe results must survive compaction")
    // markers folded to one row; the appended-doc ledger is conserved
    val report2 = stdout(Bgutil.run(db, "textindexstats", Array(idx)))
    assert(report2.contains("marker_rows=1"), report2)
    assert(report2.contains("appended_docs=10"), report2)

    // ---- SCD changelog: replay-duplicate fold through the CLI ----
    val logDir = java.nio.file.Files.createTempDirectory("bgtx_scd").toString
    val log = Seq((1L, 10L, 1L, "a"), (2L, 10L, 1L, "b"))
      .toDF("k", "ts", "seq", "attr")
      .withColumn("__kb", pmod(xxhash64(col("k")), lit(4)).cast("int"))
    log.write.partitionBy("__kb").mode("append").parquet(logDir)
    log.write.partitionBy("__kb").mode("append").parquet(logDir) // replay
    val scdOut = stdout(Bgutil.run(db, "compactscdlog", Array(logDir)))
    assert(scdOut.contains("4 -> 2 row(s)"), scdOut)
    assert(spark.read.parquet(logDir).count() === 2)

    // ---- z-order layout: append-fragmentation refold on the CLI ----
    val lay = java.nio.file.Files.createTempDirectory("bgtx_lay").toString
    val grid = spark.range(4096)
      .select((col("id") % 64).as("a"), (col("id") / 64).as("b"),
        col("id").as("payload"))
    Layout.zorderWrite(grid.filter(col("payload") % 2 === 0),
      Seq("a", "b"), lay, nFiles = 8, bits = 6)
    Layout.zorderAppend(grid.filter(col("payload") % 2 === 1), lay,
      nFiles = 4)
    val layFilesBefore = parquetFiles(lay)
    stdout(Bgutil.run(db, "compactlayout", Array(lay, "8")))
    assert(parquetFiles(lay) < layFilesBefore,
      s"expected fewer files: ${parquetFiles(lay)} !< $layFilesBefore")
    assert(spark.read.parquet(lay).count() === 4096)
  }

  test("storestats + maintainstore: one cron decision compacts the " +
      "store and folds the card, preserving totals and admission") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    import graft.streaming.DocumentStream
    val db = Db(spark, java.nio.file.Files.createTempDirectory("bgms").toString)
    def stdout(f: => Unit): String = {
      val bos = new java.io.ByteArrayOutputStream()
      Console.withOut(new java.io.PrintStream(bos))(f)
      bos.toString("UTF-8")
    }
    def parquetFiles(dir: String): Int = {
      import scala.jdk.CollectionConverters._
      java.nio.file.Files.walk(java.nio.file.Paths.get(dir))
        .iterator().asScala.count(_.toString.endsWith(".parquet"))
    }
    val store = java.nio.file.Files.createTempDirectory("bgms_store").toString
    val card = java.nio.file.Files.createTempDirectory("bgms_card").toString
    val model = graft.operators.Classify.nbFit(
      Seq(("en", "alpha beta"), ("fr", "gamma delta")).toDF("lang", "text"),
      "lang", "text", vocabSize = 8)
    val frozen = graft.operators.Classify.nbFreeze(model)
    def batch(seq: Long) = (0L until 12L)
      .map(i => (seq * 100 + i, s"doc b$seq n$i alpha beta payload", "en",
        "src", 24L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    for (b <- 0L until 3L)
      DocumentStream.curationBatch(batch(b), b, "text", "doc_id",
        "source", frozen, 0.0, store, card)

    // the stats report: per-prefix docs/files plus the total line
    val report = stdout(Bgutil.run(db, "storestats", Array(store)))
    assert(report.contains("kp\tdocs\tfiles"), report)
    assert(report.contains("total: 36 doc(s)"), report)

    // below both thresholds -> typed noop, nothing rewritten
    val filesBefore = parquetFiles(store)
    val noop = stdout(Bgutil.run(db, "maintainstore",
      Array(store, card, "64", "64")))
    assert(noop.contains("action=noop"), noop)
    assert(parquetFiles(store) === filesBefore)

    // past both thresholds -> compact + rebuildcard in one decision
    val totalsBefore = DocumentStream.curationCard(spark, card, "source")
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2),
        r.getLong(3))).toSet
    val out = stdout(Bgutil.run(db, "maintainstore",
      Array(store, card, "1", "1")))
    assert(out.contains("action=compact+rebuildcard"), out)
    assert(parquetFiles(store) < filesBefore,
      s"expected fewer files: ${parquetFiles(store)} !< $filesBefore")
    assert(spark.read.parquet(store).count() === 36)
    // the folded card reports identical totals; increments were dropped
    val totalsAfter = DocumentStream.curationCard(spark, card, "source")
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2),
        r.getLong(3))).toSet
    assert(totalsAfter === totalsBefore)
    val incDirs = new java.io.File(card).listFiles().map(_.getName)
      .filter(n => n.startsWith("batch_seq=") && !n.endsWith("=-1"))
    assert(incDirs.isEmpty, incDirs.mkString(","))
    // admission survives the maintenance: replaying batch 0 admits 0
    DocumentStream.curationBatch(batch(0L), 3L, "text", "doc_id",
      "source", frozen, 0.0, store, card)
    assert(spark.read.parquet(store).count() === 36)
  }
}
