package graft

/** Pins the bench's compact stdout contract: the driver captures only the
  * last 2000 chars of stdout, so the final JSON line must stay under that
  * with every query present (BENCH_r06.json's "parsed": null was exactly
  * this line outgrowing the window). */
class BenchSpec extends SparkSuite {

  // the three composed pipelines + the BASELINE.md micro tasks, read from
  // the SAME constant Bench.main asserts its runtime task list against —
  // the pins below can't silently test a stale domain
  private val allNames = Bench.headlineNames ++ Bench.ExtraTaskNames

  test("short ids are injective over the full bench task list") {
    val shorts = allNames.map(Bench.shortName)
    val dupes = shorts.groupBy(identity).filter(_._2.size > 1).keys.toSeq
    assert(dupes.isEmpty, s"colliding short ids: $dupes")
  }

  test("chunk TSV round-trips samples, phases, crash sentinels, steal rows") {
    val tsv = Seq(
      "task\tq1_agg\t0.5000,0.4800,0.5100",
      "task\tq2_join\t-1,0.9000,0.8000", // crashed pass → NaN → -1
      "task\tk8_knn_ivfpq\t2.0000,1.9000,2.1000",
      "phase\tk8_knn_ivfpq\t1.5000,1.4000,1.6000\t0.5000,0.5000,0.5000",
      "steal\t0.0100,0.0000,0.0300",
      "garbage line that must be ignored").iterator
    val (tasks, phases, steals) = Bench.parseChunkTsv(tsv)
    assert(tasks("q1_agg") === Vector(0.5, 0.48, 0.51))
    assert(tasks("q2_join")(0).isNaN)
    assert(tasks("q2_join").drop(1) === Vector(0.9, 0.8))
    assert(phases("k8_knn_ivfpq") ===
      ((Vector(1.5, 1.4, 1.6), Vector(0.5, 0.5, 0.5))))
    assert(steals === Vector(0.01, 0.0, 0.03))
    // empty input → nothing parsed (the caller fails the chunk)
    val (none, noPhase, noSteal) = Bench.parseChunkTsv(Iterator.empty)
    assert(none.isEmpty && noPhase.isEmpty && noSteal.isEmpty)
  }

  test("phase-split tasks are a subset of the bench task list") {
    assert(Bench.PhaseSplitTasks.subsetOf(allNames.toSet))
  }

  test("trimmedMedian drops exactly the worst pass; small/crashed " +
      "sample guards") {
    // 5 passes with one burst: raw median 0.5, trimmed median of the
    // 4 kept = element at index 2 of (0.4, 0.5, 0.5, 0.6) = 0.5; a
    // burst in an otherwise tight task stops moving the number
    assert(Bench.trimmedMedian(Vector(0.5, 9.0, 0.4, 0.6, 0.5)) === 0.5)
    // the burst WAS the median's neighborhood: (1.0, 1.1, 9.0, 9.5, 9.9)
    // raw median 9.0 vs trimmed median of (1.0, 1.1, 9.0, 9.5) = 9.0 —
    // trimming one pass never hides a real sustained cost
    assert(Bench.trimmedMedian(Vector(9.9, 1.0, 9.0, 9.5, 1.1)) === 9.0)
    assert(Bench.trimmedMedian(Vector(1.0, 2.0)) === 2.0) // plain median
    assert(Bench.trimmedMedian(Vector.empty) === -1.0)
    assert(Bench.trimmedMedian(Vector(1.0, Double.NaN, 2.0)) === -1.0)
  }

  test("chunk manifest: distinct, every entry a real task, r11 chunks " +
      "intact") {
    val known = Bench.ChunkManifest.flatten
    assert(known.distinct === known, "duplicate tasks in ChunkManifest")
    val unknown = known.filterNot(allNames.toSet)
    assert(unknown.isEmpty, s"ChunkManifest names unknown tasks: $unknown")
    // the frozen r11 composition: 15 headline chunks + x + bg. New tasks
    // must NOT be inserted here (they run in the trailing chunk) — a
    // change to these counts means an existing chunk was edited, which
    // invalidates every cross-round comparison for its members. The bg
    // chunk holds 5: its two DSv2-reader rows were retired with that reader.
    assert(Bench.ChunkManifest.size === 17)
    assert(Bench.ChunkManifest.map(_.size) ===
      Seq(8, 8, 8, 8, 8, 8, 8, 8, 8, 8, 8, 8, 8, 8, 3, 3, 5))
    assert(Bench.ChunkManifest.head.head === "a1_aggregators")
    assert(Bench.ChunkManifest(16).last === "bg_ingest_100x1")
  }

  test("worst-case compact stdout line fits the driver's 2000-char tail") {
    // worst case: every median prints THREE digits before the point —
    // every query simultaneously over 100 s would be a 3.5-hour bench,
    // 30× anything ever measured (max single-task median to date: 7.3 s),
    // and the runtime >1900-char stderr warning remains the backstop for
    // the truly pathological host
    val qs = allNames
      .map(n => s""""${Bench.shortName(n)}":999.99""")
      .mkString("{", ",", "}")
    // the compact line summarizes steal as [mean, max] (full per-pass
    // readings live in bench_out.json) so chunk count can't grow the line
    val steal = Seq.fill(2)("0.999").mkString("[", ",", "]")
    // sf prints as its basename on the compact line (emit shortens it)
    val line =
      s"""{"metric":"total","value":99999.99,"unit":"sec","queries":$qs,"cpu_steal":$steal,"sf":"sf0.1","full":"bench_out.json"}"""
    assert(line.length < 1900, s"compact line ${line.length} chars")
  }

  test("GraftSession profile: the exact conf every harness runs under") {
    // session conf is part of the measured system — any change to this
    // list is a reviewed diff and needs an A/B
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    assert(GraftSession.Profile === Seq(
      "spark.master" -> s"local[$cpus]",
      "spark.sql.shuffle.partitions" -> cpus,
      "spark.sql.session.timeZone" -> "UTC",
      "spark.sql.legacy.parquet.nanosAsLong" -> "true",
      "spark.sql.adaptive.enabled" -> "true",
      "spark.ui.enabled" -> "false",
      "spark.sql.codegen.cache.maxEntries" -> "2000",
      "spark.sql.streaming.checkpoint.fileChecksum.enabled" -> "false"))
    assert(!GraftSession.Profile.exists(_._1.contains("openCostInBytes")))
  }

  test("time names AQE query-stage jobs by their SQL execution's callsite") {
    import scala.jdk.CollectionConverters._
    val sc = spark.sparkContext
    val profile = new Bench.RunProfile
    sc.addSparkListener(profile)
    try {
      sc.setJobDescription("bench:spec")
      // the exchange makes AQE materialize a query stage from a pool thread
      spark.range(0, 1000, 1, 4).selectExpr("id % 7 AS k")
        .groupBy("k").count().collect()
      sc.setJobDescription(null)
      // listener events arrive in order: once a later marker job is seen,
      // every job of the query has been
      sc.setCallSite("marker")
      sc.parallelize(1 to 1).count()
      sc.clearCallSite()
      val deadline = System.nanoTime() + 30_000_000_000L
      while (!profile.jobSites.contains("marker") &&
          System.nanoTime() < deadline) Thread.sleep(20)
    } finally sc.removeSparkListener(profile)
    val keys = profile.jobSites.asScala.toSeq.filter(_ != "marker")
    assert(keys.length >= 2, keys)
    assert(!keys.exists(_.contains("CompletableFuture")), keys)
    assert(keys.forall(_.matches("collect at BenchSpec.scala:\\d+")), keys)
  }
}
