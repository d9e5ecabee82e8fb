package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.SparkSuite

/** Persisted IVF index: exactness at full probe, parity with the
  * in-memory trained path at nProbe=1, and the partition pruning that
  * makes the probe scan nProbe/k of the corpus on disk. */
class SimilarityIndexSpec extends SparkSuite {
  import spark.implicits._

  private val rnd = new scala.util.Random(7)
  private val vecs = Seq.tabulate(40) { i =>
    (i.toLong, Array.fill(8)(rnd.nextGaussian().toFloat))
  }
  private def corpus: DataFrame = vecs.toDF("id", "vec")
  private def queries: DataFrame = corpus.filter(col("id") < 5)

  private def buildIndex(): String = {
    val dir = java.nio.file.Files.createTempDirectory("ivfidx").toString
    Similarity.buildIvfIndex(corpus, "id", "vec", dir, k = 4, iters = 2)
    dir
  }

  private def rows(df: DataFrame): Seq[(Long, Long, Long, Double)] =
    df.select("query_id", "rank", "neighbor_id", "cos")
      .as[(Long, Long, Long, Double)].collect().sortBy(r => (r._1, r._2)).toSeq

  test("full probe (nProbe >= trained k) is EXACTLY brute force") {
    val dir = buildIndex()
    val idx = rows(Similarity.ivfIndexKnn(queries, dir, "id", "vec",
      k = 5, nProbe = 10))
    val brute = rows(Similarity.bruteForceKnn(queries, corpus, "id", "vec",
      k = 5))
    assert(idx === brute)
  }

  test("nProbe=1 matches ivfKnnTrained on the same persisted centroids") {
    val dir = buildIndex()
    val cents = spark.read.parquet(s"$dir/centroids")
    val idx = rows(Similarity.ivfIndexKnn(queries, dir, "id", "vec",
      k = 3, nProbe = 1))
    val mem = rows(Similarity.ivfKnnTrained(queries, corpus, "id", "vec",
      k = 3, centroids = cents))
    assert(idx === mem)
  }

  test("append without retrain == one index encoded with the same quantizer") {
    // build on the first half, append the second half: the probe must
    // equal an index whose postings are ALL vectors assigned against the
    // half-trained centroids (the FAISS add() contract — quantizer
    // frozen, postings grow)
    val half1 = corpus.filter(col("id") < 20)
    val dir = java.nio.file.Files.createTempDirectory("ivfapp").toString
    Similarity.buildIvfIndex(half1, "id", "vec", dir, k = 4, iters = 2)
    Similarity.appendToIvfIndex(corpus.filter(col("id") >= 20), "id", "vec", dir)
    val cents = spark.read.parquet(s"$dir/centroids")
    val appended = rows(Similarity.ivfIndexKnn(queries, dir, "id", "vec",
      k = 3, nProbe = 4))
    // reference: the in-memory trained path over the FULL corpus with the
    // SAME half-trained centroids, full probe == exact within-all-cells
    val mem = rows(Similarity.ivfKnnTrained(queries, corpus, "id", "vec",
      k = 3, centroids = cents))
    // ivfKnnTrained probes 1 cell; compare at nProbe=1 instead
    val appended1 = rows(Similarity.ivfIndexKnn(queries, dir, "id", "vec",
      k = 3, nProbe = 1))
    assert(appended1 === mem)
    // and the appended index at full probe is exactly brute force
    val brute = rows(Similarity.bruteForceKnn(queries, corpus, "id", "vec", k = 3))
    assert(appended === brute)
  }

  test("appended postings land INSIDE the existing cell partitions") {
    val half1 = corpus.filter(col("id") < 20)
    val dir = java.nio.file.Files.createTempDirectory("ivfapp2").toString
    Similarity.buildIvfIndex(half1, "id", "vec", dir, k = 4, iters = 2)
    val cellsBefore = spark.read.parquet(s"$dir/postings")
      .select("cell_id").distinct().as[Int].collect().toSet
    Similarity.appendToIvfIndex(corpus.filter(col("id") >= 20), "id", "vec", dir)
    val after = spark.read.parquet(s"$dir/postings")
    assert(after.count() === 40)
    // the quantizer is frozen, so appended vectors can only land in
    // trained cells — the partition layout stays the trained cell set
    val cellsAfter = after.select("cell_id").distinct().as[Int].collect().toSet
    assert(cellsAfter.subsetOf(cellsBefore))
  }

  test("append rejects vectors of the wrong dimension loudly") {
    val dir = buildIndex()
    val wrong = Seq((100L, Array.fill(5)(0.5f))).toDF("id", "vec")
    val e = intercept[IllegalArgumentException] {
      Similarity.appendToIvfIndex(wrong, "id", "vec", dir)
    }
    assert(e.getMessage.contains("dim"))
    // empty append is a no-op, not an error
    Similarity.appendToIvfIndex(
      Seq.empty[(Long, Array[Float])].toDF("id", "vec"), "id", "vec", dir)
    assert(spark.read.parquet(s"$dir/postings").count() === 40)
  }

  test("probing reads ONLY the probed cells' partitions from disk") {
    val dir = buildIndex()
    import org.apache.spark.sql.execution.{FileSourceScanExec, SparkPlan}
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
    import org.apache.spark.sql.execution.exchange.ReusedExchangeExec
    // AQE hides materialized stages behind QueryStageExec leaves —
    // descend through them to reach every file scan
    def allScans(p: SparkPlan): Seq[FileSourceScanExec] = {
      val here = p match {
        case a: AdaptiveSparkPlanExec => allScans(a.executedPlan)
        case q: QueryStageExec => allScans(q.plan)
        case r: ReusedExchangeExec => allScans(r.child)
        case f: FileSourceScanExec => Seq(f)
        case _ => Nil
      }
      here ++ p.children.flatMap(allScans)
    }
    def filesRead(df: DataFrame): Long = {
      df.collect()
      allScans(df.queryExecution.executedPlan)
        .map(_.metrics("numFiles").value).sum
    }
    val all = filesRead(spark.read.parquet(s"$dir/postings"))
    val one = Similarity.ivfIndexKnn(queries.filter(col("id") === 0L),
      dir, "id", "vec", k = 3, nProbe = 1)
    // count only scans rooted in the postings dir (the centroid read
    // and query side never touch it)
    one.collect()
    val postingsFiles = allScans(one.queryExecution.executedPlan)
      .filter(_.metadata.get("Location").exists(_.contains("postings")))
      .map(_.metrics("numFiles").value).sum
    assert(postingsFiles > 0, "no postings scan found in the plan")
    assert(postingsFiles < all,
      s"expected partition pruning: $postingsFiles !< $all")
  }

  // ---- retrain + generation swap ------------------------------------------

  test("retrain swaps the generation: manifest, fresh dirs, ids preserved") {
    val dir = java.nio.file.Files.createTempDirectory("ivfrt").toString
    Similarity.buildIvfIndex(corpus.filter(col("id") < 20), "id", "vec",
      dir, k = 2, iters = 1) // deliberately stale quantizer
    Similarity.appendToIvfIndex(corpus.filter(col("id") >= 20), "id", "vec", dir)
    Similarity.retrainIvfIndex(spark, dir, k = 4, iters = 2)
    // the pointer names generation 1 and the old fixed-path dirs are gone
    val f = new java.io.File(dir)
    val names = f.listFiles().map(_.getName).toSet
    assert(names.contains("MANIFEST"))
    assert(names.contains("centroids_g1") && names.contains("postings_g1"))
    assert(!names.contains("centroids") && !names.contains("postings"))
    // every id exactly once — retraining moves postings, never loses them
    val (_, posts) = Similarity.livePaths(spark, dir)
    val ids = spark.read.parquet(posts).groupBy("neighbor_id")
      .count().as[(Long, Long)].collect()
    assert(ids.length === 40 && ids.forall(_._2 == 1L))
    // a second retrain bumps to g2 and drops g1
    Similarity.retrainIvfIndex(spark, dir, k = 4, iters = 2)
    val names2 = f.listFiles().map(_.getName).toSet
    assert(names2.contains("postings_g2") && !names2.contains("postings_g1"))
  }

  test("retrained index answers EXACTLY as a fresh build on the full corpus") {
    // the k11 contract: stale build → append → retrain ≡ fresh build,
    // because ids survive retraining and k-means seeds by id value
    val dir = java.nio.file.Files.createTempDirectory("ivfrt2").toString
    Similarity.buildIvfIndex(corpus.filter(col("id") < 20), "id", "vec",
      dir, k = 2, iters = 1)
    Similarity.appendToIvfIndex(corpus.filter(col("id") >= 20), "id", "vec", dir)
    Similarity.retrainIvfIndex(spark, dir, k = 4, iters = 2)
    val fresh = buildIndex() // full corpus, k=4, iters=2
    for (nProbe <- Seq(1, 2, 10)) {
      val rt = rows(Similarity.ivfIndexKnn(queries, dir, "id", "vec",
        k = 3, nProbe = nProbe))
      val fb = rows(Similarity.ivfIndexKnn(queries, fresh, "id", "vec",
        k = 3, nProbe = nProbe))
      assert(rt === fb, s"retrain != fresh build at nProbe=$nProbe")
    }
  }

  test("append after retrain lands in the live generation, probe-visible") {
    val dir = java.nio.file.Files.createTempDirectory("ivfrt3").toString
    Similarity.buildIvfIndex(corpus.filter(col("id") < 20), "id", "vec",
      dir, k = 4, iters = 2)
    Similarity.retrainIvfIndex(spark, dir, k = 4, iters = 2)
    Similarity.appendToIvfIndex(corpus.filter(col("id") >= 20), "id", "vec", dir)
    val (_, posts) = Similarity.livePaths(spark, dir)
    assert(posts.endsWith("postings_g1"))
    assert(spark.read.parquet(posts).count() === 40)
    // full probe over the post-retrain appended index is exact
    val brute = rows(Similarity.bruteForceKnn(queries, corpus, "id", "vec", k = 3))
    assert(rows(Similarity.ivfIndexKnn(queries, dir, "id", "vec",
      k = 3, nProbe = 10)) === brute)
  }

  test("rebuild resets generations; corrupt manifest and PQ retrain refused") {
    val dir = java.nio.file.Files.createTempDirectory("ivfrt4").toString
    Similarity.buildIvfIndex(corpus, "id", "vec", dir, k = 4, iters = 2)
    Similarity.retrainIvfIndex(spark, dir, k = 4, iters = 2)
    // rebuild over a retrained index: pointer and gen dirs wiped, fixed
    // paths live again — a probe never resolves a stale generation
    Similarity.buildIvfIndex(corpus, "id", "vec", dir, k = 4, iters = 2)
    val names = new java.io.File(dir).listFiles().map(_.getName).toSet
    assert(!names.contains("MANIFEST") && !names.exists(_.contains("_g")))
    assert(Similarity.livePaths(spark, dir)._2.endsWith("/postings"))
    // a manifest that exists but does not parse fails loudly
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get(dir, "MANIFEST"), "garbage")
    val e = intercept[IllegalStateException] {
      Similarity.livePaths(spark, dir)
    }
    assert(e.getMessage.contains("corrupt"))
    java.nio.file.Files.delete(java.nio.file.Paths.get(dir, "MANIFEST"))
    // an IVF-PQ index (codebooks artifact) cannot be retrained in place
    java.nio.file.Files.createDirectory(
      java.nio.file.Paths.get(dir, "codebooks"))
    val pq = intercept[IllegalArgumentException] {
      Similarity.retrainIvfIndex(spark, dir, k = 4, iters = 2)
    }
    assert(pq.getMessage.contains("buildIvfPqIndex"))
  }

  test("indexStats reports per-cell postings + files, through the pointer") {
    val dir = java.nio.file.Files.createTempDirectory("ivfst").toString
    Similarity.buildIvfIndex(corpus.filter(col("id") < 20), "id", "vec",
      dir, k = 4, iters = 2)
    def stats() = Similarity.indexStats(spark, dir)
      .as[(Int, Long, Long)].collect().toSeq
    val s0 = stats()
    assert(s0.map(_._2).sum === 20)
    // two appends drop extra files into the touched cells
    Similarity.appendToIvfIndex(corpus.filter(col("id") >= 20 && col("id") < 30),
      "id", "vec", dir)
    Similarity.appendToIvfIndex(corpus.filter(col("id") >= 30), "id", "vec", dir)
    val s1 = stats()
    assert(s1.map(_._2).sum === 40)
    assert(s1.map(_._3).sum > s0.map(_._3).sum, "appends must add files")
    // compaction folds the files back; postings unchanged
    Similarity.compactIvfIndex(spark, dir)
    val s2 = stats()
    assert(s2.map(_._2).sum === 40)
    assert(s2.map(_._3).sum < s1.map(_._3).sum)
    // after a retrain the report follows the generation pointer
    Similarity.retrainIvfIndex(spark, dir, k = 4, iters = 2)
    assert(stats().map(_._2).sum === 40)
  }

  test("retrain holds the compactor flag: concurrent appends fail fast") {
    // the guard direction that protects the swap: an append racing the
    // retrain would otherwise land postings in the DOOMED old generation
    // and be silently deleted with it
    val dir = java.nio.file.Files.createTempDirectory("ivfrt5").toString
    Similarity.buildIvfIndex(corpus, "id", "vec", dir, k = 4, iters = 2)
    graft.sources.Compaction.guardedAppend(spark, dir) {
      intercept[graft.sources.ConcurrentCompactionException] {
        Similarity.retrainIvfIndex(spark, dir, k = 4, iters = 2)
      }
    }
    // and with the appender gone, retrain proceeds
    Similarity.retrainIvfIndex(spark, dir, k = 4, iters = 2)
    assert(Similarity.livePaths(spark, dir)._2.endsWith("postings_g1"))
  }

  test("build refuses while an append is in flight (the rebuild race)") {
    // a rebuild overwrites (then deletes) the directories a concurrent
    // append resolved inside ITS guard — it must fail fast, not drop
    // the append silently
    val dir = java.nio.file.Files.createTempDirectory("ivfbg").toString
    Similarity.buildIvfIndex(corpus, "id", "vec", dir, k = 4, iters = 2)
    graft.sources.Compaction.guardedAppend(spark, dir) {
      intercept[graft.sources.ConcurrentCompactionException] {
        Similarity.buildIvfIndex(corpus, "id", "vec", dir, k = 4, iters = 2)
      }
    }
    Similarity.buildIvfIndex(corpus, "id", "vec", dir, k = 4, iters = 2)
  }

  test("no MANIFEST + no fixed paths resolves the newest on-disk " +
      "generation (the delete→rename instant / crashed-swap reader)") {
    val dir = java.nio.file.Files.createTempDirectory("ivfgen").toString
    Similarity.buildIvfIndex(corpus, "id", "vec", dir, k = 4, iters = 2)
    Similarity.retrainIvfIndex(spark, dir, k = 4, iters = 2)
    Similarity.retrainIvfIndex(spark, dir, k = 4, iters = 2) // gen 2
    val withPointer = rows(Similarity.ivfIndexKnn(queries, dir, "id", "vec",
      k = 3, nProbe = 2))
    // simulate a reader landing in a third retrain's swap instant (or
    // after a crash between delete and rename): the pointer is gone,
    // the fixed paths were deleted two retrains ago — before the
    // fallback this read stranded on dir/postings with a
    // FileNotFoundException
    java.nio.file.Files.delete(java.nio.file.Paths.get(dir, "MANIFEST"))
    assert(Similarity.livePaths(spark, dir)._2.endsWith("postings_g2"))
    assert(rows(Similarity.ivfIndexKnn(queries, dir, "id", "vec",
      k = 3, nProbe = 2)) === withPointer)
    // while the fixed paths EXIST, absent manifest still means gen 0
    // (a first retrain writing its g1 aside must not be resolved early)
    val dir2 = java.nio.file.Files.createTempDirectory("ivfgen0").toString
    Similarity.buildIvfIndex(corpus, "id", "vec", dir2, k = 4, iters = 2)
    java.nio.file.Files.createDirectories(
      java.nio.file.Paths.get(dir2, "centroids_g1")) // half-written aside
    assert(Similarity.livePaths(spark, dir2)._2.endsWith("/postings"))
  }

  test("a crash between swap and drop leaks a generation: reported as " +
      "orphan, swept by the next retrain") {
    val dir = java.nio.file.Files.createTempDirectory("ivforph").toString
    Similarity.buildIvfIndex(corpus, "id", "vec", dir, k = 4, iters = 2)
    Similarity.retrainIvfIndex(spark, dir, k = 4, iters = 2) // gen 1 live
    assert(Similarity.orphanGenerations(spark, dir) === Seq.empty)
    // simulate a second retrain crashing between its MANIFEST swap and
    // its old-generation drop: gen 2 written and live, gen 1 left behind
    org.apache.commons.io.FileUtils.copyDirectory(
      new java.io.File(dir, "centroids_g1"), new java.io.File(dir, "centroids_g2"))
    org.apache.commons.io.FileUtils.copyDirectory(
      new java.io.File(dir, "postings_g1"), new java.io.File(dir, "postings_g2"))
    // write the swapped pointer through the Hadoop fs (the crashed
    // retrain did) so the checksummed local filesystem stays coherent
    val fs = new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(spark.sessionState.newHadoopConf())
    val out = fs.create(new org.apache.hadoop.fs.Path(dir, "MANIFEST"), true)
    try out.write("2".getBytes("UTF-8")) finally out.close()
    assert(Similarity.orphanGenerations(spark, dir) === Seq(1))
    // the orphan is invisible to readers (pointer-resolved) but the
    // next retrain must sweep EVERY non-live state, not just gen 2
    Similarity.retrainIvfIndex(spark, dir, k = 4, iters = 2) // gen 3
    val names = new java.io.File(dir).listFiles().map(_.getName).toSet
    assert(names.contains("postings_g3") && names.contains("centroids_g3"))
    assert(!names.exists(n => n.matches("(centroids|postings)_g[12]")))
    assert(Similarity.orphanGenerations(spark, dir) === Seq.empty)
    val brute = rows(Similarity.bruteForceKnn(queries, corpus, "id", "vec", k = 3))
    assert(rows(Similarity.ivfIndexKnn(queries, dir, "id", "vec",
      k = 3, nProbe = 10)) === brute)
  }

  test("sweepOrphanGenerations reclaims a crashed swap's leak without " +
      "retraining; guarded; no-op on a clean index") {
    val dir = java.nio.file.Files.createTempDirectory("ivfswp").toString
    Similarity.buildIvfIndex(corpus, "id", "vec", dir, k = 4, iters = 2)
    assert(Similarity.sweepOrphanGenerations(spark, dir) === Seq.empty)
    Similarity.retrainIvfIndex(spark, dir, k = 4, iters = 2) // gen 1
    // crash simulation as in the orphan test: gen 2 live, gen 1 leaked
    org.apache.commons.io.FileUtils.copyDirectory(
      new java.io.File(dir, "centroids_g1"), new java.io.File(dir, "centroids_g2"))
    org.apache.commons.io.FileUtils.copyDirectory(
      new java.io.File(dir, "postings_g1"), new java.io.File(dir, "postings_g2"))
    val fs = new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(spark.sessionState.newHadoopConf())
    val out = fs.create(new org.apache.hadoop.fs.Path(dir, "MANIFEST"), true)
    try out.write("2".getBytes("UTF-8")) finally out.close()
    // a sweep racing an append fails fast (compactor flag)
    graft.sources.Compaction.guardedAppend(spark, dir) {
      intercept[graft.sources.ConcurrentCompactionException] {
        Similarity.sweepOrphanGenerations(spark, dir)
      }
    }
    val swept = Similarity.sweepOrphanGenerations(spark, dir)
    assert(swept.map(_.split('/').last).toSet ===
      Set("centroids_g1", "postings_g1"))
    assert(Similarity.orphanGenerations(spark, dir) === Seq.empty)
    // the live generation is untouched and probe-green
    val brute = rows(Similarity.bruteForceKnn(queries, corpus, "id", "vec", k = 3))
    assert(rows(Similarity.ivfIndexKnn(queries, dir, "id", "vec",
      k = 3, nProbe = 10)) === brute)
  }

  test("recallProbe: 1.0 at full probe, deterministic and < 1.0 at " +
      "single probe on a near-uniform corpus") {
    val dir = buildIndex()
    // nProbe >= trained k makes the probe exact by construction
    assert(Similarity.recallProbe(spark, dir, k = 3, nProbe = 10) === 1.0)
    // near-uniform gaussian vectors are the single-probe worst case:
    // recall must be imperfect (the signal the probe exists for) and
    // the hash-sampled query set makes it deterministic. Same default
    // sample size as maintain's probe so the reported recall matches.
    val r1 = Similarity.recallProbe(spark, dir, k = 3, nProbe = 1)
    val r2 = Similarity.recallProbe(spark, dir, k = 3, nProbe = 1)
    assert(r1 === r2)
    assert(r1 > 0.0 && r1 < 1.0, s"single-probe recall $r1")
    // maintain's optional recall floor: below it → retrain dispatched
    // even with balanced cells (the straddle-drift signal skew misses)
    val m = Similarity.maintainIvfIndex(spark, dir, maxSkew = 100.0,
      maxFiles = 100, minRecall = 0.99, probeNProbe = 1)
    assert(m.action === "retrain" && m.recall === r1)
    assert(Similarity.livePaths(spark, dir)._2.endsWith("postings_g1"))
    // floor 0.0 never triggers; recall still reported
    val m2 = Similarity.maintainIvfIndex(spark, dir, maxSkew = 100.0,
      maxFiles = 100, minRecall = 0.0, probeNProbe = 10)
    assert(m2.action === "noop" && m2.recall === 1.0)
    // probe off (default): recall rides as NaN
    assert(Similarity.maintainIvfIndex(spark, dir, maxSkew = 100.0,
      maxFiles = 100).recall.isNaN)
    // held-out query set: identical contract through the overload
    assert(Similarity.recallProbeWith(spark, dir,
      queries, "id", "vec", k = 3, nProbe = 10) === 1.0)
    // and the pool-sampling face (the CLI's srcParquet convention for
    // float indexes): deterministic sample, exact at full probe
    assert(Similarity.recallProbeHeldOut(spark, dir,
      corpus.filter(col("id") >= 30), "id", "vec",
      nQueries = 8, k = 3, nProbe = 10) === 1.0)
    // a PQ index refuses the probe with the way out (codes, not vectors)
    java.nio.file.Files.createDirectory(
      java.nio.file.Paths.get(dir, "codebooks"))
    val pq = intercept[IllegalArgumentException] {
      Similarity.recallProbe(spark, dir)
    }
    assert(pq.getMessage.contains("PQ codes"))
  }

  test("recall probe is id-type agnostic: an int-keyed index probes " +
      "without ClassCastException") {
    // buildIvfIndex accepts any id type; the probe's driver-side fold
    // assumed LongType and crashed a cron'd maintainindex on int ids
    val intCorpus = vecs.map { case (i, v) => (i.toInt, v) }.toDF("id", "vec")
    val dir = java.nio.file.Files.createTempDirectory("ivfint").toString
    Similarity.buildIvfIndex(intCorpus, "id", "vec", dir, k = 4, iters = 2)
    assert(Similarity.recallProbe(spark, dir, k = 3, nProbe = 10) === 1.0)
    val m = Similarity.maintainIvfIndex(spark, dir, maxSkew = 100.0,
      maxFiles = 100, minRecall = 0.0, probeNProbe = 10)
    assert(m.action === "noop" && m.recall === 1.0)
  }

  test("maintain on an index with zero posting rows reports noop with " +
      "skew 0, not an NPE") {
    val dir = java.nio.file.Files.createTempDirectory("ivfempty").toString
    Similarity.buildIvfIndex(corpus, "id", "vec", dir, k = 4, iters = 2)
    // overwrite the postings with a zero-row (schema-only) relation —
    // the max/avg aggregates over it are null
    val empty = spark.read.parquet(s"$dir/postings").limit(0)
      .coalesce(1).localCheckpoint(true)
    empty.write.mode("overwrite").parquet(s"$dir/postings")
    val m = Similarity.maintainIvfIndex(spark, dir, maxSkew = 4.0,
      maxFiles = 4)
    assert(m.action === "noop")
    assert(m.postingSkew === 0.0 && m.cells === 0L)
  }

  // ---- auto-maintenance ---------------------------------------------------

  /** 2-D unit-ish vectors in 4 angular clusters; ids 0..3 land one per
    * cluster so kmeansFit's first-k seeding starts a centroid in each. */
  private def clustered(ids: Range, cluster: Int => Int,
      jitter: Double = 0.02): DataFrame = {
    val base = Array(0.0, math.Pi / 2, math.Pi, 3 * math.Pi / 2)
    ids.map { i =>
      val a = base(cluster(i)) + jitter * ((i % 7) - 3)
      (i.toLong, Array(math.cos(a).toFloat, math.sin(a).toFloat))
    }.toDF("id", "vec")
  }

  test("maintainIvfIndex: drifted appends trigger retrain, file creep " +
      "triggers compact, a healthy index is a no-op") {
    val dir = java.nio.file.Files.createTempDirectory("ivfmaint").toString
    // balanced build: 4 clusters × 5 vectors, one cell each
    Similarity.buildIvfIndex(clustered(0 until 20, _ % 4), "id", "vec",
      dir, k = 4, iters = 2)
    val healthy = Similarity.maintainIvfIndex(spark, dir,
      maxSkew = 2.0, maxFiles = 64)
    assert(healthy.action === "noop" && healthy.cells === 4)
    assert(healthy.postingSkew < 1.5, s"balanced skew ${healthy.postingSkew}")
    // drift: 60 appended vectors all near cluster 0 pile into one cell
    // (frozen quantizer), pushing max/avg postings over the threshold
    Similarity.appendToIvfIndex(clustered(100 until 160, _ => 0),
      "id", "vec", dir)
    val drifted = Similarity.maintainIvfIndex(spark, dir,
      maxSkew = 2.0, maxFiles = 64)
    assert(drifted.action === "retrain",
      s"expected retrain at skew ${drifted.postingSkew}")
    assert(drifted.postingSkew > 2.0)
    // the retrain swapped a generation and conserved every posting
    // (what it buys is a quantizer fitted to the CURRENT data — the
    // recall recovery AnnRecallSpec measures; a genuinely denser
    // region keeps its density, so persistent skew after a same-k
    // retrain is the grow-retrainK signal, per the scaladoc)
    assert(Similarity.livePaths(spark, dir)._2.endsWith("postings_g1"))
    assert(spark.read.parquet(Similarity.livePaths(spark, dir)._2)
      .count() === 80)
    // file creep without drift: two balanced appends add files per cell
    Similarity.appendToIvfIndex(clustered(200 until 220, _ % 4), "id", "vec", dir)
    Similarity.appendToIvfIndex(clustered(300 until 320, _ % 4), "id", "vec", dir)
    val creep = Similarity.maintainIvfIndex(spark, dir,
      maxSkew = 100.0, maxFiles = 2)
    assert(creep.action === "compact",
      s"expected compact at maxFiles ${creep.maxFilesPerCell}")
    val compacted = Similarity.maintainIvfIndex(spark, dir,
      maxSkew = 100.0, maxFiles = 2)
    assert(compacted.action === "noop" && compacted.maxFilesPerCell <= 2)
    // postings survived every verb: 20 + 60 + 20 + 20
    assert(spark.read.parquet(Similarity.livePaths(spark, dir)._2)
      .count() === 120)
  }

  test("overlapped writes keep the body's exception, the write's suppressed") {
    val e = intercept[IllegalStateException] {
      Similarity.withOverlappedWrites(() => throw new RuntimeException("side")) {
        throw new IllegalStateException("body")
      }
    }
    assert(e.getMessage === "body")
    assert(e.getSuppressed.map(_.getMessage).toSeq === Seq("side"))
    // with a clean body the side failure surfaces
    val side = intercept[RuntimeException] {
      Similarity.withOverlappedWrites(() => throw new RuntimeException("side"))(1)
    }
    assert(side.getMessage === "side")
  }
}
