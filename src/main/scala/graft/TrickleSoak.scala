package graft

import org.apache.spark.sql.functions._

/** Trickle-shape soak for the streaming-curation store: the OTHER axis
  * from [[CurationSoak]], which grows batch and history together (its
  * 100× leg streams 125k-doc triggers). Here the batch is pinned at
  * ONE DOCUMENT per trigger — the single-document/trickle deployment —
  * and only the HISTORY grows, because that is the shape where the
  * anti-join's prefix pruning has to carry the whole claim: a 1-doc
  * batch touches exactly one kp= prefix, so the per-trigger history
  * scan must be ~1/16th of the store's files (width-1 hex prefixes),
  * not the store.
  *
  * Three legs, each over its own seeded store:
  *  - `h1`    — history from the 1× documents corpus
  *  - `hN`    — history from the `factor`× corpus ([[Soak.inflateDocs]]'
  *              token-disjoint inflation), accreted in `seedBatches`
  *              curation batches so every kp dir carries the real
  *              many-trigger small-file layout (~`seedBatches` files
  *              per prefix), NOT one artificially-compact file
  *  - `hNc`   — a copy of `hN` after `compactStore` (the maintenance
  *              verb the trickle deployment crons) — the delta
  *              quantifies what the verb buys the per-trigger cost
  *
  * Protocol: fresh JVM per invocation; seeded stores built ONCE per
  * factor behind sentinels and COPIED per invocation (trickle passes
  * append their own docs — ~1 file per trigger — so the seed stays
  * pristine); an untimed warm-up pass; `passes` timed passes per leg,
  * each with fresh card/checkpoint/source and pass-unique document
  * texts (so every pass admits all its docs — no cross-pass duplicate
  * shortcut); per-pass steal fractions. Published per leg: the median
  * across passes of the median per-trigger `triggerExecution` (ms),
  * plus each pass's value (the store grows ~`triggers` files per pass;
  * publishing per-pass values makes that drift visible instead of
  * averaged away).
  *
  * Usage: `runMain graft.TrickleSoak [srcDir] [outDir] [factor]
  * [passes] [triggers]`; appends one JSON line to
  * `SPARK_GRAFT_SOAK_OUT` (default soak_out.json). */
object TrickleSoak {

  def main(args: Array[String]): Unit = {
    val src = args.headOption.getOrElse("/root/testdata/sf0.1")
    val out = if (args.length > 1) args(1) else "/tmp/graft_trksoak"
    val factor = if (args.length > 2) args(2).toInt else 100
    val passes = if (args.length > 3) args(3).toInt else 3
    val triggers = if (args.length > 4) args(4).toInt else 24
    val seedBatches = 64
    val spark = GraftSession()
    import graft.streaming.DocumentStream

    val small = s"${out}_1x"
    Soak.inflateDocs(spark, src, small, 1)
    Soak.inflateDocs(spark, src, out, factor)

    val baseDocs = spark.read.parquet(s"$src/documents.parquet")
    val model = graft.operators.Classify.nbFit(
      baseDocs.filter(col("doc_id") % 5 =!= 0), "lang", "text",
      vocabSize = 24).localCheckpoint(true)
    val frozen = graft.operators.Classify.nbFreeze(model)
    val setupBlocks = spark.sparkContext.getPersistentRDDs.keySet.toSet

    /** Seed a history store by accreting the corpus in `seedBatches`
      * REAL curation batches (the many-trigger small-file layout a
      * deployment actually has: ~1 file per touched prefix per batch).
      * Built once per (dir, factor) behind a sentinel. */
    def seedStore(docsDir: String, storeDir: String): Unit = {
      val sentinel = java.nio.file.Paths.get(s"$storeDir.seeded.ok")
      if (java.nio.file.Files.exists(sentinel)) return
      org.apache.commons.io.FileUtils.deleteQuietly(
        new java.io.File(storeDir))
      val docs = spark.read.parquet(s"$docsDir/documents.parquet")
        .localCheckpoint(true)
      val junkCard = java.nio.file.Files
        .createTempDirectory("trksoak_seedcard").toString
      for (b <- 0 until seedBatches)
        DocumentStream.curationBatch(
          docs.filter(col("doc_id") % seedBatches === b), b.toLong,
          "text", "doc_id", "source", frozen, 0.0, storeDir, junkCard)
      docs.unpersist(false)
      org.apache.commons.io.FileUtils.deleteQuietly(
        new java.io.File(junkCard))
      java.nio.file.Files.createFile(sentinel)
    }
    val rawSmallStore = s"${small}_store"
    val rawBigStore = s"${out}_store"
    seedStore(small, rawSmallStore)
    seedStore(out, rawBigStore)

    def storeFiles(dir: String): Int = {
      val it = java.nio.file.Files.walk(java.nio.file.Paths.get(dir))
      try {
        import scala.jdk.CollectionConverters._
        it.iterator().asScala.count(p =>
          p.getFileName.toString.endsWith(".parquet"))
      } finally it.close()
    }

    /** One trickle pass: `triggers` single-document micro-batches
      * (pass-unique texts) against `store`. Returns (median per-trigger
      * triggerExecution ms over non-empty triggers, steal fraction). */
    def onePass(store: String, tag: String): (Double, Double) = {
      Bench.drainBlocks(spark, setupBlocks)
      import spark.implicits._
      val srcDir = java.nio.file.Files
        .createTempDirectory("trksoak_src").toString
      for (i <- 0 until triggers)
        Seq((i.toLong, s"trk $tag doc $i the quick brown fox " +
            s"jumps over the lazy dog token$i payload $tag", "en",
            "trickle", 64L))
          .toDF("doc_id", "text", "lang", "source", "n_chars")
          .coalesce(1).write.mode("append").parquet(srcDir)
      val schema = spark.read.parquet(srcDir).schema
      val card = java.nio.file.Files
        .createTempDirectory("trksoak_card").toString
      val ckpt = java.nio.file.Files
        .createTempDirectory("trksoak_ckpt").toString
      val stream = spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1).parquet(srcDir)
      val ticks0 = Bench.cpuTicks()
      val q = stream.writeStream
        .outputMode("append")
        .option("checkpointLocation", ckpt)
        .foreachBatch {
          (batch: org.apache.spark.sql.DataFrame, batchId: Long) =>
            DocumentStream.curationBatch(batch, batchId, "text",
              "doc_id", "source", frozen, 0.0, store, card)
        }
        .start()
      try {
        q.processAllAvailable()
        val steal = Bench.stealFrac(ticks0, Bench.cpuTicks())
        val ms = q.recentProgress.toSeq
          .filter(_.numInputRows > 0)
          .map(_.durationMs.get("triggerExecution").toDouble)
          .sorted
        require(ms.nonEmpty, "no non-empty triggers recorded")
        (ms(ms.size / 2), steal)
      } finally {
        q.stop()
        for (d <- Seq(srcDir, card, ckpt))
          org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(d))
      }
    }

    /** Copy the pristine seeded store into a working dir (passes
      * append to it), run the passes, report per-pass medians. */
    def leg(rawStore: String, name: String,
        compactFirst: Boolean): (Vector[Double], Vector[Double], Int) = {
      val work = java.nio.file.Files
        .createTempDirectory(s"trksoak_${name}_store").toString
      org.apache.commons.io.FileUtils.copyDirectory(
        new java.io.File(rawStore), new java.io.File(work))
      if (compactFirst) {
        val t0 = System.nanoTime()
        DocumentStream.compactStore(spark, work)
        System.err.println(s"[trksoak] $name compactStore took " +
          f"${(System.nanoTime() - t0) / 1e9}%.1f s " +
          s"(${storeFiles(rawStore)} -> ${storeFiles(work)} files)")
      }
      val files = storeFiles(work)
      val runs = (1 to passes).map(p => onePass(work, s"$name-p$p"))
      org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(work))
      (runs.map(_._1).toVector, runs.map(_._2).toVector, files)
    }

    onePass(java.nio.file.Files
      .createTempDirectory("trksoak_warm_store").toString, "warmup")
    val (h1, steal1, f1) = leg(rawSmallStore, "h1", compactFirst = false)
    val (hN, stealN, fN) = leg(rawBigStore, s"h$factor",
      compactFirst = false)
    val (hNc, stealNc, fNc) = leg(rawBigStore, s"h${factor}c",
      compactFirst = true)

    def med(v: Vector[Double]): Double = v.sorted.apply(v.size / 2)
    def arr(v: Vector[Double], d: Int): String =
      v.map(Bench.fmt(_, d)).mkString("[", ",", "]")
    val row =
      s"""{"query":"bg_curation_trickle","triggers":$triggers,""" +
        s""""seed_batches":$seedBatches,""" +
        s""""t1_ms":${Bench.fmt(med(h1), 0)},""" +
        s""""t${factor}_ms":${Bench.fmt(med(hN), 0)},""" +
        s""""t${factor}c_ms":${Bench.fmt(med(hNc), 0)},""" +
        s""""ratio_${factor}x":${Bench.fmt(med(hN) / med(h1), 2)},""" +
        s""""compact_speedup":${Bench.fmt(med(hN) / med(hNc), 2)},""" +
        s""""files":{"h1":$f1,"h$factor":$fN,"h${factor}c":$fNc},""" +
        s""""per_pass_ms":{"h1":${arr(h1, 0)},""" +
        s""""h$factor":${arr(hN, 0)},"h${factor}c":${arr(hNc, 0)}},""" +
        s""""steal":${arr(steal1 ++ stealN ++ stealNc, 3)}}"""
    println(row)
    Soak.appendRow(row)
    spark.stop()
  }
}
