package graft

import org.apache.spark.sql.functions._

/** Scale soak for the streaming-curation path (`bg_curation_stream`):
  * the 4-micro-batch protocol the bench times at sf0.1 (4 × 1250
  * docs), run at 1× and `factor`× of the documents table so the
  * store-write and anti-join scaling can be pinned where the
  * per-trigger floor is fully amortized (at 100×: 4 × 125k docs per
  * trigger). Documents inflate with [[Soak.inflateDocs]]' token-disjoint
  * semantics (copy k prefixes every token `q<k>_`, copy 0 verbatim) so
  * each copy reproduces the corpus's internal duplicate structure —
  * content keys stay distinct across copies, the history store grows
  * `factor`×, and the anti-join is measured against real growth, not
  * a degenerate all-duplicates batch.
  *
  * Protocol (the fresh-JVM soak rules): one JVM per invocation, an
  * untimed 1× warm-up pass, then `passes` timed passes per leg with a
  * FRESH store/card/checkpoint each (medians published), per-pass
  * steal fractions, and per-trigger engine attribution (addBatch /
  * queryPlanning / walCommit) printed for the big leg's final pass.
  *
  * Usage: `runMain graft.CurationSoak [srcDir] [outDir] [factor]
  * [passes]`; appends one soak-row JSON line to
  * `SPARK_GRAFT_SOAK_OUT` (default soak_out.json). */
object CurationSoak {

  def main(args: Array[String]): Unit = {
    val src = args.headOption.getOrElse("/root/testdata/sf0.1")
    val out = if (args.length > 1) args(1) else "/tmp/graft_cursoak"
    val factor = if (args.length > 2) args(2).toInt else 100
    val passes = if (args.length > 3) args(3).toInt else 3
    val spark = GraftSession()

    // documents-only inflation (1×-normalized small leg + factor× big
    // leg) — the other tables aren't read by this path, so inflating
    // them at 100× would be wasted minutes
    val small = s"${out}_1x"
    Soak.inflateDocs(spark, src, small, 1)
    Soak.inflateDocs(spark, src, out, factor)

    // frozen router model from the BASE corpus (trained offline in a
    // deployment — its size never scales with the stream); pinned so
    // each pass's job freezes from the materialized grid
    val baseDocs = spark.read.parquet(s"$src/documents.parquet")
    val model = graft.operators.Classify.nbFit(
      baseDocs.filter(col("doc_id") % 5 =!= 0), "lang", "text",
      vocabSize = 24).localCheckpoint(true)
    // the model's checkpoint blocks are deliberate cross-pass state —
    // a localCheckpoint has no lineage to recompute from, so the
    // per-pass drain must keep them (Bench's setupBlocks rule)
    val setupBlocks = spark.sparkContext.getPersistentRDDs.keySet.toSet

    /** One full 4-micro-batch run against `dir`'s documents; returns
      * (seconds, steal fraction, per-trigger progress lines). */
    def onePass(dir: String): (Double, Double, Seq[String]) = {
      Bench.drainBlocks(spark, setupBlocks)
      val srcDir = java.nio.file.Files
        .createTempDirectory("cursoak_src").toString
      val docs = spark.read.parquet(s"$dir/documents.parquet")
      docs.repartition(4).write.mode("overwrite").parquet(srcDir)
      val schema = docs.schema
      val store = java.nio.file.Files
        .createTempDirectory("cursoak_store").toString
      val card = java.nio.file.Files
        .createTempDirectory("cursoak_card").toString
      val ckpt = java.nio.file.Files
        .createTempDirectory("cursoak_ckpt").toString
      val stream = spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1).parquet(srcDir)
      val ticks0 = Bench.cpuTicks()
      val t0 = System.nanoTime()
      val q = graft.streaming.DocumentStream.startCurationPipelineJob(
        stream, "text", "doc_id", "source", model, store, card, ckpt)
      // the stop + temp-dir cleanup MUST be in the finally: a failed
      // pass otherwise leaks a live streaming query (and its dirs) per
      // retry — the r13 `finally ()` was a no-op
      try {
        q.processAllAvailable()
        val sec = (System.nanoTime() - t0) / 1e9
        val steal = Bench.stealFrac(ticks0, Bench.cpuTicks())
        val attribution = q.recentProgress.toSeq.map { p =>
          val d = p.durationMs
          s"""{"batch":${p.batchId},"rows":${p.numInputRows},""" +
            s""""addBatch":${d.get("addBatch")},""" +
            s""""planning":${d.get("queryPlanning")},""" +
            s""""walCommit":${d.get("walCommit")},""" +
            s""""total":${d.get("triggerExecution")}}"""
        }
        (sec, steal, attribution)
      } finally {
        q.stop()
        for (d <- Seq(srcDir, store, card, ckpt))
          org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(d))
      }
    }
    onePass(small) // untimed warm-up
    def leg(dir: String): (Double, Vector[Double], Seq[String]) = {
      val runs = (1 to passes).map(_ => onePass(dir))
      val med = runs.map(_._1).sorted.apply(runs.size / 2)
      (med, runs.map(_._2).toVector, runs.last._3)
    }
    val (t1, steal1, _) = leg(small)
    val (tN, stealN, attrib) = leg(out)
    System.err.println(s"[cursoak] big-leg final-pass trigger attribution:")
    attrib.foreach(l => System.err.println(s"[cursoak]   $l"))
    val exp = math.log(tN / t1) / math.log(factor.toDouble)
    val row =
      s"""{"query":"bg_curation_stream","t1":${Bench.fmt(t1, 2)},""" +
        s""""t$factor":${Bench.fmt(tN, 2)},""" +
        s""""exponent":${Bench.fmt(exp, 2)},""" +
        s""""steal":[${(steal1 ++ stealN).map(Bench.fmt(_, 3)).mkString(",")}]}"""
    println(row)
    Soak.appendRow(row)
    spark.stop()
  }
}
