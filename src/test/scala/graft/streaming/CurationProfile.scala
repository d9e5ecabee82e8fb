package graft.streaming

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Measurement harness for the curation per-trigger planning floor
  * (ROUND_NOTES_r12 §10): replicates the bench's bg_curation_stream
  * fixture and attributes each trigger's wall time to plan
  * (analyze+optimize+physical-planning) vs execute per stage, plus the
  * streaming engine's own durationMs breakdown. Run with
  * `sbt "Test/runMain graft.streaming.CurationProfile <sfDir>"`.
  * Test-scope: a profiling tool, not part of the library. */
object CurationProfile {
  def main(args: Array[String]): Unit = {
    val sfDir = if (args.nonEmpty) args(0) else "/root/testdata/sf0.1"
    val spark = graft.GraftSession()
    import spark.implicits._

    def tmp(p: String): String = {
      val d = java.nio.file.Files.createTempDirectory(p)
      d.toString
    }
    val curSrc = tmp("curprof_src")
    val curDocs = spark.read.parquet(s"$sfDir/documents.parquet")
    curDocs.repartition(4).write.mode("overwrite").parquet(curSrc)
    val curSchema = curDocs.schema
    val model = graft.operators.Classify.nbFit(
      curDocs.filter(col("doc_id") % 5 =!= 0), "lang", "text",
      vocabSize = 24).localCheckpoint(true)
    val frozen = graft.operators.Classify.nbFreeze(model)
    def t[A](label: String)(f: => A): A = {
      val t0 = System.nanoTime()
      val r = f
      println(f"[prof] $label%-32s ${(System.nanoTime() - t0) / 1e9}%8.3f s")
      r
    }

    // ---- streaming face: engine-reported durations over 2 runs ----
    for (pass <- 1 to 2) {
      val store = tmp("curprof_store"); val card = tmp("curprof_card")
      val ckpt = tmp("curprof_ckpt")
      val stream = spark.readStream.schema(curSchema)
        .option("maxFilesPerTrigger", 1).parquet(curSrc)
      val q = t(s"stream pass $pass total") {
        val q = DocumentStream.startCurationPipelineJob(stream, "text",
          "doc_id", "source", model, store, card, ckpt)
        q.processAllAvailable(); q
      }
      q.recentProgress.foreach { p =>
        val d = p.durationMs
        println(s"[prof]   trigger batch=${p.batchId} rows=${p.numInputRows} " +
          s"addBatch=${d.get("addBatch")} planning=${d.get("queryPlanning")} " +
          s"walCommit=${d.get("walCommit")} total=${d.get("triggerExecution")}")
      }
      q.stop()
    }

    // ---- batch face: per-stage plan vs execute, 2 passes ----
    val batches = (0 until 4).map(i =>
      curDocs.filter(col("doc_id") % 4 === i).localCheckpoint(true))
    for (pass <- 1 to 2) {
      val store = tmp("curprof_bstore"); val card = tmp("curprof_bcard")
      batches.zipWithIndex.foreach { case (batch, i) =>
        println(s"[prof] -- pass $pass batch $i --")
        // mirrors curationBatch's frozen shape: gate + frozen-NB route
        // in one pinned projection, then the anti-join and two writes
        val routed = t("  gate+route: one-pass exec+ckpt") {
          graft.operators.Classify.nbScoreFrozen(frozen,
            DocumentStream.qualityGate(batch, "text", 0.0), "text")
            .localCheckpoint(true)
        }
        val novel = t("  novel: anti-join+ckpt") {
          DocumentStream.novelAgainstStore(routed, "text", "doc_id", store)
            .localCheckpoint(true)
        }
        t("  store write") {
          novel.withColumn("batch_seq", lit(i.toLong))
            .repartition(col("kp"))
            .write.mode("append").partitionBy("kp").parquet(store)
        }
        t("  card write") {
          novel.groupBy(col("source"))
            .agg(count(lit(1)).as("n_docs"),
              sum(size(graft.operators.TextAnalysis.tokens(col("text")))
                .cast("long")).as("n_tokens"),
              sum(octet_length(col("text")).cast("long")).as("n_bytes"))
            .withColumn("batch_seq", lit(i.toLong))
            .write.mode("overwrite")
            .option("partitionOverwriteMode", "dynamic")
            .partitionBy("batch_seq").parquet(card)
        }
        novel.unpersist(false); routed.unpersist(false)
      }
    }
    spark.stop()
  }
}
