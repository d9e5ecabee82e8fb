package graft

import org.apache.spark.sql.SparkSession

/** Benchmark main: runs the headline queries against
  * `SPARK_GRAFT_SF_DIR` and prints one JSON line
  * {"metric":...,"value":N,"unit":"sec","queries":{...},"sf":...}.
  *
  * Headline set = the operators that dominate the reference's runtime
  * envelope (BASELINE.md): downsampling, read-time grouping, glob find,
  * plus the heaviest pipeline operators (minhash LSH, brute knn).
  */
object Bench {
  private val Headline = Seq(
    "a1_aggregators", "a3_downsample", "a3_downsample_2stage",
    "a5_pointgrouper", "a7_dense_spine", "a11_clusters_diff",
    "f5_glob_predicates", "j1_points_metadata",
    "d2_minhash_lsh", "d3_simhash", "d12_simhash_pairs",
    "d12b_simhash_pairs_wide", "d13_span_removal",
    "d4_ngram_jaccard",
    "dc2_decontaminate_joined", "dc3_decontaminate_bloom",
    "aj1_asof_attribution", "rj1_range_join_binned", "se1_sessionize",
    "k1_knn_brute", "k6_knn_ivf_index", "k7_knn_pq", "k8_knn_ivfpq",
    "k9_knn_ivfpq_residual", "k10_ivf_append", "k11_ivf_retrain",
    "t2_quality", "w2_topk_per_group",
    "e1_storage_read_path", "e4_render_pipeline",
    "km1_kmeans", "d8_semdedup", "d8b_semdedup_sqrtn",
    "g2_window_functions", "p1_sequence_packing",
    "t9_c4_rules", "d10_boilerplate", "p5_mixture_sample",
    "g9_render_breadth2", "g10_render_breadth3", "g13_render_breadth4",
    "g14_render_breadth5", "d11_url_dedup",
    "p6_chunk_windows", "t11_bigram_logloss",
    "r1_bm25_topk", "t13_perplexity_buckets", "d14_prototypes",
    "r2_bm25_index_topk", "d15_cross_corpus_dedup",
    "v1_tfidf_vectors", "r3_tfidf_knn", "cl1_nb_classify",
    "x3_text_semantic_pipeline", "d17_cluster_representatives",
    "bp1_bpe_merges", "bp3_unigram_train", "x4_chunk_dedup_pack",
    "lr1_logreg_gate",
    "ds2_dsir_resample", "r4_hybrid_rrf", "ph1_phrase_mining",
    "t14_ccnet_lang_buckets", "d18_containment", "cu1_curriculum_order",
    "fu1_funnel", "co1_cohort_retention", "pg1_pagerank",
    "x6_dsir_curriculum", "r5_phrase_query", "pg2_centrality_gate",
    "t15_kneser_ney", "se2_sliding_counts", "se3_props_extract",
    "se4_event_transitions", "se5_rfm", "g15_anomaly_flags",
    "pg3_triangles", "pg4_bfs_hops", "x8_user360", "pg5_personalized_ppr", "pg6_hits", "pg7_components",
    "h1_pricing_summary", "h3_shipping_priority", "h5_local_supplier",
    "h14_promo_revenue", "h18_large_orders", "h17_small_qty_revenue",
    "h21_waiting_suppliers", "h13_order_count_distribution",
    "h16_part_supplier_variety", "h2_min_cost_supplier",
    "h20_part_promotion_suppliers", "h22_sales_opportunity",
    "h4_order_priority_check", "h6_forecast_revenue",
    "h10_returned_items", "h12_priority_shipping",
    "h19_disjunctive_revenue",
    "h7_volume_shipping", "h8_market_share", "h9_product_profit",
    "h11_important_stock", "h15_top_supplier", "pr4_top_tokens",
    "pr5_top_tokens_sketch", "r6_phrase_index",
    "er1_fuzzy_ed_join", "er2_nearest_master", "zo1_zorder_scan",
    "cd1_scd2_intervals", "cd2_pit_snapshot", "cd3_snapshot_diff",
    "dq1_expectations",
    // r12/r13 additions — NOT in ChunkManifest, so they run in the
    // trailing chunk (the manifest rule: existing chunks never change)
    "k12_recall_probe", "k12b_recall_probe_heldout", "k13_ivfpq_rebuild",
    "k13b_ivfpq_recall", "pr6_curation_card_lifecycle")

  /** Names of the composed-pipeline + BASELINE.md micro tasks that join
    * the headline list at runtime, in runtime order — the ONE source
    * both `main`'s task assembly (asserted below) and BenchSpec's
    * injectivity/length pins read, so the spec can never silently test
    * a stale domain. */
  private[graft] val ExtraTaskNames: Seq[String] = Seq(
    "x1_curation_pipeline", "x2_embedding_pipeline",
    "x5_pretrain_prep_pipeline",
    "bg_glob_3wild", "bg_read_3600_stage0", "bg_read_3600_stage1",
    "bg_ingest_1m_points", "bg_ingest_100x1", "bg_curation_stream")

  /** FROZEN chunk manifest — which tasks share a measurement JVM. Chunk
    * composition is a measured ±0.3-0.8 s sensitivity for heavy tasks
    * (ROUND_NOTES_r11 §7: inserting two tasks shifted every later
    * chunk's membership and produced three apparent movers plus five
    * counter-movers, each needing a hand re-run to disprove), so
    * membership is pinned here EXPLICITLY rather than derived by
    * `grouped(n)` over a list whose every insertion re-deals the cards.
    * The literal freezes the r11 grouping (15 headline chunks of ≤8 in
    * list order, then the composed x-pipelines, then the BASELINE.md
    * micros). RULES: existing chunks never change; a NEW task is NOT
    * added here — [[runForked]] collects tasks absent from the manifest
    * into one extra TRAILING chunk automatically, and a later round may
    * graduate them into their own pinned chunk (never into an existing
    * one). A manifest entry that stops existing fails loudly. */
  private[graft] val ChunkManifest: Seq[Seq[String]] = Seq(
    Seq("a1_aggregators", "a3_downsample", "a3_downsample_2stage", "a5_pointgrouper", "a7_dense_spine", "a11_clusters_diff", "f5_glob_predicates", "j1_points_metadata"),
    Seq("d2_minhash_lsh", "d3_simhash", "d12_simhash_pairs", "d12b_simhash_pairs_wide", "d13_span_removal", "d4_ngram_jaccard", "dc2_decontaminate_joined", "dc3_decontaminate_bloom"),
    Seq("aj1_asof_attribution", "rj1_range_join_binned", "se1_sessionize", "k1_knn_brute", "k6_knn_ivf_index", "k7_knn_pq", "k8_knn_ivfpq", "k9_knn_ivfpq_residual"),
    Seq("k10_ivf_append", "k11_ivf_retrain", "t2_quality", "w2_topk_per_group", "e1_storage_read_path", "e4_render_pipeline", "km1_kmeans", "d8_semdedup"),
    Seq("d8b_semdedup_sqrtn", "g2_window_functions", "p1_sequence_packing", "t9_c4_rules", "d10_boilerplate", "p5_mixture_sample", "g9_render_breadth2", "g10_render_breadth3"),
    Seq("g13_render_breadth4", "g14_render_breadth5", "d11_url_dedup", "p6_chunk_windows", "t11_bigram_logloss", "r1_bm25_topk", "t13_perplexity_buckets", "d14_prototypes"),
    Seq("r2_bm25_index_topk", "d15_cross_corpus_dedup", "v1_tfidf_vectors", "r3_tfidf_knn", "cl1_nb_classify", "x3_text_semantic_pipeline", "d17_cluster_representatives", "bp1_bpe_merges"),
    Seq("bp3_unigram_train", "x4_chunk_dedup_pack", "lr1_logreg_gate", "ds2_dsir_resample", "r4_hybrid_rrf", "ph1_phrase_mining", "t14_ccnet_lang_buckets", "d18_containment"),
    Seq("cu1_curriculum_order", "fu1_funnel", "co1_cohort_retention", "pg1_pagerank", "x6_dsir_curriculum", "r5_phrase_query", "pg2_centrality_gate", "t15_kneser_ney"),
    Seq("se2_sliding_counts", "se3_props_extract", "se4_event_transitions", "se5_rfm", "g15_anomaly_flags", "pg3_triangles", "pg4_bfs_hops", "x8_user360"),
    Seq("pg5_personalized_ppr", "pg6_hits", "pg7_components", "h1_pricing_summary", "h3_shipping_priority", "h5_local_supplier", "h14_promo_revenue", "h18_large_orders"),
    Seq("h17_small_qty_revenue", "h21_waiting_suppliers", "h13_order_count_distribution", "h16_part_supplier_variety", "h2_min_cost_supplier", "h20_part_promotion_suppliers", "h22_sales_opportunity", "h4_order_priority_check"),
    Seq("h6_forecast_revenue", "h10_returned_items", "h12_priority_shipping", "h19_disjunctive_revenue", "h7_volume_shipping", "h8_market_share", "h9_product_profit", "h11_important_stock"),
    Seq("h15_top_supplier", "pr4_top_tokens", "pr5_top_tokens_sketch", "r6_phrase_index", "er1_fuzzy_ed_join", "er2_nearest_master", "zo1_zorder_scan", "cd1_scd2_intervals"),
    Seq("cd2_pit_snapshot", "cd3_snapshot_diff", "dq1_expectations"),
    Seq("x1_curation_pipeline", "x2_embedding_pipeline", "x5_pretrain_prep_pipeline"),
    Seq("bg_glob_3wild", "bg_read_3600_stage0", "bg_read_3600_stage1", "bg_ingest_1m_points", "bg_ingest_100x1"))

  /** The build-then-probe queries whose in-query index/layout build
    * dominates their total (r10 verdict item 6: k8's probe could
    * regress 3× and the total would move 10%). Their thunks time the
    * two phases separately — `build` = the eager index/layout write
    * that runs when the query function is applied, `probe` = the
    * returned plan's execution — and the per-pass sub-timings are
    * published under `"phases"` in bench_out.json. The published
    * median for the TASK stays build+probe (protocol unchanged). */
  private[graft] val PhaseSplitTasks: Set[String] = Set(
    "r2_bm25_index_topk", "r6_phrase_index", "k6_knn_ivf_index",
    "k8_knn_ivfpq", "k9_knn_ivfpq_residual", "k10_ivf_append",
    "k11_ivf_retrain", "k12_recall_probe", "k12b_recall_probe_heldout",
    "k13_ivfpq_rebuild", "k13b_ivfpq_recall",
    "zo1_zorder_scan")

  /** Per-JVM recorder for the [[PhaseSplitTasks]] sub-timings: task →
    * (build samples, probe samples), one entry per timed pass (a
    * crashed pass records nothing — the task sample is already NaN). */
  private val phaseSamples =
    collection.mutable.LinkedHashMap[String, (Vector[Double], Vector[Double])]()

  /** Locale-pinned fixed-point formatting for every numeric field in
    * the emitted JSON (shared with [[Soak]]): the scala f-interpolator
    * uses the default JVM locale, which under a comma-decimal locale
    * would print `1,234` and break the harness parse. */
  private[graft] def fmt(v: Double, decimals: Int): String =
    String.format(java.util.Locale.ROOT, s"%.${decimals}f", Double.box(v))

  /** Every bench task name in runtime order — the headline queries then
    * the composed pipelines + BASELINE.md micros. This is the ONE order
    * every mode (forked parent, chunk child, in-process) runs and
    * publishes in. */
  private[graft] def allTaskNames: Seq[String] = Headline ++ ExtraTaskNames

  /** One warm-up pass over a tiny query to absorb JVM/codegen startup,
    * plus JIT-warming the native expression hot loops (MinHashSig,
    * ShingleSet, SimHashSig, ArrayDot) on 100 in-memory rows so the
    * timed queries measure steady-state throughput, not first-call
    * compilation of the expression classes. */
  private def warmup(spark: SparkSession, sfDir: String): Unit = {
    SparkEntry.queries("f10_result_cap")(spark, sfDir).count()
    import org.apache.spark.sql.functions._
    import spark.implicits._
    val tiny = (0 until 100)
      .map(i => (i.toLong, s"warm up tokens $i a b c d e f g"))
      .toDF("id", "text")
    tiny.select(
      graft.functions.MinHashSig.minhash_sig(col("text"), 8, 3),
      graft.functions.ShingleSet.shingle_set(col("text"), 3),
      graft.functions.SimHashSig.simhash_sig(col("text"), 16),
      graft.functions.ArrayDot.array_dot(
        array(lit(1.0), lit(2.0)), array(lit(3.0), lit(4.0))))
      .count()
  }

  /** Build the (name, thunk) tasks for exactly `names`, in their order.
    * The BASELINE.md micros' one-time untimed setup (stores, catalogs)
    * runs ONLY when the requested names include a `bg_` task — a forked
    * chunk of plain queries must not pay for stores it never probes. */
  private def buildTasks(spark: SparkSession, sfDir: String,
      names: Seq[String]): Seq[(String, () => Unit)] = {
    val queries = SparkEntry.queries
    lazy val micros: Map[String, () => Unit] = {
      val built = baselineMicroTasks(spark, sfDir)
      // the spec pins its guarantees against ExtraTaskNames — fail fast
      // if the runtime list ever drifts from the declared one
      require(built.map(_._1) == ExtraTaskNames.filter(_.startsWith("bg_")),
        s"micro task names drifted from Bench.ExtraTaskNames: " +
          s"${built.map(_._1)}")
      built.toMap
    }
    names.map {
      // x1/x2/x5 are ordinary SparkEntry queries since they gained
      // DuckDB oracles — the first case times the same composed plan
      // the correctness gate hashes
      case n if PhaseSplitTasks.contains(n) && queries.contains(n) =>
        // build-then-probe split: applying the query function runs the
        // eager index/layout build; count() runs the probe plan
        n -> (() => {
          val t0 = System.nanoTime()
          val df = queries(n)(spark, sfDir)
          val tBuild = (System.nanoTime() - t0) / 1e9
          df.count()
          val tProbe = (System.nanoTime() - t0) / 1e9 - tBuild
          val (bs, ps) = phaseSamples.getOrElse(n, (Vector.empty, Vector.empty))
          phaseSamples(n) = (bs :+ tBuild, ps :+ tProbe)
          ()
        })
      case n if queries.contains(n) =>
        n -> (() => { queries(n)(spark, sfDir).count(); () })
      case n if n.startsWith("bg_") =>
        n -> micros.getOrElse(n,
          throw new IllegalArgumentException(s"unknown micro task $n"))
      case n => throw new IllegalArgumentException(s"unknown bench task $n")
    }
  }

  /** Median-of-passes timing loop over `tasks`: each pass runs every
    * task once, INTERLEAVED. Back-to-back reps put all samples of a
    * query inside the same wall-clock window — BENCH_r05's official
    * record showed what that does on this host (d12 40 s / e4 23 s /
    * ingest 37 s official vs 2.3 / 2.4 / 2.1 s local; 3 consecutive
    * reps never escaped the burst). The noise is HOST CPU STEAL —
    * /proc/stat showed 18% steal with the guest otherwise idle during
    * one burst — so it is invisible to guest load, bursty, and can last
    * minutes. Interleaving spreads a query's samples across the run;
    * the per-pass steal fractions ride along so a poisoned run carries
    * its own evidence. A failing task records NaN samples (published as
    * -1) — a crash must not masquerade as a fast success.
    *
    * Returns (samples per task in input order, per-pass steal fracs). */
  private def runTasks(spark: SparkSession,
      tasks: Seq[(String, () => Unit)], passes: Int)
      : (collection.mutable.LinkedHashMap[String, Vector[Double]], Vector[Double]) = {
    // blocks cached by the micro-benchmarks' one-time setup (the warm
    // glob catalog) are deliberate cross-pass state — everything cached
    // AFTER this point is per-query residue that drainBlocks may drop
    val setupBlocks = spark.sparkContext.getPersistentRDDs.keySet.toSet
    def once(label: String, thunk: () => Unit): Double = {
      drainBlocks(spark, setupBlocks) // orphaned checkpoints, not ours
      val t0 = System.nanoTime()
      try { thunk(); (System.nanoTime() - t0) / 1e9 } catch {
        case e: Throwable =>
          System.err.println(s"[bench] $label failed: ${e.getMessage}")
          Double.NaN
      }
    }
    val sampleLists = collection.mutable.LinkedHashMap[String, Vector[Double]]()
    val stealFracs = collection.mutable.ArrayBuffer[Double]()
    for (pass <- 1 to passes) {
      val ticks0 = cpuTicks()
      for ((name, thunk) <- tasks) {
        val s = once(name, thunk)
        sampleLists(name) = sampleLists.getOrElse(name, Vector.empty) :+ s
        System.err.println(f"[bench] pass $pass $name%-28s ${s}%.2f s")
      }
      stealFracs += stealFrac(ticks0, cpuTicks())
    }
    (sampleLists, stealFracs.toVector)
  }

  private def benchPasses: Int =
    sys.env.getOrElse("SPARK_GRAFT_BENCH_PASSES", "5").toInt

  /** Usage (queries read `SPARK_GRAFT_SF_DIR`):
    *   graft.Bench                              — the official bench
    *   graft.Bench --chunk <outTsv> <task>...   — one forked chunk
    *   graft.Bench explain <outDir> <query>...  — write formatted plans
    *   graft.Bench time <reps> <query>...       — noop-sink timings with
    *                                              job/stage/task accounting */
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    args.toList match {
      case "--chunk" :: outFile :: names => runChunk(sfDir, outFile, names)
      case "explain" :: outDir :: names => explain(sfDir, outDir, names)
      case "time" :: reps :: names => time(sfDir, reps.toInt, names)
      case _ =>
        val fork = sys.env.getOrElse("SPARK_GRAFT_BENCH_FORK", "1")
        if (fork == "0" || fork.equalsIgnoreCase("false")) runInProcess(sfDir)
        else runForked(sfDir)
    }
  }

  /** Write each query's `.explain("formatted")` plan to `<outDir>/<q>.txt`. */
  private def explain(sfDir: String, outDir: String,
      names: Seq[String]): Unit = {
    val spark = GraftSession()
    new java.io.File(outDir).mkdirs()
    names.foreach { n =>
      val plan = SparkEntry.queries(n)(spark, sfDir).queryExecution
        .explainString(org.apache.spark.sql.execution.FormattedMode)
      java.nio.file.Files.writeString(
        java.nio.file.Paths.get(s"$outDir/$n.txt"), plan)
      System.err.println(s"[bench] wrote $outDir/$n.txt")
    }
    spark.stop()
  }

  /** What one query run cost the scheduler: its jobs' callsites and its
    * completed stages (each with its task count and task metrics). */
  private[graft] class RunProfile
      extends org.apache.spark.scheduler.SparkListener {
    import org.apache.spark.scheduler._
    import org.apache.spark.sql.execution.ui.{SparkListenerSQLExecutionEnd,
      SparkListenerSQLExecutionStart}
    val jobSites = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val stages = new java.util.concurrent.ConcurrentLinkedQueue[StageInfo]()
    // callsite of each running SQL execution, by execution id
    private val sqlSites =
      new java.util.concurrent.ConcurrentHashMap[Long, String]()
    override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
      case s: SparkListenerSQLExecutionStart =>
        shortCallSite(s.details).foreach(sqlSites.put(s.executionId, _))
      case s: SparkListenerSQLExecutionEnd => sqlSites.remove(s.executionId)
      case _ =>
    }
    // a job inside a SQL execution takes the execution's callsite: AQE
    // submits query-stage jobs from a pool thread, whose own callsite
    // names no program line. Any other job takes its result stage's
    // name — the short callsite of the action that created it (the
    // result stage is the job's last-created, highest-id stage)
    override def onJobStart(j: SparkListenerJobStart): Unit =
      jobSites.add(Option(j.properties)
        .flatMap(p => Option(p.getProperty("spark.sql.execution.id")))
        .flatMap(id => Option(sqlSites.get(id.toLong)))
        .getOrElse(j.stageInfos.sortBy(_.stageId).lastOption.map(_.name)
          .getOrElse("?")))
    override def onStageCompleted(s: SparkListenerStageCompleted): Unit =
      stages.add(s.stageInfo)
  }

  /** A callsite's short form (`collect at Foo.scala:12`), rebuilt from
    * its long form, whose first frame is the last Spark method and whose
    * second is the first program frame. */
  private def shortCallSite(longForm: String): Option[String] =
    longForm.split("\n") match {
      case Array(sparkFrame, userFrame, _*) =>
        val method = sparkFrame.takeWhile(_ != '(').split('.').last
        val at = userFrame.dropWhile(_ != '(').drop(1).takeWhile(_ != ')')
        Some(s"$method at $at")
      case _ => None
    }

  /** Time each query `reps` passes (interleaved) on the noop sink, one
    * line per query run: wall, plan construction, jobs, stages, tasks
    * and task time — where the wall time goes at bench scale, where
    * orchestration dominates. After a query's last pass, list that
    * pass's top 15 stages by task time and its job-callsite histogram. */
  private def time(sfDir: String, reps: Int, names: Seq[String]): Unit = {
    import scala.jdk.CollectionConverters._
    val spark = GraftSession()
    val profile = new RunProfile
    spark.sparkContext.addSparkListener(profile)
    def taskMillis(i: org.apache.spark.scheduler.StageInfo): Long =
      Option(i.taskMetrics).map(_.executorRunTime).getOrElse(0L)
    for (pass <- 1 to reps; n <- names) {
      drainBlocks(spark)
      spark.sparkContext.setJobDescription(s"bench:$n")
      profile.jobSites.clear(); profile.stages.clear()
      val t0 = System.nanoTime()
      val df = SparkEntry.queries(n)(spark, sfDir)
      val tCon = (System.nanoTime() - t0) / 1e9
      df.write.format("noop").mode("overwrite").save()
      val wall = (System.nanoTime() - t0) / 1e9
      // listener events drain asynchronously; settle briefly
      Thread.sleep(300)
      val stages = profile.stages.asScala.toSeq
      println(f"[bench] pass $pass $n%-28s $wall%7.3f s  " +
        f"(construct $tCon%6.3f)  jobs=${profile.jobSites.size}%3d " +
        f"stages=${stages.size}%3d " +
        f"tasks=${stages.map(_.numTasks).sum}%4d " +
        f"taskTime=${stages.map(taskMillis).sum / 1e3}%7.2f s")
      if (pass == reps) {
        println(s"[bench]   $n stages by task time:")
        stages.sortBy(-taskMillis(_)).take(15).foreach { i =>
          println(f"[bench]   ${taskMillis(i) / 1e3}%8.2f s  ${i.stageId} " +
            s"[${i.numTasks} tasks] ${i.name}: " +
            i.rddInfos.map(_.name).distinct.mkString(",").take(120))
        }
        println(s"[bench]   $n job callsites:")
        profile.jobSites.asScala.groupBy(identity).toSeq
          .sortBy(-_._2.size)
          .foreach { case (k, v) => println(f"[bench]   ${v.size}%4d  $k") }
      }
    }
    spark.stop()
  }

  /** Child mode: time ONLY `names` in this fresh JVM and write raw
    * samples as TSV (`task\tname\ts1,s2,...` rows + one
    * `steal\tf1,f2,...` row) for the forking parent to aggregate. TSV,
    * not JSON, so the parent needs no JSON parser. */
  private def runChunk(sfDir: String, outFile: String,
      names: Seq[String]): Unit = {
    val spark = GraftSession()
    warmup(spark, sfDir)
    val tasks = buildTasks(spark, sfDir, names)
    val (samples, steals) = runTasks(spark, tasks, benchPasses)
    val sb = new StringBuilder
    for ((name, ss) <- samples)
      sb.append("task\t").append(name).append('\t')
        .append(ss.map(v => if (v.isNaN) "-1" else fmt(v, 4)).mkString(","))
        .append('\n')
    for ((name, (bs, ps)) <- phaseSamples)
      sb.append("phase\t").append(name).append('\t')
        .append(bs.map(fmt(_, 4)).mkString(",")).append('\t')
        .append(ps.map(fmt(_, 4)).mkString(",")).append('\n')
    sb.append("steal\t").append(steals.map(fmt(_, 4)).mkString(",")).append('\n')
    java.nio.file.Files.writeString(java.nio.file.Paths.get(outFile), sb.toString)
    spark.stop()
  }

  /** Parse one chunk child's TSV (see [[runChunk]]): `task` rows to
    * per-task raw samples (negative sample = the child's crash
    * sentinel → NaN, so the parent republishes -1), `phase` rows to
    * the [[PhaseSplitTasks]] build/probe sub-timings, the `steal` row
    * to per-pass steal fractions. Unknown rows are ignored; a
    * malformed numeric field throws (the caller marks the whole chunk
    * failed rather than publishing half a chunk). */
  private[graft] def parseChunkTsv(lines: Iterator[String])
      : (Map[String, Vector[Double]],
         Map[String, (Vector[Double], Vector[Double])], Vector[Double]) = {
    val tasks = collection.mutable.LinkedHashMap[String, Vector[Double]]()
    val phases =
      collection.mutable.LinkedHashMap[String, (Vector[Double], Vector[Double])]()
    var steals = Vector.empty[Double]
    lines.foreach { line =>
      line.split("\t", -1) match {
        case Array("task", name, ss) =>
          tasks(name) = ss.split(",").toVector
            .map(v => { val d = v.toDouble; if (d < 0) Double.NaN else d })
        case Array("phase", name, bs, ps) =>
          phases(name) = (bs.split(",").toVector.map(_.toDouble),
            ps.split(",").toVector.map(_.toDouble))
        case Array("steal", ss) if ss.nonEmpty =>
          steals = ss.split(",").toVector.map(_.toDouble)
        case _ => ()
      }
    }
    (tasks.toMap, phases.toMap, steals)
  }

  /** Required JDK17 module opens for Spark — the child JVMs must carry
    * them even when the parent inherited them through a launcher env
    * var this process can't see. Duplicates are harmless. */
  private val RequiredOpens: Seq[String] = Seq(
    "java.base/java.io", "java.base/java.lang.invoke", "java.base/java.lang",
    "java.base/java.net", "java.base/java.nio",
    "java.base/java.util.concurrent", "java.base/java.util",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar")
    .map(m => s"--add-opens=$m=ALL-UNNAMED")

  /** Parent mode (the DEFAULT driver entry): run the bench as a series
    * of FRESH-JVM chunks and aggregate. Round 9 proved the single-JVM
    * full-list protocol poisons its own late measurements: on identical
    * data and build, one long JVM measured heavy legs 3-8x over
    * fresh-JVM times (block-manager residue, codegen/JIT churn, heap
    * fragmentation that drainBlocks does not reclaim), and the official
    * BENCH_r09 drifted 1.7x on matched queries — including
    * code-untouched micros — while the code got faster. This is
    * tools/run_soak_fresh.sh's protocol applied to the official bench:
    * each chunk of tasks gets its own JVM (same classpath, same module
    * opens, same heap), pays its own untimed warm-up, runs the usual
    * interleaved passes, and reports raw samples; chunks run
    * SEQUENTIALLY so they never contend. The composed x-pipelines and
    * the bg micros each get a dedicated chunk so the micros can never
    * inherit pipeline residue. A failed chunk marks its tasks -1 and
    * the run continues; if the FIRST chunk fails (fork environment
    * broken), the bench falls back to the in-process protocol so the
    * driver still gets a result. */
  private def runForked(sfDir: String): Unit = {
    // chunk membership comes from the FROZEN manifest — never from
    // re-grouping the task list, which re-dealt every later chunk on
    // each insertion (see ChunkManifest). Tasks newer than the manifest
    // run in one extra trailing chunk; a manifest entry that no longer
    // exists fails loudly rather than silently dropping a measurement.
    val known = ChunkManifest.flatten
    require(known.distinct == known,
      s"ChunkManifest has duplicate tasks: ${known.diff(known.distinct)}")
    val missing = known.filterNot(allTaskNames.toSet)
    require(missing.isEmpty, s"ChunkManifest names unknown tasks: $missing")
    val newTasks = allTaskNames.filterNot(known.toSet)
    val chunks: Seq[Seq[String]] =
      ChunkManifest ++ (if (newTasks.nonEmpty) Seq(newTasks) else Nil)
    val javaBin = java.nio.file.Paths
      .get(System.getProperty("java.home"), "bin", "java").toString
    val parentArgs = java.lang.management.ManagementFactory
      .getRuntimeMXBean.getInputArguments
    val jvmArgs: Seq[String] = {
      import scala.jdk.CollectionConverters._
      // children get the BENCH heap profile regardless of how the
      // parent was launched — an sbt-launched parent would otherwise
      // hand its own (small) -Xmx down to every measurement JVM
      val heap = sys.env.getOrElse("SPARK_GRAFT_BENCH_CHILD_XMX", "24g")
      val inherited = parentArgs.asScala.toSeq.filterNot(a =>
        a.startsWith("-agentlib") || a.startsWith("-javaagent") ||
          a.startsWith("-Xmx") || a.startsWith("-Xms"))
      inherited ++ Seq(s"-Xms$heap", s"-Xmx$heap") ++
        RequiredOpens.filterNot(inherited.contains)
    }
    val cp = System.getProperty("java.class.path")
    val tmpDir = java.nio.file.Files.createTempDirectory("graft_bench").toString
    val samples = collection.mutable.LinkedHashMap[String, Vector[Double]]()
    val phases =
      collection.mutable.LinkedHashMap[String, (Vector[Double], Vector[Double])]()
    val steals = collection.mutable.ArrayBuffer[Double]()
    var firstChunkFailed = false
    var anyChunkFailed = false
    for ((names, i) <- chunks.zipWithIndex if !firstChunkFailed) {
      val outFile = s"$tmpDir/chunk_$i.tsv"
      val logFile = new java.io.File(s"$tmpDir/chunk_$i.log")
      val cmd: Seq[String] = Seq(javaBin) ++ jvmArgs ++
        Seq("-cp", cp, "graft.Bench", "--chunk", outFile) ++ names
      System.err.println(s"[bench] chunk ${i + 1}/${chunks.size}: " +
        names.map(shortName).mkString(" "))
      val t0 = System.nanoTime()
      val rc = try {
        import scala.jdk.CollectionConverters._
        val pb = new ProcessBuilder(cmd.asJava)
        pb.redirectOutput(logFile)
        pb.redirectError(logFile)
        pb.start().waitFor()
      } catch { case e: Throwable =>
        System.err.println(s"[bench] chunk $i fork failed: ${e.getMessage}")
        -1
      }
      var parsed = Map.empty[String, Vector[Double]]
      var chunkPhases = Map.empty[String, (Vector[Double], Vector[Double])]
      var chunkSteals = Vector.empty[Double]
      if (rc == 0) try {
        val src = scala.io.Source.fromFile(outFile)
        try {
          val (p, ph, st) = parseChunkTsv(src.getLines())
          parsed = p; chunkPhases = ph; chunkSteals = st
        } finally src.close()
      } catch { case e: Throwable =>
        System.err.println(s"[bench] chunk $i result unreadable: ${e.getMessage}")
      }
      java.nio.file.Files.deleteIfExists(java.nio.file.Paths.get(outFile))
      // a chunk that returned every task's row leaves nothing behind; a
      // failed one keeps its log for the post-mortem
      if (names.forall(parsed.contains)) logFile.delete()
      else {
        anyChunkFailed = true
        System.err.println(s"[bench] chunk $i log kept at $logFile")
      }
      if (parsed.isEmpty) {
        System.err.println(s"[bench] chunk $i produced nothing (rc=$rc) — " +
          s"log tail:")
        try {
          val log = java.nio.file.Files.readString(logFile.toPath)
          System.err.println(log.takeRight(2000))
        } catch { case _: Throwable => () }
        if (i == 0) firstChunkFailed = true
        else names.foreach(n => samples(n) = Vector(Double.NaN))
      } else {
        // a task the child dropped (crashed before its row) is a failure
        names.foreach(n => samples(n) = parsed.getOrElse(n, Vector(Double.NaN)))
        names.foreach(n => chunkPhases.get(n).foreach(phases(n) = _))
        steals ++= chunkSteals
        System.err.println(f"[bench] chunk ${i + 1} done in " +
          f"${(System.nanoTime() - t0) / 1e9}%.1f s")
      }
    }
    if (!anyChunkFailed) new java.io.File(tmpDir).delete()
    if (firstChunkFailed) {
      System.err.println("[bench] first chunk failed — falling back to the " +
        "in-process protocol")
      runInProcess(sfDir)
    } else emit(sfDir, samples, phases, steals.toVector)
  }

  /** Legacy single-JVM protocol (SPARK_GRAFT_BENCH_FORK=0): every task
    * in one JVM. Kept as the fallback when forking is impossible; its
    * late-query inflation is documented in ROUND_NOTES_r9.md §7. */
  private def runInProcess(sfDir: String): Unit = {
    val spark = GraftSession()
    warmup(spark, sfDir)
    val tasks = buildTasks(spark, sfDir, allTaskNames)
    val (samples, steals) = runTasks(spark, tasks, benchPasses)
    emit(sfDir, samples, phaseSamples, steals)
    spark.stop()
  }

  /** Publish the run: the FULL record (full names, per-pass samples,
    * every steal reading) goes to bench_out.json ONLY — it is well past
    * the driver's 2000-char stdout tail, which is exactly how
    * BENCH_r06.json ended up with "parsed": null. The COMPACT
    * medians-only line is the LAST stdout output, keyed by the
    * canonical short ids (a1, d17, h14, ...; bg_* per BgShort), with
    * the steal readings summarized as [mean, max] so the line stays
    * well under 2000 chars at any chunk count. */
  private def emit(sfDir: String,
      sampleLists: collection.mutable.LinkedHashMap[String, Vector[Double]],
      phases: collection.Map[String, (Vector[Double], Vector[Double])],
      stealFracs: Vector[Double]): Unit = {
    val results = sampleLists.toSeq.map { case (name, ss) =>
      name -> (if (ss.isEmpty || ss.exists(_.isNaN)) -1.0
               else ss.sorted.apply(ss.size / 2))
    }
    // per-task TRIMMED median (drop the task's max pass, then median):
    // r11/r12 each burned hand re-runs disproving sub-1.3× movers that
    // were one bursty pass inside an unchanged chunk — the trimmed
    // number is what the round-over-round mover table should read
    // (published alongside the raw median, which stays the official
    // protocol number)
    val trimmedJson = results.map { case (k, _) =>
      s""""$k":${fmt(trimmedMedian(sampleLists(k)), 3)}"""
    }.mkString("{", ",", "}")
    val qs = results.map { case (k, sec) => s""""$k":$sec""" }
      .mkString("{", ",", "}")
    // raw per-pass samples ride along for diagnosability (the median is
    // the published number; the samples show whether an outlier was a
    // burst in one pass or a real sustained cost)
    val samplesJson = results.map { case (k, _) =>
      s""""$k":[${sampleLists(k).map(v => if (v.isNaN) "-1" else fmt(v, 3)).mkString(",")}]"""
    }.mkString("{", ",", "}")
    val stealJson = stealFracs.map(v => fmt(v, 3)).mkString("[", ",", "]")
    // build/probe sub-timings for the PhaseSplitTasks (full JSON only):
    // per-pass raw samples plus the medians the round-over-round probe
    // comparison reads — the in-query build otherwise masks probe
    // regressions (k8's probe could triple and the total moves 10%)
    def med(v: Vector[Double]): Double =
      if (v.isEmpty) -1.0 else v.sorted.apply(v.size / 2)
    val phasesJson = results.flatMap { case (k, _) => phases.get(k).map { case (bs, ps) =>
      s""""$k":{"build":[${bs.map(fmt(_, 3)).mkString(",")}],""" +
        s""""probe":[${ps.map(fmt(_, 3)).mkString(",")}],""" +
        s""""build_med":${fmt(med(bs), 3)},"probe_med":${fmt(med(ps), 3)}}"""
    }}.mkString("{", ",", "}")
    val total = results.map(_._2).sum
    val fullJson =
      s"""{"metric":"total","value":$total,"unit":"sec","queries":$qs,"queries_trimmed":$trimmedJson,"samples":$samplesJson,"phases":$phasesJson,"cpu_steal":$stealJson,"sf":"$sfDir"}"""
    val outFile = sys.env.getOrElse("SPARK_GRAFT_BENCH_OUT", "bench_out.json")
    try java.nio.file.Files.writeString(java.nio.file.Paths.get(outFile), fullJson + "\n")
    catch { case e: Throwable =>
      System.err.println(s"[bench] could not write $outFile: ${e.getMessage}") }
    // 2 decimals (10 ms): the precision the comparisons actually use;
    // 3 would push the 120+-task line past the driver's 2000-char tail
    val compactQs = results.map { case (k, sec) =>
      s""""${shortName(k)}":${if (sec < 0) "-1" else fmt(sec, 2)}"""
    }.mkString("{", ",", "}")
    val stealSummary =
      if (stealFracs.isEmpty) "[]"
      else s"[${fmt(stealFracs.sum / stealFracs.size, 3)},${fmt(stealFracs.max, 3)}]"
    // sf as its basename here (the full path is in bench_out.json):
    // at 126 short-keyed entries the directory prefix alone pushed the
    // worst-case line past the 1900-char guard
    val compact =
      s"""{"metric":"total","value":${fmt(total, 2)},"unit":"sec","queries":$compactQs,"cpu_steal":$stealSummary,"sf":"${new java.io.File(sfDir).getName}","full":"$outFile"}"""
    if (compact.length > 1900)
      System.err.println(s"[bench] WARNING compact line ${compact.length} chars > 1900 — driver tail may truncate")
    println(compact)
  }

  /** Compressed ids for the BASELINE.md micro tasks in the compact
    * stdout line — at 120+ entries the full names outgrew the driver's
    * 2000-char stdout tail (the full names still key `bench_out.json`,
    * which carries every sample). */
  private val BgShort = Map(
    "bg_glob_3wild" -> "bg_glob3",
    "bg_read_3600_stage0" -> "bg_read0",
    "bg_read_3600_stage1" -> "bg_read1",
    "bg_ingest_1m_points" -> "bg_ingest1m",
    "bg_ingest_100x1" -> "bg_ingest100",
    "bg_curation_stream" -> "bg_cur")

  /** Canonical short id for the compact stdout line: the prefix before the
    * first underscore (the id the round notes/verdicts use), with the two
    * collisions disambiguated and the BASELINE.md micro names compressed
    * per [[BgShort]].
    * Guaranteed injective over the bench task list (asserted in BenchSpec). */
  private[graft] def shortName(full: String): String =
    if (full.startsWith("bg_")) BgShort.getOrElse(full, full)
    else if (full == "a3_downsample_2stage") "a3b"
    else full.takeWhile(_ != '_')

  private[graft] def headlineNames: Seq[String] = Headline

  /** Median after dropping the task's single worst pass — the
    * burst-robust number the round-over-round mover comparison reads
    * (see `queries_trimmed` in bench_out.json). With < 3 samples there
    * is nothing sensible to trim, so it falls back to the plain
    * median; any crashed pass poisons the task to -1 like the raw
    * median does. */
  private[graft] def trimmedMedian(ss: Vector[Double]): Double =
    if (ss.isEmpty || ss.exists(_.isNaN)) -1.0
    else if (ss.size < 3) ss.sorted.apply(ss.size / 2)
    else {
      val kept = ss.sorted.dropRight(1)
      kept(kept.size / 2)
    }

  /** (steal, total) jiffy counters across all cpus; fraction of host
    * cycles stolen between two readings. Zero/absent outside Linux.
    * Shared by the bench passes and the soak legs — any number
    * published without its steal reading is unfalsifiable against
    * host-neighbor noise (the r10 lesson: an idle-looking guest
    * measured 1.3% baseline steal and 5-17% bursts under load, and
    * identical back-to-back soak legs read 10 vs 27 s). */
  private[graft] def cpuTicks(): (Long, Long) = try {
    val src = scala.io.Source.fromFile("/proc/stat")
    try {
      val l = src.getLines()
        .find(_.startsWith("cpu ")).get.trim.split("\\s+").drop(1).map(_.toLong)
      (if (l.length > 7) l(7) else 0L, l.sum)
    } finally src.close()
  } catch { case _: Throwable => (0L, 0L) }

  /** Fraction of host cycles stolen between two [[cpuTicks]] readings
    * (0 when the counters did not move). */
  private[graft] def stealFrac(before: (Long, Long), after: (Long, Long)): Double = {
    val ((s0, t0), (s1, t1)) = (before, after)
    if (t1 > t0) (s1 - s0).toDouble / (t1 - t0) else 0.0
  }

  /** Unpersist checkpoint/cache blocks orphaned by completed queries.
    * Every pipeline query `localCheckpoint`s its reused intermediates;
    * across a multi-pass bench (or the soak's 2×~40 query sweep) those
    * blocks accumulate in the block manager — hundreds of megabytes a
    * later query pays for in GC and spill. Nothing references them
    * once the query's action returned, so dropping them between timed
    * runs measures each query against a clean heap, which is also how
    * a production job (one JVM per job) runs. */
  private[graft] def drainBlocks(spark: SparkSession,
      keep: Set[Int] = Set.empty): Unit = {
    spark.sparkContext.getPersistentRDDs
      .filterNot { case (id, _) => keep.contains(id) }
      .values.foreach(_.unpersist(blocking = false))
    System.gc()
  }

  /** Micro-benchmarks mirroring the reference's accessor_bench comparable
    * targets (BASELINE.md): 3-wildcard glob over a 10k-metric catalog,
    * single-series read of 3600 stage0 points (and re-aggregated at the
    * next stage), and ingest of 100 metrics × 1 point incl. downsampling
    * (benchmarks/accessor_bench.py:99-192). Setup (stores, catalogs) runs
    * ONCE, untimed, here; the returned thunks are timed by the caller's
    * interleaved passes like every other query. */
  /** The carbon-ingest write path at an arbitrary batch scale — the
    * bg_ingest_1m_points body, shared with the soak's ingest-exponent
    * row: `nPoints` raw points over `nMetrics` series (points per
    * series stays fixed when both scale together — the more-series
    * axis a growing metrics fleet actually rides) through stage0 LWW
    * dedup + the hourly rollup + both partitioned store writes in ONE
    * write job. Stage0 salt sizes to the batch
    * ([[graft.sources.PointsStore.saltFor]]); the rollup side is
    * nMetrics × hourly-buckets rows (batch-span-bounded, ~17 per
    * series here), so its flat salt of 8 stays right across factors. */
  private[graft] def ingestPoints(spark: SparkSession, nPoints: Long,
      nMetrics: Long, dir: String): Unit = {
    import org.apache.spark.sql.functions._
    import graft.model.Retention
    import graft.operators.Downsample
    import graft.sources.PointsStore
    val retention = Retention.fromString("3600*60s:2160*3600s")
    val raw = spark.range(nPoints).select(
      concat(lit("bulk.m"), (col("id") % nMetrics)).as("metric_id"),
      ((col("id") / nMetrics).cast("long") * 60).as("ts"),
      col("id").cast("double").as("value"))
      .withColumn("aggregator", lit("average"))
    // the deduped micro-batch feeds BOTH the stage0 write and the
    // rollup — persist so the LWW shuffle runs once, exactly like a
    // live ingest job holding its micro-batch in memory
    val deduped = Downsample.lastWriteWins(raw, 60, col("value"))
      .withColumn("count", lit(1.0)).withColumn("replica", lit(0))
      .persist()
    try {
      // the whole batch lands in ONE stage0 time bucket (span
      // 120000 s > data span) — size the salt to the batch, exactly
      // what a live carbon instance flushing batches this size should
      // do. BOTH stages land in one write job with one commit
      // (writeMulti): the rollup branch fills scheduler slots the
      // stage0 shuffle leaves idle instead of paying a second job +
      // commit
      PointsStore.writeMulti(Seq(
        (deduped.drop("aggregator"), retention.stage0,
          PointsStore.saltFor(nPoints)),
        (Downsample.rollupStage(deduped, 3600).drop("aggregator")
          .withColumn("replica", lit(0)), retention.stages(1), 8)),
        dir)
    } finally deduped.unpersist(false)
  }

  private def baselineMicroTasks(spark: SparkSession,
      sfDir: String): Seq[(String, () => Unit)] = {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    import graft.model._
    import graft.operators.{Downsample, TimeSeriesReader}
    import graft.sources.{MetricCatalog, PointsStore}

    // ---- untimed setup -------------------------------------------------
    val retention = Retention.fromString("3600*60s:2160*3600s")
    val names = for (i <- 0 until 10; j <- 0 until 10; k <- 0 until 100)
      yield s"toto.tutu.$i.tata.$j.titi.$k.chipiron"
    val catalog = MetricCatalog.withDerivedColumns(names.toDF("name"))
      .withColumn("id", col("name"))
      .withColumn("aggregator", lit("average"))
      .withColumn("retention", lit(retention.toString))
      .cache()
    catalog.count()
    val metric = Metric("toto.tutu.0.tata.0.titi.0.chipiron",
      MetricMetadata(Aggregator.Average, retention))
    val matched = Seq(TimeSeriesReader.Matched(metric.name, metric.id,
      metric.aggregator.name, retention.toString, None))
    val storeDir = java.nio.file.Files.createTempDirectory("bgbench").toString
    val pts = (0 until 3600).map(i =>
      (metric.id, i * 60L, i.toDouble, 1.0, 0))
      .toDF("metric_id", "ts", "value", "count", "replica")
    PointsStore.write(pts, storeDir, retention.stage0)
    PointsStore.write(
      Downsample.rollupStage(pts.withColumn("aggregator", lit("average")), 3600)
        .withColumn("replica", lit(0)),
      storeDir, retention.stages(1))

    // streaming-curation setup (untimed): a 4-file copy of the sf docs
    // so the file source yields 4 real micro-batches at
    // maxFilesPerTrigger=1, and the frozen NB router model (trained
    // offline in a deployment — broadcast-sized, pinned once)
    val curSrc = java.nio.file.Files.createTempDirectory("bgcur_src").toString
    val curDocs = spark.read.parquet(s"$sfDir/documents.parquet")
    curDocs.repartition(4).write.mode("overwrite").parquet(curSrc)
    val curSchema = curDocs.schema
    val curModel = graft.operators.Classify.nbFit(
      curDocs.filter(col("doc_id") % 5 =!= 0), "lang", "text",
      vocabSize = 24).localCheckpoint(true)

    // ---- timed thunks --------------------------------------------------
    Seq(
      "bg_glob_3wild" -> (() => {
        MetricCatalog.globMetrics(catalog,
          "toto.tutu.*.tata.*.titi.*.chipiron").count(); ()
      }),
      "bg_read_3600_stage0" -> (() => {
        TimeSeriesReader.fetchMatched(spark, matched, storeDir,
          0L, 3600 * 60L, nowS = 3600 * 60L).count(); ()
      }),
      "bg_read_3600_stage1" -> (() => {
        val rows = PointsStore.read(spark, storeDir, retention.stages(1),
          0L, 3600 * 60L, Seq(metric.id))
          .withColumn("aggregator", lit("average"))
        Downsample.pointGrouper(rows, 3600).count(); ()
      }),
      // ingest throughput vs the reference's ~200k points/s design point
      // (plugins/carbon.py:93-95): 1M points through stage0 LWW dedup +
      // both rollups + partitioned store writes ([[ingestPoints]] —
      // the body the soak's exponent row scales by factor).
      // ingest reps write to FRESH dirs so repetition neither appends to
      // the read-micro store nor measures an ever-growing table
      "bg_ingest_1m_points" -> (() => {
        // fixed dir wiped per rep: PointsStore.write is append-mode, and
        // a per-rep temp dir leaks a 1M-point store copy per bench pass
        ingestPoints(spark, 1000000L, 1000L,
          SparkEntry.freshTmpDir("bgingest1m", "bench"))
      }),
      "bg_ingest_100x1" -> (() => {
        val dir = SparkEntry.freshTmpDir("bgingest100", "bench")
        val incoming = (0 until 100).map(m =>
          (names(m), 777 * 60L, m.toDouble, 1.0, 0))
          .toDF("metric_id", "ts", "value", "count", "replica")
          .withColumn("aggregator", lit("average"))
        PointsStore.writeMulti(Seq(
          (incoming.drop("aggregator"), retention.stage0, 1),
          (Downsample.rollupStage(incoming, 3600).drop("aggregator")
            .withColumn("replica", lit(0)), retention.stages(1), 1)),
          dir)
        ()
      }),
      // the document-curation streaming path, end to end: gate →
      // frozen-NB route → history-dedup append → card increment, 4
      // micro-batches through the real streaming engine against fresh
      // store/card/checkpoint dirs per rep. docs/s = sf docs / median
      // (ROUND_NOTES carries the derived number, like bg_ingest1m's
      // pts/s vs the reference's carbon design point).
      "bg_curation_stream" -> (() => {
        val store = SparkEntry.freshTmpDir("bgcur_store", "bench")
        val card = SparkEntry.freshTmpDir("bgcur_card", "bench")
        val ckpt = SparkEntry.freshTmpDir("bgcur_ckpt", "bench")
        val stream = spark.readStream.schema(curSchema)
          .option("maxFilesPerTrigger", 1).parquet(curSrc)
        val q = graft.streaming.DocumentStream.startCurationPipelineJob(
          stream, "text", "doc_id", "source", curModel, store, card, ckpt)
        try q.processAllAvailable() finally q.stop()
        ()
      }))
  }
}
