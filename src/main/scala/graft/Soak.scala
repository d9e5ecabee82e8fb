package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** Scale-robustness soak: inflate the documents/events tables by
  * `factor` locally (union-of-salted-copies semantics, built as one
  * generator expression), run the heavyweight pipelines once at 1× and
  * once at `factor`×, and report each query's scaling exponent
  * log(t_big/t_small)/log(factor). An exponent near 1 is linear; ≥2 is
  * the quadratic blowup this harness exists to catch BEFORE it ships.
  *
  * Inflation semantics — a bigger corpus, not denser duplicates:
  *  - documents: copy k prefixes every token with `q<k>` so the copies'
  *    shingle/minhash universes are DISJOINT — each copy reproduces the
  *    source's internal near-duplicate structure instead of forming
  *    10×-sized cross-copy duplicate clusters (which would measure a
  *    data-shape change, not the engine's scaling);
  *  - events: copy k keeps (name, ts) and re-keys event_id — series
  *    count stays fixed while every time slot gets `factor`× the points,
  *    the dense-volume axis a metrics store actually grows along.
  *
  * Usage: `runMain graft.Soak [srcDir] [outDir] [factor] [query...]` —
  * trailing query names restrict the run to that subset (the 100×
  * spot-soak of the heaviest queries, where running the full list
  * would take hours). `--list` as the sole trailing arg prints the
  * full query list and exits (no SparkSession) — the handle the
  * chunked fresh-JVM driver (`tools/run_soak_fresh.sh`) reads.
  *
  * MEASUREMENT PROTOCOL (the r9 lessons, each measured):
  *  - ONE QUERY PER FRESH JVM (`tools/run_soak_fresh.sh`, idle
  *    machine): one JVM running the whole list accumulates residue
  *    `Bench.drainBlocks` does NOT reclaim — by query ~40 the heavy
  *    10× legs measured 3-8× their fresh-JVM times (r1 146 s vs 40 s,
  *    d2 37 s vs 5 s, same data, same build) — and even 4-per-JVM
  *    chunks leak (r1 54 s after the k-family index builds vs 6.5 s
  *    chunk-first). Inflation happens once, reused via the
  *    `_inflate_<factor>.ok` sentinel.
  *  - LAYOUT-NORMALIZED LEGS: both legs read 32-file fact tables (the
  *    1× side from a normalized copy), so scan parallelism is policy,
  *    not a files.maxPartitionBytes accident (d18's 10× leg: 52 s
  *    against a one-file inflation vs 8 s split).
  *  - PER-QUERY UNTIMED WARM-UP: the first query in a fresh JVM
  *    otherwise pays codegen/JIT warm-up in its t1 (se1: 7.1 s cold
  *    vs 0.8 s warm), skewing exponents negative.
  */
object Soak {

  def main(args: Array[String]): Unit = {
    val src = args.headOption.getOrElse("/root/testdata/sf0.1")
    val out = if (args.length > 1) args(1) else "/tmp/graft_soak"
    val factor = if (args.length > 2) args(2).toInt else 10
    val only = args.drop(3).toSet
    if (only == Set("--list")) {
      allQueryNames.foreach(println)
      return
    }
    val spark = GraftSession()

    // inflate once per (outDir, factor); chunked fresh-JVM runs reuse it.
    // The SMALL leg runs against a layout-normalized 1× copy (inflate
    // at factor 1 is the identity transform) so both legs scan files
    // written under the same 32-way layout policy — the driver's sf0.1
    // tables are single files, and which side of a
    // files.maxPartitionBytes split a table lands on otherwise
    // dominates the heavy map-side queries (d18's 10× leg measured
    // 52 s against a one-file inflation vs 8 s against a split one:
    // the shingle/tokenize work serialized on one core)
    val base = s"${out}_1x"
    for ((dir, f) <- Seq((base, 1), (out, factor))) {
      val sentinel = java.nio.file.Paths.get(dir, s"_inflate_$f.ok")
      if (!java.nio.file.Files.exists(sentinel)) {
        inflate(spark, src, dir, f)
        java.nio.file.Files.createFile(sentinel)
      }
      // ER vocabulary axis landed later — its own sentinel so existing
      // inflation dirs upgrade in place
      val erSentinel = java.nio.file.Paths.get(dir, s"_inflate_er_$f.ok")
      if (!java.nio.file.Files.exists(erSentinel)) {
        inflateEr(spark, src, dir, f)
        java.nio.file.Files.createFile(erSentinel)
      }
      // x1 SOURCES axis (r10 verdict item 2) — own sentinel, same
      // reason. v2: the first cut's id re-keying collapsed the URL
      // group count (see inflateSources); the bumped sentinel makes
      // existing inflation dirs regenerate the fixed variant in place
      val sxSentinel = java.nio.file.Paths.get(dir, s"_inflate_srcx2_$f.ok")
      if (!java.nio.file.Files.exists(sxSentinel)) {
        inflateSources(spark, src, dir, f)
        java.nio.file.Files.createFile(sxSentinel)
      }
    }

    // --x2railprobe: demonstrate the semanticDupPairs DEFAULT rail at
    // the inflated scale — the fixed-k=8 x2 plan should REFUSE with
    // the Σ cell² evidence (after paying only k-means + the k-row
    // histogram, never the self-join). Prints the outcome and exits.
    if (only == Set("--x2railprobe")) {
      val t0 = System.nanoTime()
      try {
        SparkEntry.x2Chain(spark, out, k = 8, iters = 2).count()
        println(f"X2RAILPROBE: NO REFUSAL at factor $factor " +
          f"(${(System.nanoTime() - t0) / 1e9}%.1f s — corpus still " +
          "inside the default budget)")
      } catch {
        case e: IllegalArgumentException =>
          println(f"X2RAILPROBE: refused in " +
            f"${(System.nanoTime() - t0) / 1e9}%.1f s — ${e.getMessage}")
      }
      spark.stop()
      return
    }

    // seconds AND the leg's host-steal fraction: a soak exponent
    // published without its steal readings is unfalsifiable against
    // host-neighbor noise — r10 measured identical back-to-back d2
    // 10x legs at 10 vs 27 s under 5-17% steal bursts on an
    // idle-looking guest (1.3% steal at rest). A leg with steal
    // beyond ~2-3% is a re-run, not a datapoint.
    //
    // SCALE NOTE: the fraction is steal jiffies over ALL cpu jiffies
    // INCLUDING idle/iowait, so on a mostly-idle guest a steal burst
    // concentrated on the busy cores reads diluted. The ~2-3%
    // re-run threshold above (and every published soak row) is
    // calibrated to THIS diluted scale — do not compare these numbers
    // against a busy-jiffies-normalized reading.
    def timed(fn: => Unit): (Double, Double) = {
      // drop checkpoint/cache blocks orphaned by PREVIOUS queries:
      // dozens of localCheckpoints otherwise accumulate in the block
      // manager across the run, and late queries pay their GC/spill —
      // ph1 measured 18.5 s inside the polluted session vs 4.8 s in a
      // fresh JVM on the same 10× data (a 1.40 vs 0.47 exponent)
      Bench.drainBlocks(spark)
      val ticks0 = Bench.cpuTicks()
      val t0 = System.nanoTime(); fn
      val sec = (System.nanoTime() - t0) / 1e9
      (sec, Bench.stealFrac(ticks0, Bench.cpuTicks()))
    }
    val selected =
      if (only.isEmpty) allQueryNames
      else {
        val unknown = only -- allQueryNames.toSet
        require(unknown.isEmpty, s"unknown soak queries: $unknown")
        allQueryNames.filter(only)
      }
    def run(q: String, dir: String): Unit =
      // er1/er2 scale along the key VOCABULARY; the warehouse axis
      // keeps customer fixed, so they read the `er/` variant instead
      if (q.startsWith("er")) SparkEntry.queries(q)(spark, s"$dir/er").count()
      else if (q == "zo2_zorder_lifecycle") zorderLifecycle(spark, dir)
      // x1's docs-count axis is FLAT by construction (URL groups
      // collapse to ~200 per source, ROUND_NOTES_r10 §10); the axis
      // that scales its minhash/LSH/components tail is SOURCES — this
      // row reads the srcx/ variant where copy k re-keys the source
      else if (q == "x1_curation_sources")
        SparkEntry.queries("x1_curation_pipeline")(spark, s"$dir/srcx").count()
      // the fixed-k SemDeDup leg EXISTS to measure the N²/k regime the
      // semanticDupPairs rail refuses by default — open the explicit
      // escape hatch here, exactly as a deliberate fixed-k caller would
      else if (q == "x2_embedding_pipeline")
        SparkEntry.x2Chain(spark, dir, k = 8, iters = 2,
          maxCandidatePairs = Long.MaxValue).count()
      // ingest generates its own batch — the factor IS the batch
      // scale: nPoints and the series count grow together (points per
      // series fixed, the more-series axis a metrics fleet grows
      // along), through the exact bg_ingest_1m_points write path
      else if (q == "bg_ingest_points") {
        val f = if (dir == base) 1 else factor
        Bench.ingestPoints(spark, 1000000L * f, 1000L * f,
          SparkEntry.freshTmpDir("soak_ingest", "soak"))
      }
      else SparkEntry.queries(q)(spark, dir).count()
    val rows = selected.map { q =>
      // untimed warm-up leg: a fresh JVM's first query otherwise pays
      // all of Spark's codegen/JIT warm-up in its t1 (measured: se1 t1
      // 7.1 s cold vs 0.8 s warm), skewing exponents negative
      run(q, base)
      val (small, stealSmall) = timed(run(q, base))
      val (big, stealBig) = timed(run(q, out))
      (q, small, big, stealSmall, stealBig)
    }.map { case (q, small, big, stealSmall, stealBig) =>
      val exp = math.log(big / small) / math.log(factor.toDouble)
      // Locale.ROOT via Bench.fmt — a comma-decimal default locale
      // would otherwise emit invalid JSON (the Bench lesson)
      s"""{"query":"$q","t1":${Bench.fmt(small, 2)},""" +
        s""""t$factor":${Bench.fmt(big, 2)},""" +
        s""""exponent":${Bench.fmt(exp, 2)},""" +
        s""""steal":[${Bench.fmt(stealSmall, 3)},${Bench.fmt(stealBig, 3)}]}"""
    }
    rows.foreach { row => println(row); appendRow(row) }
    spark.stop()
  }

  /** Append one JSON row to `SPARK_GRAFT_SOAK_OUT` (default
    * soak_out.json) — the output file every soak main shares. */
  def appendRow(row: String): Unit = {
    val outFile = sys.env.getOrElse("SPARK_GRAFT_SOAK_OUT", "soak_out.json")
    try java.nio.file.Files.write(java.nio.file.Paths.get(outFile),
      (row + "\n").getBytes("UTF-8"),
      java.nio.file.StandardOpenOption.CREATE,
      java.nio.file.StandardOpenOption.APPEND)
    catch { case e: Throwable =>
      System.err.println(s"[soak] could not write $outFile: ${e.getMessage}") }
  }

  /** Every soaked query, in run order; `x1_curation_pipeline` (the
    * composed Bench pipeline, not a SparkEntry query) is last. */
  val allQueryNames: Seq[String] = Seq("e1_storage_read_path",
    "e2_consolidated_read",
    "e3_multi_retention_read", "e4_render_pipeline",
    "d2_minhash_lsh", "d12_simhash_pairs", "d12b_simhash_pairs_wide",
    "d13_span_removal", "p1_sequence_packing",
    "t9_c4_rules",
    "aj1_asof_attribution", "rj1_range_join_binned", "se1_sessionize",
    "p7_weighted_sample",
    "k6_knn_ivf_index", "k7_knn_pq", "k8_knn_ivfpq",
    "k9_knn_ivfpq_residual", "k10_ivf_append", "k11_ivf_retrain",
    "k12_recall_probe", "k12b_recall_probe_heldout",
    "k13_ivfpq_rebuild", "k13b_ivfpq_recall",
    "pr6_curation_card_lifecycle", "x9_seeded_curation",
    "r1_bm25_topk", "t13_perplexity_buckets", "d14_prototypes",
    "d8b_semdedup_sqrtn",
    "r2_bm25_index_topk", "d15_cross_corpus_dedup",
    "v1_tfidf_vectors", "r3_tfidf_knn", "cl1_nb_classify",
    "x3_text_semantic_pipeline", "d17_cluster_representatives",
    "bp1_bpe_merges", "bp3_unigram_train", "x4_chunk_dedup_pack",
    "pr2_corpus_diff",
    "lr1_logreg_gate", "ds2_dsir_resample", "r4_hybrid_rrf",
    "x6_dsir_curriculum",
    "ph1_phrase_mining", "t14_ccnet_lang_buckets", "d18_containment",
    "cu1_curriculum_order",
    "fu1_funnel", "co1_cohort_retention", "pg1_pagerank",
    "pg2_centrality_gate", "r5_phrase_query", "t15_kneser_ney",
    "se2_sliding_counts", "se4_event_transitions", "se5_rfm",
    "g15_anomaly_flags", "pg3_triangles", "pg4_bfs_hops",
    "pg5_personalized_ppr", "pg6_hits", "x8_user360",
    "h1_pricing_summary", "h3_shipping_priority", "h5_local_supplier",
    "h13_order_count_distribution", "h14_promo_revenue",
    "h16_part_supplier_variety", "h17_small_qty_revenue",
    "h18_large_orders", "h21_waiting_suppliers",
    "h2_min_cost_supplier", "h20_part_promotion_suppliers",
    "h22_sales_opportunity", "h4_order_priority_check",
    "h6_forecast_revenue", "h10_returned_items",
    "h12_priority_shipping", "h19_disjunctive_revenue",
    "h7_volume_shipping", "h8_market_share", "h9_product_profit",
    "h11_important_stock", "h15_top_supplier", "pr4_top_tokens",
    "pr5_top_tokens_sketch", "r6_phrase_index",
    "er1_fuzzy_ed_join", "er2_nearest_master", "zo1_zorder_scan",
    "zo2_zorder_lifecycle",
    "cd1_scd2_intervals", "cd2_pit_snapshot", "cd3_snapshot_diff",
    "dq1_expectations",
    "x2_embedding_pipeline", "x2_sqrtn", "x5_pretrain_prep_pipeline",
    "x1_curation_pipeline", "x1_curation_sources",
    "bg_ingest_points")

  /** Fact-table file count for inflated (and 1×-normalized) copies:
    * one file per core of the local[32] session, so scan parallelism
    * is the same known quantity on both soak legs instead of an
    * accident of files.maxPartitionBytes splitting. */
  private val Files = 32

  /** Write `factor`-times-inflated copies of documents, events and the
    * warehouse facts. */
  def inflate(spark: SparkSession, src: String, out: String,
      factor: Int): Unit = {
    val ks = explode(sequence(lit(0), lit(factor - 1))).as("k")
    inflateDocs(spark, src, out, factor)

    val ev = spark.read.parquet(s"$src/events.parquet")
    ev.select(col("*"), ks)
      .select((col("event_id") * factor + col("k")).as("event_id"),
        col("ts"), col("user_id"), col("event_type"), col("value"),
        col("props"))
      .repartition(Files)
      .write.mode("overwrite").parquet(s"$out/events.parquet")

    // TPC-H-shape tables for the warehouse family: FACTS inflate, DIMS
    // stay fixed — copy k re-keys the order while keeping its customer
    // and lineitems, so every customer accrues factor× orders and
    // lineitem grows factor× against an unchanged dimension side (the
    // axis a real warehouse actually grows along; growing dims with the
    // facts would shrink join selectivity instead of stressing volume)
    val ord = spark.read.parquet(s"$src/orders.parquet")
    ord.select(col("*"), ks)
      .select((col("o_orderkey") * factor + col("k")).as("o_orderkey"),
        col("o_custkey"), col("o_orderstatus"), col("o_totalprice"),
        col("o_orderdate"), col("o_orderpriority"))
      .repartition(Files)
      .write.mode("overwrite").parquet(s"$out/orders.parquet")
    val li = spark.read.parquet(s"$src/lineitem.parquet")
    li.select(col("*"), ks)
      .select((col("l_orderkey") * factor + col("k")).as("l_orderkey"),
        col("l_partkey"), col("l_suppkey"), col("l_linenumber"),
        col("l_quantity"), col("l_extendedprice"), col("l_discount"),
        col("l_tax"), col("l_returnflag"), col("l_linestatus"),
        col("l_shipdate"))
      .repartition(Files)
      .write.mode("overwrite").parquet(s"$out/lineitem.parquet")
    for (t <- Seq("customer", "part", "supplier", "nation", "region"))
      spark.read.parquet(s"$src/$t.parquet")
        .write.mode("overwrite").parquet(s"$out/$t.parquet")

    // embeddings: a `factor`× corpus for the ANN ladder — copy k nudges
    // the first dimension by k/1000 so copies are distinct points (cells
    // densify uniformly; the query set stays the fixed-id window)
    val emb = spark.read.parquet(s"$src/embeddings.parquet")
    emb.select(col("*"), ks)
      .select((col("vec_id") * factor + col("k")).as("vec_id"),
        transform(col("embedding"),
          (v, i) => when(i === 0,
            (v + col("k").cast("float") / lit(1000f)).cast("float"))
            .otherwise(v)).as("embedding"),
        col("label"))
      .repartition(Files)
      .write.mode("overwrite").parquet(s"$out/embeddings.parquet")
  }

  /** Write the `factor`× documents copy `<out>/documents.parquet`, once:
    * the `_inflate_docs_<factor>.ok` sentinel skips a dir already
    * written. Copy k re-keys `doc_id` to `doc_id·factor + k` and prefixes
    * every token with `q<k>_` (copy 0 stays verbatim, so the source
    * corpus is a subset); the underscore keeps copies token-disjoint at
    * any factor — without it, q1 + a digit-leading token collides with
    * a q10+ token. */
  def inflateDocs(spark: SparkSession, src: String, out: String,
      factor: Int): Unit = {
    val sentinel = java.nio.file.Paths.get(out, s"_inflate_docs_$factor.ok")
    if (!java.nio.file.Files.exists(sentinel)) {
      spark.read.parquet(s"$src/documents.parquet")
        .select(col("*"), explode(sequence(lit(0), lit(factor - 1))).as("k"))
        .select(
          (col("doc_id") * factor + col("k")).as("doc_id"),
          when(col("k") === 0, col("text")).otherwise(
            regexp_replace(col("text"), lit("(\\S+)"),
              concat(lit("q"), col("k"), lit("_$1")))).as("text"),
          col("lang"), col("source"), col("n_chars"))
        .repartition(Files) // deterministic 32-way layout, see `main`
        .write.mode("overwrite").parquet(s"$out/documents.parquet")
      java.nio.file.Files.createFile(sentinel)
    }
  }

  /** ER-axis customer copy under `$out/er/`: the entity-resolution
    * queries' scale axis is the KEY VOCABULARY, which the warehouse
    * inflation deliberately keeps fixed (dims-fixed). Copy k prefixes
    * every name with `q<k><k>_` — the doubled decimal makes any two
    * distinct prefixes Levenshtein ≥ 2 apart (same length ⇒ each
    * differing digit appears twice; different length ⇒ even-length gap
    * ≥ 2), so at threshold k=1 the copies' match structures are
    * DISJOINT: each copy reproduces the source vocabulary's internal
    * near-match pairs and nothing crosses copies. Copy 0 stays
    * verbatim (source is a subset). */
  def inflateEr(spark: SparkSession, src: String, out: String,
      factor: Int): Unit = {
    val ks = explode(sequence(lit(0), lit(factor - 1))).as("k")
    spark.read.parquet(s"$src/customer.parquet")
      .select(col("*"), ks)
      .select((col("c_custkey") * factor + col("k")).as("c_custkey"),
        when(col("k") === 0, col("c_name"))
          .otherwise(concat(lit("q"), col("k"), col("k"), lit("_"),
            col("c_name"))).as("c_name"),
        col("c_nationkey"), col("c_acctbal"), col("c_mktsegment"))
      .repartition(Files)
      .write.mode("overwrite").parquet(s"$out/er/customer.parquet")
  }

  /** SOURCE-axis documents copy under `$out/srcx/`: x1's corpus-growth
    * axis. The plain docs-count inflation leaves x1's 10× leg FLAT by
    * construction — its URL-dedup stage keys on source × (doc_id % 200),
    * so 10× docs still collapse to the same ~200 URL groups per source
    * and the expensive minhash/LSH/components tail sees a constant
    * survivor set (ROUND_NOTES_r10 §10). Here copy k re-keys the SOURCE
    * (`<source>_q<k>`), so URL groups — and with them the url-dedup
    * survivors feeding the tail — grow `factor`×; the text is q-prefixed
    * token-disjoint exactly like [[inflate]], so each copy reproduces
    * the source corpus's internal near-duplicate structure instead of
    * forming factor-sized cross-copy clusters of identical text (which
    * would measure quadratic pair-count growth, a data-shape change,
    * not the engine). Copy 0 stays verbatim. */
  def inflateSources(spark: SparkSession, src: String, out: String,
      factor: Int): Unit = {
    val ks = explode(sequence(lit(0), lit(factor - 1))).as("k")
    val docs = spark.read.parquet(s"$src/documents.parquet")
    // copy-disjoint ids as doc_id + k·ceil with ceil a MULTIPLE OF
    // x1's URL modulus (200), so each copy PRESERVES the source
    // corpus's doc_id%200 residue structure. The docs axis's
    // doc_id*factor+k re-keying would collapse the group count right
    // back to the 1× value here: in the generated corpus `source` is
    // itself periodic in doc_id (source ~ doc_id%20, 20 | 200), so
    // under id*10+k each copy k only reaches the 20 residues ≡ k
    // (mod 10) and sources × residues stays EXACTLY 200 at any factor
    // — measured, that made the first srcx leg as flat (−0.05) as the
    // docs axis it was built to replace. With the offset form each
    // re-keyed source keeps its full residue set and URL groups — and
    // the url-dedup survivors feeding the minhash/LSH/components tail
    // — genuinely grow factor×.
    val maxId = docs.agg(max(col("doc_id"))).head().getLong(0)
    val ceil = (maxId / 200 + 1) * 200
    docs
      .select(col("*"), ks)
      .select(
        (col("doc_id") + col("k") * ceil).as("doc_id"),
        when(col("k") === 0, col("text")).otherwise(
          regexp_replace(col("text"), lit("(\\S+)"),
            concat(lit("q"), col("k"), lit("_$1")))).as("text"),
        col("lang"),
        when(col("k") === 0, col("source"))
          .otherwise(concat(col("source"), lit("_q"), col("k"))).as("source"),
        col("n_chars"))
      .repartition(Files)
      .write.mode("overwrite").parquet(s"$out/srcx/documents.parquet")
  }

  /** The zo2 soak query: the FULL z-order maintenance lifecycle — build
    * on 60% of the fact, two 20% appends under the saved cuts, compact
    * back to the build's file count, then the zo1 two-dimensional probe
    * over the compacted layout. zo1 soaks the build+scan; this row is
    * the append/compact path's scaling evidence (verdict r9 item 7).
    * Stage timings and file counts print to stderr for the chunk log;
    * the soak row records the lifecycle total. */
  def zorderLifecycle(spark: SparkSession, dir: String): Unit = {
    import graft.operators.Layout
    val out = s"${System.getProperty("java.io.tmpdir")}/graft_zo2_" +
      java.lang.Integer.toHexString(dir.hashCode)
    // wipe: zorderWrite overwrites, but appends from a PREVIOUS run
    // must not survive into this run's build
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(out))
    val li = spark.read.parquet(s"$dir/lineitem.parquet")
    def files(): Int = spark.read.parquet(out)
      .select(input_file_name()).distinct().count().toInt
    def probe(): Unit = {
      spark.read.parquet(out)
        .filter(col("l_orderkey").between(1000, 2999) &&
          col("l_partkey").between(200, 599))
        .agg(count(lit(1)), sum("l_quantity")).collect()
      ()
    }
    def stage[T](label: String)(f: => T): T = {
      val t0 = System.nanoTime(); val r = f
      System.err.println(f"[zo2] $label ${(System.nanoTime() - t0) / 1e9}%.2f s")
      r
    }
    stage("build 60%")(Layout.zorderWrite(
      li.filter(col("l_orderkey") % 5 < 3), Seq("l_orderkey", "l_partkey"),
      out, nFiles = 32, cutsSampleFraction = 0.05))
    stage("append 20%")(Layout.zorderAppend(
      li.filter(col("l_orderkey") % 5 === 3), out))
    stage("append 20%")(Layout.zorderAppend(
      li.filter(col("l_orderkey") % 5 === 4), out))
    System.err.println(s"[zo2] files pre-compact: ${files()}")
    stage("probe pre-compact")(probe())
    stage("compact")(Layout.compactLayout(spark, out, nFiles = 32))
    System.err.println(s"[zo2] files post-compact: ${files()}")
    stage("probe post-compact")(probe())
  }
}
