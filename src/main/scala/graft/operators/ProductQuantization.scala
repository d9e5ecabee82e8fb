package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window

/** Product quantization (Jégou et al., "Product Quantization for Nearest
  * Neighbor Search", TPAMI 2011) — the compressed-domain rung of the ANN
  * scale ladder (beyond-reference scope, SURVEY.md §7.4): split each
  * vector into `m` contiguous subvectors, k-means each subspace into
  * `ksub` codes, and store each corpus vector as `m` small ints. At
  * 100 TB this is the difference between scanning 64 floats per
  * candidate and scanning 4 bytes: the codes table is ~64× smaller than
  * the float corpus, and query scoring never touches the original
  * vectors (asymmetric distance computation — ADC).
  *
  * Everything is declarative DataFrame ops, like [[Clustering]]:
  *  - training: one plan per Lloyd's round over (sub, subvector) rows —
  *    the m subspace k-means run TOGETHER, grouped by `sub`, not as m
  *    separate jobs;
  *  - encoding: corpus × broadcast(m·ksub codebook) + a min_by argmin —
  *    map-side partials, one shuffle of (id, sub) rows;
  *  - scoring: the classic ADC table — per query, the m·ksub partial
  *    dots are computed ONCE against the broadcast codebook and laid
  *    out as a dense slot-indexed array; each candidate then costs m
  *    O(1) array loads in the native [[graft.functions.AdcScore]]
  *    expression, not an array pass.
  *
  * Determinism: init = subvectors of the first `ksub` ids, squared-L2
  * rounded to 6 before the argmin (ties to the lowest code), centroid
  * means rounded to 6 — the training trajectory and codes are identical
  * in any engine or partitioning. Scoring folds subspace terms in
  * subspace order, so the approximate cosine is reproducible
  * bit-for-bit.
  */
object ProductQuantization {
  import Similarity.dot

  /** Explode vectors into (id, sub, sv) subvector rows, cast to double.
    * `sub` ∈ [0, m); each `sv` has `subDim` elements. */
  private def subvectors(df: DataFrame, idCol: String, vecCol: String,
      m: Int, subDim: Int): DataFrame = {
    val subs = (0 until m).map { s =>
      struct(lit(s).as("sub"),
        slice(transform(col(vecCol), v => v.cast("double")),
          s * subDim + 1, subDim).as("sv"))
    }
    df.select(col(idCol), explode(array(subs: _*)).as("__e"))
      .select(col(idCol), col("__e.sub").as("sub"), col("__e.sv").as("sv"))
  }

  /** Squared-L2 argmin of each (id, sub) subvector against its
    * subspace's codebook: ‖v−c‖² = v·v − 2·v·c + c·c, one native dot
    * per (row, code) pair with v·v and c·c factored out. Returns
    * (idCol, sub, sv, code). Rounded to 6 before the argmin; ties to
    * the lowest code — the cross-engine-stable rule every trained
    * operator here uses. */
  private def assignCodes(sv: DataFrame, idCol: String,
      codebooks: DataFrame): DataFrame = {
    // m·ksub-row metadata-scale collect — the codebook is broadcast-
    // small by contract (the same freeze class as the IVF centroids)
    val cellRows = codebooks.select(col("sub"), col("code"), col("cent"))
      .collect()
    // empty codebooks: the join path emitted zero rows — reproduce it
    if (cellRows.isEmpty)
      return sv.filter(lit(false)).select(col(idCol), col("sub"),
        col("sv"), lit(null).cast("int").as("code"))
    val bySub = cellRows
      .map(r => (r.getInt(0), r.getInt(1),
        r.getSeq[Any](2).map(_.asInstanceOf[Number].doubleValue()).toArray))
      .groupBy(_._1)
    val m = bySub.keys.max + 1
    require(bySub.keySet == (0 until m).toSet,
      s"assignCodes: non-contiguous subspaces ${bySub.keySet}")
    val subDim = cellRows.head.getSeq[Any](2).length
    require(cellRows.forall(_.getSeq[Any](2).length == subDim),
      "assignCodes: codebook entries disagree on subDim")
    val perSub = (0 until m).map(s => bySub(s).sortBy(_._2))
    val subStart = perSub.scanLeft(0)(_ + _.length).toArray
    val codes = perSub.flatten.map(_._2).toArray
    val cent = new Array[Double](codes.length * subDim)
    perSub.flatten.zipWithIndex.foreach { case ((_, _, c), i) =>
      System.arraycopy(c, 0, cent, i * subDim, subDim)
    }
    // frozen self-norms, the exact dot(cent, cent) ascending fold
    val c2 = perSub.flatten.map { case (_, _, c) =>
      var s = 0.0; var j = 0
      while (j < subDim) { s += c(j) * c(j); j += 1 }
      s
    }.toArray
    val firstCodes = subStart.init.map(codes(_))
    import graft.functions.NearestCode.nearest_code
    sv.select(col(idCol), col("sub"), col("sv"),
      // a NULL subvector can't carry through the kernel: the join path
      // kept the row on the sub's first code — coalesce reproduces it
      coalesce(
        nearest_code(col("sub"), col("sv"), subStart, codes, cent, c2,
          subDim),
        element_at(lit(firstCodes), col("sub") + 1)).as("code"))
  }

  /** The pre-kernel join-shaped code assignment — retained ONLY as the
    * equivalence oracle for [[assignCodes]] (NearestCodeSpec pins the
    * two bit-equal); no production path calls it. */
  private[graft] def assignCodesJoin(sv: DataFrame, idCol: String,
      codebooks: DataFrame): DataFrame = {
    val c = broadcast(codebooks
      .withColumn("__c2", dot(col("cent"), col("cent"))))
    sv.withColumn("__v2", dot(col("sv"), col("sv")))
      .join(c, Seq("sub"))
      .withColumn("__d2", round(
        col("__v2") - lit(2) * dot(col("sv"), col("cent")) + col("__c2"), 6))
      .groupBy(col(idCol), col("sub"))
      .agg(min_by(struct(col("sv"), col("code")),
        struct(col("__d2"), col("code"))).as("__w"))
      .select(col(idCol), col("sub"),
        col("__w.sv").as("sv"), col("__w.code").as("code"))
  }

  /** Probe the vector dimension (one driver-side row — metadata-scale,
    * the same shape as the glob-cap and sampling-plan probes). */
  private def probeDim(df: DataFrame, vecCol: String): Int =
    df.select(size(col(vecCol))).head().getInt(0)

  /** Train the `m` subspace codebooks: `iters` rounds of Lloyd's over
    * (sub, subvector) rows, seeded with the subvectors of the first
    * `ksub` ids. Returns (sub, code, cent: array&lt;double&gt;) —
    * m·ksub rows, always broadcast-small. A code that loses every
    * member drops out, exactly like [[Clustering.kmeansFit]]. */
  def pqTrain(corpus: DataFrame, idCol: String, vecCol: String,
      m: Int, ksub: Int, iters: Int): DataFrame = {
    require(m > 0 && ksub > 0 && iters >= 0,
      s"pqTrain: need m>0, ksub>0, iters>=0 (got m=$m ksub=$ksub iters=$iters)")
    val dim = probeDim(corpus, vecCol)
    require(dim % m == 0, s"pqTrain: dim $dim not divisible by m=$m")
    val sv = subvectors(corpus, idCol, vecCol, m, dim / m)
    var cents = sv.filter(col(idCol) < ksub)
      .select(col("sub"), col(idCol).cast("int").as("code"),
        col("sv").as("cent"))
      .localCheckpoint(true)
    for (_ <- 1 to iters) {
      val assigned = assignCodes(sv, idCol, cents)
      cents = assigned
        .select(col("sub"), col("code"),
          posexplode(col("sv")).as(Seq("pos", "v")))
        .groupBy("sub", "code", "pos")
        .agg(avg(col("v")).as("mn"))
        .groupBy("sub", "code")
        .agg(array_sort(collect_list(struct(col("pos"), col("mn")))).as("pm"))
        .select(col("sub"), col("code"),
          transform(col("pm"), x => round(x.getField("mn"), 6)).as("cent"))
        // m·ksub rows — materialize so each round's broadcast plan stays
        // flat (the kmeansFit technique)
        .localCheckpoint(true)
    }
    cents
  }

  /** Encode the corpus against trained codebooks: each vector becomes
    * (idCol, codes: array&lt;int&gt; of length m in subspace order,
    * recon_norm: ‖reconstruction‖ = sqrt(Σ_sub c·c), summed in subspace
    * order). This is the table a deployment PERSISTS — m ints + one
    * double per vector instead of the float array. */
  def pqEncode(corpus: DataFrame, idCol: String, vecCol: String,
      codebooks: DataFrame): DataFrame = {
    val (m, stride, subDim) = codebookShape(codebooks)
    val sv = subvectors(corpus, idCol, vecCol, m, subDim)
    // the per-(sub, code) self-norms, dense by slot = sub·stride + code
    // (0.0 at dropped-code gaps — never referenced): an O(1) literal
    // lookup instead of the broadcast join the pre-kernel path paid,
    // computed engine-side with the same dot fold the join carried
    val c2Rows = codebooks.select(col("sub"), col("code"),
      dot(col("cent"), col("cent")).as("__c2")).collect()
    val c2Dense = new Array[Double](m * stride)
    c2Rows.foreach(r =>
      c2Dense(r.getInt(0) * stride + r.getInt(1)) = r.getDouble(2))
    assignCodes(sv, idCol, codebooks)
      .withColumn("__c2", element_at(lit(c2Dense),
        col("sub") * stride + col("code") + 1))
      .groupBy(col(idCol))
      .agg(array_sort(collect_list(
        struct(col("sub"), col("code"), col("__c2")))).as("__sc"))
      .select(col(idCol),
        transform(col("__sc"), x => x.getField("code")).as("codes"),
        sqrt(aggregate(col("__sc"), lit(0.0),
          (a, x) => a + x.getField("__c2"))).as("recon_norm"))
  }

  /** Driver-side probe of the (m, ksub-stride, subDim) of a codebook
    * relation — m·ksub rows, metadata-scale. The stride is max(code)+1
    * so dropped codes keep slot arithmetic stable. */
  private def codebookShape(codebooks: DataFrame): (Int, Int, Int) = {
    val r = codebooks.agg(max(col("sub")), max(col("code")),
      max(size(col("cent")))).head()
    (r.getInt(0) + 1, r.getInt(1) + 1, r.getInt(2))
  }

  /** Per-query DENSE ADC distance table: from (query_id, sub, code,
    * sv, cent) rows, one array of m·stride partial dots indexed by
    * slot = sub·stride + code, nulls at slots no codebook entry fills
    * (never referenced — codes only point at existing entries). Dense
    * so candidate scoring is an O(1) array load per subspace, not a
    * map scan. */
  private def denseTable(joined: DataFrame, m: Int, stride: Int): DataFrame =
    joined
      .withColumn("__pdot", dot(col("sv"), col("cent")))
      .groupBy("query_id")
      .agg(map_from_entries(collect_list(struct(
        (col("sub") * stride + col("code")).as("slot"),
        col("__pdot")))).as("__map"))
      .select(col("query_id"),
        transform(sequence(lit(0), lit(m * stride - 1)),
          s => element_at(col("__map"), s)).as("__tbl"))

  /** ADC top-k: approximate cosine between each query and every encoded
    * corpus vector, ranked per query. The query side precomputes its
    * distance TABLE — the m·ksub partial dots q_sub · c_(sub,code) —
    * once against the broadcast codebook; scoring a candidate is then
    * `m` O(1) array loads summed in subspace order (native
    * [[graft.functions.AdcScore]]), divided by ‖q‖·recon_norm. The corpus float vectors are never read — only
    * `encoded` (codes + recon_norm) is scanned, which is the entire
    * point of PQ at scale. With ksub ≥ corpus size and iters=0 the
    * codebook IS the corpus subvectors, reconstruction is exact, and
    * ADC degrades gracefully to the brute-force answer (PqSpec pins
    * it). Output: (query_id, rank, neighbor_id, cos). */
  def pqKnn(queries: DataFrame, encoded: DataFrame, codebooks: DataFrame,
      idCol: String, vecCol: String, k: Int): DataFrame = {
    require(k >= 1, s"pqKnn: k must be positive: $k")
    val (m, stride, subDim) = codebookShape(codebooks)
    val qsv = subvectors(
      queries.select(col(idCol).as("query_id"), col(vecCol)),
      "query_id", vecCol, m, subDim)
    val tbl = denseTable(qsv.join(broadcast(codebooks), Seq("sub")),
      m, stride)
    val qn = queries.select(col(idCol).as("query_id"),
      Similarity.l2norm(transform(col(vecCol), v => v.cast("double")))
        .as("__qn"))
    val q = broadcast(tbl.join(qn, Seq("query_id")))
    val scored = encoded
      .select(col(idCol).as("neighbor_id"),
        col("codes"), col("recon_norm"))
      .crossJoin(q)
      .filter(col("query_id") =!= col("neighbor_id"))
      .withColumn("__score", graft.functions.AdcScore.adc_score(
        col("codes"), col("__tbl"), stride))
      .withColumn("cos", round(
        col("__score") / (col("__qn") * col("recon_norm")), 6))
    val w = Window.partitionBy("query_id")
      .orderBy(col("cos").desc, col("neighbor_id").asc)
    scored.withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= k)
      .select("query_id", "rank", "neighbor_id", "cos")
  }

  /** The LIVE (centroids, codebooks, postings, meta) paths of an
    * IVF-PQ index under `dir` — the four-relation twin of
    * [[Similarity.livePaths]], resolving through the same `MANIFEST`
    * generation pointer so a [[rebuildIvfPqIndex]] is one atomic swap
    * away from every reader and writer. */
  def livePqPaths(spark: org.apache.spark.sql.SparkSession, dir: String)
      : (String, String, String, String) =
    Similarity.liveGeneration(spark, dir) match {
      case 0 =>
        (s"$dir/centroids", s"$dir/codebooks", s"$dir/postings", s"$dir/meta")
      case g =>
        (s"$dir/centroids_g$g", s"$dir/codebooks_g$g",
          s"$dir/postings_g$g", s"$dir/meta_g$g")
    }

  /** Persist an IVF-PQ index (FAISS's IndexIVFPQ shape): coarse
    * k-means centroids + PQ codebooks (both driver-small) and an
    * inverted file of PQ-ENCODED postings partitioned by cell — each
    * posting is m small ints and a norm, no float vectors on disk at
    * all. The probe-time scan is therefore nProbe/kCells of an already
    * ~64×-compressed corpus: the layout a web-scale deployment
    * actually ships.
    *
    * `byResidual = true` is FAISS's default encoding: PQ quantizes the
    * RESIDUAL v − centroid(cell(v)) instead of v. Residuals live in a
    * much smaller ball than the vectors (the coarse quantizer has
    * already explained most of the energy), so the same m·ksub code
    * budget reconstructs far more accurately. The reconstruction is
    * centroid + PQ(residual); its norm is computed per posting at
    * encode time from the k·m·ksub (cell, sub, code) combination table
    * — broadcast-small by construction. The index records the mode in
    * `dir/meta`, so probes are self-describing.
    *
    * A REBUILD of a previously [[rebuildIvfPqIndex]]-retrained index
    * resets the generation state (manifest + `*_g<N>` dropped LAST,
    * after the fixed-path data is complete), exactly like
    * [[Similarity.buildIvfIndex]]. */
  def buildIvfPqIndex(corpus: DataFrame, idCol: String, vecCol: String,
      dir: String, kCells: Int, coarseIters: Int,
      m: Int, ksub: Int, pqIters: Int,
      byResidual: Boolean = false): Unit = {
    val spark = corpus.sparkSession
    // under the compaction guard like every other whole-index rewrite:
    // an unguarded rebuild overwrites the postings a concurrent
    // appendToIvfPqIndex is appending into — the append must fail fast
    // instead of being silently dropped
    graft.sources.Compaction.guardedCompaction(spark, dir) {
      writeIndexState(corpus, idCol, vecCol, s"$dir/centroids",
        s"$dir/codebooks", s"$dir/postings", s"$dir/meta",
        kCells, coarseIters, m, ksub, pqIters, byResidual)
      Similarity.resetGenerations(spark, dir)
    }
  }

  /** Train + encode one complete IVF-PQ index state at the given four
    * paths — the write body shared by [[buildIvfPqIndex]] (fixed
    * paths) and [[rebuildIvfPqIndex]] (a fresh generation's aside
    * paths). Callers hold the compaction guard. */
  private def writeIndexState(corpus: DataFrame, idCol: String,
      vecCol: String, centPath: String, cbPath: String, postPath: String,
      metaPath: String, kCells: Int, coarseIters: Int,
      m: Int, ksub: Int, pqIters: Int, byResidual: Boolean): Unit = {
    val spark = corpus.sparkSession
    val cents = Clustering.kmeansFit(corpus, idCol, vecCol,
      kCells, coarseIters)
    // The four artifact writes are independent JOBS once their inputs
    // are frozen driver-side (cents/codebooks are k-row checkpointed
    // relations): run the small metadata writes on a side thread so
    // their per-job commit latency hides under the training/encode work
    // instead of serializing with it (guide §2.6 — overlap independent
    // jobs; the lifecycle's ~tiny-write latency was the measured k13
    // cost). Layout and contents are byte-identical to the sequential
    // writes; awaited before return so the state is complete.
    Similarity.withOverlappedWrites(
      () => cents.write.mode("overwrite").parquet(centPath),
      // the CONFIGURED (m, ksub) are persisted alongside the mode:
      // pqTrain drops codes whose cluster goes empty, so inferring the
      // budget back from the surviving codebook rows (max(code)+1) can
      // under-read it — and a cron'd rebuild chain would then ratchet
      // the code budget downward generation after generation, silently
      // degrading recall. The meta row is the configuration of record.
      () => spark.range(1).select(lit(byResidual).as("by_residual"),
          lit(m).as("m"), lit(ksub).as("ksub"))
        .write.mode("overwrite").parquet(metaPath)) {
      if (!byResidual) {
        val cb = pqTrain(corpus, idCol, vecCol, m, ksub, pqIters)
        Similarity.withOverlappedWrites(
            () => cb.write.mode("overwrite").parquet(cbPath)) {
          encodePostings(corpus, idCol, vecCol, cents, cb, byResidual = false)
            // one writer per cell, see Similarity.buildIvfIndex
            .repartition(col("cell_id"))
            .write.mode("overwrite").partitionBy("cell_id")
            .parquet(postPath)
        }
      } else {
        val dim = probeDim(corpus, vecCol)
        require(dim % m == 0,
          s"buildIvfPqIndex: dim $dim not divisible by m=$m")
        // train on the residuals of the build corpus (the same residual
        // relation encodePostings will recompute for the encode — training
        // and encoding stay one materialized pass each)
        val cells = Clustering.assignCells(
            corpus.select(col(idCol).as("neighbor_id"), col(vecCol).as("cv")),
            "neighbor_id", "cv", cents)
        val resid = residuals(cells, cents).localCheckpoint(true)
        val cb = pqTrain(resid, "neighbor_id", "rv", m, ksub, pqIters)
        Similarity.withOverlappedWrites(
            () => cb.write.mode("overwrite").parquet(cbPath)) {
          encodeResidualPostings(resid, cents, cb)
            .repartition(col("cell_id")) // one writer per cell
            .write.mode("overwrite").partitionBy("cell_id")
            .parquet(postPath)
        }
      }
    }
  }

  /** RETRAIN an IVF-PQ index from its SOURCE vectors — the PQ twin of
    * [[Similarity.retrainIvfIndex]] and FAISS's drift answer for
    * IndexIVFPQ: the persisted postings are CODES, so re-clustering
    * needs the original float relation (`source` must be the corpus
    * the index currently serves — typically the durable embedding
    * table its builds and appends came from). Coarse quantizer AND
    * codebooks retrain at the given configuration, every vector is
    * re-encoded, and the complete new state lands in a fresh
    * generation (`centroids_g<N+1>`, `codebooks_g<N+1>`,
    * `postings_g<N+1>`, `meta_g<N+1>`) before the `MANIFEST` pointer
    * swaps atomically and every superseded state is swept — the exact
    * lifecycle [[Similarity.retrainIvfIndex]] gives float indexes, so
    * probes stay green throughout and a rebuilt index answers EXACTLY
    * as a fresh [[buildIvfPqIndex]] over the same source (the k13
    * oracle contract).
    *
    * `m`/`ksub` default to the live meta's CONFIGURED budget (falling
    * back to the surviving codebook's shape only for a pre-meta-budget
    * index) and `byResidual` to the live meta — pass them to change
    * the code budget or encoding at rebuild time. Runs under the
    * compaction guard: a concurrent append either lands before the
    * rebuild's read or fails fast, never into the doomed generation. */
  def rebuildIvfPqIndex(source: DataFrame, idCol: String, vecCol: String,
      dir: String, kCells: Int, coarseIters: Int,
      m: Int = -1, ksub: Int = -1, pqIters: Int = 1,
      byResidual: Option[Boolean] = None): Unit = {
    val spark = source.sparkSession
    graft.sources.Compaction.guardedCompaction(spark, dir) {
      require(Similarity.isPqIndex(spark, dir),
        s"$dir is not an IVF-PQ index (no codebooks artifact) — " +
          "use Similarity.retrainIvfIndex for a float IVF index")
      val (_, cbPath, _, metaPath) = livePqPaths(spark, dir)
      val meta = readMetaConfig(spark, metaPath)
      // legacy fallback only: an index whose meta predates the budget
      // columns infers from the surviving codebook rows (the best
      // available evidence there, though dropped codes can under-read)
      lazy val (liveM, liveKsub, _) =
        codebookShape(spark.read.parquet(cbPath))
      val useM = if (m > 0) m else meta.m.getOrElse(liveM)
      val useKsub = if (ksub > 0) ksub else meta.ksub.getOrElse(liveKsub)
      val mode = byResidual.getOrElse(meta.byResidual)
      val gen = Similarity.liveGeneration(spark, dir) + 1
      writeIndexState(source, idCol, vecCol, s"$dir/centroids_g$gen",
        s"$dir/codebooks_g$gen", s"$dir/postings_g$gen",
        s"$dir/meta_g$gen", kCells, coarseIters, useM, useKsub,
        pqIters, mode)
      Similarity.swapManifest(spark, dir, gen)
      Similarity.sweepNonLive(spark, dir, gen)
    }
  }

  /** APPEND new vectors to a [[buildIvfPqIndex]] index without
    * retraining — the IVF-PQ twin of
    * [[Similarity.appendToIvfIndex]] (FAISS `add()`): assign against
    * the persisted coarse centroids, PQ-encode against the persisted
    * codebooks (residual or plain per `dir/meta`), and append the
    * cell-partitioned code postings. Existing postings are never
    * rewritten; probes see old and new postings through the same
    * cell-partition pruning. Quantizer and codebooks stay frozen —
    * re-train + re-build when the embedding distribution drifts,
    * exactly the FAISS contract. */
  def appendToIvfPqIndex(newVectors: DataFrame, idCol: String,
      vecCol: String, dir: String): Unit = {
    val spark = newVectors.sparkSession
    // appender side of the guard, like the float twin: a concurrent
    // compactIvfIndex/rebuild would otherwise read-then-overwrite the
    // cell dirs this is appending into and silently drop the batch
    graft.sources.Compaction.guardedAppend(spark, dir) {
      // paths resolved INSIDE the guard: a rebuild cannot swap the
      // generation pointer between this resolution and the write (it
      // holds the compactor flag, which this appender flag excludes)
      val (centPath, cbPath, postPath, metaPath) = livePqPaths(spark, dir)
      val byResidual = readMeta(spark, metaPath)
      val cents = spark.read.parquet(centPath)
      Similarity.requireSameDim(newVectors, vecCol, cents)
      val cb = spark.read.parquet(cbPath)
      encodePostings(newVectors, idCol, vecCol, cents, cb, byResidual)
        .repartition(col("cell_id")) // one file per touched cell per batch
        .write.mode("append").partitionBy("cell_id")
        .parquet(postPath)
    }
  }

  /** (neighbor_id, codes, recon_norm, cell_id) postings for `vectors`
    * under an already-trained (cents, cb) — the encode shared by index
    * build and append. */
  private def encodePostings(vectors: DataFrame, idCol: String,
      vecCol: String, cents: DataFrame, cb: DataFrame,
      byResidual: Boolean): DataFrame = {
    val cells = Clustering.assignCells(
        vectors.select(col(idCol).as("neighbor_id"), col(vecCol).as("cv")),
        "neighbor_id", "cv", cents)
    if (!byResidual)
      pqEncode(vectors.select(col(idCol).as("neighbor_id"), col(vecCol)),
          "neighbor_id", vecCol, cb)
        .join(cells.select("neighbor_id", "cell_id"), Seq("neighbor_id"))
        .select("neighbor_id", "codes", "recon_norm", "cell_id")
    else
      encodeResidualPostings(residuals(cells, cents).localCheckpoint(true),
        cents, cb)
  }

  /** v − centroid(cell(v)) rows from an assignment: (neighbor_id,
    * cell_id, rv). Callers materialize (localCheckpoint) because the
    * residuals feed multiple assignment/encode passes. */
  private def residuals(cells: DataFrame, cents: DataFrame): DataFrame =
    cells.join(broadcast(cents), Seq("cell_id"))
      .withColumn("rv", zip_with(col("cv"), col("centroid"),
        (a, b) => a.cast("double") - b))
      .select(col("neighbor_id"), col("cell_id"), col("rv"))

  /** Residual-mode postings from materialized residual rows:
    * codes + ‖centroid + PQ(residual)‖ per posting, the norm from the
    * broadcast-small k·m·ksub (cell, sub, code) combination table. */
  private def encodeResidualPostings(resid: DataFrame, cents: DataFrame,
      cb: DataFrame): DataFrame = {
    val (m, _, subDim) = codebookShape(cb)
    // ||centroid_sub + rc||² per (cell, sub, code): k·m·ksub rows
    val cellSlot = broadcast(cents.crossJoin(cb)
      .withColumn("__c_sub",
        slice(col("centroid"), col("sub") * subDim + 1, lit(subDim)))
      .withColumn("__recon_sub",
        zip_with(col("__c_sub"), col("cent"), (a, b) => a + b))
      .withColumn("__rn2", dot(col("__recon_sub"), col("__recon_sub")))
      .select("cell_id", "sub", "code", "__rn2"))
    assignCodes(subvectors(resid, "neighbor_id", "rv", m, subDim),
        "neighbor_id", cb)
      .join(resid.select("neighbor_id", "cell_id"), Seq("neighbor_id"))
      .join(cellSlot, Seq("cell_id", "sub", "code"))
      .groupBy("neighbor_id", "cell_id")
      .agg(array_sort(collect_list(
        struct(col("sub"), col("code"), col("__rn2")))).as("__sc"))
      .select(col("neighbor_id"),
        transform(col("__sc"), x => x.getField("code")).as("codes"),
        sqrt(aggregate(col("__sc"), lit(0.0),
          (a, x) => a + x.getField("__rn2"))).as("recon_norm"),
        col("cell_id"))
  }

  /** One meta row, decoded: encoding mode plus the CONFIGURED code
    * budget when the meta carries it (indexes written before the
    * budget columns existed report None there). */
  private final case class MetaConfig(byResidual: Boolean,
      m: Option[Int], ksub: Option[Int])

  /** Read a meta relation's by_residual flag (false when absent —
    * plain encoding predates the flag). Takes the RESOLVED live meta
    * path, not the index dir. */
  private def readMeta(spark: org.apache.spark.sql.SparkSession,
      metaPath: String): Boolean =
    readMetaConfig(spark, metaPath).byResidual

  /** Read the full meta configuration (see [[MetaConfig]]); a missing
    * meta relation decodes as plain encoding with no recorded budget.
    * Columns are read BY NAME — the relation has grown columns over
    * time and positional reads would misdecode an old layout. */
  private def readMetaConfig(spark: org.apache.spark.sql.SparkSession,
      metaPath: String): MetaConfig = {
    val p = new org.apache.hadoop.fs.Path(metaPath)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(p)) MetaConfig(byResidual = false, None, None)
    else {
      val df = spark.read.parquet(metaPath)
      def intCol(name: String): Option[Int] =
        if (df.columns.contains(name))
          Some(df.select(name).head().getInt(0))
        else None
      MetaConfig(df.select("by_residual").head().getBoolean(0),
        intCol("m"), intCol("ksub"))
    }
  }

  /** Probe a [[buildIvfPqIndex]] index: rank each query's `nProbe`
    * nearest cells against the broadcast centroids, build the ADC
    * distance table once per query against the broadcast codebooks,
    * then scan ONLY the probed cells' postings partitions — scoring
    * each candidate with m native array loads, never touching a float
    * vector.
    * A posting lives in exactly one cell, so pairs are unique across
    * probes. Full probe with an identity codebook degrades to the
    * exact brute-force answer (IvfPqSpec pins it). */
  def ivfPqKnn(queries: DataFrame, indexDir: String, idCol: String,
      vecCol: String, k: Int, nProbe: Int): DataFrame = {
    require(k >= 1 && nProbe >= 1,
      s"ivfPqKnn: k and nProbe must be positive (got k=$k nProbe=$nProbe)")
    val spark = queries.sparkSession
    // every relation through the generation pointer, so a
    // rebuildIvfPqIndex is one atomic swap away from this probe
    val (centPath, cbPath, postPath, metaPath) =
      livePqPaths(spark, indexDir)
    val byResidual = readMeta(spark, metaPath)
    val cents = broadcast(spark.read.parquet(centPath)
      .withColumn("__cn", Similarity.l2norm(col("centroid"))))
    val cb = spark.read.parquet(cbPath)
    val (m, stride, subDim) = codebookShape(cb)
    val base = queries.select(col(idCol).as("query_id"), col(vecCol))
    // probe assignment — materialized: it feeds the driver-side
    // partition-pruning list AND the broadcast join side. qcdot (the
    // raw query·centroid term) rides along for residual scoring
    val probeW = Window.partitionBy("query_id")
      .orderBy(col("ccos").desc, col("cell_id").asc)
    val probes = base
      .select(col("query_id"),
        Similarity.l2norm(transform(col(vecCol), v => v.cast("double")))
          .as("__qn"), col(vecCol))
      .crossJoin(cents)
      .withColumn("__qcdot", dot(col(vecCol), col("centroid")))
      .withColumn("ccos", round(
        col("__qcdot") / (col("__qn") * col("__cn")), 6))
      .withColumn("__rn", row_number().over(probeW))
      .filter(col("__rn") <= nProbe)
      .select("query_id", "__qn", "cell_id", "__qcdot")
      .localCheckpoint(true)
    // ADC table once per query (not per probed cell)
    val tbl = denseTable(
      subvectors(base, "query_id", vecCol, m, subDim)
        .join(broadcast(cb), Seq("sub")), m, stride)
    val q = broadcast(probes.join(tbl, Seq("query_id")))
    val probed = probes.select("cell_id").distinct().collect()
      .map(_.get(0)).toSeq
    val postings = spark.read.parquet(postPath)
      .filter(col("cell_id").isin(probed: _*))
    // residual mode: recon = centroid + PQ(residual), so dot(q, recon)
    // = qcdot + Σ_sub q_sub·rc — the table is over residual codebooks,
    // the per-(query, cell) centroid term comes from the probe
    val adc = graft.functions.AdcScore.adc_score(
      col("codes"), col("__tbl"), stride)
    val scored = postings.join(q, Seq("cell_id"))
      .filter(col("query_id") =!= col("neighbor_id"))
      .withColumn("__score",
        if (byResidual) col("__qcdot") + adc else adc)
      .withColumn("cos", round(
        col("__score") / (col("__qn") * col("recon_norm")), 6))
    val w = Window.partitionBy("query_id")
      .orderBy(col("cos").desc, col("neighbor_id").asc)
    scored.withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= k)
      .select("query_id", "rank", "neighbor_id", "cos")
  }

  /** Measured recall of a persisted IVF-PQ index against brute force —
    * the PQ twin of [[Similarity.recallProbe]], which cannot run on
    * code postings: the exact side needs float vectors, so the caller
    * supplies `source`, the corpus the index serves (the same relation
    * its builds/appends encoded). Queries are the `nQueries` source
    * rows with the smallest md5(id) — deterministic, hash-spread, one
    * TakeOrdered scan — and the evidence fold is the bit-stable
    * driver-side average every probe here uses. Note PQ recall folds
    * BOTH the coarse probe miss AND the code-reconstruction error, so
    * it sits below a float index's recall at the same nProbe — set
    * floors against a measured baseline, not 1.0. */
  def recallProbe(spark: org.apache.spark.sql.SparkSession, dir: String,
      source: DataFrame, idCol: String, vecCol: String,
      nQueries: Int = 32, k: Int = 3, nProbe: Int = 1): Double = {
    require(nQueries > 0, s"nQueries must be positive: $nQueries")
    val queries = source
      .select(col(idCol), col(vecCol))
      .orderBy(md5(col(idCol).cast("string")), col(idCol))
      .limit(nQueries)
      .localCheckpoint(true) // feeds both the exact and the probe side
    Similarity.meanRecall(
      recallProbeRows(spark, dir, source, queries, idCol, vecCol, k, nProbe))
  }

  /** Per-query recall evidence behind the PQ [[recallProbe]]: one row
    * `(query_id, n_want, hits)` per query with at least one exact
    * neighbor, fully distributed — the
    * [[Similarity.recallProbeRows]] shape with the exact side ranking
    * the SOURCE float vectors and the index side ranking through
    * [[ivfPqKnn]]. Oracled cross-engine as `k13b_ivfpq_recall`. */
  def recallProbeRows(spark: org.apache.spark.sql.SparkSession,
      dir: String, source: DataFrame, queries: DataFrame, idCol: String,
      vecCol: String, k: Int, nProbe: Int = 1): DataFrame = {
    require(k > 0, s"k must be positive: $k")
    val exact = Similarity.bruteForceKnn(queries, source, idCol, vecCol, k)
      .select("query_id", "neighbor_id")
    val got = ivfPqKnn(queries, dir, idCol, vecCol, k, nProbe)
      .select(col("query_id"), col("neighbor_id").as("__got"))
    Similarity.recallHitCounts(exact, got)
  }
}
