package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window

/** Approximate-nearest-neighbor search over embedding columns
  * (beyond-reference scope, SURVEY.md §7.4).
  *
  * The exact path is a brute-force cosine top-k (fine for a broadcast-able
  * query set); the scale path buckets vectors with deterministic
  * random-hyperplane LSH so that at 100 TB each query only scans its
  * bucket. All math is codegen'd higher-order functions on array columns —
  * no UDFs, no collect.
  */
object Similarity {

  /** Dot product of two numeric array columns in double precision —
    * the native codegen'd [[graft.functions.ArrayDot]] expression (one
    * tight loop per pair; the HOF form `aggregate(zip_with(...))` runs an
    * interpreted lambda per element and matched it bit-for-bit but ~3×
    * slower). Per-PAIR work should be exactly one of these — precompute
    * norms per vector with [[l2norm]] and divide, rather than calling
    * [[cosine]] on every pair of a large join. */
  def dot(x: Column, y: Column): Column =
    graft.functions.ArrayDot.array_dot(x, y)

  /** L2 norm, built from the exact expression subtree [[cosine]] uses so
    * `dot(a,b) / (l2norm(a) * l2norm(b))` is bit-identical to
    * `cosine(a,b)` — factoring it out of a pairwise join changes the
    * op count (3 array passes per pair → 1), never the result. */
  def l2norm(v: Column): Column = sqrt(dot(v, v))

  /** Cosine similarity between two float/double array columns, computed in
    * double precision. */
  def cosine(a: Column, b: Column): Column =
    dot(a, b) / (l2norm(a) * l2norm(b))

  /** Brute-force top-k by cosine: every query row against every corpus row.
    * The query set is broadcast, so the corpus is scanned exactly once with
    * no shuffle of the big side. Ties break on the lower corpus id for
    * determinism. */
  def bruteForceKnn(queries: DataFrame, corpus: DataFrame, idCol: String,
      vecCol: String, k: Int): DataFrame = {
    val q = queries.select(col(idCol).as("query_id"), col(vecCol).as("qv"),
      l2norm(col(vecCol)).as("qn"))
    val c = corpus.select(col(idCol).as("neighbor_id"), col(vecCol).as("cv"),
      l2norm(col(vecCol)).as("cn"))
    val scored = c.crossJoin(broadcast(q))
      .filter(col("query_id") =!= col("neighbor_id"))
      .withColumn("cos", round(
        dot(col("qv"), col("cv")) / (col("qn") * col("cn")), 6))
    val w = Window.partitionBy("query_id")
      .orderBy(col("cos").desc, col("neighbor_id").asc)
    scored.withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= k)
      .select("query_id", "rank", "neighbor_id", "cos")
  }

  /** Per-vector symmetric int8 quantization: q_i = round(v_i · 127 / max|v|)
    * ∈ [-127, 127]. 4× less memory than float32 (8× vs double) — at
    * 100 TB the difference between an embedding corpus fitting executor
    * memory or spilling. Cosine is SCALE-INVARIANT, so the per-vector
    * scale cancels and quantized vectors rank directly — no dequantize,
    * no stored scale needed for similarity (keep `scale` only to
    * reconstruct values). One-time ingest-side pass; the interpreted HOF
    * cost is amortized over every query it accelerates. */
  def quantizeInt8(df: DataFrame, idCol: String, vecCol: String): DataFrame = {
    val maxAbs = greatest(array_max(transform(col(vecCol),
      v => abs(v.cast("double")))), lit(1e-30))
    df.select(col(idCol),
      transform(col(vecCol),
        v => round(v.cast("double") * 127 / maxAbs).cast("int")).as("qvec"),
      (maxAbs / 127).as("scale"))
  }

  /** Brute-force top-k over int8-quantized vectors: identical shape to
    * [[bruteForceKnn]] but the corpus scan reads 4× fewer bytes. */
  def bruteForceKnnQuantized(queries: DataFrame, corpus: DataFrame,
      idCol: String, vecCol: String, k: Int): DataFrame = {
    val q = quantizeInt8(queries, idCol, vecCol)
      .select(col(idCol).as("query_id"), col("qvec").as("qv"),
        l2norm(col("qvec")).as("qn"))
    val c = quantizeInt8(corpus, idCol, vecCol)
      .select(col(idCol).as("neighbor_id"), col("qvec").as("cv"),
        l2norm(col("qvec")).as("cn"))
    val scored = c.crossJoin(broadcast(q))
      .filter(col("query_id") =!= col("neighbor_id"))
      .withColumn("cos", round(
        dot(col("qv"), col("cv")) / (col("qn") * col("cn")), 6))
    val w = Window.partitionBy("query_id")
      .orderBy(col("cos").desc, col("neighbor_id").asc)
    scored.withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= k)
      .select("query_id", "rank", "neighbor_id", "cos")
  }

  /** Deterministic ±1 hyperplane component for (plane, dim): the high bit
    * of the first md5 nibble of "plane_dim" — the exact JVM mirror of the
    * portable SQL derivation (`substr(md5(plane || '_' || dim), 1, 1) IN
    * ('8'..'f')`) the cross-engine oracles use. No RNG state to ship. */
  private def planeSign(plane: Int, dim: Int): Double = {
    val digest = java.security.MessageDigest.getInstance("MD5")
      .digest(s"${plane}_$dim".getBytes("UTF-8"))
    if (((digest(0) >> 4) & 0xf) >= 8) 1.0 else -1.0
  }

  /** Hyperplanes a bucket signature can address before erroring — plane
    * literals are materialized to this many dims and sliced per row. */
  val MaxLshDims = 4096

  /** Random-hyperplane LSH bucket signature: bit j = sign(v · w_j) over
    * `planes` deterministic ±1 hyperplanes, packed into a string key.
    * `planeOffset` selects a disjoint hyperplane family — independent
    * hash tables use offsets 0, planes, 2·planes, …
    *
    * The hyperplane components depend only on (plane, dim), so they are
    * precomputed HERE, once, as literal arrays — the projection is then a
    * native [[graft.functions.ArrayDot]] per plane instead of an
    * interpreted per-element lambda that recomputed an md5 for every
    * (row, plane, dim). Product values and fold order are unchanged, so
    * bucket strings (and the cross-engine oracle) are identical. */
  def lshBucket(vecCol: Column, planes: Int, planeOffset: Int = 0): Column = {
    val bits = (0 until planes).map { j =>
      val w = Array.tabulate(MaxLshDims)(i => planeSign(planeOffset + j, i))
      val proj = graft.functions.ArrayDot.array_dot(vecCol,
        slice(lit(w), lit(1), size(vecCol)))
      when(proj > 0, "1").otherwise("0")
    }
    // fail loudly past the plane-literal length — a silent truncation
    // would bucket long vectors on a prefix
    when(size(vecCol) <= MaxLshDims, concat(bits: _*))
      .otherwise(raise_error(
        lit(s"lshBucket: vector exceeds $MaxLshDims dims")).cast("string"))
  }

  /** IVF-style ANN with a deterministic coarse quantizer: the first
    * `nCells` corpus vectors (by id) act as centroids, every vector is
    * assigned to its nearest centroid (one argmax pass), and a query
    * scans only its own cell. The classic inverted-file trade: one
    * corpus × centroids pass (cheap, nCells ≪ corpus) replaces the full
    * cross product; recall < 1 like any single-probe IVF. Deterministic
    * end-to-end — no trained state to ship. */
  def ivfKnn(queries: DataFrame, corpus: DataFrame, idCol: String,
      vecCol: String, k: Int, nCells: Int): DataFrame = {
    val centroids = corpus.filter(col(idCol) < nCells)
      .select(col(idCol).as("cell_id"), col(vecCol).as("centroid"))
    // argmax as a max_by AGGREGATION, not a ranking window: no full
    // shuffle+sort of the corpus, partial aggregation runs map-side, and
    // the vector rides along in the packed struct (constant per id).
    // Ties break to the lowest cell id via the negated struct field —
    // same order the window's (ccos desc, cell_id asc) sort produced.
    val cents = broadcast(centroids
      .withColumn("__cn", l2norm(col("centroid"))))
    def assign(df: DataFrame, id: String, vec: String): DataFrame = {
      df.select(col(id), col(vec), l2norm(col(vec)).as("__vn"))
        .crossJoin(cents)
        .withColumn("ccos", round(
          dot(col(vec), col("centroid")) / (col("__vn") * col("__cn")), 6))
        .groupBy(col(id))
        .agg(max_by(struct(col(vec).as("v"), col("__vn").as("n"), col("cell_id")),
          struct(col("ccos"), -col("cell_id"))).as("__w"))
        .select(col(id), col("__w.v").as(vec), col("__w.n").as(s"__n_$vec"),
          col("__w.cell_id").as("cell_id"))
    }
    val q = assign(queries.select(col(idCol).as("query_id"), col(vecCol).as("qv")),
      "query_id", "qv")
    val c = assign(corpus.select(col(idCol).as("neighbor_id"), col(vecCol).as("cv")),
      "neighbor_id", "cv")
    val scored = c.join(broadcast(q), Seq("cell_id"))
      .filter(col("query_id") =!= col("neighbor_id"))
      .withColumn("cos", round(
        dot(col("qv"), col("cv")) / (col("__n_qv") * col("__n_cv")), 6))
    val w = Window.partitionBy("query_id")
      .orderBy(col("cos").desc, col("neighbor_id").asc)
    scored.withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= k)
      .select("query_id", "rank", "neighbor_id", "cos")
  }

  /** IVF ANN over a TRAINED coarse quantizer: the same inverted-file
    * scan as [[ivfKnn]], but cells come from
    * [[graft.operators.Clustering.kmeansFit]] (or any (cell_id, centroid)
    * relation) instead of the first-nCells heuristic — centroids that
    * track the data distribution give tighter cells, so recall at the
    * same scan fraction improves. Assignment is one broadcast pass per
    * side; scoring pays one native dot per within-cell candidate. */
  def ivfKnnTrained(queries: DataFrame, corpus: DataFrame, idCol: String,
      vecCol: String, k: Int, centroids: DataFrame): DataFrame = {
    import graft.operators.Clustering
    def side(df: DataFrame, as: String, vecAs: String): DataFrame =
      Clustering.assignCells(df.select(col(idCol).as(as), col(vecCol).as(vecAs)),
        as, vecAs, centroids)
        .select(col(as), col(vecAs), col("cell_id"),
          l2norm(col(vecAs)).as(s"__n_$vecAs"))
    val q = side(queries, "query_id", "qv")
    val c = side(corpus, "neighbor_id", "cv")
    val scored = c.join(broadcast(q), Seq("cell_id"))
      .filter(col("query_id") =!= col("neighbor_id"))
      .withColumn("cos", round(
        dot(col("qv"), col("cv")) / (col("__n_qv") * col("__n_cv")), 6))
    val w = Window.partitionBy("query_id")
      .orderBy(col("cos").desc, col("neighbor_id").asc)
    scored.withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= k)
      .select("query_id", "rank", "neighbor_id", "cos")
  }

  /** Bucketed ANN: queries only join their own LSH bucket, then exact
    * cosine top-k within the bucket. Recall < 1 by construction; the
    * bucket join replaces the full cross product at scale.
    *
    * `multiProbe` additionally probes every bucket at Hamming distance 1
    * from the query's signature (the classic multi-probe LSH trade:
    * planes+1 buckets scanned instead of 1, recall rises steeply because
    * a near neighbor most often differs in exactly one marginal
    * hyperplane). Only the QUERY side fans out per table — the corpus
    * keeps one bucket per (vector, table).
    *
    * `tables` unions candidates from that many INDEPENDENT hyperplane
    * families (LSH's recall amplifier: a neighbor is found if ANY table
    * buckets it with the query; miss probability decays exponentially in
    * the table count). Candidate pairs found by several tables/probes are
    * deduped by a (query, neighbor) groupBy before ranking. Expected scan
    * fraction ≈ tables · probes / 2^planes. */
  def lshKnn(queries: DataFrame, corpus: DataFrame, idCol: String,
      vecCol: String, k: Int, planes: Int = 8,
      multiProbe: Boolean = false, tables: Int = 1): DataFrame = {
    def bucketed(df: DataFrame, id: String, vec: String): DataFrame = {
      val perTable = (0 until tables).map { t =>
        struct(lit(t).as("tbl"),
          lshBucket(col(vec), planes, planeOffset = t * planes).as("bucket"))
      }
      df.select(col(id), col(vec),
        explode(array(perTable: _*)).as("tb"))
        .select(col(id), col(vec), col("tb.tbl").as("tbl"),
          col("tb.bucket").as("bucket"))
    }
    val q0 = bucketed(
      queries.select(col(idCol).as("query_id"), col(vecCol).as("qv")),
      "query_id", "qv")
    val q =
      if (!multiProbe) q0
      else {
        val flips = (1 to planes).map { j =>
          val bit = when(substring(col("bucket"), j, 1) === "1", "0").otherwise("1")
          concat(substring(col("bucket"), 1, j - 1), bit,
            substring(col("bucket"), j + 1, planes - j))
        }
        q0.select(col("query_id"), col("qv"), col("tbl"),
          explode(array(col("bucket") +: flips: _*)).as("bucket"))
      }
    val c = bucketed(
      corpus.select(col(idCol).as("neighbor_id"), col(vecCol).as("cv")),
      "neighbor_id", "cv")
    val scored = c.withColumn("__cn", l2norm(col("cv")))
      .join(broadcast(q.withColumn("__qn", l2norm(col("qv")))),
        Seq("tbl", "bucket"))
      .filter(col("query_id") =!= col("neighbor_id"))
      .withColumn("cos", round(
        dot(col("qv"), col("cv")) / (col("__qn") * col("__cn")), 6))
      // a pair can surface through several tables/probes — dedup before
      // ranking (cos is identical on every copy, max is arbitrary-safe)
      .groupBy("query_id", "neighbor_id")
      .agg(max(col("cos")).as("cos"))
    val w = Window.partitionBy("query_id")
      .orderBy(col("cos").desc, col("neighbor_id").asc)
    scored.withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= k)
      .select("query_id", "rank", "neighbor_id", "cos")
  }

  // ---- index generations (the retrain lifecycle) -------------------------

  private val ManifestName = "MANIFEST"

  private[operators] def indexFs(spark: org.apache.spark.sql.SparkSession,
      dir: String)
      : (org.apache.hadoop.fs.FileSystem, org.apache.hadoop.fs.Path) = {
    val root = new org.apache.hadoop.fs.Path(dir)
    (root.getFileSystem(spark.sessionState.newHadoopConf()), root)
  }

  /** Every relation name an index generation can carry: float indexes
    * use the first two; IVF-PQ indexes add `codebooks` + `meta`. One
    * list so the swap/sweep/reset machinery treats both layouts
    * uniformly (a name that does not exist is simply skipped). */
  private[operators] val IndexRelations =
    Seq("centroids", "postings", "codebooks", "meta")

  /** The generation-suffixed `<relation>_g<N>` directory numbers
    * present under `dir`, newest first. */
  private def onDiskGenerations(fs: org.apache.hadoop.fs.FileSystem,
      root: org.apache.hadoop.fs.Path): Seq[Int] =
    Option(fs.globStatus(new org.apache.hadoop.fs.Path(root, "*_g*")))
      .getOrElse(Array.empty)
      .map(_.getPath.getName)
      .collect { case GenDirName(_, g) => g.toInt }
      .distinct.sorted.reverse.toSeq

  private val GenDirName =
    "(centroids|postings|codebooks|meta)_g(\\d+)".r

  /** The index's current generation number: what `dir/MANIFEST` names
    * ([[retrainIvfIndex]] wrote it), or 0 for an index that has never
    * been retrained (no manifest — [[buildIvfIndex]]'s fixed paths).
    * A manifest that exists but does not parse fails loudly: silently
    * treating it as generation 0 would serve a superseded index.
    *
    * MANIFEST ABSENT is ambiguous and resolved by what is on disk:
    * while the fixed `centroids` directory exists the index has never
    * completed a retrain swap (or its first retrain hasn't swapped
    * yet), so generation 0 is the complete one; once the fixed paths
    * are gone, a missing manifest means a reader landed in a swap's
    * delete→rename instant — or a retrain crashed between its swap and
    * its old-generation drop — and the NEWEST on-disk generation is
    * the fully-written one (a retrain only touches the pointer after
    * both generation writes commit), so resolve the max `*_g<N>`
    * rather than stranding on fixed paths a previous retrain already
    * deleted. */
  private[operators] def liveGeneration(
      spark: org.apache.spark.sql.SparkSession, dir: String): Int = {
    val (fs, root) = indexFs(spark, dir)
    val m = new org.apache.hadoop.fs.Path(root, ManifestName)
    def noManifest(): Int =
      if (fs.exists(new org.apache.hadoop.fs.Path(root, "centroids"))) 0
      else onDiskGenerations(fs, root).headOption.getOrElse(0)
    if (!fs.exists(m)) noManifest()
    else {
      // the pointer can vanish between the exists() and the open() (a
      // swap's delete→rename instant) — same resolution as never having
      // seen it, not an error
      val s = try {
        val in = fs.open(m)
        try new String(in.readAllBytes(),
          java.nio.charset.StandardCharsets.UTF_8).trim finally in.close()
      } catch { case _: java.io.FileNotFoundException => return noManifest() }
      s.toIntOption.filter(_ > 0).getOrElse(
        throw new IllegalStateException(
          s"$dir/$ManifestName is corrupt ('$s') — expected a positive " +
            "generation number; refusing to guess which index generation " +
            "is live"))
    }
  }

  /** The LIVE (centroids, postings) paths of an index under `dir`:
    * generation-suffixed once a [[retrainIvfIndex]] has swapped the
    * manifest pointer, the original fixed names before that. Every
    * reader and writer of a float IVF index resolves through this, so
    * a retrain is one atomic pointer swap away from all of them.
    * (IVF-PQ indexes resolve their four relations through
    * [[ProductQuantization.livePqPaths]], same pointer.) */
  def livePaths(spark: org.apache.spark.sql.SparkSession, dir: String)
      : (String, String) = liveGeneration(spark, dir) match {
    case 0 => (s"$dir/centroids", s"$dir/postings")
    case g => (s"$dir/centroids_g$g", s"$dir/postings_g$g")
  }

  /** Whether `dir` holds an IVF-PQ index: a `codebooks` artifact at the
    * live generation — or at the fixed path regardless of generation
    * (conservative: a stray codebooks relation next to a float index
    * means SOMETHING is PQ-shaped here, and the float-only verbs must
    * refuse rather than misread codes as vectors). Public so callers
    * holding both kinds of index (maintenance crons, the CLI) can
    * route to the right probe/retrain face. */
  def isPqIndex(
      spark: org.apache.spark.sql.SparkSession, dir: String): Boolean = {
    val (fs, root) = indexFs(spark, dir)
    val liveName = liveGeneration(spark, dir) match {
      case 0 => "codebooks"
      case g => s"codebooks_g$g"
    }
    fs.exists(new org.apache.hadoop.fs.Path(root, "codebooks")) ||
      fs.exists(new org.apache.hadoop.fs.Path(root, liveName))
  }

  /** Atomically point `dir/MANIFEST` at `gen`: write aside, then
    * delete + rename (rename-over-existing is not portable across
    * Hadoop filesystems). Readers never see a TORN pointer; in the
    * delete→rename instant a reader sees NO pointer and
    * [[liveGeneration]]'s no-manifest rule resolves the newest
    * COMPLETE state — correct because every generation is fully
    * written before this swap runs. Callers hold the compaction
    * guard. */
  private[operators] def swapManifest(
      spark: org.apache.spark.sql.SparkSession, dir: String,
      gen: Int): Unit = {
    val (fs, root) = indexFs(spark, dir)
    val tmp = new org.apache.hadoop.fs.Path(root, s".$ManifestName.tmp")
    val out = fs.create(tmp, true)
    try out.write(gen.toString.getBytes(
      java.nio.charset.StandardCharsets.UTF_8)) finally out.close()
    val manifest = new org.apache.hadoop.fs.Path(root, ManifestName)
    fs.delete(manifest, false)
    if (!fs.rename(tmp, manifest))
      throw new java.io.IOException(
        s"could not swap $dir/$ManifestName to generation $gen")
  }

  /** Delete EVERY index state that is not generation `keepGen`: the
    * fixed-path relations and every other `*_g<N>` — not just the
    * direct predecessor, so a crash between a previous swap and its
    * drop cannot leak a generation forever. Covers all
    * [[IndexRelations]], so float and PQ layouts sweep identically.
    * Callers hold the compaction guard. */
  private[operators] def sweepNonLive(
      spark: org.apache.spark.sql.SparkSession, dir: String,
      keepGen: Int): Unit = {
    val (fs, root) = indexFs(spark, dir)
    if (keepGen != 0) IndexRelations.foreach(n =>
      fs.delete(new org.apache.hadoop.fs.Path(root, n), true))
    onDiskGenerations(fs, root).filter(_ != keepGen).foreach { g =>
      IndexRelations.foreach(n =>
        fs.delete(new org.apache.hadoop.fs.Path(root, s"${n}_g$g"), true))
    }
  }

  /** Reset an index's generation state after a fresh fixed-path build:
    * drop the manifest and every `*_g<N>` directory, so a probe never
    * resolves a stale pointer onto a superseded generation while the
    * fresh build sits unread at the fixed paths. Runs LAST in a
    * rebuild — the fixed-path data is complete before the pointer
    * stops naming the old generation. */
  private[operators] def resetGenerations(
      spark: org.apache.spark.sql.SparkSession, dir: String): Unit = {
    val (fs, root) = indexFs(spark, dir)
    fs.delete(new org.apache.hadoop.fs.Path(root, ManifestName), false)
    Option(fs.globStatus(new org.apache.hadoop.fs.Path(root, "*_g*")))
      .getOrElse(Array.empty)
      .filter(st => GenDirName.matches(st.getPath.getName))
      .foreach(st => fs.delete(st.getPath, true))
  }

  /** PERSIST an IVF index — the train-once / probe-many shape of a
    * production ANN deployment (FAISS's IndexIVF on Spark terms):
    * k-means centroids to `dir/centroids` (driver-small), and the
    * inverted file to `dir/postings` PARTITIONED BY CELL with the
    * vector norm precomputed per posting. At probe time only the
    * probed cells' partition directories are listed and read —
    * partition pruning makes the scan fraction nProbe/k of the corpus
    * without any bespoke index machinery.
    *
    * A REBUILD of a previously retrained index resets the generation
    * state: the manifest and any `*_g<N>` directories are removed
    * first, so a probe never resolves a stale pointer onto the old
    * generation while the fresh build sits unread at the fixed paths.
    * Runs under the compaction guard: a rebuild overwrites (and then
    * deletes) directories an in-flight [[appendToIvfIndex]] resolved
    * inside ITS guard, so an unguarded rebuild could silently drop a
    * concurrent append's postings — the exact race the retrain/compact
    * verbs already exclude. */
  def buildIvfIndex(corpus: DataFrame, idCol: String, vecCol: String,
      dir: String, k: Int, iters: Int): Unit = {
    import graft.operators.Clustering
    val spark = corpus.sparkSession
    graft.sources.Compaction.guardedCompaction(spark, dir) {
      val cents = Clustering.kmeansFit(corpus, idCol, vecCol, k, iters)
      // centroid write overlapped with the postings job (guide §2.6):
      // cents is a k-row checkpointed relation, so the two writes are
      // independent jobs — the small write's commit latency hides under
      // the corpus-scale assign+write instead of serializing before it
      withOverlappedWrites(
          () => cents.write.mode("overwrite").parquet(s"$dir/centroids")) {
        Clustering.assignCells(
            corpus.select(col(idCol).as("neighbor_id"), col(vecCol).as("cv")),
            "neighbor_id", "cv", cents)
          .withColumn("cnorm", l2norm(col("cv")))
          .select("neighbor_id", "cv", "cnorm", "cell_id")
          // one writer per cell (write.distribution-mode=hash shape):
          // the assignment arrives scan-partitioned, and an un-clustered
          // partitioned write drops up to (tasks x cells) files
          .repartition(col("cell_id"))
          .write.mode("overwrite").partitionBy("cell_id")
          .parquet(s"$dir/postings")
      }
      // generation reset LAST: the fixed-path data above is complete
      // before the pointer stops naming the old generation
      resetGenerations(spark, dir)
    }
  }

  /** Run `body` while `writes` run as independent jobs on side threads
    * (guide §2.6 — overlap independent jobs): the callers' artifact
    * writes commute (different paths, inputs already frozen driver-side),
    * so their per-job commit latency hides under `body`. Every write is
    * awaited before this returns, so the caller can publish the state
    * next. A failing `body`'s exception surfaces with the write failures
    * attached as suppressed; otherwise the first write failure is thrown,
    * carrying the others. */
  private[operators] def withOverlappedWrites[T](writes: (() => Unit)*)(
      body: => T): T = {
    val pending = writes.map(w => writePool.submit(
      new java.util.concurrent.Callable[Unit] { override def call(): Unit = w() }))
    def failures: Seq[Throwable] = pending.flatMap { f =>
      try { f.get(); None }
      catch { case e: java.util.concurrent.ExecutionException => Some(e.getCause) }
    }
    val out = try body catch {
      case t: Throwable => failures.foreach(t.addSuppressed); throw t
    }
    failures match {
      case Seq() => out
      case first +: rest => rest.foreach(first.addSuppressed); throw first
    }
  }

  /** Small daemon pool for [[withOverlappedWrites]] — 2 threads is plenty
    * (the point is hiding commit latency, not parallel throughput). */
  private lazy val writePool = {
    val tf = new java.util.concurrent.ThreadFactory {
      private val n = new java.util.concurrent.atomic.AtomicInteger(0)
      override def newThread(r: Runnable): Thread = {
        val t = new Thread(r, s"graft-index-write-${n.incrementAndGet()}")
        t.setDaemon(true)
        t
      }
    }
    java.util.concurrent.Executors.newFixedThreadPool(2, tf)
  }

  /** RETRAIN an IVF index in place — the drift answer FAISS spells
    * "train a new index and swap": after enough [[appendToIvfIndex]]
    * batches the frozen quantizer no longer matches the data
    * distribution (cells skew, recall at fixed nProbe decays). This
    * re-runs k-means over the CURRENT postings (same deterministic
    * seeding as [[buildIvfIndex]] — ids are preserved in the postings,
    * so retraining on them equals retraining on the original vectors),
    * reassigns every posting, and writes BOTH relations to a fresh
    * generation (`centroids_g<N+1>`, `postings_g<N+1>`) — never
    * overwriting the files it is reading, which is what makes this a
    * plain two-scan job at any scale, no staging checkpoint. The
    * `MANIFEST` pointer then swaps atomically (temp + rename) and the
    * superseded generation is dropped. Runs under the compaction guard:
    * a concurrent append either lands before the retrain's listing or
    * fails fast — never into the doomed old generation. */
  def retrainIvfIndex(spark: org.apache.spark.sql.SparkSession,
      dir: String, k: Int, iters: Int): Unit =
      graft.sources.Compaction.guardedCompaction(spark, dir) {
    import graft.operators.Clustering
    require(!isPqIndex(spark, dir),
      s"$dir is an IVF-PQ index (codebooks artifact present): its postings " +
        "are PQ codes, not float vectors, so an in-place retrain cannot " +
        "re-cluster them — use ProductQuantization.rebuildIvfPqIndex with " +
        "the source vectors instead")
    val oldGen = liveGeneration(spark, dir)
    val (_, oldPosts) = livePaths(spark, dir)
    val gen = oldGen + 1
    val base = spark.read.parquet(oldPosts).select("neighbor_id", "cv")
    val cents = Clustering.kmeansFit(base, "neighbor_id", "cv", k, iters)
    // overlapped like buildIvfIndex: the k-row centroid write's commit
    // latency hides under the corpus-scale reassign+write
    withOverlappedWrites(() =>
        cents.write.mode("overwrite").parquet(s"$dir/centroids_g$gen")) {
      Clustering.assignCells(base, "neighbor_id", "cv", cents)
        .withColumn("cnorm", l2norm(col("cv")))
        .select("neighbor_id", "cv", "cnorm", "cell_id")
        .repartition(col("cell_id")) // one writer per cell, see buildIvfIndex
        .write.mode("overwrite").partitionBy("cell_id")
        .parquet(s"$dir/postings_g$gen")
    }
    // pointer swap (see [[swapManifest]]: readers in the delete→rename
    // instant resolve the newest COMPLETE state, and the same rule
    // covers a crash between the rename and the sweep below), then
    // sweep EVERY superseded state, not just this retrain's direct
    // predecessor — a crash between a previous swap and its drop
    // leaves a whole orphan generation behind (invisible to readers,
    // who go through the pointer, but paid for in storage forever
    // unless someone cleans it). In-flight probes of a swept
    // generation are the same reader-vs-compactor caveat every
    // compaction here carries.
    swapManifest(spark, dir, gen)
    sweepNonLive(spark, dir, gen)
  }

  /** Maintenance report for a persisted IVF index: one row per cell
    * with its posting count and file count — what an operator (or a
    * cron gate) reads to pick between the two maintenance verbs:
    * `files` creeping up per cell (streaming appends) →
    * [[compactIvfIndex]]; posting-count SKEW creeping up (appended
    * data drifting away from the frozen quantizer piles into a few
    * cells, degrading recall at fixed nProbe) → [[retrainIvfIndex]].
    * Metadata-scale by construction: one count per cell plus the file
    * names from the scan's `_metadata` column — the vectors are never
    * deserialized (column pruning; only cell_id and the file path are
    * read). Skew recipe: `max(postings) / avg(postings)` over the
    * returned rows — near 1 is balanced; the z-order/compaction soak
    * used >4 as its rewrite trigger and the same default is sane here. */
  def indexStats(spark: org.apache.spark.sql.SparkSession,
      dir: String): DataFrame = {
    val (_, postPath) = livePaths(spark, dir)
    spark.read.parquet(postPath)
      .groupBy("cell_id")
      .agg(count(lit(1)).as("postings"),
        countDistinct(col("_metadata.file_path")).as("files"))
      .orderBy("cell_id")
  }

  /** Index states present on disk but NOT live — generations (or the
    * fixed gen-0 paths) a crash between a retrain's pointer swap and
    * its sweep left behind. Invisible to readers (everything resolves
    * through the pointer) but paid for in storage until the next
    * [[retrainIvfIndex]] sweeps them; [[maintainIvfIndex]] and `bgutil
    * indexstats` surface them so the leak is operator-visible.
    * Metadata-only (one directory listing). Gen-0 orphans report as 0.
    * The report itself is unguarded, so one taken while a retrain is
    * RUNNING can list that retrain's half-written aside — harmless:
    * [[sweepOrphanGenerations]] takes the compactor flag the retrain
    * already holds, so acting on the report fails fast instead of
    * eating the aside. */
  def orphanGenerations(spark: org.apache.spark.sql.SparkSession,
      dir: String): Seq[Int] = {
    val (fs, root) = indexFs(spark, dir)
    val live = liveGeneration(spark, dir)
    val fixed =
      if (live != 0 &&
        fs.exists(new org.apache.hadoop.fs.Path(root, "centroids"))) Seq(0)
      else Nil
    fixed ++ onDiskGenerations(fs, root).filter(_ != live).sorted
  }

  /** Reclaim orphan index generations WITHOUT retraining: delete every
    * non-live state [[orphanGenerations]] reports (a crashed swap's
    * leak) and return the swept directory paths. Runs under the
    * compaction guard — a retrain in progress holds the same flag while
    * its new generation is still being written, so the sweep can never
    * mistake a half-written aside for an orphan. Metadata-only. */
  def sweepOrphanGenerations(spark: org.apache.spark.sql.SparkSession,
      dir: String): Seq[String] =
    graft.sources.Compaction.guardedCompaction(spark, dir) {
      val (fs, _) = indexFs(spark, dir)
      val doomed = orphanGenerations(spark, dir).flatMap { g =>
        if (g == 0) IndexRelations.map(n => s"$dir/$n")
        else IndexRelations.map(n => s"$dir/${n}_g$g")
      }.filter(p => fs.exists(new org.apache.hadoop.fs.Path(p)))
      doomed.foreach(p => fs.delete(new org.apache.hadoop.fs.Path(p), true))
      doomed
    }

  /** Measured recall of the persisted index against brute force on a
    * deterministic SAMPLE of its own postings — the drift signal
    * posting skew cannot see: boundary-straddle drift decays recall at
    * fixed nProbe while leaving cells balanced (AnnRecallSpec measures
    * 1.00 → 0.67 in that geometry; docs/SCALE.md). The sample is the
    * `nQueries` postings with the smallest md5(id) — deterministic,
    * hash-spread across the corpus, one TakeOrdered scan. Cost: one
    * broadcast-query brute-force pass over the postings plus the probe
    * itself — schedule it like a health check, not per batch.
    * Returns mean recall@k in [0, 1]. */
  def recallProbe(spark: org.apache.spark.sql.SparkSession, dir: String,
      nQueries: Int = 32, k: Int = 3, nProbe: Int = 1): Double = {
    require(nQueries > 0, s"nQueries must be positive: $nQueries")
    val (_, postPath) = livePaths(spark, dir)
    requireFloatIndex(spark, dir)
    val posts = spark.read.parquet(postPath)
      .select(col("neighbor_id").as("id"), col("cv").as("vec"))
    val queries = posts
      .orderBy(md5(col("id").cast("string")), col("id"))
      .limit(nQueries)
      .localCheckpoint(true) // feeds both the exact and the probe side
    recallProbeWith(spark, dir, queries, "id", "vec", k, nProbe)
  }

  /** [[recallProbe]] with the query SAMPLE drawn from a caller-held
    * relation (a true held-out set — e.g. vectors that were never
    * indexed, the k12b shape) instead of the index's own postings:
    * the `nQueries` rows of `source` with the smallest md5(id), probed
    * against the index, recall measured against brute force over the
    * index's postings. */
  def recallProbeHeldOut(spark: org.apache.spark.sql.SparkSession,
      dir: String, source: DataFrame, idCol: String, vecCol: String,
      nQueries: Int = 32, k: Int = 3, nProbe: Int = 1): Double = {
    require(nQueries > 0, s"nQueries must be positive: $nQueries")
    val queries = source
      .select(col(idCol), col(vecCol))
      .orderBy(md5(col(idCol).cast("string")), col(idCol))
      .limit(nQueries)
      .localCheckpoint(true) // feeds both the exact and the probe side
    recallProbeWith(spark, dir, queries, idCol, vecCol, k, nProbe)
  }

  /** [[recallProbe]] against a caller-held query set (a true held-out
    * sample) instead of the index's own postings. `queries` should be
    * broadcast-sized — both sides scan the corpus once per call. */
  def recallProbeWith(spark: org.apache.spark.sql.SparkSession,
      dir: String, queries: DataFrame, idCol: String, vecCol: String,
      k: Int, nProbe: Int = 1): Double = {
    meanRecall(
      recallProbeRows(spark, dir, queries, idCol, vecCol, k, nProbe))
  }

  /** Fold per-query (query_id, n_want, hits) evidence rows into mean
    * recall@k, driver-side in query-id order: a distributed double avg
    * sums in partition order and wobbles at the ULP, and a
    * health-check number must be bit-stable run to run. query_id keeps
    * the CALLER's id type (long, int, string, ...), so the sort key is
    * its string form — any fixed total order gives the same bit-stable
    * sum, and assuming LongType crashed a cron'd probe on an
    * int/string-keyed index. */
  private[operators] def meanRecall(evidence: DataFrame): Double = {
    val rows = evidence.collect()
      .map(r => (String.valueOf(r.get(0)), r.getLong(1), r.getLong(2)))
      .sortBy(_._1)
    if (rows.isEmpty) 1.0 // no query had any exact neighbor
    else rows.map(r => r._3.toDouble / r._2).sum / rows.length
  }

  /** The per-query hit count behind every recall probe: `exact` =
    * (query_id, neighbor_id) brute-force truth, `got` = the index's
    * answer with the neighbor as `__got` — one row (query_id, n_want,
    * hits) per query with at least one exact neighbor, fully
    * distributed (the hit count is a join, not a driver-side set
    * compare). */
  private[operators] def recallHitCounts(exact: DataFrame,
      got: DataFrame): DataFrame =
    exact.join(got,
        exact("query_id") === got("query_id") &&
          col("neighbor_id") === col("__got"), "left")
      .groupBy(exact("query_id"))
      .agg(count(lit(1)).as("n_want"), count(col("__got")).as("hits"))

  /** Per-query recall evidence behind [[recallProbe]]: one row
    * `(query_id, n_want, hits)` per query with at least one exact
    * neighbor — `n_want` = its brute-force top-k size (< k only when
    * the corpus is smaller than k+1), `hits` = how many of those the
    * index returned at the given `nProbe`. Fully distributed (the hit
    * count is a join, not a driver-side set compare), so it holds at
    * any query-set size; recall@k = avg(hits / n_want). Oracled
    * cross-engine as `k12_recall_probe`. */
  def recallProbeRows(spark: org.apache.spark.sql.SparkSession,
      dir: String, queries: DataFrame, idCol: String, vecCol: String,
      k: Int, nProbe: Int = 1): DataFrame = {
    require(k > 0, s"k must be positive: $k")
    val (_, postPath) = livePaths(spark, dir)
    requireFloatIndex(spark, dir)
    val posts = spark.read.parquet(postPath)
      .select(col("neighbor_id").as(idCol), col("cv").as(vecCol))
    val exact = bruteForceKnn(queries, posts, idCol, vecCol, k)
      .select("query_id", "neighbor_id")
    val got = ivfIndexKnn(queries, dir, idCol, vecCol, k, nProbe)
      .select(col("query_id"), col("neighbor_id").as("__got"))
    recallHitCounts(exact, got)
  }

  /** The recall probe's exact side re-ranks raw posting vectors, which
    * a PQ index does not store — refuse with the way out rather than
    * failing on a missing `cv` column downstream. */
  private def requireFloatIndex(spark: org.apache.spark.sql.SparkSession,
      dir: String): Unit =
    require(!isPqIndex(spark, dir),
      s"$dir is an IVF-PQ index (codebooks artifact present): its postings " +
        "are PQ codes, not float vectors, so the probe's brute-force side " +
        "cannot re-rank them — probe against the index's SOURCE vectors " +
        "via ProductQuantization.recallProbe instead")

  /** One [[maintainIvfIndex]] decision: the signals it read and the
    * verb it dispatched (`"retrain"`, `"compact"`, or `"noop"`).
    * `recall` is NaN unless the maintenance ran its optional recall
    * probe. */
  final case class IndexMaintenance(action: String, cells: Long,
      postingSkew: Double, maxFilesPerCell: Long, orphans: Seq[Int],
      recall: Double = Double.NaN)

  /** The auto-maintenance entry point a deployment crons — reads
    * [[indexStats]] and applies the thresholds docs/SCALE.md states as
    * guidance, so the compact-vs-retrain decision is executable rather
    * than manual:
    *
    *  - posting SKEW (`max(postings) / avg(postings)`) above `maxSkew`
    *    → the appended data has drifted away from the frozen quantizer
    *    and piled into a few cells (recall at fixed nProbe decays —
    *    measured in AnnRecallSpec's drift test) → [[retrainIvfIndex]]
    *    at the live centroid count (`retrainK` overrides, e.g. to grow
    *    the cell count with the corpus);
    *  - else file count per cell above `maxFiles` (streaming appends'
    *    small-files creep) → [[compactIvfIndex]];
    *  - else no-op.
    *
    * Retrain wins when both trigger — it rewrites every posting anyway,
    * so the file creep is fixed for free. The signal read is
    * metadata-scale (one row per cell); each dispatched verb runs under
    * the compaction guard it already carries, so a maintenance cron
    * racing an append fails fast instead of losing the append. Orphan
    * generations ride along in the report (the retrain path sweeps
    * them; the others leave them for the next retrain/rebuild).
    *
    * What a same-k retrain buys is a quantizer fitted to the CURRENT
    * distribution — recall at fixed nProbe recovers (measured in
    * AnnRecallSpec's drift test) — NOT necessarily balanced cells: if
    * the appended mass is genuinely denser in one region, that region
    * keeps its density under any k-sized quantizer. Skew that stays
    * high across retrains is the signal that the CELL COUNT no longer
    * matches the corpus — pass a larger `retrainK` (the k≈√N guidance,
    * docs/SCALE.md) instead of retraining at the stale k every night.
    *
    * `minRecall` (NaN = off) adds the signal skew cannot see: run
    * [[recallProbe]] at (`probeK`, `probeNProbe`) and retrain when the
    * measured recall drops below the floor even with balanced cells —
    * boundary-straddle drift. The probe costs a brute-force pass over
    * the postings, so enable it on the health-check cadence, not per
    * batch.
    *
    * IVF-PQ indexes (a `codebooks` artifact) store codes, not float
    * vectors, so neither the in-place retrain nor the self-postings
    * recall probe can run on them — the FAISS contract is
    * retrain-from-source. Pass `rebuildFrom = Some((source, idCol,
    * vecCol))` (the indexed corpus, float vectors) and a PQ retrain
    * dispatches [[ProductQuantization.rebuildIvfPqIndex]] at the live
    * configuration (same atomic generation swap), with the recall
    * floor measured by [[ProductQuantization.recallProbe]] against the
    * source. Without a source, a PQ decision that would need the
    * vectors returns `action = "refused-pq"` — a typed refusal a cron
    * can alert on, never an exception mid-dispatch. The refusal covers
    * ONLY the vector-needing decisions: file creep past `maxFiles`
    * still dispatches [[compactIvfIndex]] (PQ-legal, no source
    * needed), reported as `"compact"` with `recall = NaN`. */
  def maintainIvfIndex(spark: org.apache.spark.sql.SparkSession,
      dir: String, maxSkew: Double = 4.0, maxFiles: Long = 4,
      retrainK: Int = -1, retrainIters: Int = 2,
      minRecall: Double = Double.NaN, probeK: Int = 3,
      probeNProbe: Int = 1,
      rebuildFrom: Option[(DataFrame, String, String)] = None)
      : IndexMaintenance = {
    require(maxSkew > 0 && maxFiles > 0,
      s"thresholds must be positive: maxSkew=$maxSkew maxFiles=$maxFiles")
    require(minRecall.isNaN || (minRecall >= 0 && minRecall <= 1),
      s"minRecall must be in [0, 1] (or NaN = off): $minRecall")
    val pq = isPqIndex(spark, dir)
    val stats = indexStats(spark, dir)
      .agg(count(lit(1)).as("cells"),
        (max(col("postings")) / avg(col("postings"))).as("skew"),
        max(col("files")).as("max_files"))
      .head()
    // zero posting rows → the max/avg aggregates are null; an empty
    // index is balanced by definition (skew 0, no files), not an NPE
    val cells = stats.getLong(0)
    val skew = if (stats.isNullAt(1)) 0.0 else stats.getDouble(1)
    val files = if (stats.isNullAt(2)) 0L else stats.getLong(2)
    val orphans = orphanGenerations(spark, dir)
    def report(action: String, recall: Double = Double.NaN) =
      IndexMaintenance(action, cells, skew, files, orphans, recall)
    // a requested recall floor that cannot be measured (PQ, no source)
    // refuses ONLY the recall/retrain decision — compaction is PQ-legal
    // and needs no source vectors, so the files>maxFiles branch below
    // still dispatches (a PQ index cron'd with a recall floor must not
    // accumulate small files forever); when nothing else runs, the
    // refusal surfaces typed as `refused-pq`, never an exception
    val refusedRecall = pq && !minRecall.isNaN && rebuildFrom.isEmpty
    val recall =
      if (minRecall.isNaN || refusedRecall) Double.NaN
      else if (!pq) recallProbe(spark, dir, k = probeK, nProbe = probeNProbe)
      else {
        val (src, srcId, srcVec) = rebuildFrom.get
        ProductQuantization.recallProbe(spark, dir, src, srcId, srcVec,
          k = probeK, nProbe = probeNProbe)
      }
    if (skew > maxSkew || (!recall.isNaN && recall < minRecall)) {
      val k = if (retrainK > 0) retrainK
        else spark.read.parquet(livePaths(spark, dir)._1).count().toInt
      if (!pq) {
        retrainIvfIndex(spark, dir, k, retrainIters)
        // the retrain swept every non-live state, orphans included
        report("retrain", recall)
      } else rebuildFrom match {
        case Some((src, srcId, srcVec)) =>
          ProductQuantization.rebuildIvfPqIndex(src, srcId, srcVec, dir,
            kCells = k, coarseIters = retrainIters,
            pqIters = retrainIters)
          report("retrain", recall)
        case None => report("refused-pq", recall)
      }
    } else if (files > maxFiles) {
      // compact is PQ-legal: it rewrites code postings byte-identically
      // (dispatched even when the recall check was refused — the NaN
      // recall in the report says the probe didn't run)
      compactIvfIndex(spark, dir)
      report("compact", recall)
    } else if (refusedRecall) report("refused-pq")
    else report("noop", recall)
  }

  /** APPEND new vectors to a [[buildIvfIndex]] index without
    * retraining — FAISS's `add()` on Spark terms, and the operation a
    * production deployment runs far more often than a build: the daily
    * embedding batch is assigned against the PERSISTED centroids and
    * its postings land in the existing cell partitions
    * (`mode("append")` + `partitionBy` writes new files inside each
    * cell directory — existing postings are never rewritten, and a
    * probe needs no special handling because partition pruning unions
    * whatever files a probed cell holds). The trained quantizer is
    * deliberately left untouched: assignment quality decays only as
    * the data distribution drifts, which is when a deployment
    * re-trains and re-builds — the same contract as FAISS. Appending
    * the same batch twice duplicates postings, exactly like FAISS
    * `add()`; a replay-capable feed goes through
    * [[graft.streaming.IndexStream.startIvfAppendJob]], whose
    * affected-cell anti-join makes re-application a no-op. */
  def appendToIvfIndex(newVectors: DataFrame, idCol: String,
      vecCol: String, dir: String): Unit = {
    import graft.operators.Clustering
    val spark = newVectors.sparkSession
    graft.sources.Compaction.guardedAppend(spark, dir) {
      // paths resolved INSIDE the guard: a retrain cannot swap the
      // generation pointer between this resolution and the write (it
      // holds the compactor flag, which this appender flag excludes)
      val (centPath, postPath) = livePaths(spark, dir)
      val cents = spark.read.parquet(centPath)
      requireSameDim(newVectors, vecCol, cents)
      Clustering.assignCells(
          newVectors.select(col(idCol).as("neighbor_id"), col(vecCol).as("cv")),
          "neighbor_id", "cv", cents)
        .withColumn("cnorm", l2norm(col("cv")))
        .select("neighbor_id", "cv", "cnorm", "cell_id")
        // one file per touched cell per append batch, not one per
        // (input task x cell) — probe cost is file-count bounded
        .repartition(col("cell_id"))
        .write.mode("append").partitionBy("cell_id")
        .parquet(postPath)
    }
  }

  /** COMPACT an index's postings after streaming appends: every
    * [[appendToIvfIndex]] / micro-batch drops one more small file into
    * each touched cell directory, and at scale the probe's cost
    * becomes file-open overhead instead of scan — the classic
    * small-files failure. Rewrite the postings a slice of cells at a
    * time (the [[graft.sources.PointsStore.compactStageSlices]]
    * pattern): read a slice, materialize it (localCheckpoint — the
    * directories being read are about to be overwritten), shuffle to
    * ~one writer per cell, dynamic-partition-overwrite ONLY that
    * slice's cell directories. Slices are independent, so a killed run
    * leaves earlier slices compacted and later ones untouched; probes
    * are correct throughout. Schema-agnostic: float postings and PQ
    * code postings compact identically. */
  def compactIvfIndex(spark: org.apache.spark.sql.SparkSession,
      dir: String, cellsPerSlice: Int = 8): Unit =
      graft.sources.Compaction.guardedCompaction(spark, dir) {
    // postings listed ONCE, INSIDE the guard (the rewriteSlices
    // ordering contract); each slice's dynamic overwrite (set
    // PER-WRITE, never on the session) replaces only its own cell
    // dirs, which no later slice reads. A concurrent appendToIvfIndex
    // fails fast instead of being silently dropped.
    val (_, postPath) = livePaths(spark, dir)
    val base = spark.read.parquet(postPath)
    val cells = base.select("cell_id").distinct().collect()
      .map(_.get(0)).sortBy(_.toString).toSeq
    graft.sources.Compaction.rewriteSlices(cells, cellsPerSlice) {
      slice => base.filter(col("cell_id").isin(slice: _*))
    } { (staged, slice) =>
      staged.repartition(slice.length, col("cell_id"))
        .write.mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy("cell_id")
        .parquet(postPath)
    }
  }

  /** A vector whose length differs from the trained centroids would
    * null every cosine ([[graft.functions.ArrayDot]]'s mismatch
    * contract) and silently land in the null-cell partition no probe
    * ever reads — fail loudly instead. One driver-side row from each
    * side; an empty batch skips the check (the append is a no-op). */
  private[operators] def requireSameDim(newVectors: DataFrame,
      vecCol: String, cents: DataFrame): Unit = {
    val vd = newVectors.select(size(col(vecCol))).take(1)
    if (vd.nonEmpty) {
      val cd = cents.select(size(col("centroid"))).head().getInt(0)
      require(vd.head.getInt(0) == cd,
        s"append: vector dim ${vd.head.getInt(0)} != trained dim $cd")
    }
  }

  /** Probe a [[buildIvfIndex]] index: rank each query's `nProbe`
    * nearest cells against the (broadcast-small) centroid set, then
    * scan ONLY those cells' postings partitions for the exact cosine
    * top-k. `nProbe = 1` reproduces [[ivfKnnTrained]] on the same
    * centroids; `nProbe = trained k` degrades gracefully to the exact
    * brute-force answer. The probed-cell list is collected driver-side
    * — bounded by min(nProbe × queries, k), metadata-scale — because a
    * LITERAL IN-list is what prunes partitions at plan time. */
  def ivfIndexKnn(queries: DataFrame, indexDir: String, idCol: String,
      vecCol: String, k: Int, nProbe: Int): DataFrame = {
    require(nProbe >= 1, s"nProbe must be positive: $nProbe")
    val spark = queries.sparkSession
    val (centPath, postPath) = livePaths(spark, indexDir)
    val cents = broadcast(spark.read.parquet(centPath)
      .withColumn("__cn", l2norm(col("centroid"))))
    val probeW = Window.partitionBy("query_id")
      .orderBy(col("ccos").desc, col("cell_id").asc)
    // materialized: the probe assignment feeds BOTH the driver-side
    // probed-cell list and the broadcast join side — without this the
    // queries × centroids ranking runs twice (the d8 lesson)
    val q = queries
      .select(col(idCol).as("query_id"), col(vecCol).as("qv"),
        l2norm(col(vecCol)).as("__qn"))
      .crossJoin(cents)
      .withColumn("ccos", round(
        dot(col("qv"), col("centroid")) / (col("__qn") * col("__cn")), 6))
      .withColumn("__rn", row_number().over(probeW))
      .filter(col("__rn") <= nProbe)
      .select("query_id", "qv", "__qn", "cell_id")
      .localCheckpoint(true)
    val probed = q.select("cell_id").distinct().collect()
      .map(_.get(0)).toSeq
    val postings = spark.read.parquet(postPath)
      .filter(col("cell_id").isin(probed: _*))
    val scored = postings.join(broadcast(q), Seq("cell_id"))
      .filter(col("query_id") =!= col("neighbor_id"))
      .withColumn("cos", round(
        dot(col("qv"), col("cv")) / (col("__qn") * col("cnorm")), 6))
      // a neighbor lives in exactly one cell, so (query, neighbor)
      // pairs are unique across probes — rank directly
    val w = Window.partitionBy("query_id")
      .orderBy(col("cos").desc, col("neighbor_id").asc)
    scored.withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= k)
      .select("query_id", "rank", "neighbor_id", "cos")
  }
}
