package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Approximate-nearest-neighbor search over an embedding column
  * (`array<float>`), for training-data curation at scale.
  *
  *  - Brute-force cosine top-k: broadcast the (small) query set, score
  *    every corpus vector, rank per query with a window. Exact; the
  *    baseline and the oracle-checked path. Linear in corpus size —
  *    each partition scores independently, one shuffle for the top-k.
  *  - Hyperplane-LSH buckets: sign-of-dot-product against `nPlanes`
  *    deterministic pseudo-random hyperplanes → integer bucket;
  *    neighbors are only scored within the query's bucket. Sub-linear
  *    probe cost at 100 TB (bucket join instead of full scan), at the
  *    cost of recall — the standard trade.
  *
  * All arithmetic is double-precision array expressions
  * (zip_with/aggregate): codegen'd, no UDF, and bit-reproducible across
  * engines for the oracle.
  */
object Similarity {

  /** Cast any numeric array to array<double> for stable arithmetic. */
  def asDouble(v: Column): Column = v.cast("array<double>")

  /** Broadcast guard for the query side of the ANN operators. Every
    * top-k path ships the query set to all executors (that is what makes
    * the corpus side a single partition-local scan), which is only sane
    * for a BOUNDED query set — an unguarded million-query frame OOMs the
    * driver during broadcast collection instead of failing with a
    * diagnosable error. The guard counts `limit(maxQueries + 1)` — never
    * the whole frame — so its cost is bounded at the threshold even when
    * a caller hands it a corpus-sized query set by mistake (the failure
    * case is exactly when a full count() would be most expensive). It
    * raises a named error past `maxQueries`; callers with a genuinely
    * large query set should partition it and fan out, not raise the
    * bound past executor memory.
    */
  private def guardedQueryBroadcast(queries: DataFrame, maxQueries: Long,
                                    op: String): DataFrame = {
    // limit() cannot probe past 2^31-1 rows, so a bound at or above
    // Int.MaxValue would silently disable the check — reject it instead
    // (a >2-billion-row broadcast is out of the question anyway).
    require(maxQueries < Int.MaxValue,
      s"$op: maxQueries must be < Int.MaxValue (the guard probes with " +
      "limit(maxQueries + 1), which cannot see past 2^31-1 rows)")
    val n = queries.limit((maxQueries + 1).toInt).count()
    require(n <= maxQueries,
      s"$op: query side has >$maxQueries rows (maxQueries=$maxQueries); the query set " +
      "is broadcast to every executor, so a frame this large must be run in " +
      "bounded batches (or raise maxQueries explicitly if memory allows)")
    broadcast(queries)
  }

  /** Sequential-fold dot product (left-to-right, matching DuckDB's
    * list_sum order so oracle doubles are bit-identical). Backed by the
    * codegen'd [[graft.functions.VectorDot]] — one compiled loop per
    * pair instead of an interpreted `aggregate(zip_with(...))` that
    * allocates a zipped array per row.
    */
  def dot(a: Column, b: Column): Column =
    graft.functions.VectorOps.vec_dot(a, b)

  def norm2(a: Column): Column = dot(a, a)

  /** Single-pass cosine ([[graft.functions.VectorCosine]]): all three
    * accumulators in one loop, each its own left-to-right sum —
    * bit-identical to `dot(a,b)/sqrt(norm2(a)*norm2(b))`.
    */
  def cosine(a: Column, b: Column): Column =
    graft.functions.VectorOps.vec_cosine(a, b)

  /** Exact top-k neighbors for each query vector.
    *
    * @param queries small frame (query_id, query_vec) — broadcast,
    *                guarded by `maxQueries` (named error, not an OOM).
    * @param excludeSelf drop hits where corpus id == query id.
    */
  def bruteForceTopK(
      corpus: DataFrame,
      queries: DataFrame,
      k: Int,
      idCol: String = "vec_id",
      vecCol: String = "embedding",
      excludeSelf: Boolean = true,
      maxQueries: Long = 10000L): DataFrame = {
    val scored = corpus
      .select(col(idCol).as("neighbor_id"), asDouble(col(vecCol)).as("v"))
      .crossJoin(guardedQueryBroadcast(
        queries.select(col("query_id"), asDouble(col("query_vec")).as("q")),
        maxQueries, "bruteForceTopK"))
      .filter(if (excludeSelf) col("neighbor_id") =!= col("query_id") else lit(true))
      .select(col("query_id"), col("neighbor_id"),
              cosine(col("v"), col("q")).as("cos"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("query_id").orderBy(desc("cos"), asc("neighbor_id"))
    scored.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("rank"), col("neighbor_id"),
              round(col("cos"), 6).as("cos"))
  }

  /** Matryoshka prefix truncation (Kusupati et al. 2022): MRL-trained
    * embeddings order information by coordinate, so the first `dims`
    * coordinates are themselves a usable embedding — search at dims/d
    * of the memory, bandwidth, and FLOPs. Renormalization is intrinsic
    * here: cosine divides by the PREFIX norms, so no separate normalize
    * pass exists to get wrong. Caveat a caller owns: a vector whose
    * prefix is all-zero has undefined prefix cosine (NaN, which sorts
    * HIGH under desc) — real MRL-trained embeddings don't produce
    * zero prefixes, but defensively filter `norm2(prefix) > 0` if the
    * source is untrusted.
    */
  def mrlTruncate(vec: Column, dims: Int): Column = {
    require(dims >= 1, s"mrlTruncate: dims must be >= 1, got $dims")
    slice(asDouble(vec), 1, dims)
  }

  /** Exact top-k under the `dims`-prefix representation — the cheap
    * first stage of adaptive retrieval. Same output contract as
    * [[bruteForceTopK]] (which this delegates to after truncating both
    * sides).
    */
  def mrlTopK(corpus: DataFrame, queries: DataFrame, k: Int, dims: Int,
              idCol: String = "vec_id", vecCol: String = "embedding",
              excludeSelf: Boolean = true,
              maxQueries: Long = 10000L): DataFrame =
    bruteForceTopK(
      corpus.select(col(idCol), mrlTruncate(col(vecCol), dims).as(vecCol)),
      queries.select(col("query_id"),
        mrlTruncate(col("query_vec"), dims).as("query_vec")),
      k, idCol, vecCol, excludeSelf, maxQueries)

  /** Adaptive retrieval (the MRL deployment shape): shortlist under the
    * `dims`-prefix, then re-rank the shortlist ONLY with full-width
    * exact cosine — the [[Pq.ivfPqRerank]] composition with prefix
    * truncation as the cheap stage instead of ADC. The corpus is
    * scanned once per stage and never shuffled: the stage-1 working set
    * is (id, dims doubles), and stage 2 fetches full vectors for the
    * broadcast shortlist ids only. With shortlist ≥ corpus the result
    * EQUALS [[bruteForceTopK]] (spec-pinned).
    */
  def mrlRerankTopK(corpus: DataFrame, queries: DataFrame, k: Int,
                    dims: Int, shortlist: Int,
                    idCol: String = "vec_id",
                    vecCol: String = "embedding",
                    excludeSelf: Boolean = true,
                    maxQueries: Long = 10000L): DataFrame = {
    require(shortlist >= k,
      s"mrlRerankTopK: shortlist ($shortlist) must be >= k ($k)")
    val short = mrlTopK(corpus, queries, shortlist, dims, idCol, vecCol,
        excludeSelf, maxQueries)
      .select(col("query_id"), col("neighbor_id"))
    val vecs = corpus.select(col(idCol).as("neighbor_id"),
        asDouble(col(vecCol)).as("nvv"))
      .join(broadcast(short), Seq("neighbor_id"))
    val qn = broadcast(queries.select(col("query_id"),
      asDouble(col("query_vec")).as("qv")))
    val scored = vecs.join(qn, Seq("query_id"))
      .select(col("query_id"), col("neighbor_id"),
              cosine(col("nvv"), col("qv")).as("cos"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("query_id").orderBy(desc("cos"), asc("neighbor_id"))
    scored.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("rank"), col("neighbor_id"),
              round(col("cos"), 6).as("cos"))
  }

  /** Deterministic pseudo-random hyperplane component: plane p, dim j →
    * a value in [-1, 1) derived from xxhash64 — reproducible everywhere,
    * no RNG state. Retained as the executable spec for the codegen'd
    * [[graft.functions.HyperplaneBucket]] (parity pinned in tests).
    */
  private[graft] def planeComponent(p: Int, j: Column): Column =
    (pmod(xxhash64(lit(p), j), lit(2000)).cast("double") / 1000.0) - 1.0

  /** HOF rendition of the sign bucket — interpreted, allocation-heavy;
    * kept only as the bit-exact reference for [[hyperplaneBucket]].
    */
  private[graft] def hyperplaneBucketHof(vec: Column, nPlanes: Int): Column = {
    val v = asDouble(vec)
    val bits = (0 until nPlanes).map { p =>
      val d = aggregate(
        zip_with(v, transform(sequence(lit(0), size(v) - 1),
          j => planeComponent(p, j)), (x, h) => x * h),
        lit(0.0), (acc, x) => acc + x)
      when(d >= 0, lit(1 << p)).otherwise(lit(0))
    }
    bits.reduce(_ + _)
  }

  /** Sign bucket over `nPlanes` hyperplanes as an int in [0, 2^nPlanes)
    * — codegen'd single pass ([[graft.functions.HyperplaneBucket]]).
    * `planeOffset` picks an independent plane family (multi-table LSH).
    */
  def hyperplaneBucket(vec: Column, nPlanes: Int = 8,
                       planeOffset: Int = 0): Column =
    graft.functions.VectorOps.hyperplane_bucket(asDouble(vec), nPlanes, planeOffset)

  /** Embedding-cosine near-duplicate pairs — the vector-space member of
    * the dedup family ([[Dedup]] covers token space): all pairs with
    * cosine ≥ `minCosine`, found via OR-amplified multi-table hyperplane
    * LSH and verified with the codegen cosine.
    *
    * Shape, cheap-to-expensive like the minhash pipeline: each vector
    * hashes into `nTables` independent sign-buckets (one compiled pass
    * per table, planes disjoint via planeOffset); a candidate pair is a
    * same-(table, bucket) collision, deduplicated BEFORE vectors are
    * re-joined for the exact verify, so the wide rows never ride through
    * the distinct. Near-parallel vectors (the near-dup regime) collide
    * in ≥1 of the OR'd tables with probability ≈ 1 − (nPlanes·θ/π)^nTables;
    * recall decays gracefully toward the `minCosine` boundary — the
    * standard LSH trade, tunable via nTables/nPlanes. A maxBucket
    * broadcast anti-join caps degenerate buckets (all-similar corpora)
    * exactly like the minhash skew guard.
    */
  def cosineNearDupPairs(
      corpus: DataFrame,
      minCosine: Double = 0.95,
      idCol: String = "vec_id",
      vecCol: String = "embedding",
      nTables: Int = 4,
      nPlanes: Int = 8,
      maxBucket: Int = 2000): DataFrame = {
    val vecs = corpus.select(col(idCol).as("id"), asDouble(col(vecCol)).as("v"))
    val tables = array((0 until nTables).map(t =>
      struct(lit(t).as("t"),
             hyperplaneBucket(col("v"), nPlanes, t * nPlanes).as("bkt"))): _*)
    val banded = vecs
      .select(col("id"), explode(tables).as("tb"))
      .select(col("id"), col("tb.t").as("t"), col("tb.bkt").as("bkt"))
    val oversized = banded.groupBy("t", "bkt")
      .agg(count(lit(1)).as("n")).filter(col("n") > maxBucket)
      .select("t", "bkt")
    val guarded = banded.join(broadcast(oversized), Seq("t", "bkt"), "left_anti")
    val candidates = guarded.select(col("t"), col("bkt"), col("id").as("a"))
      .join(guarded.select(col("t"), col("bkt"), col("id").as("b")),
            Seq("t", "bkt"))
      .filter(col("a") < col("b"))
      .select("a", "b")
      .distinct()
    candidates
      .join(vecs.select(col("id").as("a"), col("v").as("va")), "a")
      .join(vecs.select(col("id").as("b"), col("v").as("vb")), "b")
      .withColumn("cos", cosine(col("va"), col("vb")))
      .filter(col("cos") >= minCosine)
      .select(col("a"), col("b"), round(col("cos"), 6).as("cos"))
  }

  /** IVF-style coarse quantization: assign every vector to its nearest
    * centroid (by cosine), fully relationally — vectors × broadcast
    * centroids → windowed argmin — so assignment scales linearly and
    * shuffles once on the id.
    *
    * Centroids are taken deterministically from the corpus (`vec_id <
    * nCells`): a stand-in for a k-means fit, which would slot in here
    * unchanged (the assignment/probe machinery is identical).
    */
  def ivfAssign(corpus: DataFrame, nCells: Int,
                idCol: String = "vec_id",
                vecCol: String = "embedding",
                centroids: Option[DataFrame] = None): DataFrame = {
    val vecs = corpus.select(col(idCol).as("ivf_id"),
                             asDouble(col(vecCol)).as("ivf_v"))
    val cents = centroids.getOrElse(
      vecs.filter(col("ivf_id") < nCells)
        .select(col("ivf_id").as("cell"), col("ivf_v").as("cv")))
    val scored = vecs.crossJoin(broadcast(cents))
      .select(col("ivf_id"), col("ivf_v"), col("cell"),
              cosine(col("ivf_v"), col("cv")).as("csim"))
    // argmax as a max_by AGGREGATE, not a window: all nCells candidate
    // rows for a vector are partition-local (they came from one input
    // row through a broadcast join), so partial aggregation collapses
    // them map-side — the shuffle carries ONE row per vector and there
    // is no per-partition sort. The window form shuffled nCells rows
    // per vector and sorted them. Tie-break (max csim, then min cell)
    // is encoded in the ordering struct, so assignment stays
    // deterministic.
    scored
      .groupBy("ivf_id")
      .agg(max_by(
        struct(col("cell"), col("ivf_v")),
        struct(col("csim"), (-col("cell")).as("neg_cell"))).as("best"))
      .select(col("ivf_id"), col("best.ivf_v").as("ivf_v"),
              col("best.cell").as("cell"))
  }

  /** Spherical k-means fit (Lloyd iterations) for IVF coarse
    * quantization — the real centroid fit [[ivfAssign]] documents as
    * its slot-in point. Fully relational:
    *
    *  - assignment: vectors × broadcast centroids → map-side `max_by`
    *    argmax by cosine (one row per vector shuffles, as in ivfAssign);
    *  - update: element-wise mean via posexplode → (cell, pos) partial
    *    avg → re-assembled array (k·dims tiny rows);
    *  - convergence: the spherical objective Σ cos(v, c(v)) is
    *    non-decreasing under Lloyd steps — one scalar action per round
    *    is the stop test, the driver never sees vectors;
    *  - rounds are [[graft.plans.Lineage.scoped]] rounds, the shape
    *    measured in [[graft.operators.Dedup.connectedComponents]]: O(1)
    *    logical plan per round, previous round's blocks released
    *    explicitly.
    *
    * Empty cells keep their previous centroid. Objective history is
    * exposed for tests; float summation order makes exact centroid
    * values run-order-sensitive at the last ulp, so centroids are
    * surfaced as a rows-gate, not a hash oracle.
    */
  def kmeansFit(corpus: DataFrame, k: Int, maxIter: Int = 10,
                idCol: String = "vec_id",
                vecCol: String = "embedding"): DataFrame =
    kmeansFitWithHistory(corpus, k, maxIter, idCol, vecCol)._1

  private[graft] def kmeansFitWithHistory(
      corpus: DataFrame, k: Int, maxIter: Int = 10,
      idCol: String = "vec_id",
      vecCol: String = "embedding"): (DataFrame, Seq[Double]) = {
    graft.plans.Lineage.scoped { scope =>
      val vecs = scope.round(corpus.select(col(idCol).as("id"),
                                           asDouble(col(vecCol)).as("v")))
      var cents = scope.round(vecs.filter(col("id") < k)
        .select(col("id").as("cell"), col("v").as("cv")))
      val history = scala.collection.mutable.ArrayBuffer.empty[Double]
      var i = 0
      var done = false
      while (!done && i < maxIter) {
        // assignment is consumed TWICE (objective + centroid update), so
        // it is the round's persisted artifact — the objective action
        // fills its cache, the update reads the cache
        val assigned = scope.round(vecs.crossJoin(broadcast(cents))
          .select(col("id"), col("v"), col("cell"),
                  cosine(col("v"), col("cv")).as("csim"))
          .groupBy("id")
          .agg(max_by(struct(col("cell"), col("v")),
                      struct(col("csim"), (-col("cell")).as("nc"))).as("best"),
               max(col("csim")).as("bc"))
          .select(col("best.cell").as("cell"), col("best.v").as("v"), col("bc")))
        val objective = assigned.agg(sum(col("bc"))).head().getDouble(0)
        val meanParts = assigned
          .select(col("cell"), posexplode(col("v")).as(Seq("pos", "x")))
          .groupBy("cell", "pos").agg(avg(col("x")).as("m"))
          .groupBy("cell")
          .agg(transform(array_sort(collect_list(struct(col("pos"), col("m")))),
                         s => s.getField("m")).as("ncv"))
        // empty cells keep the previous centroid
        val newCents = scope.round(cents
          .join(meanParts, Seq("cell"), "left")
          .select(col("cell"), coalesce(col("ncv"), col("cv")).as("cv")))
        newCents.count() // materialize (k rows) before parents release
        scope.release(cents)
        scope.release(assigned)
        cents = newCents
        // non-decreasing by Lloyd; stop when the gain vanishes
        done = history.nonEmpty && objective - history.last < 1e-9
        history += objective
        i += 1
      }
      // the returned centroids outlive the call (ivfTopK consumes them in
      // both the assignment and the query-probe join): one k-row job
      // copies the last round into a checkpoint
      (cents.localCheckpoint(true), history.toSeq)
    }
  }

  /** IVF probe: score only corpus vectors in the query's `nProbe`
    * nearest cells. Probe fraction ≈ nProbe / nCells of the corpus —
    * the linear-scan cost shrinks accordingly, recall governed by
    * nProbe (standard IVF trade).
    */
  def ivfTopK(
      corpus: DataFrame,
      queries: DataFrame,
      k: Int,
      nCells: Int = 16,
      nProbe: Int = 4,
      idCol: String = "vec_id",
      vecCol: String = "embedding",
      kmeansIters: Int = 0,
      maxQueries: Long = 10000L): DataFrame = {
    // guard the query side ONCE at entry: both broadcast frames below
    // (qcells probes) are ≤ nProbe rows per query, so bounding the query
    // count bounds every query-derived broadcast in this operator
    val guardedQueries = guardedQueryBroadcast(
      queries.select(col("query_id"), asDouble(col("query_vec")).as("q")),
      maxQueries, "ivfTopK")
    // kmeansIters > 0 replaces the deterministic seed centroids with a
    // Lloyd fit — assignment AND query probes must use the same set
    val fitted =
      if (kmeansIters > 0)
        Some(kmeansFit(corpus, nCells, kmeansIters, idCol, vecCol))
      else None
    val assigned = ivfAssign(corpus, nCells, idCol, vecCol, fitted)
    val cents = fitted.getOrElse(
      corpus.select(col(idCol).as("cell"),
                    asDouble(col(vecCol)).as("cv"))
        .filter(col("cell") < nCells))
    // query → its nProbe nearest cells
    val qcells = guardedQueries
      .crossJoin(broadcast(cents))
      .select(col("query_id"), col("q"), col("cell"),
              cosine(col("q"), col("cv")).as("csim"))
    val wq = org.apache.spark.sql.expressions.Window
      .partitionBy("query_id").orderBy(desc("csim"), asc("cell"))
    val probes = qcells.withColumn("rn", row_number().over(wq))
      .filter(col("rn") <= nProbe)
      .select(col("query_id"), col("q"), col("cell"))
    // score only within probed cells
    val scored = assigned.join(broadcast(probes), Seq("cell"))
      .filter(col("ivf_id") =!= col("query_id"))
      .select(col("query_id"), col("ivf_id").as("neighbor_id"),
              cosine(col("ivf_v"), col("q")).as("cos"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("query_id").orderBy(desc("cos"), asc("neighbor_id"))
    scored.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("rank"), col("neighbor_id"),
              round(col("cos"), 6).as("cos"))
  }

  /** Approximate top-k: score only corpus vectors sharing the query's
    * hyperplane bucket. Recall < 1 by design; bucket count 2^nPlanes
    * controls the probe fraction.
    *
    * `probeHamming = 1` turns on MULTI-PROBE: each query also probes
    * the nPlanes buckets one bit-flip away — the buckets a near
    * neighbor most likely fell into when exactly one hyperplane
    * separated it from the query. Probe cost rises ×(nPlanes+1) on the
    * (small, broadcast) query side only; the corpus is still hashed
    * once. The standard recall/cost knob when adding whole extra
    * tables ([[cosineNearDupPairs]]) is too expensive.
    */
  def lshTopK(
      corpus: DataFrame,
      queries: DataFrame,
      k: Int,
      nPlanes: Int = 8,
      idCol: String = "vec_id",
      vecCol: String = "embedding",
      probeHamming: Int = 0,
      maxQueries: Long = 10000L): DataFrame = {
    require(probeHamming >= 0 && probeHamming <= 1,
      "probeHamming 0 (single bucket) or 1 (all one-bit-flip buckets)")
    val c = corpus.select(
      col(idCol).as("neighbor_id"), asDouble(col(vecCol)).as("v"),
      hyperplaneBucket(col(vecCol), nPlanes).as("bucket"))
    // guard at entry: multi-probe multiplies the broadcast by nPlanes+1,
    // but only on this (bounded) side — the corpus is still hashed once
    val qBase = guardedQueryBroadcast(
      queries.select(
        col("query_id"), asDouble(col("query_vec")).as("q"),
        hyperplaneBucket(col("query_vec"), nPlanes).as("bucket")),
      maxQueries, "lshTopK")
    val q =
      if (probeHamming == 0) qBase
      else qBase
        .select(col("query_id"), col("q"),
          explode(array(col("bucket") +: (0 until nPlanes).map(i =>
            col("bucket").bitwiseXOR(lit(1 << i))): _*)).as("bucket"))
    // probe buckets are distinct ints and each corpus vector hashes to
    // exactly one bucket, so no (query, neighbor) pair can repeat — no
    // distinct needed before scoring. q derives from the already-guarded
    // broadcast qBase, so the hint survives the explode projection.
    val scored = c.join(broadcast(q), Seq("bucket"))
      .filter(col("neighbor_id") =!= col("query_id"))
      .select(col("query_id"), col("neighbor_id"),
              cosine(col("v"), col("q")).as("cos"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("query_id").orderBy(desc("cos"), asc("neighbor_id"))
    scored.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("rank"), col("neighbor_id"),
              round(col("cos"), 6).as("cos"))
  }

  // ---- deterministic ±1 random projection (Achlioptas/JL) ------------

  /** Plan-time ±1 sign matrix, outDim × inDim, derived from md5 of
    * `seed:j:i` — content-independent, RNG-free, and byte-replayable in
    * the SQL oracle (the matrix bakes into both plans as literals).
    */
  def projectionSigns(inDim: Int, outDim: Int,
                      seed: String = "rp"): Seq[Seq[Double]] = {
    val digest = java.security.MessageDigest.getInstance("MD5")
    (0 until outDim).map(j => (0 until inDim).map { i =>
      val h = digest.digest(s"$seed:$j:$i".getBytes("UTF-8"))
      if ((h(0) & 1) == 0) 1.0 else -1.0
    })
  }

  /** Johnson–Lindenstrauss sketch of the embedding column: y_j =
    * (Σ_i s_ji·x_i) / √m with the ±1 matrix from [[projectionSigns]].
    * E‖y−y′‖² = ‖x−x′‖², so the m-dim sketch is the cheap distance
    * pre-filter at 100 TB — shuffle m doubles per row instead of the
    * full embedding, verify survivors with exact cosine ([[Dedup]]'s
    * estimate-then-verify discipline). Appends `p0..p{m-1}`; each
    * output dim is one codegen [[graft.functions.VectorOps.vec_dot]]
    * against a literal row — no per-row hashing, no HOF interpretation.
    */
  def randomProjection(df: DataFrame, vecCol: String, inDim: Int,
                       outDim: Int, seed: String = "rp"): DataFrame = {
    val signs = projectionSigns(inDim, outDim, seed)
    // DIVIDE by √m (not multiply by a reciprocal): the oracle divides,
    // and x/√m vs x·(1/√m) can differ in the last ulp — enough to flip
    // a 6-dp rounding boundary
    val sqrtM = math.sqrt(outDim.toDouble)
    signs.zipWithIndex.foldLeft(df) { case (acc, (row, j)) =>
      acc.withColumn(s"p$j",
        graft.functions.VectorOps.vec_dot(
          col(vecCol).cast("array<double>"),
          array(row.map(lit): _*)) / lit(sqrtM))
    }
  }
}
