package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.store.{Manifest, Store}

/** Product quantization (PQ) for embedding similarity search at 100 TB
  * memory budgets — the compressed-corpus member of the [[Similarity]]
  * family (reference scope: the engine's embedding curation surface;
  * PQ itself is the standard Jégou et al. 2011 construction).
  *
  * Why it exists: [[Similarity.ivfTopK]] probes a subset of cells but
  * still holds FULL float vectors in every probed cell — 512 bytes per
  * 64-dim float64 row. PQ stores `m` one-byte codes per vector (64×
  * smaller at m = 8) and scores queries against the codes with
  * asymmetric distance (ADC): the query side stays exact, the corpus
  * side is quantized, and the score is a sum of `m` table lookups.
  *
  * Construction (all relational — no RDDs, no driver-side vectors
  * beyond the m·ksub codebook, which is collected nowhere here):
  *
  *  - vectors are L2-NORMALIZED first, so inner product == cosine and
  *    the ADC score approximates the exact cosine every other operator
  *    in the family ranks by;
  *  - the normalized vector splits into `m` contiguous subvectors of
  *    `dsub` dims; each subspace has its own `ksub`-entry codebook;
  *  - encode = per-subspace argmin of squared L2 distance (ties → min
  *    code), giving `m` small ints per vector;
  *  - ADC = Σ_sub dot(q_sub, codebook[sub][code_sub]) — computed as a
  *    LEFT-TO-RIGHT fold in subspace order so the double is
  *    bit-reproducible in the SQL oracle (group-SUM order is not).
  *
  * Codebooks: [[seedCodebooks]] takes the subvectors of the first
  * `ksub` ids — deterministic and replayable in the oracle, the exact
  * convention of [[Similarity.ivfAssign]]'s stand-in centroids.
  * [[trainCodebooks]] refines them with Euclidean Lloyd iterations run
  * over ALL subspaces in one relational loop (the fit keys on
  * (sub, code), so m codebooks train in the same pass — m separate
  * fits would scan the corpus m times for no reason).
  *
  * Scale shape: encode is corpus × (m·ksub broadcast) with map-side
  * argmin — linear, first shuffle is the id-keyed code reassembly; the
  * probe/score join ships only (cell, codes[m]) rows, never vectors;
  * query-side LUTs are (queries × m × ksub) rows behind the same
  * bounded-broadcast guard as every other ANN operator here.
  */
object Pq {

  import Similarity.asDouble

  /** L2-normalize, with the norm computed ONCE as a sibling column (a
    * per-element norm recompute would be m·dsub redundant folds; the
    * oracle mirrors the same two-step shape).
    */
  private[graft] def withNormalized(df: DataFrame, vecCol: String,
                                    out: String): DataFrame =
    df.withColumn("_nrm", sqrt(Similarity.norm2(col(vecCol))))
      .withColumn(out, transform(col(vecCol), x => x / col("_nrm")))
      .drop("_nrm")

  /** Squared L2 distance as one left-to-right fold over the zipped
    * pair — DuckDB's `list_sum(list_transform(list_zip(a,b), ...))`
    * folds in the same order, so encode argmins agree bit-for-bit.
    */
  private[graft] def l2sq(a: Column, b: Column): Column =
    aggregate(zip_with(a, b, (x, y) => (x - y) * (x - y)),
              lit(0.0), (acc, x) => acc + x)

  /** Explode a normalized-vector frame into one row per (id, sub,
    * subvector). The slice positions are plan-time literals — column
    * pruning keeps the full vector out of everything downstream.
    */
  private def subVectors(vecs: DataFrame, m: Int, dsub: Int): DataFrame =
    vecs.select(col("pq_id"), explode(array((0 until m).map(s =>
        struct(lit(s).as("sub"),
               slice(col("nv"), s * dsub + 1, dsub).as("sv"))): _*)).as("x"))
      .select(col("pq_id"), col("x.sub").as("sub"), col("x.sv").as("sv"))

  private def normalizedVecs(corpus: DataFrame, idCol: String,
                             vecCol: String): DataFrame =
    withNormalized(
      corpus.select(col(idCol).as("pq_id"), asDouble(col(vecCol)).as("v")),
      "v", "nv").select(col("pq_id"), col("nv"))

  /** Deterministic seed codebooks: subspace s's codebook is the s-th
    * subvector of the first `ksub` ids (normalized). Returns
    * `(sub, code, cv)` — m·ksub rows, broadcast-sized by construction.
    * Replayable in SQL, so gates over seed codebooks get FULL value
    * oracles on the approximate scores themselves (stronger than the
    * planted-recovery bound the xxhash-seeded operators settle for).
    */
  def seedCodebooks(corpus: DataFrame, m: Int, ksub: Int,
                    idCol: String = "vec_id",
                    vecCol: String = "embedding"): DataFrame = {
    require(ksub >= 1 && ksub <= 256,
      "pq: ksub must be in [1, 256] (codes are one byte)")
    subVectors(
      normalizedVecs(corpus.filter(col(idCol) < ksub), idCol, vecCol),
      m, dsubOf(corpus, m, vecCol))
      .select(col("sub"), col("pq_id").cast("int").as("code"),
              col("sv").as("cv"))
  }

  /** dsub from the (constant-width) embedding column; PQ requires the
    * width to split evenly into m subspaces.
    */
  private def dsubOf(corpus: DataFrame, m: Int, vecCol: String): Int = {
    val dim = corpus.select(size(col(vecCol))).head().getInt(0)
    require(dim % m == 0, s"pq: vector width $dim not divisible by m=$m")
    dim / m
  }

  /** Euclidean Lloyd refinement of [[seedCodebooks]], all m subspaces
    * in ONE relational loop keyed on (sub, code):
    *
    *  - assignment: subvectors × broadcast codebooks → map-side
    *    `min(struct(dist, code))` argmin (one row per (id, sub)
    *    shuffles);
    *  - update: per-(sub, code, pos) mean via posexplode, re-assembled
    *    (m·ksub·dsub tiny rows); empty codes keep their centroid;
    *  - objective Σ dist² is non-increasing under Lloyd — exposed per
    *    round for the spec, the [[Similarity.kmeansFitWithHistory]]
    *    convention.
    *
    * Returns (codebooks, objective history). Each round is a
    * [[graft.plans.Lineage.scoped]] round, so the plan stays O(1) per
    * round.
    */
  def trainCodebooks(corpus: DataFrame, m: Int, ksub: Int,
                     maxIter: Int = 5,
                     idCol: String = "vec_id",
                     vecCol: String = "embedding"): (DataFrame, Seq[Double]) = {
    val dsub = dsubOf(corpus, m, vecCol)
    lloydOnSubs(subVectors(normalizedVecs(corpus, idCol, vecCol), m, dsub),
      seedCodebooks(corpus, m, ksub, idCol, vecCol), maxIter)
  }

  /** Lloyd refinement over residual subvectors (the [[trainCodebooks]]
    * loop fed by [[residualFrames]] — codebooks that model what PQ
    * actually has to encode in residual mode).
    */
  def trainResidualCodebooks(corpus: DataFrame, m: Int, ksub: Int,
                             nCells: Int, maxIter: Int = 5,
                             idCol: String = "vec_id",
                             vecCol: String = "embedding")
      : (DataFrame, Seq[Double]) = {
    val dsub = dsubOf(corpus, m, vecCol)
    val res = residualFrames(corpus, nCells, idCol, vecCol)
      .select(col("pq_id"), col("rv").as("nv"))
    lloydOnSubs(subVectors(res, m, dsub),
      seedResidualCodebooks(corpus, m, ksub, nCells, idCol, vecCol), maxIter)
  }

  /** The shared Lloyd loop: refine `seed` against a fixed
    * (pq_id, sub, sv) subvector frame. Factored so raw-vector and
    * residual training are the SAME relational iteration.
    */
  private def lloydOnSubs(subs0: DataFrame, seed: DataFrame,
                          maxIter: Int): (DataFrame, Seq[Double]) = {
    graft.plans.Lineage.scoped { scope =>
      val subs = scope.round(subs0)
      var cb = scope.round(seed)
      val history = scala.collection.mutable.ArrayBuffer.empty[Double]
      var i = 0
      var done = false
      while (!done && i < maxIter) {
        val assigned = scope.round(subs.join(broadcast(cb), Seq("sub"))
          .select(col("pq_id"), col("sub"), col("sv"),
                  struct(l2sq(col("sv"), col("cv")).as("d"),
                         col("code")).as("dc"))
          .groupBy("pq_id", "sub")
          .agg(min(col("dc")).as("best"), first(col("sv")).as("sv"))
          .select(col("sub"), col("best.code").as("code"),
                  col("best.d").as("d"), col("sv")))
        val objective = assigned.agg(sum(col("d"))).head().getDouble(0)
        val means = assigned
          .select(col("sub"), col("code"), posexplode(col("sv")).as(Seq("pos", "x")))
          .groupBy("sub", "code", "pos").agg(avg(col("x")).as("mu"))
          .groupBy("sub", "code")
          .agg(transform(array_sort(collect_list(struct(col("pos"), col("mu")))),
                         s => s.getField("mu")).as("ncv"))
        val newCb = scope.round(cb.join(means, Seq("sub", "code"), "left")
          .select(col("sub"), col("code"),
                  coalesce(col("ncv"), col("cv")).as("cv")))
        newCb.count() // materialize (m·ksub rows) before parents release
        scope.release(cb)
        scope.release(assigned)
        cb = newCb
        done = history.nonEmpty && history.last - objective < 1e-12
        history += objective
        i += 1
      }
      // the returned codebooks outlive the call: one m·ksub-row job
      // copies the last round into a checkpoint
      (cb.localCheckpoint(true), history.toSeq)
    }
  }

  /** Encode every corpus vector as `m` codes: per-subspace squared-L2
    * argmin against the codebooks, ties to the smaller code. Returns
    * `(pq_id, codes array<int>, qerr)` where `qerr` is the total
    * squared quantization error — the compression-quality number the
    * gates pin. One broadcast join + one id-keyed reassembly shuffle.
    */
  def encode(corpus: DataFrame, codebooks: DataFrame, m: Int,
             idCol: String = "vec_id",
             vecCol: String = "embedding"): DataFrame =
    encodeDsub(corpus, codebooks, m, dsubOf(corpus, m, vecCol), idCol, vecCol)

  /** [[encode]] at a known subvector width (no width probe). */
  private def encodeDsub(corpus: DataFrame, codebooks: DataFrame, m: Int,
                         dsub: Int, idCol: String, vecCol: String): DataFrame =
    encodeSubs(subVectors(normalizedVecs(corpus, idCol, vecCol), m, dsub),
      codebooks)

  /** Per-cell residual vectors: `rv = nv(vec) − nv(cell)` under the
    * seed-centroid convention (cells are the raw vectors with
    * id < nCells, assignment by cosine via [[Similarity.ivfAssign]],
    * and a cell's normalized centroid is just the corpus' own
    * normalized vector at that id). PQ on residuals is the full
    * Jégou et al. 2011 IVF-ADC construction: the (m, ksub) code budget
    * spends its resolution on the part of the vector the coarse
    * quantizer did NOT already explain. The advantage is CONDITIONAL
    * on the coarse quantizer explaining variance — ‖r‖² = 2 − 2·cos(v, ĉ),
    * so clustered corpora (cos → 1) give tiny residuals and a measured
    * ≥29× qerr win, while near-isotropic corpora (best-of-16 cos ≈ 0.25)
    * give residuals BIGGER than the unit vectors and raw encoding wins
    * — both regimes pinned in PqSpec. Deterministic arithmetic end to
    * end — the residual gates keep full value oracles.
    *
    * Returns (pq_id, cell, rv).
    */
  def residualFrames(corpus: DataFrame, nCells: Int,
                     idCol: String = "vec_id",
                     vecCol: String = "embedding",
                     centroids: Option[DataFrame] = None): DataFrame = {
    val nv = normalizedVecs(corpus, idCol, vecCol)
    val assigned = Similarity.ivfAssign(corpus, nCells, idCol, vecCol,
        centroids = centroids.map(_.select(col("cell"),
          asDouble(col("cellv")).as("cv"))))
      .select(col("ivf_id").as("pq_id"), col("cell"))
    // explicit centroids (stored-index append) normalize the same way
    // the seed path does — ĉ = c/‖c‖ is the corpus' own nv at seed ids
    val cellNv = centroids match {
      case Some(c) => broadcast(withNormalized(
          c.select(col("cell"), asDouble(col("cellv")).as("v")), "v", "cnv")
        .select(col("cell"), col("cnv")))
      case None => broadcast(nv.filter(col("pq_id") < nCells)
        .select(col("pq_id").as("cell"), col("nv").as("cnv")))
    }
    nv.join(assigned, Seq("pq_id"))
      .join(cellNv, Seq("cell"))
      .select(col("pq_id"), col("cell"),
              zip_with(col("nv"), col("cnv"), (x, c) => x - c).as("rv"))
  }

  /** Seed codebooks over RESIDUALS: subspace s's codebook is the s-th
    * residual subvector of ids [nCells, nCells + ksub) — the
    * [[seedCodebooks]] convention applied to what residual mode
    * actually encodes, so the residual pipeline stays SQL-replayable
    * at trainIters = 0. The id window SKIPS the first nCells ids
    * deliberately: those are their own centroids under the seed-cell
    * convention, so their residuals are all ZERO — seeding from them
    * gives a degenerate all-zeros codebook whose qerr is Σ‖r‖²
    * (measured WORSE than raw encoding; caught by PqSpec).
    */
  def seedResidualCodebooks(corpus: DataFrame, m: Int, ksub: Int,
                            nCells: Int,
                            idCol: String = "vec_id",
                            vecCol: String = "embedding"): DataFrame = {
    require(ksub >= 1 && ksub <= 256,
      "pq: ksub must be in [1, 256] (codes are one byte)")
    val res = residualFrames(corpus, nCells, idCol, vecCol)
      .filter(col("pq_id") >= nCells && col("pq_id") < nCells + ksub)
      .select(col("pq_id"), col("rv").as("nv"))
    subVectors(res, m, dsubOf(corpus, m, vecCol))
      .select(col("sub"), (col("pq_id") - nCells).cast("int").as("code"),
              col("sv").as("cv"))
  }

  /** Encode residuals against residual codebooks. Returns
    * (pq_id, cell, codes, qerr) — the cell rides along because residual
    * codes are only meaningful together with their cell.
    */
  def encodeResidual(corpus: DataFrame, codebooks: DataFrame, m: Int,
                     nCells: Int,
                     idCol: String = "vec_id",
                     vecCol: String = "embedding",
                     centroids: Option[DataFrame] = None): DataFrame =
    encodeResidualDsub(corpus, codebooks, m, dsubOf(corpus, m, vecCol),
      nCells, idCol, vecCol, centroids)

  /** [[encodeResidual]] at a known subvector width (no width probe). */
  private def encodeResidualDsub(corpus: DataFrame, codebooks: DataFrame,
                                 m: Int, dsub: Int, nCells: Int,
                                 idCol: String, vecCol: String,
                                 centroids: Option[DataFrame]): DataFrame = {
    val res = residualFrames(corpus, nCells, idCol, vecCol, centroids)
    val subs = subVectors(res.select(col("pq_id"), col("rv").as("nv")),
      m, dsub)
    encodeSubs(subs, codebooks)
      .join(res.select(col("pq_id"), col("cell")), Seq("pq_id"))
      .select(col("pq_id"), col("cell"), col("codes"), col("qerr"))
  }

  /** The shared argmin-encode core over a (pq_id, sub, sv) frame. */
  private def encodeSubs(subs: DataFrame, codebooks: DataFrame): DataFrame = {
    subs.join(broadcast(codebooks), Seq("sub"))
      .select(col("pq_id"), col("sub"),
              struct(l2sq(col("sv"), col("cv")).as("d"), col("code")).as("dc"))
      .groupBy("pq_id", "sub")
      .agg(min(col("dc")).as("best"))
      .groupBy("pq_id")
      .agg(
        transform(array_sort(collect_list(
            struct(col("sub"), col("best.code").as("code")))),
          s => s.getField("code")).as("codes"),
        // fold the per-sub errors in SUB ORDER, not group-SUM order —
        // doubles must replay bit-identically in the oracle
        aggregate(
          transform(array_sort(collect_list(
              struct(col("sub"), col("best.d").as("d")))),
            s => s.getField("d")),
          lit(0.0), (acc, x) => acc + x).as("qerr"))
  }

  /** IVF-PQ top-k: coarse-quantize the corpus into `nCells` (the
    * [[Similarity.ivfAssign]] machinery), PQ-encode every vector, and
    * answer queries by probing `nProbe` cells with asymmetric distance
    * — the probed rows carry `m` BYTES of payload instead of the full
    * vector, which is the whole point at 100 TB.
    *
    * `trainIters = 0` keeps the deterministic seed codebooks (and seed
    * IVF centroids), making the ENTIRE approximate pipeline — argmin
    * encode, probe selection, LUT, fold — value-replayable in the SQL
    * oracle. `trainIters > 0` Lloyd-fits the codebooks (production
    * path; recall pinned against [[Similarity.bruteForceTopK]] in the
    * spec).
    *
    * Output: (query_id, rank, neighbor_id, adc) — adc approximates the
    * cosine the exact operators rank by (corpus side normalized+
    * quantized, query side normalized exact).
    */
  def ivfPqTopK(
      corpus: DataFrame,
      queries: DataFrame,
      k: Int,
      nCells: Int = 16,
      nProbe: Int = 4,
      m: Int = 8,
      ksub: Int = 16,
      trainIters: Int = 0,
      idCol: String = "vec_id",
      vecCol: String = "embedding",
      maxQueries: Long = 10000L,
      residual: Boolean = false): DataFrame = {
    val dsub = dsubOf(corpus, m, vecCol)

    // --- corpus side: cell assignment + PQ codes (vectors end here) --
    val encoded =
      if (residual) {
        val cb = broadcast(
          if (trainIters > 0)
            trainResidualCodebooks(corpus, m, ksub, nCells, trainIters,
              idCol, vecCol)._1
          else seedResidualCodebooks(corpus, m, ksub, nCells, idCol, vecCol))
        (cb, encodeResidual(corpus, cb, m, nCells, idCol, vecCol)
          .select(col("cell"), col("pq_id"), col("codes")))
      } else {
        val assigned = Similarity.ivfAssign(corpus, nCells, idCol, vecCol)
          .select(col("ivf_id").as("pq_id"), col("cell"))
        val cb = broadcast(
          if (trainIters > 0)
            trainCodebooks(corpus, m, ksub, trainIters, idCol, vecCol)._1
          else seedCodebooks(corpus, m, ksub, idCol, vecCol))
        (cb, encode(corpus, cb, m, idCol, vecCol)
          .join(assigned, Seq("pq_id"))
          .select(col("cell"), col("pq_id"), col("codes")))
      }
    // the SAME centroid set the assignment used (seed convention: raw
    // vectors with id < nCells)
    val cents = corpus.select(col(idCol).as("cell"),
                              asDouble(col(vecCol)).as("cellv"))
      .filter(col("cell") < nCells)
    answerFromIndex(cents, encoded._1, encoded._2, queries, k, nProbe, m,
      dsub, maxQueries, "ivfPqTopK", residual = residual)
  }

  /** Two-stage retrieval: ADC shortlist of `shortlist` candidates per
    * query, then EXACT cosine re-rank of the shortlist against the
    * original vectors — the standard production recipe (Jégou et al.
    * 2011 §V): codes prune 100 TB down to `queries × shortlist` rows,
    * and only those rows ever touch a full vector again. The vector
    * fetch is a broadcast semi-join of the (bounded) shortlist id set
    * into the corpus scan — the corpus is never shuffled.
    *
    * With `shortlist` ≥ every probed candidate this equals exact
    * cosine over the probed cells (= [[Similarity.ivfTopK]] at the
    * same geometry) — spec-pinned; at production shortlists recall is
    * strictly ≥ the raw-ADC ranking's by construction.
    *
    * Output: (query_id, rank, neighbor_id, cos) — exact cosines, so
    * downstream thresholds (e.g. SemDeDup taus) transfer unchanged.
    */
  def ivfPqRerank(
      corpus: DataFrame,
      queries: DataFrame,
      k: Int,
      shortlist: Int,
      nCells: Int = 16,
      nProbe: Int = 4,
      m: Int = 8,
      ksub: Int = 16,
      trainIters: Int = 0,
      idCol: String = "vec_id",
      vecCol: String = "embedding",
      maxQueries: Long = 10000L,
      residual: Boolean = false): DataFrame = {
    require(shortlist >= k,
      s"ivfPqRerank: shortlist ($shortlist) must be >= k ($k)")
    val short = ivfPqTopK(corpus, queries, shortlist, nCells, nProbe, m,
        ksub, trainIters, idCol, vecCol, maxQueries, residual)
      .select(col("query_id"), col("neighbor_id"))
    val vecs = corpus.select(col(idCol).as("neighbor_id"),
                             asDouble(col(vecCol)).as("nvv"))
      .join(broadcast(short), Seq("neighbor_id"))
    val qn = broadcast(queries.select(col("query_id"),
      asDouble(col("query_vec")).as("qv")))
    val scored = vecs.join(qn, Seq("query_id"))
      .select(col("query_id"), col("neighbor_id"),
              Similarity.cosine(col("nvv"), col("qv")).as("cos"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("query_id").orderBy(desc("cos"), asc("neighbor_id"))
    scored.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("rank"), col("neighbor_id"),
              round(col("cos"), 6).as("cos"))
  }

  /** The query-answering half, shared by [[ivfPqTopK]] (freshly built
    * corpus-side frames) and [[queryIndex]] (frames read back from a
    * stored index): probe selection against the centroids, per-query
    * ADC lookup table from the codebooks, sub-ordered fold over the
    * probed codes.
    */
  private def answerFromIndex(
      cents: DataFrame, cb: DataFrame, encoded: DataFrame,
      queries: DataFrame, k: Int, nProbe: Int, m: Int, dsub: Int,
      maxQueries: Long, caller: String,
      residual: Boolean = false): DataFrame = {
    val qn = withNormalized(
      queries.select(col("query_id"), asDouble(col("query_vec")).as("v")),
      "v", "qnv")
    val qchecked = {
      // same bounded-broadcast discipline as the other ANN entry points
      val n = qn.limit((maxQueries + 1).toInt).count()
      require(n <= maxQueries,
        s"$caller: query side has >$maxQueries rows; run in bounded batches")
      broadcast(qn)
    }
    val qcells = qchecked.crossJoin(broadcast(cents))
      .select(col("query_id"), col("cell"),
              Similarity.cosine(col("v"), col("cellv")).as("csim"))
    val wq = org.apache.spark.sql.expressions.Window
      .partitionBy("query_id").orderBy(desc("csim"), asc("cell"))
    // csim rides along: in residual mode the ADC decomposes as
    // dot(qn, nv) ≈ dot(qn, ĉ_cell) + Σ_sub lut[codes] and the first
    // term IS the probe-selection cosine (both sides normalized)
    val probes = qcells.withColumn("rn", row_number().over(wq))
      .filter(col("rn") <= nProbe)
      .select(col("query_id"), col("cell"), col("csim"))
    // LUT: pdot[sub][code] = dot(q_sub, codebook[sub][code]), assembled
    // into a nested array ordered (sub, code) so the ADC fold below is
    // a pure positional lookup
    val qsubs = qchecked.select(col("query_id"),
        explode(array((0 until m).map(s =>
          struct(lit(s).as("sub"),
                 slice(col("qnv"), s * dsub + 1, dsub).as("qsv"))): _*)).as("x"))
      .select(col("query_id"), col("x.sub").as("sub"), col("x.qsv").as("qsv"))
    val lut = qsubs.join(cb, Seq("sub"))
      .select(col("query_id"), col("sub"), col("code"),
              Similarity.dot(col("qsv"), col("cv")).as("pdot"))
      .groupBy("query_id", "sub")
      .agg(transform(array_sort(collect_list(struct(col("code"), col("pdot")))),
             s => s.getField("pdot")).as("subtab"))
      .groupBy("query_id")
      .agg(transform(array_sort(collect_list(struct(col("sub"), col("subtab")))),
             s => s.getField("subtab")).as("lut"))

    // --- ADC scoring: codes ⋈ probed cells, Σ_sub lut[sub][code] -----
    val probed = probes.join(lut, Seq("query_id"))
    // base + (sub-ordered fold), NOT a csim-seeded fold: the oracle
    // states `csim + list_sum(...)` and double addition isn't
    // associative — the grouping must match the SQL's
    val lutSum = aggregate(zip_with(col("codes"), col("lut"),
        (c, t) => element_at(t, c + 1)),
      lit(0.0), (acc, x) => acc + x)
    val scored = encoded.join(broadcast(probed), Seq("cell"))
      .filter(col("pq_id") =!= col("query_id"))
      .select(col("query_id"), col("pq_id").as("neighbor_id"),
        (if (residual) col("csim") + lutSum else lutSum).as("adc"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("query_id").orderBy(desc("adc"), asc("neighbor_id"))
    scored.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("rank"), col("neighbor_id"),
              round(col("adc"), 6).as("adc"))
  }

  // ---- stored index: build once, answer forever, append-only ---------

  /** Stored-index layout version + geometry, the format stamp of the
    * index's manifest (the signature-store convention): an index written
    * by a different layout must fail loudly on load — ADC against
    * mismatched codebooks returns plausible garbage, not an error. One
    * manifest stamps all three tables, so their geometry cannot
    * disagree.
    */
  private[graft] val IndexFormatPrefix = "graft-ivfpq-v1"

  private def stampOf(m: Int, ksub: Int, nCells: Int, dim: Int,
                      residual: Boolean = false): String =
    s"$IndexFormatPrefix;m=$m;ksub=$ksub;nCells=$nCells;dim=$dim" +
      s";res=${if (residual) 1 else 0}"

  /** A loaded index: the three stored frames plus the parsed geometry.
    */
  final case class IvfPqIndex(centroids: DataFrame, codebooks: DataFrame,
                              codes: DataFrame, m: Int, ksub: Int,
                              nCells: Int, dim: Int,
                              residual: Boolean = false)

  /** Build the corpus-side index ONCE and persist it: `centroids`
    * (nCells rows), `codebooks` (m·ksub rows), `codes` (one row per
    * vector, m BYTES of payload) under `path`, committed in one
    * manifest stamped with the layout+geometry marker. At 100 TB this
    * is the whole point of PQ — the corpus is scanned once at build
    * time; every later query batch reads codes (64× smaller than
    * vectors) and never rescans embeddings.
    */
  def saveIndex(corpus: DataFrame, path: String, nCells: Int = 16,
                m: Int = 8, ksub: Int = 16, trainIters: Int = 0,
                idCol: String = "vec_id",
                vecCol: String = "embedding",
                residual: Boolean = false): Unit =
    saveIndexWith(corpus, path, nCells, m, ksub, trainIters, idCol, vecCol,
      residual, Map.empty)

  /** [[saveIndex]] with extra manifest values (the OPQ rotation). */
  private[operators] def saveIndexWith(corpus: DataFrame, path: String,
                                       nCells: Int, m: Int, ksub: Int,
                                       trainIters: Int, idCol: String,
                                       vecCol: String, residual: Boolean,
                                       values: Map[String, String]): Unit = {
    val dsub = dsubOf(corpus, m, vecCol)
    val dim = dsub * m
    val cents = corpus.select(col(idCol).as("cell"),
        asDouble(col(vecCol)).as("cellv"))
      .filter(col("cell") < nCells)
    val cb =
      if (residual) {
        if (trainIters > 0) trainResidualCodebooks(corpus, m, ksub, nCells,
          trainIters, idCol, vecCol)._1
        else seedResidualCodebooks(corpus, m, ksub, nCells, idCol, vecCol)
      } else if (trainIters > 0) trainCodebooks(corpus, m, ksub, trainIters,
        idCol, vecCol)._1
      else seedCodebooks(corpus, m, ksub, idCol, vecCol)
    val encoded =
      if (residual)
        encodeResidual(corpus, broadcast(cb), m, nCells, idCol, vecCol)
          .select(col("cell"), col("pq_id"), col("codes"))
      else encode(corpus, broadcast(cb), m, idCol, vecCol)
        .join(Similarity.ivfAssign(corpus, nCells, idCol, vecCol)
          .select(col("ivf_id").as("pq_id"), col("cell")), Seq("pq_id"))
        .select(col("cell"), col("pq_id"), col("codes"))
    Store.save(corpus.sparkSession, path, stampOf(m, ksub, nCells, dim, residual),
      Seq(("centroids", cents, None), ("codebooks", cb, None),
        (Codes, encoded, Some("pq_id"))), values)
  }

  private val Codes = "codes"

  /** The live manifest, its layout stamp checked — no job. */
  private[operators] def indexManifest(spark: org.apache.spark.sql.SparkSession,
                                       path: String): Manifest =
    Store.live(spark, path, s"stored IVF-PQ index at $path has no manifest " +
      "— written by a pre-manifest build or not an index; rebuild with " +
      "Pq.saveIndex")(
      _.startsWith(IndexFormatPrefix + ";"),
      f => s"stored IVF-PQ index at $path has layout '$f', this build reads " +
        s"'$IndexFormatPrefix' — rebuild with Pq.saveIndex")

  /** Load a stored index from its manifest, rejecting a missing or
    * foreign one loudly and parsing the geometry out of the stamp. Runs
    * no job.
    */
  def loadIndex(spark: org.apache.spark.sql.SparkSession,
                path: String): IvfPqIndex =
    indexOf(spark, path, indexManifest(spark, path))

  private def indexOf(spark: org.apache.spark.sql.SparkSession, path: String,
                      mf: Manifest): IvfPqIndex = {
    val params = mf.format.stripPrefix(IndexFormatPrefix + ";").split(';')
      .map(_.split('=')).map(kv => kv(0) -> kv(1).toInt).toMap
    def t(name: String) = Store.table(spark, path, mf, name)
    IvfPqIndex(t("centroids"), t("codebooks"), t(Codes), params("m"),
      params("ksub"), params("nCells"), params("dim"),
      residual = params("res") == 1)
  }

  /** Append a NEW batch of vectors to a stored index without touching
    * the existing codes: encode with the STORED codebooks, assign to
    * the STORED centroids, append (the incremental-dedup convention).
    * New ids must not collide with stored ids — duplicates would
    * double-answer; the semi-join over the codes ids runs only when the
    * batch's id range, observed on the write, overlaps the stored one.
    * Every row's width is checked by one probe before the write.
    * With the deterministic seed convention and fresh ids,
    * append-then-query equals rebuild-from-scratch (spec-pinned).
    */
  def appendVectors(spark: org.apache.spark.sql.SparkSession, path: String,
                    newCorpus: DataFrame, idCol: String = "vec_id",
                    vecCol: String = "embedding"): Unit = {
    val mf = indexManifest(spark, path)
    val dim = indexOf(spark, path, mf).dim
    // ONE probe over every row before anything is written: encoding
    // slices each vector by the stored dsub, so a wrong-width row, even
    // one past a well-formed first row, would otherwise be encoded and
    // committed as plausible garbage
    val badWidth = newCorpus
      .filter(col(vecCol).isNull || size(col(vecCol)) =!= dim)
      .select(col(idCol), size(col(vecCol)).as("w")).limit(1).collect()
    require(badWidth.isEmpty, {
      val r = badWidth.head
      s"appendVectors: batch row id '${r.get(0)}' has vector width " +
      s"${r.get(1)} != index width $dim — re-embed the batch or rebuild " +
      "with Pq.saveIndex"
    })
    appendChecked(spark, path, mf, newCorpus, idCol, vecCol)
  }

  /** [[appendVectors]] for a batch whose every vector is known to have
    * the index width (the OPQ append checks it before rotating). */
  private[operators] def appendChecked(spark: org.apache.spark.sql.SparkSession,
                                       path: String, mf: Manifest,
                                       newCorpus: DataFrame, idCol: String,
                                       vecCol: String): Unit = {
    val idx = indexOf(spark, path, mf)
    val dsub = idx.dim / idx.m
    val encoded =
      if (idx.residual)
        // residual append: residuals against the STORED centroids
        // (ĉ = cellv/‖cellv‖ — identical to the seed-id nv, so
        // append-then-query == rebuild holds in residual mode too)
        encodeResidualDsub(newCorpus, broadcast(idx.codebooks), idx.m, dsub,
            idx.nCells, idCol, vecCol, centroids = Some(idx.centroids))
          .select(col("cell"), col("pq_id"), col("codes"))
      else {
        val assigned = Similarity.ivfAssign(newCorpus, idx.nCells, idCol,
            vecCol, centroids = Some(idx.centroids
              .select(col("cell"), col("cellv").as("cv"))))
          .select(col("ivf_id").as("pq_id"), col("cell"))
        encodeDsub(newCorpus, broadcast(idx.codebooks), idx.m, dsub, idCol,
            vecCol)
          .join(assigned, Seq("pq_id"))
          .select(col("cell"), col("pq_id"), col("codes"))
      }
    Store.append(spark, path, mf, Codes, encoded, "pq_id",
      "appendVectors: new batch ids collide with stored ids — duplicate " +
      "ids would double-answer queries; re-id the batch or rebuild")
  }

  /** Rewrite the stored codes table into ~`targetFileBytes` parquet
    * files — [[appendVectors]] appends one file-set per batch (the
    * [[graft.operators.SetSimJoin.compactSets]] small-files shape,
    * applied to the dense index; centroids/codebooks are tiny and
    * write-once). Row set untouched; COALESCE only; one commit.
    */
  def compactCodes(spark: org.apache.spark.sql.SparkSession, path: String,
                   targetFileBytes: Long = 128L * 1024 * 1024): Unit = {
    require(targetFileBytes > 0,
      s"compactCodes: targetFileBytes must be > 0, got $targetFileBytes")
    Store.compact(spark, path, indexManifest(spark, path), Seq(Codes),
      targetFileBytes)
  }

  /** Remove vectors from a stored index by id — the retraction /
    * GDPR-delete member of the stored-index lifecycle ([[saveIndex]] /
    * [[appendVectors]] / [[queryIndex]]). Scoring is per-code-row, so
    * dropping a vector's code row IS the rebuild-over-difference:
    * centroids and codebooks stay frozen (exactly the [[appendVectors]]
    * geometry contract — the index's coordinate system never moves for
    * membership changes), and queryIndex afterwards equals the
    * pre-removal answers with the removed ids excluded and ranks
    * recomputed (spec-pinned). Unknown ids are a LOUD error (a typo'd
    * retraction must not report success); removing every vector is too
    * (that is a delete-the-path operation, not a removal). The
    * surviving codes commit as one new file-set.
    *
    * @param removeIds one column of ids (any name); null ids rejected.
    */
  def removeVectors(spark: org.apache.spark.sql.SparkSession, path: String,
                    removeIds: DataFrame): Unit = {
    Store.remove(spark, path, indexManifest(spark, path), Codes, "pq_id",
      removeIds, "removeVectors: removal list contains null ids",
      id => s"removeVectors: id '$id' is not in the stored index — a " +
        "typo'd retraction must fail loudly, not report success",
      "removeVectors: removal would empty the index — delete the path " +
      "and rebuild with saveIndex instead")
  }

  /** Answer top-k from a stored index — no corpus access, no encode:
    * the probed working set is (cell, id, m bytes) per candidate.
    */
  def queryIndex(index: IvfPqIndex, queries: DataFrame, k: Int,
                 nProbe: Int = 4,
                 maxQueries: Long = 10000L): DataFrame =
    answerFromIndex(index.centroids, broadcast(index.codebooks),
      index.codes, queries, k, nProbe, index.m, index.dim / index.m,
      maxQueries, "queryIndex", residual = index.residual)
}
