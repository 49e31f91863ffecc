package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables._
import graft.operators.Similarity

/** Embedding similarity search through the correctness gate: exact
  * brute-force cosine top-k is fully oracle-checked (double-precision
  * arithmetic matches DuckDB bit-for-bit); the hyperplane-LSH variant is
  * xxhash64-seeded (no SQL oracle) and validated against the exact path
  * in unit tests (recall sanity).
  */
object SimilaritySuite extends QuerySuite {

  private def queryVectors(s: SparkSession, d: String): DataFrame =
    embeddings(s, d).filter(col("vec_id") < 3)
      .select(col("vec_id").as("query_id"), col("embedding").as("query_vec"))

  // DuckDB double-precision cosine building blocks
  private val oracleCosine =
    """list_sum(list_transform(list_zip(c.v, q.q), x -> x[1] * x[2])) /
       sqrt(list_sum(list_transform(c.v, x -> x * x)) *
            list_sum(list_transform(q.q, x -> x * x)))"""

  // ---- exact brute-force top-k (oracle-checked) ----------------------
  private val topK = GraftQuery(
    "q_embedding_topk",
    (s, d) =>
      Similarity.bruteForceTopK(
        embeddings(s, d), queryVectors(s, d), k = 3)
        .orderBy(asc("query_id"), asc("rank")),
    Some(s"""WITH c AS (
               SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v
               FROM embeddings),
             q AS (
               SELECT vec_id AS query_id, v AS q FROM c WHERE vec_id < 3),
             scored AS (
               SELECT q.query_id, c.vec_id AS neighbor_id,
                 $oracleCosine AS cos
               FROM c, q WHERE c.vec_id <> q.query_id),
             ranked AS (
               SELECT query_id, neighbor_id, cos,
                 ROW_NUMBER() OVER (PARTITION BY query_id
                   ORDER BY cos DESC, neighbor_id) AS rank
               FROM scored)
             SELECT query_id, CAST(rank AS INTEGER) AS rank, neighbor_id,
               ROUND(cos, 6) AS cos
             FROM ranked WHERE rank <= 3 ORDER BY query_id, rank"""),
    headline = true)

  // ---- bounded pairwise cosine (oracle-checked) ----------------------
  private val pairCosine = GraftQuery(
    "q_embedding_pairs",
    (s, d) => {
      val e = embeddings(s, d)
        .select(col("vec_id"), Similarity.asDouble(col("embedding")).as("v"))
      // bounded window as explode-offsets -> EQUI-join: the naive
      // `b - a <= 5` range predicate plans as a nested-loop join
      // (O(n²) pairs — fatal at scale); generating candidate b ids and
      // equi-joining is linear in n·window.
      val a = e.select(col("vec_id").as("a"), col("v").as("va"))
        .withColumn("b", explode(sequence(col("a") + 1, col("a") + 5)))
      val b = e.select(col("vec_id").as("b"), col("v").as("vb"))
      a.join(b, "b")
        .select(col("a"), col("b"),
                round(Similarity.cosine(col("va"), col("vb")), 6).as("cos"))
        .filter(col("cos") > 0.2)
        .orderBy(asc("a"), asc("b"))
    },
    Some("""WITH e AS (
              SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v
              FROM embeddings),
            pairs AS (
              SELECT a.vec_id AS a, b.vec_id AS b,
                ROUND(
                  list_sum(list_transform(list_zip(a.v, b.v), x -> x[1] * x[2])) /
                  sqrt(list_sum(list_transform(a.v, x -> x * x)) *
                       list_sum(list_transform(b.v, x -> x * x))), 6) AS cos
              FROM e a JOIN e b
                ON b.vec_id > a.vec_id AND b.vec_id - a.vec_id <= 5)
            SELECT a, b, cos FROM pairs WHERE cos > 0.2 ORDER BY a, b"""))

  // ---- ANN operating points: planted-recovery oracles (round 9) ------
  // The operating points (nPlanes = 6 single/multi-probe, nProbe = 4 of
  // 16 cells) were rows-only through round 8 — approximate output has
  // no SQL twin. But RECOVERY of a planted exact clone is a GUARANTEE
  // at these settings, not a probability: an identical vector has
  // identical hyperplane signs (same LSH bucket, always probed) and the
  // same nearest centroid (its cell is in the query's probe list by
  // the shared assignment ordering), and scores cosine 1 — no real
  // corpus vector outranks it. So: plant one exact clone per query,
  // run the operator AT THE GATE'S OWN OPERATING POINT, and assert
  // every clone is recovered in the top-k — the SQL-decidable recall
  // lower bound. The which-approximate-neighbors-surface geometry
  // stays pinned by SimilaritySpec against the exact path.
  private def plantedCorpus(s: SparkSession, d: String): DataFrame = {
    val e = embeddings(s, d).select(col("vec_id"), col("embedding"))
    e.unionByName(
      e.filter(col("vec_id") < 3).select(
        (col("vec_id") + 1000000L).as("vec_id"), col("embedding")))
  }

  /** Per-query clone-recovery summary of an ANN top-k result: the
    * planted clone of query q has id q + 1,000,000 and cosine 1.
    */
  private def cloneRecovery(s: SparkSession, d: String,
                            topk: DataFrame): DataFrame = {
    val nQ = embeddings(s, d).filter(col("vec_id") < 3)
      .agg(count(lit(1)).as("n_queries"))
    val rec = topk
      .filter(col("neighbor_id") === col("query_id") + 1000000L &&
              col("cos") > 0.999999)
      .agg(countDistinct(col("query_id")).as("n_recovered"))
    nQ.crossJoin(rec).select(
      col("n_queries"), col("n_recovered"),
      (col("n_queries") === col("n_recovered")).as("all_recovered"))
  }

  private val cloneRecoveryOracle =
    """SELECT COUNT(*) AS n_queries, COUNT(*) AS n_recovered,
         TRUE AS all_recovered
       FROM embeddings WHERE vec_id < 3"""

  private val lshTopK = GraftQuery(
    "q_embedding_lsh",
    (s, d) => cloneRecovery(s, d,
      Similarity.lshTopK(
        plantedCorpus(s, d), queryVectors(s, d), k = 3, nPlanes = 6)),
    Some(cloneRecoveryOracle))

  // multi-probe variant: queries also probe the nPlanes one-bit-flip
  // buckets (recall knob without extra tables; recall ≥ single-probe
  // pinned in SimilaritySpec). The exact bucket is always probed, so
  // clone recovery stays a guarantee under multi-probe.
  private val lshTopKMp = GraftQuery(
    "q_embedding_lsh_mp",
    (s, d) => cloneRecovery(s, d,
      Similarity.lshTopK(
        plantedCorpus(s, d), queryVectors(s, d), k = 3, nPlanes = 6,
        probeHamming = 1)),
    Some(cloneRecoveryOracle))

  // ---- embedding near-dup detection on planted clones ----------------
  // COUNT oracle (round 8): each planted clone is an EXACT copy, so it
  // lands in the same hyperplane bucket as its original by construction
  // (identical vector ⇒ identical plane signs) and scores cosine 1 —
  // the clone-pair count must equal the corpus size, SQL-decidable even
  // though the xxhash plane geometry is not. A bucket leak, broken
  // offset, or cosine regression drops n_clone_pairs and fails the hash.
  private val embDedup = GraftQuery(
    "q_dedup_embedding",
    (s, d) => {
      val e = embeddings(s, d)
        .select(col("vec_id"), col("embedding"))
      val doubled = e.unionByName(
        e.select((col("vec_id") + 1000000L).as("vec_id"), col("embedding")))
      val withB = doubled.select(
        col("vec_id"),
        Similarity.asDouble(col("embedding")).as("v"),
        Similarity.hyperplaneBucket(col("embedding"), nPlanes = 8).as("bucket"))
      val l = withB.select(col("bucket"), col("vec_id").as("a"), col("v").as("va"))
      val r = withB.select(col("bucket"), col("vec_id").as("b"), col("v").as("vb"))
      val pairs = l.join(r, Seq("bucket"))
        .filter(col("a") < col("b"))
        .withColumn("cos", Similarity.cosine(col("va"), col("vb")))
        .filter(col("cos") > 0.999999)
        .select(col("a"), col("b"))
      val expected = e.agg(count(lit(1)).as("n_planted"))
      val found = pairs.agg(
        sum(when(col("b") === col("a") + 1000000L, 1L).otherwise(0L))
          .as("n_clone_pairs"))
      expected.crossJoin(found).select(
        col("n_planted"), col("n_clone_pairs"),
        (col("n_planted") === col("n_clone_pairs")).as("all_found"))
    },
    Some("""SELECT COUNT(*) AS n_planted, COUNT(*) AS n_clone_pairs,
              TRUE AS all_found
            FROM embeddings"""))

  // ---- embedding-cosine near-dup with a planted-recall oracle --------
  // Each corpus vector gets a barely-perturbed clone (cosine ≈ 1 − 1e-9,
  // far inside the 0.999 threshold); the multi-table LSH pipeline must
  // recover EVERY planted pair — n_found == n_planted is decidable in
  // SQL even though the xxhash plane geometry is not. A recall
  // regression (dropped table, broken offset, bucket leak) flips
  // all_found and fails the hash.
  private val embNearDup = GraftQuery(
    "q_embedding_neardup",
    (s, d) => {
      val e = embeddings(s, d).select(col("vec_id"),
        Similarity.asDouble(col("embedding")).as("embedding"))
      val clones = e.select(
        (col("vec_id") + 1000000L).as("vec_id"),
        transform(col("embedding"),
          (x, i) => when(i === 0, x * 1.0001 + 0.0001).otherwise(x))
          .as("embedding"))
      val pairs = Similarity.cosineNearDupPairs(
        e.unionByName(clones), minCosine = 0.999)
      val expected = e.agg(count(lit(1)).as("n_planted"))
      val found = pairs.agg(
        sum(when(col("b") === col("a") + 1000000L, 1L).otherwise(0L))
          .as("n_found"))
      expected.crossJoin(found).select(
        col("n_planted"), col("n_found"),
        (col("n_planted") === col("n_found")).as("all_found"))
    },
    Some("""SELECT COUNT(*) AS n_planted, COUNT(*) AS n_found,
              TRUE AS all_found
            FROM embeddings"""),
    headline = true)

  // ---- IVF coarse-quantized ANN at its operating point (nProbe = 4 of
  //      16): same planted-recovery oracle — the clone's cell is the
  //      query's own nearest cell, always first in the probe list ------
  private val ivfTopK = GraftQuery(
    "q_embedding_ivf",
    (s, d) => cloneRecovery(s, d,
      Similarity.ivfTopK(
        plantedCorpus(s, d), queryVectors(s, d), k = 3, nCells = 16,
        nProbe = 4)),
    Some(cloneRecoveryOracle))

  // ---- IVF at FULL probe == exact brute force (guarantee oracle) -----
  // With nProbe == nCells every cell is probed, so the IVF machinery
  // (assignment, probe selection, within-cell scoring, rank window)
  // must reproduce the exact top-k bit for bit — the same SQL oracle as
  // q_embedding_topk. The unit suite proves this equality against
  // bruteForceTopK; this gate pins it against an independent engine.
  // The approximate operating point (nProbe < nCells) stays rows-only
  // in q_embedding_ivf by nature.
  private val ivfFull = GraftQuery(
    "q_embedding_ivf_full",
    (s, d) =>
      Similarity.ivfTopK(
        embeddings(s, d), queryVectors(s, d), k = 3, nCells = 16, nProbe = 16)
        .orderBy(asc("query_id"), asc("rank")),
    Some(s"""WITH c AS (
               SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v
               FROM embeddings),
             q AS (
               SELECT vec_id AS query_id, v AS q FROM c WHERE vec_id < 3),
             scored AS (
               SELECT q.query_id, c.vec_id AS neighbor_id,
                 $oracleCosine AS cos
               FROM c, q WHERE c.vec_id <> q.query_id),
             ranked AS (
               SELECT query_id, neighbor_id, cos,
                 ROW_NUMBER() OVER (PARTITION BY query_id
                   ORDER BY cos DESC, neighbor_id) AS rank
               FROM scored)
             SELECT query_id, CAST(rank AS INTEGER) AS rank, neighbor_id,
               ROUND(cos, 6) AS cos
             FROM ranked WHERE rank <= 3 ORDER BY query_id, rank"""))

  // ---- hyperplane LSH at FULL probe == exact (guarantee oracle) ------
  // nPlanes = 1 splits the corpus into two buckets; probeHamming = 1
  // probes both, so bucketing + multi-probe expansion + scoring must
  // again equal the exact top-k. Pins the probe/score/rank machinery
  // with an oracle; the real operating points stay rows-only.
  private val lshFull = GraftQuery(
    "q_embedding_lsh_full",
    (s, d) =>
      Similarity.lshTopK(
        embeddings(s, d), queryVectors(s, d), k = 3, nPlanes = 1,
        probeHamming = 1)
        .orderBy(asc("query_id"), asc("rank")),
    Some(s"""WITH c AS (
               SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v
               FROM embeddings),
             q AS (
               SELECT vec_id AS query_id, v AS q FROM c WHERE vec_id < 3),
             scored AS (
               SELECT q.query_id, c.vec_id AS neighbor_id,
                 $oracleCosine AS cos
               FROM c, q WHERE c.vec_id <> q.query_id),
             ranked AS (
               SELECT query_id, neighbor_id, cos,
                 ROW_NUMBER() OVER (PARTITION BY query_id
                   ORDER BY cos DESC, neighbor_id) AS rank
               FROM scored)
             SELECT query_id, CAST(rank AS INTEGER) AS rank, neighbor_id,
               ROUND(cos, 6) AS cos
             FROM ranked WHERE rank <= 3 ORDER BY query_id, rank"""))

  // ---- k-means centroid fit for IVF, guarantee-based oracle ----------
  // Exact centroid values are float-summation-order-sensitive at the
  // last ulp (parallel vs sequential reduction), so they can't be
  // value-oracled — but Lloyd's GUARANTEES can: the spherical objective
  // Σ cos(v, c(v)) is non-decreasing per round, so `monotone` (every
  // step gains ≥ −1e−6; real gains are O(1), ulp noise is ~1e−12) and
  // `improved` (final ≥ seed objective) are exact booleans from the
  // exported objective history, and the centroid frame's shape (k cells,
  // every centroid full-width) is schema arithmetic. All SQL-decidable
  // even though the float geometry is not — same trick as
  // q_embedding_neardup's planted-recall count.
  private val kmeansCentroids = GraftQuery(
    "q_kmeans_centroids",
    (s, d) => {
      val (cents, hist) =
        Similarity.kmeansFitWithHistory(embeddings(s, d), k = 8, maxIter = 3)
      val monotone = hist.sliding(2).forall {
        case Seq(a, b) => b >= a - 1e-6
        case _         => true
      }
      val improved = hist.last >= hist.head - 1e-9
      cents.agg(
          count(lit(1)).as("n_cells"),
          min(size(col("cv"))).cast("long").as("dims_min"),
          max(size(col("cv"))).cast("long").as("dims_max"))
        .withColumn("monotone", lit(monotone))
        .withColumn("improved", lit(improved))
    },
    Some("""SELECT CAST(8 AS BIGINT) AS n_cells,
              MIN(len(embedding)) AS dims_min,
              MAX(len(embedding)) AS dims_max,
              TRUE AS monotone, TRUE AS improved
            FROM embeddings"""))

  // ---- vector norms / normalization (oracle-checked) -----------------
  // L2 norm via the codegen'd vec_dot; per-element normalization shown
  // on the first component (the full normalized array is the same
  // expression under transform).
  private val vectorNorm = GraftQuery(
    "q_vector_norm",
    (s, d) => {
      val v = Similarity.asDouble(col("embedding"))
      embeddings(s, d)
        .select(
          col("vec_id"),
          round(sqrt(Similarity.norm2(v)), 6).as("l2"),
          round(element_at(v, 1) / sqrt(Similarity.norm2(v)), 6).as("u0"))
        .orderBy(asc("vec_id"))
    },
    Some("""WITH e AS (
              SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings)
            SELECT vec_id,
              ROUND(sqrt(list_sum(list_transform(v, x -> x * x))), 6) AS l2,
              ROUND(v[1] / sqrt(list_sum(list_transform(v, x -> x * x))), 6) AS u0
            FROM e ORDER BY vec_id"""))

  // ---- int8 symmetric quantization (storage-scale embeddings) --------
  // scale = max|x|/127; q = round(x/scale). Emits the scale, one probe
  // component, and the max reconstruction error — the standard size/
  // recall trade when shipping 100 TB of vectors. Arrays stay bound
  // columns between steps (interpreted-HOF pitfall).
  private val quantize = GraftQuery(
    "q_embedding_quantize",
    (s, d) => {
      val step1 = embeddings(s, d)
        .select(col("vec_id"), Similarity.asDouble(col("embedding")).as("v"))
        .withColumn("scale",
          array_max(transform(col("v"), x => abs(x))) / 127.0)
      val step2 = step1.withColumn("q",
        transform(col("v"), x => round(x / col("scale"), 0).cast("int")))
      // max_err must be computed BEFORE the select that re-aliases
      // round(scale, 6) AS scale: lateral column alias resolution makes
      // a later col("scale") in the SAME select bind to the rounded
      // sibling, not the child column — which silently shifted every
      // reconstruction error by up to q·5e-7 (caught by the oracle).
      val step3 = step2.withColumn("err",
        array_max(zip_with(col("v"), col("q"),
          (x, qq) => abs(x - qq * col("scale")))))
      step3.select(
          col("vec_id"), round(col("scale"), 6).as("scale"),
          element_at(col("q"), 1).as("q0"),
          round(col("err"), 6).as("max_err"))
        .orderBy(asc("vec_id"))
    },
    Some("""WITH e AS (
              SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
            s1 AS (
              SELECT vec_id, v,
                list_max(list_transform(v, x -> abs(x))) / 127.0 AS scale
              FROM e),
            s2 AS (
              SELECT vec_id, v, scale,
                list_transform(v, x -> CAST(round(x / scale, 0) AS INTEGER)) AS q
              FROM s1)
            SELECT vec_id, ROUND(scale, 6) AS scale, q[1] AS q0,
              ROUND(list_max(list_transform(list_zip(v, q),
                p -> abs(p[1] - p[2] * scale))), 6) AS max_err
            FROM s2 ORDER BY vec_id"""))

  // ---- SemDeDup: semantic dedup within coarse cells ------------------
  // Exact float clones of every 20th vector are planted in-query
  // (vec_id + 100000): each clone shares its source's sign cell and has
  // cosine exactly 1, so it MUST drop (the lower-id source kept); the
  // oracle restates cells, the maxCell guard, and the rounded-cosine
  // threshold, so any natural ≥ tau pair is pinned too.
  private val semanticDedup = GraftQuery(
    "q_semantic_dedup",
    (s, d) => {
      val base = embeddings(s, d).select(col("vec_id"), col("embedding"))
      val clones = embeddings(s, d).filter(col("vec_id") % 20 === 0)
        .select((col("vec_id") + 100000L).as("vec_id"), col("embedding"))
      graft.operators.SemDedup.semanticDedup(
          base.unionByName(clones), "vec_id", "embedding",
          signBits = 4, tau = 0.95)
        .orderBy(asc("vec_id"))
    },
    Some("""WITH corpus AS (
              SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v
              FROM embeddings
              UNION ALL
              SELECT vec_id + 100000 AS vec_id,
                CAST(embedding AS DOUBLE[]) AS v
              FROM embeddings WHERE vec_id % 20 = 0),
            t AS (
              SELECT vec_id, v,
                (CASE WHEN v[1] > 0 THEN 1 ELSE 0 END)
                + (CASE WHEN v[2] > 0 THEN 2 ELSE 0 END)
                + (CASE WHEN v[3] > 0 THEN 4 ELSE 0 END)
                + (CASE WHEN v[4] > 0 THEN 8 ELSE 0 END) AS cell
              FROM corpus),
            sizes AS (SELECT cell, COUNT(*) AS cn FROM t GROUP BY 1),
            e AS (
              SELECT t.* FROM t JOIN sizes USING (cell)
              WHERE cn <= 10000),
            drops AS (
              SELECT DISTINCT b.vec_id
              FROM e a JOIN e b USING (cell)
              WHERE a.vec_id < b.vec_id
                AND ROUND(
                  list_sum(list_transform(list_zip(a.v, b.v),
                    x -> x[1] * x[2])) /
                  sqrt(list_sum(list_transform(a.v, x -> x * x)) *
                       list_sum(list_transform(b.v, x -> x * x))),
                  6) >= 0.95)
            SELECT t.vec_id, t.cell,
              (t.vec_id IN (SELECT vec_id FROM drops)) AS dropped
            FROM t ORDER BY t.vec_id"""),
    headline = true)

  // ---- deterministic JL random projection (Achlioptas ±1) ------------
  // The dimensionality-reduction member of the similarity family:
  // project 64-dim embeddings to an 8-dim sketch with a ±1 sign matrix
  // fixed at PLAN time from md5 (Similarity.projectionSigns) — the
  // matrix is a literal in BOTH plans, so the oracle replays every
  // output coordinate to full rounded equality (no RNG, no xxhash
  // dependency). E‖y−y′‖² = ‖x−x′‖² makes the sketch the cheap
  // distance pre-filter at 100 TB: shuffle 8 doubles instead of 64
  // floats, then verify survivors with exact cosine (the
  // estimate-then-verify discipline every dedup operator here uses).
  // Each output dim is one codegen vec_dot against a literal row.
  private val randomProjQ = {
    val signs = Similarity.projectionSigns(inDim = 64, outDim = 8)
    val sqrtM = math.sqrt(8.0)
    GraftQuery(
      "q_random_projection",
      (s, d) => {
        val proj = Similarity.randomProjection(
          embeddings(s, d).select(col("vec_id"), col("embedding")),
          "embedding", inDim = 64, outDim = 8)
        proj.select(col("vec_id") +:
          (0 until 8).map(j => round(col(s"p$j"), 6).as(s"p$j")): _*)
          .orderBy(asc("vec_id"))
      },
      Some {
        val mat = signs.map(_.map(v =>
          if (v > 0) "1.0" else "-1.0").mkString("[", ", ", "]"))
          .mkString("[", ", ", "]")
        val cols = (0 until 8).map { j =>
          s"""ROUND(list_sum(list_transform(generate_series(1, 64),
              i -> v[i] * m[${j + 1}][i])) / $sqrtM, 6) AS p${j}"""
        }.mkString(", ")
        s"""WITH c AS (
              SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v,
                $mat AS m
              FROM embeddings)
            SELECT vec_id, $cols FROM c ORDER BY vec_id"""
      })
  }

  // ---- product quantization: encode replay (full value oracle) -------
  // PQ codes with the DETERMINISTIC seed codebooks (subvectors of the
  // first ksub ids — the ivfAssign stand-in convention): the entire
  // normalize → slice → argmin-L2 encode is relational algebra DuckDB
  // replays exactly, so the 8 one-byte codes per vector AND the total
  // squared quantization error are value-oracled — no planted bound
  // needed. qerr folds in subspace order (not group-SUM order) so the
  // double is bit-identical across engines.
  private val pqCodes = GraftQuery(
    "q_pq_codes",
    (s, d) => {
      val e = embeddings(s, d).select(col("vec_id"), col("embedding"))
      graft.operators.Pq.encode(
          e, graft.operators.Pq.seedCodebooks(e, m = 8, ksub = 16), m = 8)
        .select(col("pq_id").as("vec_id"),
          concat_ws(",", transform(col("codes"), c => c.cast("string")))
            .as("codes_str"),
          round(col("qerr"), 6).as("qerr"))
        .orderBy(asc("vec_id"))
    },
    Some("""WITH e AS (
              SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
            n AS (
              SELECT vec_id, list_transform(v, x -> x / nrm) AS nv
              FROM (SELECT vec_id, v,
                      sqrt(list_sum(list_transform(v, x -> x * x))) AS nrm
                    FROM e)),
            subs AS (
              SELECT vec_id, s.sub, nv[s.sub * 8 + 1 : s.sub * 8 + 8] AS sv
              FROM n CROSS JOIN
                (SELECT UNNEST(generate_series(0, 7)) AS sub) s),
            cb AS (
              SELECT sub, CAST(vec_id AS INTEGER) AS code, sv AS cv
              FROM subs WHERE vec_id < 16),
            dist AS (
              SELECT a.vec_id, a.sub, c.code,
                list_sum(list_transform(list_zip(a.sv, c.cv),
                  p -> (p[1] - p[2]) * (p[1] - p[2]))) AS d
              FROM subs a JOIN cb c USING (sub)),
            best AS (
              SELECT vec_id, sub, code, d FROM (
                SELECT vec_id, sub, code, d,
                  ROW_NUMBER() OVER (PARTITION BY vec_id, sub
                    ORDER BY d, code) AS rn
                FROM dist) WHERE rn = 1)
            SELECT vec_id,
              string_agg(CAST(code AS VARCHAR), ',' ORDER BY sub) AS codes_str,
              ROUND(list_sum(list(d ORDER BY sub)), 6) AS qerr
            FROM best GROUP BY vec_id ORDER BY vec_id"""))

  // ---- IVF-PQ top-k: the WHOLE approximate pipeline value-oracled ----
  // Asymmetric-distance ANN over 8-byte codes (64x less probe payload
  // than float64 vectors — the 100 TB memory point). With seed
  // codebooks and seed IVF centroids every stage is deterministic
  // relational algebra: DuckDB replays assignment, encode, probe
  // selection, the per-query lookup table, and the sub-ordered ADC fold
  // to full value equality ON THE APPROXIMATE SCORES — a stronger gate
  // than the clone-recovery bound (which ADC cannot guarantee anyway:
  // argmin-L2 codes need not argmax the dot). Trained codebooks
  // (Lloyd) are the production path, recall-pinned in PqSpec.
  private val ivfPq = GraftQuery(
    "q_embedding_ivfpq",
    (s, d) =>
      graft.operators.Pq.ivfPqTopK(
          embeddings(s, d), queryVectors(s, d), k = 3,
          nCells = 16, nProbe = 4, m = 8, ksub = 16)
        .orderBy(asc("query_id"), asc("rank")),
    Some(ivfPqOracleSql))

  // ---- IVF-PQ from a STORED index (build → save → load → answer) -----
  // The build-once/answer-forever lifecycle: the index (centroids,
  // codebooks, one-byte codes — each parquet table version-stamped with
  // layout+geometry, rejected loudly on mismatch) is written and read
  // back INSIDE the gate, and queries are answered from the stored
  // tables with no corpus access. Same oracle as q_embedding_ivfpq:
  // the stored path must be answer-identical to the direct one (also
  // spec-pinned, with append-only growth, in PqIndexSpec).
  private val ivfPqStored = GraftQuery(
    "q_ivfpq_stored",
    (s, d) => {
      val path = s"${GateStates.dir}/" +
        s"ivfpq_${d.replaceAll("[^A-Za-z0-9]", "_")}"
      graft.operators.Pq.saveIndex(embeddings(s, d), path,
        nCells = 16, m = 8, ksub = 16)
      graft.operators.Pq.queryIndex(
          graft.operators.Pq.loadIndex(s, path), queryVectors(s, d),
          k = 3, nProbe = 4)
        .orderBy(asc("query_id"), asc("rank"))
    },
    Some(ivfPqOracleSql))

  // ---- rotation sensitivity: trained OPQ must BEAT raw PQ ------------
  // The gate q_opq_trained cannot see a broken rotation (rerank-200
  // masks it; VERDICT r14 #4). This one can: on the SPECTRAL fixture
  // (decaying latent variance observed through a fixed orthogonal
  // mixer — the Ge et al. 2013 "unbalanced variance" regime, the one
  // corpus shape where a rotation provably has something to win), raw
  // ADC recall is capped by inter-subspace correlation and a trained
  // rotation recovers it. Measured (BASELINE.md *Rotation-gain
  // measurements*, round 15; rho = 0.95):
  // identity/none/Givens all read 0.53 / 0.54 / 0.355 at
  // sf0.001/0.01/0.1 while trained reads 0.63 / 0.70 / 0.43 — gain
  // +0.075..+0.16, identical across same-config reps. The gate pins
  // gain ≥ 0.025 (3× cushion under the smallest observed gap): a
  // zero/garbage rotation scores ≈ the raw baseline and fails; Lloyd's
  // run-to-run summation noise does not. Shape facts + booleans (the
  // q_kmeans_centroids convention — a trained rotation has no SQL
  // restatement).
  private val opqRotationGain = GraftQuery(
    "q_opq_rotation_gain",
    (s, d) => {
      val c = graft.Tables.spectralEmbeddings(s, d, rho = 0.95)
        .localCheckpoint(true)
      val qs = c.filter(col("vec_id") % 25 === 11 && col("vec_id") < 1000)
        .select(col("vec_id").as("query_id"),
          col("embedding").as("query_vec"))
        .localCheckpoint(true)
      val exact = Similarity.bruteForceTopK(c, qs, k = 5)
        .select(col("query_id"), col("neighbor_id"))
      def recallOf(df: org.apache.spark.sql.DataFrame): Double = {
        val hits = exact.join(
            df.select(col("query_id"), col("neighbor_id")),
            Seq("query_id", "neighbor_id"), "left_semi")
          .agg(count(lit(1))).head().getLong(0)
        val nex = exact.agg(count(lit(1))).head().getLong(0)
        hits.toDouble / nex
      }
      val raw = recallOf(graft.operators.Pq.ivfPqTopK(c, qs, k = 5,
        nCells = 16, nProbe = 16, m = 16, ksub = 16, trainIters = 3))
      val (r, _, _) = graft.operators.Opq.opqTrain(c, m = 16, ksub = 16,
        outerIters = 2, lloydIters = 2)
      val trained = recallOf(graft.operators.Opq.opqTopK(c, qs, r, k = 5,
        nCells = 16, nProbe = 16, m = 16, ksub = 16, trainIters = 3))
      // the KEEP side of the round-16 acceptance guard: on the one
      // geometry where rotation provably wins (gap ≥ +0.16 on this
      // fixture's own holdout — 3× the q_opq_accept tolerance), the
      // acceptance must NOT discard the trained rotation. Together
      // with q_opq_accept (the reject side, anisotropic fixture) this
      // pins both acceptance outcomes against measured geometry.
      val acc = graft.operators.Opq.acceptRotation(c, r, k = 5,
        nCells = 16, nProbe = 16, m = 16, ksub = 16, trainIters = 3,
        maxHoldout = 100L)
      qs.agg(count(lit(1)).as("n_queries"))
        .select(col("n_queries"),
          lit(trained > raw).as("trained_beats_raw"),
          lit(trained - raw >= 0.025).as("rotation_gain_ok"),
          lit(acc.chosen == "trained").as("accept_keeps_trained"))
    },
    Some("""SELECT CAST(COUNT(*) AS BIGINT) AS n_queries,
              TRUE AS trained_beats_raw, TRUE AS rotation_gain_ok,
              TRUE AS accept_keeps_trained
            FROM embeddings
            WHERE vec_id % 25 = 11 AND vec_id < 1000"""))

  // ---- rotation ACCEPTANCE: a trained rotation must never ship if it
  // loses to not-rotating (VERDICT r15 #2). The anisotropic fixture is
  // the adversarial geometry: cluster-residual structure where the
  // Procrustes objective (reconstruction) trades top-5 recall away —
  // measured 0.140 raw vs 0.080 trained at sf0.01 (BASELINE.md
  // rotation-gain table). opqTrainAccepted scores held-out ADC recall
  // under trained vs identity and returns the winner, so on THIS
  // corpus the accepted rotation's independently-measured recall must
  // match raw IVF-PQ (identity chosen), while unconditional rotation
  // application — the pre-acceptance behavior — reads ~0.06 below raw
  // and fails the 0.02-tolerance pin. The chosen arm is stamped into
  // the stored index and pinned through a load round-trip. Booleans +
  // corpus count (the q_kmeans_centroids convention — recalls are
  // Lloyd-noise-scaled, not SQL-stable).
  private val opqAccept = GraftQuery(
    "q_opq_accept",
    (s, d) => {
      val c = graft.Tables.anisotropicEmbeddings(s, d).localCheckpoint(true)
      val qs = c.filter(col("vec_id") % 25 === 11 && col("vec_id") < 1000)
        .select(col("vec_id").as("query_id"),
          col("embedding").as("query_vec"))
        .localCheckpoint(true)
      val exact = Similarity.bruteForceTopK(c, qs, k = 5)
        .select(col("query_id"), col("neighbor_id")).localCheckpoint(true)
      val nExact = exact.count()
      def recallOf(df: org.apache.spark.sql.DataFrame): Double =
        exact.join(df.select(col("query_id"), col("neighbor_id")),
            Seq("query_id", "neighbor_id"), "left_semi")
          .count().toDouble / nExact
      val acc = graft.operators.Opq.opqTrainAccepted(c, m = 16, ksub = 16,
        outerIters = 2, lloydIters = 2, k = 5, nCells = 16, nProbe = 16,
        trainIters = 3, residual = true, maxHoldout = 200L)
      // independent measurements with the gate's own queries — removing
      // the acceptance step (always-trained) fails here on exactly the
      // geometry it exists for
      val raw = recallOf(graft.operators.Pq.ivfPqTopK(c, qs, k = 5,
        nCells = 16, nProbe = 16, m = 16, ksub = 16, trainIters = 3,
        residual = true))
      val accepted = recallOf(graft.operators.Opq.opqTopK(c, qs,
        acc.rotation, k = 5, nCells = 16, nProbe = 16, m = 16, ksub = 16,
        trainIters = 3, residual = true))
      val path = s"${GateStates.dir}/" +
        s"opqaccept_${d.replaceAll("[^A-Za-z0-9]", "_")}"
      graft.operators.Opq.saveIndex(c, path, acc.rotation, nCells = 16,
        m = 16, ksub = 16, trainIters = 3, residual = true,
        chosen = acc.chosen)
      val stamped = graft.operators.Opq.loadIndex(s, path).chosen
      c.agg(count(lit(1)).as("n_vectors"))
        .select(col("n_vectors"),
          lit(accepted >= raw - 0.02).as("accept_guards_recall"),
          lit(stamped.contains(acc.chosen)).as("chosen_stamped"))
    },
    Some("""SELECT CAST((SELECT COUNT(*) FROM embeddings) AS BIGINT)
              AS n_vectors,
            TRUE AS accept_guards_recall, TRUE AS chosen_stamped"""))

  // ---- stored-index removal (retraction / GDPR-delete) ---------------
  // q_ivfpq_stored's lifecycle plus removeVectors: every vec_id % 50 ==
  // 37 row is retracted, then queries answer from the pruned codes.
  // Scoring is per-code-row and the removed ids sit past the seed
  // window (<16 seeds cells AND codebooks), so remove == rebuild over
  // the difference EXACTLY — the oracle is the ivfPq value oracle with
  // the corpus CTE filtered to the survivors. A removal that left rows
  // behind answers with retracted neighbors; one that dropped extra
  // rows changes ranks — either fails the hash.
  private val ivfPqRemoved = GraftQuery(
    "q_ivfpq_removed",
    (s, d) => {
      val path = s"${GateStates.dir}/" +
        s"ivfpqrm_${d.replaceAll("[^A-Za-z0-9]", "_")}"
      graft.operators.Pq.saveIndex(embeddings(s, d), path,
        nCells = 16, m = 8, ksub = 16)
      graft.operators.Pq.removeVectors(s, path,
        embeddings(s, d).select(col("vec_id"))
          .filter(col("vec_id") % 50 === 37))
      graft.operators.Pq.queryIndex(
          graft.operators.Pq.loadIndex(s, path), queryVectors(s, d),
          k = 3, nProbe = 4)
        .orderBy(asc("query_id"), asc("rank"))
    },
    Some(ivfPqOracleSqlFrom(
      """e AS (
               SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v
               FROM embeddings WHERE vec_id % 50 <> 37)""")))

  // ---- residual IVF-PQ: the full Jégou IVF-ADC construction ---------
  // Codes quantize rv = nv − ĉ(cell) instead of nv itself, and ADC
  // decomposes as dot(qn, ĉ) + Σ_sub lut[code] — the first term exact
  // per (query, cell), the second spending the whole (m, ksub) budget
  // on what the coarse quantizer did NOT explain. Same seed
  // conventions ⇒ the whole pipeline (assignment, residuals, residual
  // codebooks, argmin, probe csim, LUT, fold) stays deterministic
  // relational algebra with a FULL value oracle on the scores.
  // Residual-vs-raw quantization error is pinned in PqSpec.
  private val ivfPqResidual = GraftQuery(
    "q_ivfpq_residual",
    (s, d) =>
      graft.operators.Pq.ivfPqTopK(
          embeddings(s, d), queryVectors(s, d), k = 3,
          nCells = 16, nProbe = 4, m = 8, ksub = 16, residual = true)
        .orderBy(asc("query_id"), asc("rank")),
    Some("""WITH e AS (
               SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
             n AS (
               SELECT vec_id, list_transform(v, x -> x / nrm) AS nv
               FROM (SELECT vec_id, v,
                       sqrt(list_sum(list_transform(v, x -> x * x))) AS nrm
                     FROM e)),
             cents AS (
               SELECT vec_id AS cell, v AS cv FROM e WHERE vec_id < 16),
             asg AS (
               SELECT vec_id, cell FROM (
                 SELECT e.vec_id, c.cell,
                   ROW_NUMBER() OVER (PARTITION BY e.vec_id ORDER BY
                     list_sum(list_transform(list_zip(e.v, c.cv),
                       p -> p[1] * p[2])) /
                     sqrt(list_sum(list_transform(e.v, x -> x * x)) *
                          list_sum(list_transform(c.cv, x -> x * x))) DESC,
                     c.cell) AS rn
                 FROM e CROSS JOIN cents c) WHERE rn = 1),
             rv AS (
               SELECT a.vec_id, a.cell,
                 list_transform(list_zip(nn.nv, cn.nv),
                   p -> p[1] - p[2]) AS rv
               FROM asg a
               JOIN n nn ON nn.vec_id = a.vec_id
               JOIN n cn ON cn.vec_id = a.cell),
             rsubs AS (
               SELECT vec_id, s.sub, rv[s.sub * 8 + 1 : s.sub * 8 + 8] AS sv
               FROM rv CROSS JOIN
                 (SELECT UNNEST(generate_series(0, 7)) AS sub) s),
             rcb AS (
               SELECT sub, CAST(vec_id - 16 AS INTEGER) AS code, sv AS cv
               FROM rsubs WHERE vec_id >= 16 AND vec_id < 32),
             dist AS (
               SELECT a.vec_id, a.sub, c.code,
                 list_sum(list_transform(list_zip(a.sv, c.cv),
                   p -> (p[1] - p[2]) * (p[1] - p[2]))) AS d
               FROM rsubs a JOIN rcb c USING (sub)),
             codes AS (
               SELECT vec_id, sub, code FROM (
                 SELECT vec_id, sub, code,
                   ROW_NUMBER() OVER (PARTITION BY vec_id, sub
                     ORDER BY d, code) AS rn
                 FROM dist) WHERE rn = 1),
             q AS (SELECT vec_id AS query_id, v FROM e WHERE vec_id < 3),
             probes AS (
               SELECT query_id, cell, csim FROM (
                 SELECT query_id, cell, csim,
                   ROW_NUMBER() OVER (PARTITION BY query_id
                     ORDER BY csim DESC, cell) AS rn
                 FROM (
                   SELECT q.query_id, c.cell,
                     list_sum(list_transform(list_zip(q.v, c.cv),
                       p -> p[1] * p[2])) /
                     sqrt(list_sum(list_transform(q.v, x -> x * x)) *
                          list_sum(list_transform(c.cv, x -> x * x))) AS csim
                   FROM q CROSS JOIN cents c)) WHERE rn <= 4),
             qsubs AS (
               SELECT q.query_id, s.sub,
                 n.nv[s.sub * 8 + 1 : s.sub * 8 + 8] AS qsv
               FROM q JOIN n ON n.vec_id = q.query_id
               CROSS JOIN (SELECT UNNEST(generate_series(0, 7)) AS sub) s),
             lut AS (
               SELECT qs.query_id, cb.sub, cb.code,
                 list_sum(list_transform(list_zip(qs.qsv, cb.cv),
                   p -> p[1] * p[2])) AS pdot
               FROM qsubs qs JOIN rcb cb ON cb.sub = qs.sub),
             score AS (
               SELECT p.query_id, r.vec_id AS neighbor_id,
                 p.csim + list_sum(list(l.pdot ORDER BY l.sub)) AS adc
               FROM probes p
               JOIN rv r ON r.cell = p.cell
               JOIN codes b ON b.vec_id = r.vec_id
               JOIN lut l ON l.query_id = p.query_id
                 AND l.sub = b.sub AND l.code = b.code
               WHERE r.vec_id <> p.query_id
               GROUP BY p.query_id, r.vec_id, p.csim),
             ranked AS (
               SELECT query_id, neighbor_id, adc,
                 ROW_NUMBER() OVER (PARTITION BY query_id
                   ORDER BY adc DESC, neighbor_id) AS rank
               FROM score)
             SELECT query_id, CAST(rank AS INTEGER) AS rank, neighbor_id,
               ROUND(adc, 6) AS adc
             FROM ranked WHERE rank <= 3 ORDER BY query_id, rank"""))

  // ---- two-stage retrieval: ADC shortlist + exact-cosine re-rank ----
  // The production recipe: codes prune the corpus to `shortlist`
  // candidates per query, then ONLY those rows fetch full vectors for
  // exact cosine. Seed geometry keeps every stage value-replayable —
  // the oracle carries the raw-ADC pipeline through the shortlist
  // window, joins the original vectors back, and re-ranks on exact
  // cosine. Recall ≥ plain ADC by construction (PqSpec pins it vs
  // brute force, and full-shortlist == exact-over-probes).
  private val ivfPqRerankQ = GraftQuery(
    "q_ivfpq_rerank",
    (s, d) =>
      graft.operators.Pq.ivfPqRerank(
          embeddings(s, d), queryVectors(s, d), k = 3, shortlist = 8,
          nCells = 16, nProbe = 4, m = 8, ksub = 16)
        .orderBy(asc("query_id"), asc("rank")),
    Some(s"""WITH e AS (
               SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
             n AS (
               SELECT vec_id, list_transform(v, x -> x / nrm) AS nv
               FROM (SELECT vec_id, v,
                       sqrt(list_sum(list_transform(v, x -> x * x))) AS nrm
                     FROM e)),
             subs AS (
               SELECT vec_id, s.sub, nv[s.sub * 8 + 1 : s.sub * 8 + 8] AS sv
               FROM n CROSS JOIN
                 (SELECT UNNEST(generate_series(0, 7)) AS sub) s),
             cb AS (
               SELECT sub, CAST(vec_id AS INTEGER) AS code, sv AS cv
               FROM subs WHERE vec_id < 16),
             dist AS (
               SELECT a.vec_id, a.sub, c.code,
                 list_sum(list_transform(list_zip(a.sv, c.cv),
                   p -> (p[1] - p[2]) * (p[1] - p[2]))) AS d
               FROM subs a JOIN cb c USING (sub)),
             codes AS (
               SELECT vec_id, sub, code FROM (
                 SELECT vec_id, sub, code,
                   ROW_NUMBER() OVER (PARTITION BY vec_id, sub
                     ORDER BY d, code) AS rn
                 FROM dist) WHERE rn = 1),
             cents AS (
               SELECT vec_id AS cell, v AS cv FROM e WHERE vec_id < 16),
             asg AS (
               SELECT vec_id, cell FROM (
                 SELECT e.vec_id, c.cell,
                   ROW_NUMBER() OVER (PARTITION BY e.vec_id ORDER BY
                     list_sum(list_transform(list_zip(e.v, c.cv),
                       p -> p[1] * p[2])) /
                     sqrt(list_sum(list_transform(e.v, x -> x * x)) *
                          list_sum(list_transform(c.cv, x -> x * x))) DESC,
                     c.cell) AS rn
                 FROM e CROSS JOIN cents c) WHERE rn = 1),
             q AS (SELECT vec_id AS query_id, v FROM e WHERE vec_id < 3),
             probes AS (
               SELECT query_id, cell FROM (
                 SELECT q.query_id, c.cell,
                   ROW_NUMBER() OVER (PARTITION BY q.query_id ORDER BY
                     list_sum(list_transform(list_zip(q.v, c.cv),
                       p -> p[1] * p[2])) /
                     sqrt(list_sum(list_transform(q.v, x -> x * x)) *
                          list_sum(list_transform(c.cv, x -> x * x))) DESC,
                     c.cell) AS rn
                 FROM q CROSS JOIN cents c) WHERE rn <= 4),
             qsubs AS (
               SELECT q.query_id, s.sub,
                 n.nv[s.sub * 8 + 1 : s.sub * 8 + 8] AS qsv
               FROM q JOIN n ON n.vec_id = q.query_id
               CROSS JOIN (SELECT UNNEST(generate_series(0, 7)) AS sub) s),
             lut AS (
               SELECT qs.query_id, cb.sub, cb.code,
                 list_sum(list_transform(list_zip(qs.qsv, cb.cv),
                   p -> p[1] * p[2])) AS pdot
               FROM qsubs qs JOIN cb ON cb.sub = qs.sub),
             score AS (
               SELECT p.query_id, a.vec_id AS neighbor_id,
                 list_sum(list(l.pdot ORDER BY l.sub)) AS adc
               FROM probes p
               JOIN asg a ON a.cell = p.cell
               JOIN codes b ON b.vec_id = a.vec_id
               JOIN lut l ON l.query_id = p.query_id
                 AND l.sub = b.sub AND l.code = b.code
               WHERE a.vec_id <> p.query_id
               GROUP BY 1, 2),
             shortlist AS (
               SELECT query_id, neighbor_id FROM (
                 SELECT query_id, neighbor_id,
                   ROW_NUMBER() OVER (PARTITION BY query_id
                     ORDER BY adc DESC, neighbor_id) AS rn
                 FROM score) WHERE rn <= 8),
             rer AS (
               SELECT sl.query_id, sl.neighbor_id,
                 $oracleCosine AS cos
               FROM shortlist sl
               JOIN e c ON c.vec_id = sl.neighbor_id
               JOIN (SELECT query_id, v AS q FROM q) q
                 ON q.query_id = sl.query_id),
             ranked AS (
               SELECT query_id, neighbor_id, cos,
                 ROW_NUMBER() OVER (PARTITION BY query_id
                   ORDER BY cos DESC, neighbor_id) AS rank
               FROM rer)
             SELECT query_id, CAST(rank AS INTEGER) AS rank, neighbor_id,
               ROUND(cos, 6) AS cos
             FROM ranked WHERE rank <= 3 ORDER BY query_id, rank"""))

  // ---- cluster-balanced diversity selection -------------------------
  // Cap each embedding-space cluster (ivfAssign cells, deterministic
  // seed centroids) at 40 members kept by (label desc, vec_id) — the
  // topic-diversity analogue of the per-host cap, downstream of
  // SemDeDup in a curation stack. Assignment + window cap replay
  // exactly in SQL; plan is the WindowGroupLimit shape.
  private val clusterBalance = GraftQuery(
    "q_cluster_balance",
    (s, d) =>
      graft.operators.Sampling.clusterBalance(
          embeddings(s, d), nCells = 8, cap = 40,
          ordering = Seq(desc("label"), asc("vec_id")))
        .orderBy(asc("vec_id")),
    Some("""WITH e AS (
              SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS v
              FROM embeddings),
            cents AS (
              SELECT vec_id AS cell, v AS cv FROM e WHERE vec_id < 8),
            asg AS (
              SELECT vec_id, label, cell FROM (
                SELECT e.vec_id, e.label, c.cell,
                  ROW_NUMBER() OVER (PARTITION BY e.vec_id ORDER BY
                    list_sum(list_transform(list_zip(e.v, c.cv),
                      p -> p[1] * p[2])) /
                    sqrt(list_sum(list_transform(e.v, x -> x * x)) *
                         list_sum(list_transform(c.cv, x -> x * x))) DESC,
                    c.cell) AS rn
                FROM e CROSS JOIN cents c) WHERE rn = 1),
            capped AS (
              SELECT vec_id, cell,
                ROW_NUMBER() OVER (PARTITION BY cell
                  ORDER BY label DESC, vec_id) AS rank
              FROM asg)
            SELECT vec_id, cell, CAST(rank AS INTEGER) AS rank
            FROM capped WHERE rank <= 40 ORDER BY vec_id"""))

  /** The IVF-PQ pipeline replay, parameterized on the corpus CTE so the
    * OPQ gate can substitute a ROTATED corpus and reuse every stage
    * (normalize, subspace split, seed codebooks, argmin encode, probe
    * selection, LUT, sub-ordered ADC fold) verbatim.
    */
  private def ivfPqOracleSqlFrom(eCte: String): String =
    s"""WITH $eCte,
             n AS (
               SELECT vec_id, list_transform(v, x -> x / nrm) AS nv
               FROM (SELECT vec_id, v,
                       sqrt(list_sum(list_transform(v, x -> x * x))) AS nrm
                     FROM e)),
             subs AS (
               SELECT vec_id, s.sub, nv[s.sub * 8 + 1 : s.sub * 8 + 8] AS sv
               FROM n CROSS JOIN
                 (SELECT UNNEST(generate_series(0, 7)) AS sub) s),
             cb AS (
               SELECT sub, CAST(vec_id AS INTEGER) AS code, sv AS cv
               FROM subs WHERE vec_id < 16),
             dist AS (
               SELECT a.vec_id, a.sub, c.code,
                 list_sum(list_transform(list_zip(a.sv, c.cv),
                   p -> (p[1] - p[2]) * (p[1] - p[2]))) AS d
               FROM subs a JOIN cb c USING (sub)),
             codes AS (
               SELECT vec_id, sub, code FROM (
                 SELECT vec_id, sub, code,
                   ROW_NUMBER() OVER (PARTITION BY vec_id, sub
                     ORDER BY d, code) AS rn
                 FROM dist) WHERE rn = 1),
             cents AS (
               SELECT vec_id AS cell, v AS cv FROM e WHERE vec_id < 16),
             asg AS (
               SELECT vec_id, cell FROM (
                 SELECT e.vec_id, c.cell,
                   ROW_NUMBER() OVER (PARTITION BY e.vec_id ORDER BY
                     list_sum(list_transform(list_zip(e.v, c.cv),
                       p -> p[1] * p[2])) /
                     sqrt(list_sum(list_transform(e.v, x -> x * x)) *
                          list_sum(list_transform(c.cv, x -> x * x))) DESC,
                     c.cell) AS rn
                 FROM e CROSS JOIN cents c) WHERE rn = 1),
             q AS (SELECT vec_id AS query_id, v FROM e WHERE vec_id < 3),
             probes AS (
               SELECT query_id, cell FROM (
                 SELECT q.query_id, c.cell,
                   ROW_NUMBER() OVER (PARTITION BY q.query_id ORDER BY
                     list_sum(list_transform(list_zip(q.v, c.cv),
                       p -> p[1] * p[2])) /
                     sqrt(list_sum(list_transform(q.v, x -> x * x)) *
                          list_sum(list_transform(c.cv, x -> x * x))) DESC,
                     c.cell) AS rn
                 FROM q CROSS JOIN cents c) WHERE rn <= 4),
             qsubs AS (
               SELECT q.query_id, s.sub,
                 n.nv[s.sub * 8 + 1 : s.sub * 8 + 8] AS qsv
               FROM q JOIN n ON n.vec_id = q.query_id
               CROSS JOIN (SELECT UNNEST(generate_series(0, 7)) AS sub) s),
             lut AS (
               SELECT qs.query_id, cb.sub, cb.code,
                 list_sum(list_transform(list_zip(qs.qsv, cb.cv),
                   p -> p[1] * p[2])) AS pdot
               FROM qsubs qs JOIN cb ON cb.sub = qs.sub),
             score AS (
               SELECT p.query_id, a.vec_id AS neighbor_id,
                 list_sum(list(l.pdot ORDER BY l.sub)) AS adc
               FROM probes p
               JOIN asg a ON a.cell = p.cell
               JOIN codes b ON b.vec_id = a.vec_id
               JOIN lut l ON l.query_id = p.query_id
                 AND l.sub = b.sub AND l.code = b.code
               WHERE a.vec_id <> p.query_id
               GROUP BY 1, 2),
             ranked AS (
               SELECT query_id, neighbor_id, adc,
                 ROW_NUMBER() OVER (PARTITION BY query_id
                   ORDER BY adc DESC, neighbor_id) AS rank
               FROM score)
             SELECT query_id, CAST(rank AS INTEGER) AS rank, neighbor_id,
               ROUND(adc, 6) AS adc
             FROM ranked WHERE rank <= 3 ORDER BY query_id, rank"""

  private lazy val ivfPqOracleSql: String = ivfPqOracleSqlFrom(
    """e AS (
               SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v
               FROM embeddings)""")

  // ---- OPQ: rotate, then the same IVF-PQ pipeline ---------------------
  // Optimized PQ (Ge et al. 2013) with the FIXED Pythagorean Givens
  // rotation (cos 0.6 / sin 0.8 on disjoint dim pairs — both engines
  // parse identical double literals, and the relational mat-vec's
  // zero terms fold as IEEE-exact +0.0, so the dense Spark fold equals
  // the sparse SQL restatement bit-for-bit). The corpus AND queries
  // rotate, then the whole seed-codebook IVF-PQ pipeline replays
  // unchanged — the same oracle builder with a rotated corpus CTE. The
  // LEARNED rotation (opqTrain: Lloyd ⊕ Procrustes-by-polar-Newton) is
  // the production path, pinned in OpqSpec (monotone qerr, ≥ raw-PQ
  // encode, known-rotation recovery, recall floor on the clustered
  // fixture, stored-index round-trip).
  private val embeddingOpq = GraftQuery(
    "q_embedding_opq",
    (s, d) =>
      graft.operators.Opq.opqTopK(
          embeddings(s, d), queryVectors(s, d),
          graft.operators.Opq.givensRotation(64), k = 3,
          nCells = 16, nProbe = 4, m = 8, ksub = 16)
        .orderBy(asc("query_id"), asc("rank")),
    Some(ivfPqOracleSqlFrom(
      """e0 AS (
               SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v0
               FROM embeddings),
             e AS (
               SELECT vec_id, list_transform(generate_series(1, 64),
                 i -> CASE WHEN (i % 2) = 1
                      THEN 0.6 * v0[i] - 0.8 * v0[i + 1]
                      ELSE 0.8 * v0[i - 1] + 0.6 * v0[i] END) AS v
               FROM e0)""")))

  // ---- trained OPQ, end to end through the stored index ---------------
  // The PRODUCTION OPQ lifecycle in one gate: opqTrainAccepted (Lloyd
  // ⊕ Procrustes alternation + held-out acceptance, round 16) on the
  // clustered fixture → saveIndex with the ACCEPTED rotation and its
  // chosen stamp (residual layout) → loadIndex → queryIndex
  // shortlist → exact rerank against the vector store — the
  // integration seam q_embedding_opq (fixed Givens rotation, full
  // value oracle) cannot see, composed the way ANN ships (ADC
  // shortlist, exact top-k rerank: the q_mrl_rerank/ivfPqRerank
  // deployment shape — queryIndex itself never touches the corpus, so
  // the rerank join IS the "fetch vectors by id" lookup). A trained
  // rotation is deterministic only up to float summation order, so the
  // oracle is the q_kmeans_centroids convention: SQL-decidable shape
  // facts (query count, exactly k rows per query) plus a recall floor
  // against the exact top-k with wide margin. Measured (BASELINE.md
  // *Trained-OPQ gate decomposition*, round 14): plain ADC@5 reads 0.11–0.20 on this fixture at
  // every rotation incl. NONE (within-cluster points are near-ties m=16
  // codes cannot split — the fixture has 35 distinct positions per
  // cluster), while shortlist-200 + exact rerank reads 0.95 triple-SF
  // (shortlist-50 reads 0.55 at sf0.1: exact top-5 there is 5-of-~7
  // IDENTICAL duplicate copies, and an ADC-tie-broken 50-shortlist
  // cannot hold every member of a 250-deep tie group — a wide
  // shortlist/k ratio is the standard answer on tie-dense corpora).
  // Floor 0.7 guards the integration (a wrong rotation, stale stamp,
  // mixed artifact, or broken shortlist collapses rerank recall toward
  // the ADC floor) without flapping on Lloyd's run-to-run summation
  // noise.
  private val opqTrained = GraftQuery(
    "q_opq_trained",
    (s, d) => {
      val path = s"${GateStates.dir}/" +
        s"opq_${d.replaceAll("[^A-Za-z0-9]", "_")}"
      val c = graft.Tables.clusteredEmbeddings(s, d).localCheckpoint(true)
      val qs = c.filter(col("vec_id") % 25 === 11 && col("vec_id") < 1000)
        .select(col("vec_id").as("query_id"), col("embedding").as("query_vec"))
      // the ACCEPTED production trainer (round 16): train → held-out
      // acceptance → identity fallback; on this tie-dense fixture the
      // rotation is recall-neutral under rerank, so either verdict
      // keeps the 0.7 floor — the gate pins the lifecycle composition
      // including the acceptance step and the chosen-stamp save path
      val acc = graft.operators.Opq.opqTrainAccepted(c, m = 16, ksub = 16,
        outerIters = 2, lloydIters = 2, nCells = 16, nProbe = 16,
        trainIters = 3, residual = true, maxHoldout = 200L)
      graft.operators.Opq.saveIndex(c, path, acc.rotation, nCells = 16,
        m = 16, ksub = 16, trainIters = 3, residual = true,
        chosen = acc.chosen)
      val short = graft.operators.Opq.queryIndex(
          graft.operators.Opq.loadIndex(s, path), qs, k = 200, nProbe = 4)
        .select(col("query_id"), col("neighbor_id"))
      val cv = c.select(col("vec_id").as("neighbor_id"),
        Similarity.asDouble(col("embedding")).as("nv"))
      val qv = qs.select(col("query_id"),
        Similarity.asDouble(col("query_vec")).as("qv"))
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("query_id"))
        .orderBy(desc("cos"), asc("neighbor_id"))
      val got = short.join(cv, Seq("neighbor_id")).join(qv, Seq("query_id"))
        .withColumn("cos", Similarity.cosine(col("qv"), col("nv")))
        .withColumn("rank", row_number().over(w))
        .filter(col("rank") <= 5)
        .select(col("query_id"), col("neighbor_id"))
      val exact = Similarity.bruteForceTopK(c, qs, k = 5)
        .select(col("query_id"), col("neighbor_id"))
      val hits = exact.join(got, Seq("query_id", "neighbor_id"), "left_semi")
        .agg(count(lit(1)).as("nhit"))
      val nex = exact.agg(count(lit(1)).as("nex"))
      got.groupBy(col("query_id")).agg(count(lit(1)).as("c"))
        .agg(count(lit(1)).as("n_queries"), sum(col("c")).as("n_results"),
          (min(col("c")) === 5 && max(col("c")) === 5).as("k_ok"))
        .crossJoin(hits).crossJoin(nex)
        .select(col("n_queries"), col("n_results"), col("k_ok"),
          (col("nhit").cast("double") / col("nex") >= 0.7).as("recall_ok"))
    },
    Some("""WITH q AS (
              SELECT COUNT(*) AS nq FROM embeddings
              WHERE vec_id % 25 = 11 AND vec_id < 1000)
            SELECT CAST(nq AS BIGINT) AS n_queries,
              CAST(nq * 5 AS BIGINT) AS n_results,
              TRUE AS k_ok, TRUE AS recall_ok
            FROM q"""))

  // ---- Matryoshka prefix retrieval ------------------------------------
  // Adaptive retrieval under a dimension-truncated representation
  // (Kusupati et al. 2022): q_mrl_topk pins the prefix-16 EXACT search
  // (cosine over v[1:16] — renormalization intrinsic to cosine), and
  // q_mrl_rerank pins the deployment composition: prefix-16 shortlist
  // of 20, full-width exact cosine over the shortlist only. Both fully
  // SQL-replayable (deterministic slices, same cosine building blocks).
  private val oracleCosineTrunc =
    """list_sum(list_transform(list_zip(c.v, q.q), x -> x[1] * x[2])) /
       sqrt(list_sum(list_transform(c.v, x -> x * x)) *
            list_sum(list_transform(q.q, x -> x * x)))"""

  private val mrlTopKQ = GraftQuery(
    "q_mrl_topk",
    (s, d) =>
      Similarity.mrlTopK(embeddings(s, d), queryVectors(s, d),
          k = 3, dims = 16)
        .orderBy(asc("query_id"), asc("rank")),
    Some(s"""WITH c AS (
               SELECT vec_id,
                 CAST(embedding[1:16] AS DOUBLE[]) AS v
               FROM embeddings),
             q AS (
               SELECT vec_id AS query_id, v AS q FROM c WHERE vec_id < 3),
             scored AS (
               SELECT q.query_id, c.vec_id AS neighbor_id,
                 $oracleCosineTrunc AS cos
               FROM c, q WHERE c.vec_id <> q.query_id),
             ranked AS (
               SELECT query_id, neighbor_id, cos,
                 ROW_NUMBER() OVER (PARTITION BY query_id
                   ORDER BY cos DESC, neighbor_id) AS rank
               FROM scored)
             SELECT query_id, CAST(rank AS INTEGER) AS rank, neighbor_id,
               ROUND(cos, 6) AS cos
             FROM ranked WHERE rank <= 3 ORDER BY query_id, rank"""))

  private val mrlRerankQ = GraftQuery(
    "q_mrl_rerank",
    (s, d) =>
      Similarity.mrlRerankTopK(embeddings(s, d), queryVectors(s, d),
          k = 3, dims = 16, shortlist = 20)
        .orderBy(asc("query_id"), asc("rank")),
    Some(s"""WITH full_c AS (
               SELECT vec_id, CAST(embedding AS DOUBLE[]) AS fv
               FROM embeddings),
             c AS (
               SELECT vec_id,
                 CAST(embedding[1:16] AS DOUBLE[]) AS v
               FROM embeddings),
             q AS (
               SELECT vec_id AS query_id, v AS q FROM c WHERE vec_id < 3),
             fq AS (
               SELECT vec_id AS query_id, fv AS q FROM full_c
               WHERE vec_id < 3),
             s1 AS (
               SELECT q.query_id, c.vec_id AS neighbor_id,
                 $oracleCosineTrunc AS cos
               FROM c, q WHERE c.vec_id <> q.query_id),
             short AS (
               SELECT query_id, neighbor_id FROM (
                 SELECT query_id, neighbor_id,
                   ROW_NUMBER() OVER (PARTITION BY query_id
                     ORDER BY cos DESC, neighbor_id) AS rank
                 FROM s1) WHERE rank <= 20),
             s2 AS (
               SELECT sh.query_id, sh.neighbor_id,
                 list_sum(list_transform(list_zip(c.fv, q.q),
                   x -> x[1] * x[2])) /
                 sqrt(list_sum(list_transform(c.fv, x -> x * x)) *
                      list_sum(list_transform(q.q, x -> x * x))) AS cos
               FROM short sh
               JOIN full_c c ON c.vec_id = sh.neighbor_id
               JOIN fq q ON q.query_id = sh.query_id),
             ranked AS (
               SELECT query_id, neighbor_id, cos,
                 ROW_NUMBER() OVER (PARTITION BY query_id
                   ORDER BY cos DESC, neighbor_id) AS rank
               FROM s2)
             SELECT query_id, CAST(rank AS INTEGER) AS rank, neighbor_id,
               ROUND(cos, 6) AS cos
             FROM ranked WHERE rank <= 3 ORDER BY query_id, rank"""))

  override val queries: Seq[GraftQuery] =
    Seq(topK, pairCosine, lshTopK, lshTopKMp, embDedup, embNearDup, ivfTopK,
        ivfFull, lshFull, kmeansCentroids, vectorNorm, quantize,
        semanticDedup, randomProjQ, pqCodes, ivfPq, ivfPqStored,
        ivfPqRemoved, ivfPqResidual, ivfPqRerankQ, embeddingOpq, opqTrained,
        opqRotationGain, opqAccept, clusterBalance, mrlTopKQ, mrlRerankQ)
}
