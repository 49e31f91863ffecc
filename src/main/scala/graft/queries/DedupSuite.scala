package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables._
import graft.operators.Dedup

/** Deduplication operators through the correctness gate.
  *
  * Exact dedup and n-gram Jaccard are fully oracle-checked. The
  * MinHash-LSH and SimHash pipelines hash with xxhash64 (not available
  * in DuckDB), so they are validated on a *planted-duplicate* corpus —
  * the corpus unioned with itself under shifted ids — where identical
  * texts are GUARANTEED to pair (identical signatures share every
  * bucket), making the exact-fingerprint-restricted pair count a
  * SQL-decidable COUNT oracle; the xxhash geometry of the NEAR pairs
  * stays pinned in unit tests.
  */
object DedupSuite extends QuerySuite {

  private val toksSql =
    """list_filter(string_split_regex(trim(text), '\s+'), x -> x <> '')"""

  /** documents ∪ (documents with doc_id + 1,000,000): every text exists
    * exactly twice — ground truth for near-dup pipelines.
    */
  private def planted(s: SparkSession, d: String): DataFrame = {
    val docs = documents(s, d).select(col("doc_id"), col("text"))
    docs.unionByName(
      docs.select((col("doc_id") + 1000000L).as("doc_id"), col("text")))
  }

  /** Stage a gate's STORED setsim state once per (dataDir, plant
    * revision) and return its path — the incremental/percolated gates
    * must benchmark LOAD + PROBE, not a full-corpus saveSets rebuild
    * (VERDICT r14 #1: the first cut called saveSets inside the timed
    * query body, so every bench rep re-shingled and re-wrote the
    * store — the exact work "incremental" exists to avoid — and the
    * headline's wall was setup-dominated, 7.4 s vs 60–68 s excursions
    * on steal-quiet reps). Keyed on path existence + the format stamp
    * loadSets already enforces, with the path DERIVED from a hash of
    * the full staging recipe — the caller's `params` description of
    * its plant, the stored-layout stamp, and the data dir (ADVICE r15:
    * the previous hand-bumped "rN" literal silently benchmarked stale
    * stores whenever the plant changed without a bump; now changing
    * any recipe ingredient changes the path). The base dir is
    * user-scoped ([[GateStates.dir]]). The staging build itself runs
    * AT MOST once per JVM × dataDir — later reps and later gates
    * sharing the plant reuse the files. The staleness probe catches
    * NonFatal only: an OOM or interrupt must propagate, not silently
    * trigger a rebuild.
    */
  private def stagedSetsPath(s: SparkSession, tag: String, params: String,
                             d: String)(build: => DataFrame): String = {
    val recipe =
      s"$tag;$params;${graft.operators.SetSimJoin.SetsFormatStamp};$d"
    val digest = java.security.MessageDigest.getInstance("MD5")
      .digest(recipe.getBytes("UTF-8")).take(6)
      .map("%02x".format(_)).mkString
    val path = s"${GateStates.dir}/" +
      s"${tag}_${digest}_${d.replaceAll("[^A-Za-z0-9]", "_")}"
    val staged =
      try { graft.operators.SetSimJoin.loadSets(s, path); true }
      catch { case scala.util.control.NonFatal(_) => false }
    if (!staged) {
      val fs = new org.apache.hadoop.fs.Path(path)
        .getFileSystem(s.sparkContext.hadoopConfiguration)
      // an UNLOADABLE store at the derived path (no manifest, or a
      // foreign one from a dead build) must not be adopted: left in place it
      // short-circuits the rename below and rethrows the same load
      // error every rep (ADVICE r16) — delete it and rebuild. A store
      // that loads fine never reaches this branch.
      fs.delete(new org.apache.hadoop.fs.Path(path), true)
      // build into a private sibling, then rename into place: two
      // same-user JVMs staging concurrently race only across the
      // metadata rename, not the minutes-long build — the loser
      // detects the winner's store and adopts it (loadSets re-checks
      // the stamp loudly either way)
      val tmp = path + "_build_" +
        java.util.UUID.randomUUID().toString.take(8)
      graft.operators.SetSimJoin.saveSets(build, "doc_id", "shingles", tmp)
      if (fs.exists(new org.apache.hadoop.fs.Path(path)) ||
          !fs.rename(new org.apache.hadoop.fs.Path(tmp),
            new org.apache.hadoop.fs.Path(path))) {
        fs.delete(new org.apache.hadoop.fs.Path(tmp), true)
        graft.operators.SetSimJoin.loadSets(s, path)
      }
    }
    // age == time since last use for GateStates.prune's retention rule
    GateStates.touch(path)
    path
  }

  /** Stage an arbitrary synthesized gate corpus to parquet once per
    * (dataDir, recipe hash) and return its path — the
    * [[stagedSetsPath]] protocol for fixtures that are plain frames
    * rather than setsim stores. A real 10× corpus arrives FROM STORAGE;
    * synthesizing it inside the timed body made runs 1 and 3 of the
    * round-15 bench lose every steal-quiet rep on the 10× headline to
    * setup work (VERDICT r15 plan audit). The path is keyed on a hash
    * of the caller's recipe description, so a changed plant can never
    * read a stale staging; `_SUCCESS` guards half-written stores; the
    * probe catches NonFatal only.
    */
  private def stagedCorpusPath(s: SparkSession, tag: String, params: String,
                               d: String)(build: => DataFrame): String = {
    val recipe = s"$tag;$params;$d"
    val digest = java.security.MessageDigest.getInstance("MD5")
      .digest(recipe.getBytes("UTF-8")).take(6)
      .map("%02x".format(_)).mkString
    val path = s"${GateStates.dir}/" +
      s"${tag}_${digest}_${d.replaceAll("[^A-Za-z0-9]", "_")}"
    val staged =
      try new java.io.File(path, "_SUCCESS").exists &&
        s.read.parquet(path).schema.nonEmpty
      catch { case scala.util.control.NonFatal(_) => false }
    if (!staged) {
      val fs = new org.apache.hadoop.fs.Path(path)
        .getFileSystem(s.sparkContext.hadoopConfiguration)
      // self-heal an unreadable store (no _SUCCESS / empty schema) the
      // stagedSetsPath way: delete it rather than adopt it, so the
      // rename below can land the fresh build (ADVICE r16)
      fs.delete(new org.apache.hadoop.fs.Path(path), true)
      // tmp-build + rename (the stagedSetsPath convention): concurrent
      // same-user JVMs race across a metadata rename, not the build
      val tmp = path + "_build_" +
        java.util.UUID.randomUUID().toString.take(8)
      build.write.mode("overwrite").parquet(tmp)
      if (fs.exists(new org.apache.hadoop.fs.Path(path)) ||
          !fs.rename(new org.apache.hadoop.fs.Path(tmp),
            new org.apache.hadoop.fs.Path(path)))
        fs.delete(new org.apache.hadoop.fs.Path(tmp), true)
    }
    // age == time since last use for GateStates.prune's retention rule
    GateStates.touch(path)
    path
  }

  // ---- exact dedup: hash-groupBy (oracle-checked) --------------------
  private val dedupExact = GraftQuery(
    "q_dedup_exact",
    (s, d) =>
      Dedup.exactGroups(documents(s, d))
        .orderBy(asc("keeper")),
    Some(s"""SELECT md5(array_to_string($toksSql, ' ')) AS text_hash,
               MIN(doc_id) AS keeper, COUNT(*) AS n_dups
             FROM documents GROUP BY 1 ORDER BY keeper"""),
    headline = true)

  // ---- exact dedup: surviving corpus (oracle-checked) ----------------
  private val dedupDrop = GraftQuery(
    "q_dedup_drop",
    (s, d) =>
      Dedup.dropExactDuplicates(planted(s, d))
        .select("doc_id")
        .orderBy(asc("doc_id")),
    Some(s"""WITH corpus AS (
               SELECT doc_id, text FROM documents
               UNION ALL
               SELECT doc_id + 1000000, text FROM documents)
             SELECT MIN(doc_id) AS doc_id FROM corpus
             GROUP BY md5(array_to_string($toksSql, ' '))
             ORDER BY doc_id"""))

  // ---- n-gram (token-set) Jaccard over bounded pairs (oracle-checked) -
  private val ngramJaccard = GraftQuery(
    "q_ngram_jaccard",
    (s, d) => {
      val docs = documents(s, d)
      // proximity pairs via explode-offsets -> equi-join on the candidate
      // id (linear in n·window); joining on source alone would build
      // |group|² intermediate pairs per source before the distance filter
      val a = docs.select(col("source").as("src_a"), col("doc_id").as("a"),
                          col("text").as("ta"))
        .withColumn("b", explode(sequence(col("a") + 1, col("a") + 20)))
      val b = docs.select(col("source").as("src_b"), col("doc_id").as("b"),
                          col("text").as("tb"))
      a.join(b, "b")
        .filter(col("src_a") === col("src_b"))
        .withColumn("jac", Dedup.jaccard(col("ta"), col("tb")))
        .filter(col("jac") > 0.3)
        .select(col("a"), col("b"), round(col("jac"), 6).as("jac"))
        .orderBy(asc("a"), asc("b"))
    },
    Some("""WITH t AS (
              SELECT doc_id, source,
                list_distinct(list_filter(
                  string_split_regex(trim(text), '\s+'), x -> x <> ''))
                  AS toks
              FROM documents),
            pairs AS (
              SELECT a.doc_id AS a, b.doc_id AS b,
                CAST(len(list_intersect(a.toks, b.toks)) AS DOUBLE) /
                CAST(len(list_distinct(a.toks || b.toks)) AS DOUBLE) AS jac
              FROM t a JOIN t b ON a.source = b.source
              WHERE b.doc_id > a.doc_id AND b.doc_id - a.doc_id <= 20)
            SELECT a, b, ROUND(jac, 6) AS jac FROM pairs
            WHERE jac > 0.3 ORDER BY a, b"""))

  // ---- MinHash+LSH near-dup pipeline on planted duplicates -----------
  //      COUNT oracle (round 8; same trick as q_dedup_minhash_sharded):
  //      identical texts are GUARANTEED to pair — identical signature ⇒
  //      same band buckets ⇒ estimate 1 ⇒ exact jaccard 1 — so the LSH
  //      pairs restricted to matching exact fingerprints must equal the
  //      C(k,2) sum over per-content copy counts in the planted corpus,
  //      which is SQL-decidable. An undercount means dropped recall; a
  //      non-1 jaccard on any exact pair means a broken verify. The
  //      xxhash LSH geometry itself (which NEAR pairs surface) stays
  //      pinned by unit tests.
  //      ELIGIBILITY (round 9, mirrored on both sides so the guarantee
  //      is a contract, not a fixture property): contents whose planted
  //      copy count exceeds the operator's maxBucket are dropped BY
  //      DESIGN (the skew guard — q_dedup_skewguard pins that trade
  //      where it binds), and empty-token contents fail exact verify by
  //      convention (jaccard(∅,∅) = 0). Both sides count only contents
  //      with 1 ≤ tokens and k ≤ maxBucket; today's corpora have no
  //      ineligible content, so the restriction is numerically a no-op
  //      — it exists so the gate cannot false-fail on a corpus with
  //      heavy exact duplication or empty docs. (1..k-1-token docs DO
  //      pair: shingling falls back to one whole-array hash.)
  private val minhashPairs = GraftQuery(
    "q_dedup_minhash",
    (s, d) => {
      val p = planted(s, d)
      val fps = p.select(col("doc_id"),
        graft.functions.TextFunctions.exactFingerprint(col("text")).as("fp"),
        size(graft.functions.TextFunctions.tokens(col("text"))).as("ntok"))
      val eligible = fps.groupBy("fp")
        .agg(count(lit(1)).as("k"), min(col("ntok")).as("mintok"))
        .filter(col("k") <= 200 && col("mintok") >= 1)
        .select(col("fp"))
      Dedup.nearDuplicatePairs(p, minJaccard = 0.9)
        .join(fps.select(col("doc_id").as("a"), col("fp").as("fa")), "a")
        .join(fps.select(col("doc_id").as("b"), col("fp").as("fb")), "b")
        .filter(col("fa") === col("fb"))
        .join(eligible.select(col("fp").as("fa")), "fa")
        .agg(count(lit(1)).as("n_exact_pairs"),
             (min(col("jaccard")) === 1.0).as("exact_jac_ok"))
    },
    Some(s"""WITH corpus AS (
               SELECT doc_id, text FROM documents
               UNION ALL
               SELECT doc_id + 1000000, text FROM documents),
             per_content AS (
               SELECT md5(array_to_string($toksSql, ' ')) AS h, COUNT(*) AS k,
                      MIN(len($toksSql)) AS mintok
               FROM corpus GROUP BY h)
             SELECT CAST(SUM(k * (k - 1) / 2) AS BIGINT) AS n_exact_pairs,
                    TRUE AS exact_jac_ok
             FROM per_content WHERE k <= 200 AND mintok >= 1"""),
    headline = true)

  // ---- maxBucket skew guard, measured WHERE IT BINDS (round 9) -------
  //      The guard (Dedup.lshCandidatePairsFromSigs) is the engine's
  //      single most load-bearing 100 TB claim: buckets larger than
  //      maxBucket — pathological boilerplate — are dropped rather than
  //      joined, bounding worst-case pair count at buckets·maxBucket².
  //      Every other gate keeps buckets under the cap, so this one
  //      plants a corpus where the cap OBSERVABLY binds: every doc gets
  //      a boilerplate companion with ONE fixed text, a group of |docs|
  //      ≫ maxBucket=20 identical copies whose every band bucket is
  //      oversized. Both sides of the documented trade are oracled:
  //      (a) recall loss is EXACTLY the oversized groups — contents
  //      with k > maxBucket yield zero pairs (n_dropped_pairs = 0
  //      pairs survive from them), and n_dropped_groups ≥ 1 proves the
  //      cap engaged; (b) nothing else is lost — contents with
  //      k ≤ maxBucket keep their full C(k,2), exactly as if the guard
  //      did not exist. Both sides are pure per-content counting, so
  //      the whole trade is SQL-decidable.
  private val skewGuard = GraftQuery(
    "q_dedup_skewguard",
    (s, d) => {
      val docs = documents(s, d).select(col("doc_id"), col("text"))
      val off = documents(s, d).agg(max(col("doc_id"))).head().getLong(0) + 1L
      val boiler = "all rights reserved this page is provided subject to " +
        "the standard terms of service and the privacy policy please " +
        "review both documents carefully before continuing to use this " +
        "website content may change at any time without prior notice"
      val corpus = docs
        .unionByName(docs.select((col("doc_id") + off).as("doc_id"),
          col("text")))
        .unionByName(docs.select((col("doc_id") + 2L * off).as("doc_id"),
          lit(boiler).as("text")))
      val fps = corpus.select(col("doc_id"),
        graft.functions.TextFunctions.exactFingerprint(col("text")).as("fp"))
      val perContent = fps.groupBy("fp").agg(count(lit(1)).as("k"))
      val pairStats = Dedup.nearDuplicatePairs(corpus, minJaccard = 0.9,
          maxBucket = 20)
        .join(fps.select(col("doc_id").as("a"), col("fp").as("fa")), "a")
        .join(fps.select(col("doc_id").as("b"), col("fp").as("fb")), "b")
        .filter(col("fa") === col("fb"))
        .join(perContent.select(col("fp").as("fa"), col("k")), "fa")
        .agg(
          sum(when(col("k") <= 20, 1L).otherwise(0L)).as("n_kept_pairs"),
          sum(when(col("k") > 20, 1L).otherwise(0L)).as("n_dropped_pairs"))
      val groupStats = perContent.agg(
        sum(when(col("k") > 20, 1L).otherwise(0L)).as("n_dropped_groups"))
      pairStats.crossJoin(groupStats).select(
        col("n_kept_pairs"), col("n_dropped_pairs"), col("n_dropped_groups"),
        (col("n_dropped_groups") >= 1L).as("cap_binds"))
    },
    Some(s"""WITH corpus AS (
               SELECT doc_id, text FROM documents
               UNION ALL
               SELECT doc_id + (SELECT MAX(doc_id) + 1 FROM documents), text
               FROM documents
               UNION ALL
               SELECT doc_id + 2 * (SELECT MAX(doc_id) + 1 FROM documents),
                 'all rights reserved this page is provided subject to the standard terms of service and the privacy policy please review both documents carefully before continuing to use this website content may change at any time without prior notice'
               FROM documents),
             per_content AS (
               SELECT md5(array_to_string($toksSql, ' ')) AS h, COUNT(*) AS k
               FROM corpus GROUP BY h)
             SELECT CAST(SUM(CASE WHEN k <= 20 THEN k * (k - 1) / 2
                               ELSE 0 END) AS BIGINT) AS n_kept_pairs,
                    CAST(0 AS BIGINT) AS n_dropped_pairs,
                    CAST(SUM(CASE WHEN k > 20 THEN 1 ELSE 0 END) AS BIGINT)
                      AS n_dropped_groups,
                    TRUE AS cap_binds
             FROM per_content"""))

  // ---- windowed (per-shard) minhash: the scale path for corpora that
  //      exceed one LSH pass. Planted corpus carries `source` as the
  //      shard key; clones planted into a DIFFERENT shard must not pair.
  //      Count-based oracle: identical texts are GUARANTEED to share a
  //      signature and bucket, so the LSH pairs restricted to matching
  //      exact fingerprints must equal the per-shard duplicate-content
  //      pair count — computable in SQL. An undercount means dropped
  //      recall (or a shard leak); the xxhash LSH internals themselves
  //      stay rows-only (unit-test ground truth).
  private val minhashSharded = GraftQuery(
    "q_dedup_minhash_sharded",
    (s, d) => {
      val docs = documents(s, d).select(col("doc_id"), col("text"), col("source"))
      val plantedSharded = docs.unionByName(
        docs.select((col("doc_id") + 1000000L).as("doc_id"), col("text"),
                    col("source")))
        .unionByName(docs.select((col("doc_id") + 2000000L).as("doc_id"),
                    col("text"), lit("offsite").as("source")))
      val fps = plantedSharded.select(col("doc_id"),
        graft.functions.TextFunctions.exactFingerprint(col("text")).as("fp"))
      Dedup.nearDuplicatePairs(plantedSharded, minJaccard = 0.9,
          shardCols = Seq("source"))
        .join(fps.select(col("doc_id").as("a"), col("fp").as("fa")), "a")
        .join(fps.select(col("doc_id").as("b"), col("fp").as("fb")), "b")
        .filter(col("fa") === col("fb"))
        .select(
          count(lit(1)).as("n_exact_pairs"),
          sum(when(col("b") >= 2000000L, 1L).otherwise(0L)).as("n_offsite"))
    },
    // exact-clone pairs per shard: C(k,2) over per-content copy counts k
    // within each shard. Original shards hold 2 copies of every doc (+
    // same-content collisions); the offsite shard holds 1 copy of each.
    Some(s"""WITH corpus AS (
               SELECT doc_id, text, source FROM documents
               UNION ALL
               SELECT doc_id + 1000000, text, source FROM documents
               UNION ALL
               SELECT doc_id + 2000000, text, 'offsite' FROM documents),
             per_content AS (
               SELECT source, md5(array_to_string($toksSql, ' ')) AS h,
                      COUNT(*) AS k
               FROM corpus GROUP BY source, h),
             shard_pairs AS (
               SELECT source, SUM(k * (k - 1) / 2) AS np
               FROM per_content GROUP BY source)
             SELECT CAST(SUM(np) AS BIGINT) AS n_exact_pairs,
                    CAST(SUM(CASE WHEN source = 'offsite' THEN np ELSE 0 END)
                      AS BIGINT) AS n_offsite
             FROM shard_pairs"""),
    headline = true)

  // ---- cross-shard two-pass dedup: per-shard LSH + global pass over
  //      shard representatives. Guarantee-based oracle: identical texts
  //      (regardless of shard) share signatures and therefore rep-pass
  //      buckets, so every exact-content group must land in ONE final
  //      cluster — in particular every group that SPANS shards, the
  //      pairs q_dedup_minhash_sharded proves the windowed pass alone
  //      misses. n_cross_intact == n_cross_groups is SQL-decidable even
  //      though the xxhash LSH geometry is not.
  private val crossShard = GraftQuery(
    "q_dedup_cross_shard",
    (s, d) => {
      val docs = documents(s, d).select(col("doc_id"), col("text"), col("source"))
      val plantedSharded = docs.unionByName(
        docs.select((col("doc_id") + 1000000L).as("doc_id"), col("text"),
                    col("source")))
        .unionByName(docs.select((col("doc_id") + 2000000L).as("doc_id"),
                    col("text"), lit("offsite").as("source")))
      val clusters = Dedup.crossShardDedupClusters(plantedSharded,
        minJaccard = 0.9, shardCols = Seq("source"))
      val withFp = plantedSharded
        .filter(size(graft.functions.TextFunctions.tokens(col("text"))) > 0)
        .select(col("doc_id").as("id"), col("source"),
          graft.functions.TextFunctions.exactFingerprint(col("text")).as("fp"))
        .join(clusters, "id")
      val groups = withFp.groupBy("fp").agg(
        countDistinct(col("source")).as("ns"),
        countDistinct(col("cluster")).as("nc"))
      groups.agg(
        count(lit(1)).as("n_groups"),
        sum(when(col("ns") >= 2, 1L).otherwise(0L)).as("n_cross_groups"),
        sum(when(col("ns") >= 2 && col("nc") === 1, 1L).otherwise(0L))
          .as("n_cross_intact"),
        (sum(when(col("nc") === 1, 1L).otherwise(0L)) === count(lit(1)))
          .as("all_intact"))
    },
    Some(s"""WITH corpus AS (
               SELECT doc_id, text, source FROM documents
               UNION ALL
               SELECT doc_id + 1000000, text, source FROM documents
               UNION ALL
               SELECT doc_id + 2000000, text, 'offsite' FROM documents),
             t AS (
               SELECT doc_id, source,
                      md5(array_to_string($toksSql, ' ')) AS fp
               FROM corpus WHERE len($toksSql) > 0),
             g AS (
               SELECT fp, COUNT(DISTINCT source) AS ns FROM t GROUP BY fp)
             SELECT CAST(COUNT(*) AS BIGINT) AS n_groups,
                    CAST(SUM(CASE WHEN ns >= 2 THEN 1 ELSE 0 END) AS BIGINT)
                      AS n_cross_groups,
                    CAST(SUM(CASE WHEN ns >= 2 THEN 1 ELSE 0 END) AS BIGINT)
                      AS n_cross_intact,
                    TRUE AS all_intact
             FROM g"""),
    headline = true)

  // ---- cross-shard NEAR-dup recall: q_dedup_cross_shard pins exact
  //      clones (identical signatures make the rep-pass bucket a
  //      guarantee); near-duplicates that span shards rely on LSH
  //      geometry, which this gate pins with a planted-recall oracle.
  //      Each base doc with >= 25 distinct tokens AND >= 45 tokens gets
  //      a twin in a DIFFERENT shard with ONE appended token: token-set
  //      jaccard >= 25/26 = 0.96 (> the 0.9 threshold, the exact-verify
  //      margin) and k=5 shingle jaccard >= (m-4)/(m-3) >= 41/42 =
  //      0.976 (the LSH margin: 8x8-band miss probability <= 8e-7 per
  //      pair, ~2e-4 expected misses across the few hundred planted
  //      groups at ANY test SF) — every planted group must land in ONE
  //      cluster, and both sides of that count are SQL-decidable.
  private val crossShardNear = GraftQuery(
    "q_dedup_cross_shard_near",
    (s, d) => {
      val base = documents(s, d)
        .select(col("doc_id"), col("text"), col("source"))
        .filter(
          size(graft.functions.TextFunctions.distinctTokens(col("text"))) >= 25 &&
          size(graft.functions.TextFunctions.tokens(col("text"))) >= 45)
      // Twin ids must not collide with real doc_ids at ANY scale factor:
      // a fixed +5e6 offset breaks the moment the table carries ids that
      // high (duplicate ids corrupt the cluster graph and the fp join).
      // Offset past the observed max instead — one scalar aggregate, and
      // base ids are unique so base+off stays unique and disjoint.
      val twinOff = documents(s, d).agg(max(col("doc_id"))).head().getLong(0) + 1L
      val twins = base.select(
        (col("doc_id") + twinOff).as("doc_id"),
        concat(col("text"), lit(" qqneardupmarker")).as("text"),
        lit("neardup").as("source"))
      val clusters = Dedup.crossShardDedupClusters(
        base.unionByName(twins), minJaccard = 0.9,
        shardCols = Seq("source"))
      // twins carry their BASE content's fingerprint: a planted group =
      // one base content + all its docs' twins, intact iff one cluster
      val fp = graft.functions.TextFunctions.exactFingerprint(col("text"))
      val baseFp = base.select(col("doc_id").as("id"), fp.as("bfp"))
        .unionByName(base.select(
          (col("doc_id") + twinOff).as("id"), fp.as("bfp")))
      baseFp.join(clusters, "id")
        .groupBy("bfp").agg(countDistinct(col("cluster")).as("nc"))
        .agg(
          count(lit(1)).as("n_near_groups"),
          sum(when(col("nc") === 1, 1L).otherwise(0L)).as("n_near_intact"),
          (sum(when(col("nc") === 1, 1L).otherwise(0L)) === count(lit(1)))
            .as("all_near_intact"))
    },
    Some(s"""WITH base AS (
               SELECT md5(array_to_string($toksSql, ' ')) AS fp
               FROM documents
               WHERE len(list_distinct($toksSql)) >= 25
                 AND len($toksSql) >= 45)
             SELECT CAST(COUNT(DISTINCT fp) AS BIGINT) AS n_near_groups,
                    CAST(COUNT(DISTINCT fp) AS BIGINT) AS n_near_intact,
                    TRUE AS all_near_intact
             FROM base"""))

  // ---- incremental (batch-vs-corpus) dedup, Bloom-accelerated --------
  // New batch: every corpus doc re-arrives (a dup to reject) plus a
  // modified twin (new content to admit). Exact anti-join semantics, so
  // fully oracle-able; the Bloom pre-filter is a plan detail the oracle
  // proves harmless.
  private val incrementalDedup = GraftQuery(
    "q_incremental_dedup",
    (s, d) => {
      val corpus = documents(s, d).select(col("doc_id"), col("text"))
      val newBatch = corpus
        .select((col("doc_id") + 3000000L).as("doc_id"), col("text"))
        .unionByName(corpus.select(
          (col("doc_id") + 4000000L).as("doc_id"),
          concat(col("text"), lit(" v2")).as("text")))
      Dedup.incrementalDedup(newBatch, corpus)
        .select("doc_id")
        .orderBy(asc("doc_id"))
    },
    Some {
      val toksV2 = toksSql.replace("trim(text)", "trim(text || ' v2')")
      s"""WITH corpus AS (
            SELECT doc_id, md5(array_to_string($toksSql, ' ')) AS fp
            FROM documents),
          batch AS (
            SELECT doc_id + 3000000 AS doc_id,
                   md5(array_to_string($toksSql, ' ')) AS fp
            FROM documents
            UNION ALL
            SELECT doc_id + 4000000, md5(array_to_string($toksV2, ' '))
            FROM documents)
          SELECT b.doc_id FROM batch b
          WHERE NOT EXISTS (SELECT 1 FROM corpus c WHERE c.fp = b.fp)
          ORDER BY doc_id"""
    },
    headline = true)

  // ---- incremental NEAR-dup (batch-vs-corpus), planted COUNT oracle --
  // The ingest-time near-dup operator: every eligible corpus doc (same
  // margins as q_dedup_cross_shard_near: >= 25 distinct tokens for the
  // exact-verify margin, >= 45 tokens for the LSH margin) re-arrives as
  // a batch twin with ONE appended token — every batch doc must match
  // its base content in the corpus, so n_matched == n_batch is
  // SQL-decidable even though the xxhash LSH geometry is not. A Bloom
  // regression (dropped corpus buckets), a broken band join, or a
  // broadcast-side mixup drops n_matched and fails the hash.
  private val incrementalNearDup = GraftQuery(
    "q_incremental_neardup",
    (s, d) => {
      val docs = documents(s, d).select(col("doc_id"), col("text"))
      val eligible = docs.filter(
        size(graft.functions.TextFunctions.distinctTokens(col("text"))) >= 25 &&
        size(graft.functions.TextFunctions.tokens(col("text"))) >= 45)
      // batch ids offset past the observed max — see q_dedup_cross_shard_near
      val off = documents(s, d).agg(max(col("doc_id"))).head().getLong(0) + 1L
      val batch = eligible.select(
        (col("doc_id") + off).as("doc_id"),
        concat(col("text"), lit(" qqincneardup")).as("text"))
      val pairs = Dedup.incrementalNearDupPairs(batch, docs, minJaccard = 0.9)
      val nBatch = batch.agg(count(lit(1)).as("n_batch"))
      val matched = pairs.agg(countDistinct(col("a")).as("n_matched"))
      nBatch.crossJoin(matched).select(
        col("n_batch"), col("n_matched"),
        (col("n_batch") === col("n_matched")).as("all_matched"))
    },
    Some(s"""SELECT CAST(COUNT(*) AS BIGINT) AS n_batch,
                    CAST(COUNT(*) AS BIGINT) AS n_matched,
                    TRUE AS all_matched
             FROM documents
             WHERE len(list_distinct($toksSql)) >= 25
               AND len($toksSql) >= 45"""),
    headline = true)

  // ---- data-dominated scaling headline (round 9) ---------------------
  //      Every other dedup headline is overhead-dominated at the bench
  //      SF (wall grows ≤1.8× for 100× data), so a superlinearity
  //      regression would hide inside JVM/planning noise — the round-8
  //      scaling evidence lives in the hand-run ProfileScale instrument,
  //      which BENCH_r* never executes. This headline promotes the 10×
  //      point into the standing bench: ten independent copies of the
  //      triple-planted corpus, each copy's tokens suffixed "_j" so
  //      copies share NO content (dup density constant — 150k docs at
  //      sf0.1, deep enough that per-row cost dominates). The corpus
  //      synthesis is linear, codegen-friendly projection work; the
  //      measured pipeline on top is the full minhash/LSH/verify stack,
  //      so a superlinear term in signatures, banding, bucket join, or
  //      verify moves this number where the small headlines would not
  //      show it. Same COUNT oracle as q_dedup_minhash: per copy, every
  //      content appears 3× ⇒ exact-fp pairs = 10 · Σ C(3k, 2).
  private val minhash10x = GraftQuery(
    "q_dedup_minhash_10x",
    (s, d) => {
      val docs = documents(s, d).select(col("doc_id"), col("text"))
      val off = documents(s, d).agg(max(col("doc_id"))).head().getLong(0) + 1L
      def copyAt(j: Int): DataFrame = {
        val tagged = docs.select(
          (col("doc_id") + lit(j * 3L * off)).as("doc_id"),
          array_join(transform(
            filter(split(trim(col("text")), "\\s+"), t => t =!= ""),
            t => concat(t, lit(s"_$j"))), " ").as("text"))
        tagged
          .unionByName(tagged.select((col("doc_id") + off).as("doc_id"),
            col("text")))
          .unionByName(tagged.select((col("doc_id") + 2L * off).as("doc_id"),
            col("text")))
      }
      // STAGED to parquet once per (dataDir, recipe): the token tagging
      // is fixture construction, not operator work — a real 10× corpus
      // arrives from storage. Staging (vs the previous per-rep lazy
      // checkpoint) keeps the synthesis out of EVERY timed rep, so the
      // headline's steal-quiet reps measure the minhash/LSH/verify
      // stack alone, and the parquet scan gives the planner real leaf
      // stats the checkpoint never had.
      val corpus = s.read.parquet(stagedCorpusPath(s, "mh10x",
        "copies=10;triples;tok-suffix _j;normalized-text", d) {
          (0 until 10).map(copyAt).reduce(_.unionByName(_))
        })
      // tagged text is token-normalized BY CONSTRUCTION (split → filter
      // → join with single spaces), so md5(text) groups exactly like the
      // token fingerprint — without re-tokenizing 150k docs just for the
      // oracle restriction; the measured work stays the dedup pipeline.
      val fps = corpus.select(col("doc_id"), md5(col("text")).as("fp"),
        (length(col("text")) > 0).as("nonempty"))
      val eligible = fps.groupBy("fp")
        .agg(count(lit(1)).as("k"), min(col("nonempty")).as("ne"))
        .filter(col("k") <= 200 && col("ne"))
        .select(col("fp"))
      Dedup.nearDuplicatePairs(corpus, minJaccard = 0.9)
        .join(fps.select(col("doc_id").as("a"), col("fp").as("fa")), "a")
        .join(fps.select(col("doc_id").as("b"), col("fp").as("fb")), "b")
        .filter(col("fa") === col("fb"))
        .join(eligible.select(col("fp").as("fa")), "fa")
        .agg(count(lit(1)).as("n_exact_pairs"),
             (min(col("jaccard")) === 1.0).as("exact_jac_ok"))
    },
    Some(s"""WITH per_content AS (
               SELECT md5(array_to_string($toksSql, ' ')) AS h, COUNT(*) AS k,
                      MIN(len($toksSql)) AS mintok
               FROM documents GROUP BY h)
             SELECT CAST(10 * SUM((3 * k) * (3 * k - 1) / 2) AS BIGINT)
                      AS n_exact_pairs,
                    TRUE AS exact_jac_ok
             FROM per_content WHERE 3 * k <= 200 AND mintok >= 1"""),
    headline = true)

  // ---- SimHash signatures + near pairs on planted duplicates ---------
  // Reduced-form oracle (round 10, closing the last rows-only gates):
  // xxhash64 is not in DuckDB, so the full hex column can't be replayed —
  // instead the gate pins (a) four PROBE rows whose expected hex is
  // computed at registration time by Dedup.simhashHexLocal, an
  // independent no-Catalyst evaluation of the same definition, baked
  // into the SQL as literals; (b) the SQL-decidable invariant that a
  // signature is all-zero iff the doc has no tokens; and (c) clone
  // consistency — every content-fingerprint group carries exactly one
  // distinct signature (TRUE for all rows in the oracle, computed
  // through a real group join on the engine side).
  private val simhashProbes = Seq(
    9000001L -> "the quick brown fox jumps over the lazy dog",
    9000002L -> "single",
    9000003L -> "",
    9000004L -> "alpha beta gamma delta epsilon zeta eta theta")

  private val simhashSignatures = GraftQuery(
    "q_simhash_signatures",
    (s, d) => {
      import s.implicits._
      val base = documents(s, d).select(col("doc_id"), col("text"))
        .unionByName(simhashProbes.toDF("doc_id", "text"))
      val sigs = Dedup.simhashSignatures(base)
        .select(col("id").as("doc_id"), Dedup.bitsToHex(col("sig")).as("hex"))
      val withFp = base.select(col("doc_id"),
          graft.functions.TextFunctions.contentFingerprint(col("text"))
            .as("cfp"))
        .join(sigs, Seq("doc_id"))
      val grp = withFp.groupBy("cfp")
        .agg(countDistinct(col("hex")).as("nsig"))
      withFp.join(grp, Seq("cfp"))
        .select(col("doc_id"),
          when(col("doc_id") >= 9000000L, col("hex"))
            .otherwise(lit(null).cast("string")).as("probe_sig"),
          (col("hex") === lit("0" * 16)).as("is_zero_sig"),
          (col("nsig") === 1).as("grp_consistent"))
        .orderBy(asc("doc_id"))
    },
    Some(s"""SELECT doc_id, CAST(NULL AS VARCHAR) AS probe_sig,
               len(list_distinct($toksSql)) = 0 AS is_zero_sig,
               TRUE AS grp_consistent
             FROM documents
             UNION ALL
             SELECT * FROM (VALUES ${simhashProbes.map { case (id, t) =>
               val hex = Dedup.simhashHexLocal(t)
               s"(CAST($id AS BIGINT), '$hex', ${hex == "0" * 16}, TRUE)"
             }.mkString(", ")})
             ORDER BY doc_id"""))

  // COUNT oracle (round 8): identical texts have identical SimHash bits
  // (hamming 0), and the 4-band pigeonhole makes the candidate a
  // GUARANTEE at hamming ≤ 3 — so the pairs restricted to matching exact
  // fingerprints must equal the planted C(k,2) sum, with hamming 0 on
  // every such pair. The near-pair geometry (hamming 1–3 survivors)
  // stays pinned by unit tests.
  //      Same round-9 eligibility restriction as q_dedup_minhash, at
  //      the simhash operator's own cap (maxBucket = 2000) — and
  //      empty-token contents excluded (their simhash is the zero
  //      vector by convention, but exact verify rejects them).
  private val simhashPairs = GraftQuery(
    "q_dedup_simhash",
    (s, d) => {
      val p = planted(s, d)
      val fps = p.select(col("doc_id"),
        graft.functions.TextFunctions.exactFingerprint(col("text")).as("fp"),
        size(graft.functions.TextFunctions.tokens(col("text"))).as("ntok"))
      val eligible = fps.groupBy("fp")
        .agg(count(lit(1)).as("k"), min(col("ntok")).as("mintok"))
        .filter(col("k") <= 2000 && col("mintok") >= 1)
        .select(col("fp"))
      Dedup.simhashNearPairs(p, maxHamming = 3)
        .join(fps.select(col("doc_id").as("a"), col("fp").as("fa")), "a")
        .join(fps.select(col("doc_id").as("b"), col("fp").as("fb")), "b")
        .filter(col("fa") === col("fb"))
        .join(eligible.select(col("fp").as("fa")), "fa")
        .agg(count(lit(1)).as("n_exact_pairs"),
             max(col("hamming")).as("max_exact_hamming"))
    },
    Some(s"""WITH corpus AS (
               SELECT doc_id, text FROM documents
               UNION ALL
               SELECT doc_id + 1000000, text FROM documents),
             per_content AS (
               SELECT md5(array_to_string($toksSql, ' ')) AS h, COUNT(*) AS k,
                      MIN(len($toksSql)) AS mintok
               FROM corpus GROUP BY h)
             SELECT CAST(SUM(k * (k - 1) / 2) AS BIGINT) AS n_exact_pairs,
                    CAST(0 AS INTEGER) AS max_exact_hamming
             FROM per_content WHERE k <= 2000 AND mintok >= 1"""))

  // ---- exact set-similarity join (prefix filtering) -------------------
  // The DETERMINISTIC near-dup member: SetSimJoin returns EVERY pair
  // with shingle-set Jaccard ≥ t (recall 1.0 by construction), where
  // minhash-LSH trades recall for corpus-shape independence. Sets are
  // 5-token shingle strings — the representation minhash approximates —
  // because the raw corpus has a 31-token global vocabulary (distinct-
  // TOKEN sets overlap massively: ~23% of all pairs ≥ 0.8, which is a
  // corpus fact, not a near-dup signal). Every 10th doc is cloned with
  // its first token substituted: one shingle differs, so the planted
  // pair's jaccard is (m−1)/(m+1) at m shingles — ≥ 0.8 for every
  // eligible doc — while natural shingle collisions across a 31^5 space
  // cannot reach 0.8. The oracle replays EVERYTHING: shingling, df
  // ranks, the epsilon-guarded prefix length, candidate generation,
  // intersection, 6-dp jaccard — full pair-level value equality (the
  // stronger compare the LSH gates cannot have).
  private val setSimJoin = GraftQuery(
    "q_setsim_join",
    (s, d) => {
      // repartition the SCAN itself: the parquet is one tiny file
      // (≤2 splits), and every deterministic expression above a
      // repartition — the clone regexp, tokens(), even the pushed
      // size-filter — can end up evaluated on the narrow map side of
      // the exchange, 2-wide while 30 cores idle (stage-profiled at
      // ~4 s of the gate's ~5.5 s floor even WITH a post-union
      // repartition). Widening the scan first makes everything
      // downstream wide by construction. The exchange ships only raw
      // text (~1 MB at sf0.1); at real scale the scan is already wide
      // and the exchange stays proportionally free.
      val base = documents(s, d).select(col("doc_id"), col("text"))
        .repartition(2 * s.sparkContext.defaultParallelism)
      val corpus = base.unionByName(
        base.filter(col("doc_id") % 10 === 0)
          .select((col("doc_id") + 1000000L).as("doc_id"),
            regexp_replace(col("text"), "^\\S+", "nearmark").as("text")))
      // shingles as 60-bit md5-prefix longs (the Sampling.weightedKey
      // idiom — replays exactly in DuckDB): element identity modulo a
      // ~1e-7 collision chance at this scale, and every downstream
      // stage (df agg, rank sort, intersection) runs on longs instead
      // of 30-char strings.
      val sh = corpus.select(col("doc_id"),
          graft.functions.TextFunctions.tokens(col("text")).as("tk"))
        .filter(size(col("tk")) >= 5)
        .select(col("doc_id"),
          transform(sequence(lit(1), size(col("tk")) - 4),
            g => conv(substring(md5(concat_ws(" ", slice(col("tk"), g, lit(5)))),
              1, 15), 16, 10).cast("long")).as("shingles"))
      graft.operators.SetSimJoin
        .jaccardPairs(sh, "doc_id", "shingles", threshold = 0.8)
        .orderBy(asc("a"), asc("b"))
    },
    Some(s"""WITH corpus AS (
               SELECT doc_id, text FROM documents
               UNION ALL
               SELECT doc_id + 1000000,
                      regexp_replace(text, '^\\S+', 'nearmark') AS text
               FROM documents WHERE doc_id % 10 = 0),
             tk AS (
               SELECT doc_id, $toksSql AS t FROM corpus
               WHERE len($toksSql) >= 5),
             sets AS (
               SELECT doc_id, list_distinct(list_transform(
                 generate_series(1, len(t) - 4),
                 g -> CAST(('0x' || substr(md5(
                   array_to_string(list_slice(t, g, g + 4), ' ')), 1, 15))
                   AS BIGINT)))
                 AS st
               FROM tk),
             inst AS (
               SELECT doc_id, unnest(st) AS tok FROM sets),
             dfq AS (SELECT tok, COUNT(*) AS df FROM inst GROUP BY tok),
             ranked AS (
               SELECT i.doc_id,
                 list(i.tok ORDER BY d.df, i.tok) AS stoks,
                 COUNT(*) AS n
               FROM inst i JOIN dfq d USING (tok) GROUP BY i.doc_id),
             pref AS (
               SELECT doc_id, stoks, n,
                 unnest(list_slice(stoks, 1,
                   CAST(n - CEIL(0.8 * n - 1e-9) + 1 AS INT))) AS tok
               FROM ranked),
             cand AS (
               SELECT DISTINCT p1.doc_id AS a, p2.doc_id AS b,
                 p1.stoks AS ta, p2.stoks AS tb, p1.n AS na, p2.n AS nb
               FROM pref p1 JOIN pref p2 USING (tok)
               WHERE p1.doc_id < p2.doc_id),
             scored AS (
               SELECT a, b,
                 CAST(len(list_intersect(ta, tb)) AS BIGINT) AS inter,
                 ROUND(len(list_intersect(ta, tb)) * 1.0 /
                   (na + nb - len(list_intersect(ta, tb))), 6) AS jaccard
               FROM cand)
             SELECT a, b, inter, jaccard FROM scored
             WHERE jaccard >= 0.8 ORDER BY a, b"""),
    headline = true)

  // ---- exact containment join (asymmetric prefix filtering) ----------
  // The DIRECTED twin of q_setsim_join: every pair where a's shingle
  // set is ≥ 90% inside b's — the quote/inclusion detector Jaccard
  // structurally misses. Corpus construction makes the asymmetry real:
  // every 20th doc is truncated to its FIRST HALF under a new id, so
  // the half is contained in the whole (containment ≈ 1 one way,
  // Jaccard ≈ 0.5 — invisible at the 0.8 Jaccard gate). The oracle
  // replays shingling, the contained-side-only prefix, the
  // inverted-index candidate join, and the |A∩B|/|A| verify.
  private val containmentJoin = GraftQuery(
    "q_containment_join",
    (s, d) => {
      val base = documents(s, d).select(col("doc_id"), col("text"))
      val halves = base.filter(col("doc_id") % 20 === 0)
        .select((col("doc_id") + 2000000L).as("doc_id"),
          graft.functions.TextFunctions.tokens(col("text")).as("tk"))
        .filter(size(col("tk")) >= 12)
        .select(col("doc_id"),
          // floor() in BOTH engines: Spark's int cast truncates 3.5 → 3
          // but DuckDB's CAST(3.5 AS INT) rounds to 4
          concat_ws(" ", slice(col("tk"), lit(1),
            floor(size(col("tk")) / 2).cast("int"))).as("text"))
      val corpus = base.unionByName(halves)
      val sh = corpus
        .repartition(2 * s.sparkContext.defaultParallelism)
        .select(col("doc_id"),
          graft.functions.TextFunctions.tokens(col("text")).as("tk"))
        .filter(size(col("tk")) >= 5)
        .select(col("doc_id"),
          transform(sequence(lit(1), size(col("tk")) - 4),
            g => conv(substring(md5(concat_ws(" ", slice(col("tk"), g, lit(5)))),
              1, 15), 16, 10).cast("long")).as("shingles"))
      graft.operators.SetSimJoin
        .containmentPairs(sh, "doc_id", "shingles", threshold = 0.9)
        .orderBy(asc("a"), asc("b"))
    },
    Some(s"""WITH base AS (SELECT doc_id, text FROM documents),
             halves AS (
               SELECT doc_id + 2000000 AS doc_id,
                 array_to_string(list_slice($toksSql,
                   1, CAST(floor(len($toksSql) / 2) AS INT)), ' ') AS text
               FROM documents
               WHERE doc_id % 20 = 0 AND len($toksSql) >= 12),
             corpus AS (
               SELECT * FROM base UNION ALL SELECT * FROM halves),
             tk AS (
               SELECT doc_id, $toksSql AS t FROM corpus
               WHERE len($toksSql) >= 5),
             sets AS (
               SELECT doc_id, list_distinct(list_transform(
                 generate_series(1, len(t) - 4),
                 g -> CAST(('0x' || substr(md5(
                   array_to_string(list_slice(t, g, g + 4), ' ')), 1, 15))
                   AS BIGINT)))
                 AS st
               FROM tk),
             inst AS (
               SELECT doc_id, unnest(st) AS tok FROM sets),
             dfq AS (SELECT tok, COUNT(*) AS df FROM inst GROUP BY tok),
             ranked AS (
               SELECT i.doc_id,
                 list(i.tok ORDER BY d.df, i.tok) AS stoks,
                 COUNT(*) AS n
               FROM inst i JOIN dfq d USING (tok) GROUP BY i.doc_id),
             pref AS (
               SELECT doc_id, n,
                 unnest(list_slice(stoks, 1,
                   CAST(n - CEIL(0.9 * n - 1e-9) + 1 AS INT))) AS tok
               FROM ranked),
             cand AS (
               SELECT DISTINCT p.doc_id AS a, i.doc_id AS b
               FROM pref p JOIN inst i USING (tok)
               WHERE p.doc_id <> i.doc_id),
             scored AS (
               SELECT c.a, c.b,
                 CAST(len(list_intersect(ra.stoks, rb.stoks)) AS BIGINT)
                   AS inter,
                 ROUND(len(list_intersect(ra.stoks, rb.stoks)) * 1.0 /
                   ra.n, 6) AS containment
               FROM cand c
               JOIN ranked ra ON ra.doc_id = c.a
               JOIN ranked rb ON rb.doc_id = c.b)
             SELECT a, b, inter, containment FROM scored
             WHERE containment >= 0.9 ORDER BY a, b"""),
    headline = true)

  // ---- incremental exact set-similarity (stored sets + batch) --------
  // The exact twin of q_incremental_neardup: the corpus' shingle sets
  // are SAVED (value-sorted — df-free, so stored arrays never go stale
  // as the corpus grows), and an arriving batch (the nearmark clones)
  // pairs against them with recall 1.0 — stored×batch and
  // batch-internal pairs only, prior pairs not re-emitted
  // (incremental ∪ prior == rebuild, spec-pinned). The oracle replays
  // the whole value-order pipeline: sorted distinct sets, epsilon
  // prefixes on BOTH sides, batch-restricted candidates, normalized
  // pair dedup, intersection verify.
  private val incrementalSetSim = GraftQuery(
    "q_incremental_setsim",
    (s, d) => {
      def shingled(df: org.apache.spark.sql.DataFrame) = df
        .repartition(2 * s.sparkContext.defaultParallelism)
        .select(col("doc_id"),
          graft.functions.TextFunctions.tokens(col("text")).as("tk"))
        .filter(size(col("tk")) >= 5)
        .select(col("doc_id"),
          transform(sequence(lit(1), size(col("tk")) - 4),
            g => conv(substring(md5(concat_ws(" ", slice(col("tk"), g, lit(5)))),
              1, 15), 16, 10).cast("long")).as("shingles"))
      val base = documents(s, d).select(col("doc_id"), col("text"))
      // staged once per (dataDir, plant recipe): the gate times LOAD+probe
      val path = stagedSetsPath(s, "setsim",
        "tok>=5;5gram-md5x15;store=full-base", d)(shingled(base))
      val batch = shingled(base.filter(col("doc_id") % 10 === 0)
        .select((col("doc_id") + 1000000L).as("doc_id"),
          regexp_replace(col("text"), "^\\S+", "nearmark").as("text")))
      graft.operators.SetSimJoin.incrementalJaccardPairs(s, path, batch,
          "doc_id", "shingles", threshold = 0.8)
        .orderBy(asc("a"), asc("b"))
    },
    Some(s"""WITH corpus AS (
               SELECT doc_id, text, 0 AS isb FROM documents
               UNION ALL
               SELECT doc_id + 1000000,
                      regexp_replace(text, '^\\S+', 'nearmark') AS text,
                      1 AS isb
               FROM documents WHERE doc_id % 10 = 0),
             tk AS (
               SELECT doc_id, isb, $toksSql AS t FROM corpus
               WHERE len($toksSql) >= 5),
             ranked AS (
               SELECT doc_id, isb,
                 list_sort(list_distinct(list_transform(
                   generate_series(1, len(t) - 4),
                   g -> CAST(('0x' || substr(md5(
                     array_to_string(list_slice(t, g, g + 4), ' ')), 1, 15))
                     AS BIGINT)))) AS stoks
               FROM tk),
             sized AS (
               SELECT doc_id, isb, stoks, len(stoks) AS n FROM ranked),
             pref AS (
               SELECT doc_id, isb,
                 unnest(list_slice(stoks, 1,
                   CAST(n - CEIL(0.8 * n - 1e-9) + 1 AS INT))) AS tok
               FROM sized),
             cand AS (
               SELECT DISTINCT least(p1.doc_id, p2.doc_id) AS a,
                 greatest(p1.doc_id, p2.doc_id) AS b
               FROM pref p1 JOIN pref p2 USING (tok)
               WHERE p1.doc_id <> p2.doc_id AND p2.isb = 1),
             scored AS (
               SELECT c.a, c.b,
                 CAST(len(list_intersect(ra.stoks, rb.stoks)) AS BIGINT)
                   AS inter,
                 ROUND(len(list_intersect(ra.stoks, rb.stoks)) * 1.0 /
                   (ra.n + rb.n - len(list_intersect(ra.stoks, rb.stoks))),
                   6) AS jaccard
               FROM cand c
               JOIN sized ra ON ra.doc_id = c.a
               JOIN sized rb ON rb.doc_id = c.b)
             SELECT a, b, inter, jaccard FROM scored
             WHERE jaccard >= 0.8 ORDER BY a, b"""),
    headline = true)

  // ---- incremental containment (the decontamination registry audit) --
  // The directed member of the incremental family: the corpus' shingle
  // sets are frozen under a stored path, and the arriving batch (every
  // 20th doc's FIRST HALF under a new id — the q_containment_join
  // plant) is audited both ways against the store with recall 1.0:
  // stored-side containers catch "arriving doc is inside a prior doc"
  // (containment ≈ 1 here, since the half ⊆ its source), batch-side
  // containers catch "a prior doc leaked into the arrival". Pairs
  // wholly inside the store are prior audits' output and not
  // re-emitted (incremental ∪ prior == rebuild, spec-pinned). The
  // oracle replays the whole value-order pipeline: sorted distinct
  // sets, contained-side epsilon prefixes, candidates restricted to
  // at-least-one-side-in-batch, exact |A∩B|/|A| verify.
  private val incrementalContainment = GraftQuery(
    "q_incremental_containment",
    (s, d) => {
      def shingled(df: org.apache.spark.sql.DataFrame) = df
        .repartition(2 * s.sparkContext.defaultParallelism)
        .select(col("doc_id"),
          graft.functions.TextFunctions.tokens(col("text")).as("tk"))
        .filter(size(col("tk")) >= 5)
        .select(col("doc_id"),
          transform(sequence(lit(1), size(col("tk")) - 4),
            g => conv(substring(md5(concat_ws(" ", slice(col("tk"), g, lit(5)))),
              1, 15), 16, 10).cast("long")).as("shingles"))
      val base = documents(s, d).select(col("doc_id"), col("text"))
      // staged once per (dataDir, plant recipe): the gate times LOAD+probe
      val path = stagedSetsPath(s, "setsimc",
        "tok>=5;5gram-md5x15;store=full-base", d)(shingled(base))
      val halves = base.filter(col("doc_id") % 20 === 0)
        .select((col("doc_id") + 2000000L).as("doc_id"),
          graft.functions.TextFunctions.tokens(col("text")).as("tk"))
        .filter(size(col("tk")) >= 12)
        .select(col("doc_id"),
          concat_ws(" ", slice(col("tk"), lit(1),
            floor(size(col("tk")) / 2).cast("int"))).as("text"))
      graft.operators.SetSimJoin.incrementalContainmentPairs(s, path,
          shingled(halves), "doc_id", "shingles", threshold = 0.9)
        .orderBy(asc("a"), asc("b"))
    },
    Some(s"""WITH base AS (
               SELECT doc_id, text, 0 AS isb FROM documents),
             halves AS (
               SELECT doc_id + 2000000 AS doc_id,
                 array_to_string(list_slice($toksSql,
                   1, CAST(floor(len($toksSql) / 2) AS INT)), ' ') AS text,
                 1 AS isb
               FROM documents
               WHERE doc_id % 20 = 0 AND len($toksSql) >= 12),
             corpus AS (
               SELECT * FROM base UNION ALL SELECT * FROM halves),
             tk AS (
               SELECT doc_id, isb, $toksSql AS t FROM corpus
               WHERE len($toksSql) >= 5),
             ranked AS (
               SELECT doc_id, isb,
                 list_sort(list_distinct(list_transform(
                   generate_series(1, len(t) - 4),
                   g -> CAST(('0x' || substr(md5(
                     array_to_string(list_slice(t, g, g + 4), ' ')), 1, 15))
                     AS BIGINT)))) AS stoks
               FROM tk),
             sized AS (
               SELECT doc_id, isb, stoks, len(stoks) AS n FROM ranked),
             pref AS (
               SELECT doc_id, isb,
                 unnest(list_slice(stoks, 1,
                   CAST(n - CEIL(0.9 * n - 1e-9) + 1 AS INT))) AS tok
               FROM sized),
             inst AS (
               SELECT doc_id, isb, unnest(stoks) AS tok FROM sized),
             cand AS (
               SELECT DISTINCT p.doc_id AS a, i.doc_id AS b
               FROM pref p JOIN inst i USING (tok)
               WHERE p.doc_id <> i.doc_id AND (p.isb = 1 OR i.isb = 1)),
             scored AS (
               SELECT c.a, c.b,
                 CAST(len(list_intersect(ra.stoks, rb.stoks)) AS BIGINT)
                   AS inter,
                 ROUND(len(list_intersect(ra.stoks, rb.stoks)) * 1.0 /
                   ra.n, 6) AS containment
               FROM cand c
               JOIN sized ra ON ra.doc_id = c.a
               JOIN sized rb ON rb.doc_id = c.b)
             SELECT a, b, inter, containment FROM scored
             WHERE containment >= 0.9 ORDER BY a, b"""),
    headline = true)

  // ---- streaming containment alerts (percolated registry) ------------
  // The stream-static member of the decontamination family: the frozen
  // registry (every 20th doc's FIRST-HALF shingle set under a new id)
  // is saved, loaded, and compiled into ONE broadcast row of
  // map<tok, (query_id, nq)> postings; the documents table then
  // arrives as a REAL stream and each arriving doc is scored fully
  // in-row — |A∩D|/|A| per registry set via one radix-map probe per
  // distinct shingle and an integer segment fold (no joins, no
  // aggregation, no state below the ×1-row broadcast: append-mode
  // legal by construction, the q_stream_percolate convention with an
  // exact-set score instead of BM25). Alerts fire at containment ≥
  // 0.9 — every half hits its source doc at 1.0 by construction. The
  // count fold is pure integers, so the oracle replays it exactly:
  // value-sorted distinct sets, full |A∩D| intersection, threshold.
  private val streamContainment = GraftQuery(
    "q_stream_containment",
    (s, d) => {
      def shingles(df: org.apache.spark.sql.DataFrame) = df
        .select(col("doc_id"),
          graft.functions.TextFunctions.tokens(col("text")).as("tk"))
        .filter(size(col("tk")) >= 5)
        .select(col("doc_id"),
          transform(sequence(lit(1), size(col("tk")) - 4),
            g => conv(substring(md5(concat_ws(" ", slice(col("tk"), g, lit(5)))),
              1, 15), 16, 10).cast("long")).as("shingles"))
      val base = documents(s, d).select(col("doc_id"), col("text"))
      // staged once per (dataDir, plant recipe): the gate times the
      // registry LOAD + compile + stream probe, not the registry build
      val path = stagedSetsPath(s, "setsimreg",
        "tok>=12;half-text;mod20+2M;5gram-md5x15", d) {
        val halves = base.filter(col("doc_id") % 20 === 0)
          .select((col("doc_id") + 2000000L).as("doc_id"),
            graft.functions.TextFunctions.tokens(col("text")).as("tk"))
          .filter(size(col("tk")) >= 12)
          .select(col("doc_id"),
            concat_ws(" ", slice(col("tk"), lit(1),
              floor(size(col("tk")) / 2).cast("int"))).as("text"))
        shingles(halves)
      }
      val compiled = graft.operators.SetSimJoin.compileContainmentRegistry(
        graft.operators.SetSimJoin.loadSets(s, path), "sid", "stoks")
      val st = graft.streaming.EventsStream.readTable(s, d, "documents")
        .select(col("doc_id"), col("text"))
      val alerts = graft.operators.SetSimJoin.containmentProbe(
        shingles(st), compiled, threshold = 0.9,
        idCol = "doc_id", toksCol = "shingles")
      graft.streaming.EventsStream.runToCompletion(s, alerts,
          outputMode = "append")
        .orderBy(asc("query_id"), asc("doc_id"))
    },
    Some(s"""WITH halves AS (
               SELECT doc_id + 2000000 AS doc_id,
                 array_to_string(list_slice($toksSql,
                   1, CAST(floor(len($toksSql) / 2) AS INT)), ' ') AS text
               FROM documents
               WHERE doc_id % 20 = 0 AND len($toksSql) >= 12),
             regtk AS (
               SELECT doc_id, $toksSql AS t FROM halves
               WHERE len($toksSql) >= 5),
             reg AS (
               SELECT doc_id AS query_id,
                 list_distinct(list_transform(
                   generate_series(1, len(t) - 4),
                   g -> CAST(('0x' || substr(md5(
                     array_to_string(list_slice(t, g, g + 4), ' ')), 1, 15))
                     AS BIGINT))) AS qset
               FROM regtk),
             doctk AS (
               SELECT doc_id, $toksSql AS t FROM documents
               WHERE len($toksSql) >= 5),
             docs AS (
               SELECT doc_id,
                 list_distinct(list_transform(
                   generate_series(1, len(t) - 4),
                   g -> CAST(('0x' || substr(md5(
                     array_to_string(list_slice(t, g, g + 4), ' ')), 1, 15))
                     AS BIGINT))) AS dset
               FROM doctk),
             qinst AS (SELECT query_id, unnest(qset) AS tok FROM reg),
             dinst AS (SELECT doc_id, unnest(dset) AS tok FROM docs),
             cand AS (
               SELECT DISTINCT q.query_id, i.doc_id
               FROM qinst q JOIN dinst i USING (tok)),
             scored AS (
               SELECT c.query_id, c.doc_id,
                 CAST(len(list_intersect(r.qset, d.dset)) AS BIGINT)
                   AS inter,
                 ROUND(len(list_intersect(r.qset, d.dset)) * 1.0 /
                   len(r.qset), 6) AS containment
               FROM cand c
               JOIN reg r ON r.query_id = c.query_id
               JOIN docs d ON d.doc_id = c.doc_id)
             SELECT query_id, doc_id, inter, containment FROM scored
             WHERE containment >= 0.9 ORDER BY query_id, doc_id"""))

  // ---- streaming exact near-dup alerts (jaccard vs a registry) -------
  // The SYMMETRIC percolated member: a frozen catalogue (the nearmark
  // clones of every 10th doc — the q_setsim_join plant, so each clone
  // alerts on exactly its source at jaccard (m−1)/(m+1) ≥ 0.8) probed
  // by the arriving documents stream. Same compiled registry, same
  // integer fold; the score divides by |A|+|D|−|A∩D| with |D| computed
  // in the same row — still no float before the final division, so the
  // oracle replays the whole thing exactly.
  private val streamSetSim = GraftQuery(
    "q_stream_setsim",
    (s, d) => {
      def shingles(df: org.apache.spark.sql.DataFrame) = df
        .select(col("doc_id"),
          graft.functions.TextFunctions.tokens(col("text")).as("tk"))
        .filter(size(col("tk")) >= 5)
        .select(col("doc_id"),
          transform(sequence(lit(1), size(col("tk")) - 4),
            g => conv(substring(md5(concat_ws(" ", slice(col("tk"), g, lit(5)))),
              1, 15), 16, 10).cast("long")).as("shingles"))
      val base = documents(s, d).select(col("doc_id"), col("text"))
      // staged once per (dataDir, plant recipe) — see stagedSetsPath
      val path = stagedSetsPath(s, "setsimjreg",
        "nearmark-clones;mod10+1M;5gram-md5x15", d) {
        val clones = base.filter(col("doc_id") % 10 === 0)
          .select((col("doc_id") + 1000000L).as("doc_id"),
            regexp_replace(col("text"), "^\\S+", "nearmark").as("text"))
        shingles(clones)
      }
      val compiled = graft.operators.SetSimJoin.compileContainmentRegistry(
        graft.operators.SetSimJoin.loadSets(s, path), "sid", "stoks")
      val st = graft.streaming.EventsStream.readTable(s, d, "documents")
        .select(col("doc_id"), col("text"))
      val alerts = graft.operators.SetSimJoin.jaccardProbe(
        shingles(st), compiled, threshold = 0.8,
        idCol = "doc_id", toksCol = "shingles")
      graft.streaming.EventsStream.runToCompletion(s, alerts,
          outputMode = "append")
        .orderBy(asc("query_id"), asc("doc_id"))
    },
    Some(s"""WITH clones AS (
               SELECT doc_id + 1000000 AS doc_id,
                 regexp_replace(text, '^\\S+', 'nearmark') AS text
               FROM documents WHERE doc_id % 10 = 0),
             regtk AS (
               SELECT doc_id, $toksSql AS t FROM clones
               WHERE len($toksSql) >= 5),
             reg AS (
               SELECT doc_id AS query_id,
                 list_distinct(list_transform(
                   generate_series(1, len(t) - 4),
                   g -> CAST(('0x' || substr(md5(
                     array_to_string(list_slice(t, g, g + 4), ' ')), 1, 15))
                     AS BIGINT))) AS qset
               FROM regtk),
             doctk AS (
               SELECT doc_id, $toksSql AS t FROM documents
               WHERE len($toksSql) >= 5),
             docs AS (
               SELECT doc_id,
                 list_distinct(list_transform(
                   generate_series(1, len(t) - 4),
                   g -> CAST(('0x' || substr(md5(
                     array_to_string(list_slice(t, g, g + 4), ' ')), 1, 15))
                     AS BIGINT))) AS dset
               FROM doctk),
             qinst AS (SELECT query_id, unnest(qset) AS tok FROM reg),
             dinst AS (SELECT doc_id, unnest(dset) AS tok FROM docs),
             cand AS (
               SELECT DISTINCT q.query_id, i.doc_id
               FROM qinst q JOIN dinst i USING (tok)),
             scored AS (
               SELECT c.query_id, c.doc_id,
                 CAST(len(list_intersect(r.qset, d.dset)) AS BIGINT)
                   AS inter,
                 ROUND(len(list_intersect(r.qset, d.dset)) * 1.0 /
                   (len(r.qset) + len(d.dset) -
                    len(list_intersect(r.qset, d.dset))), 6) AS jaccard
               FROM cand c
               JOIN reg r ON r.query_id = c.query_id
               JOIN docs d ON d.doc_id = c.doc_id)
             SELECT query_id, doc_id, inter, jaccard FROM scored
             WHERE jaccard >= 0.8 ORDER BY query_id, doc_id"""))

  // ---- streaming REVERSE containment (boilerplate detection) ---------
  // The other division of the same probe: |A∩D|/|D| ≥ t — "the arriving
  // document is mostly made of registry item A" (template/boilerplate
  // reuse against a frozen catalogue), where q_stream_containment's
  // |A∩D|/|A| is the leak detector. Registry = every 20th doc's FULL
  // shingle set under a new id; the stream derives each arriving doc's
  // FIRST HALF (stateless transforms on the stream) — a half is wholly
  // inside its source's registry copy, so the plants alert at exactly
  // 1.0. Integer fold ⇒ exact SQL replay, same stateless append-legal
  // plan.
  private val streamDocContainment = GraftQuery(
    "q_stream_doc_containment",
    (s, d) => {
      def shingles(df: org.apache.spark.sql.DataFrame) = df
        .select(col("doc_id"),
          graft.functions.TextFunctions.tokens(col("text")).as("tk"))
        .filter(size(col("tk")) >= 5)
        .select(col("doc_id"),
          transform(sequence(lit(1), size(col("tk")) - 4),
            g => conv(substring(md5(concat_ws(" ", slice(col("tk"), g, lit(5)))),
              1, 15), 16, 10).cast("long")).as("shingles"))
      def halves(df: org.apache.spark.sql.DataFrame) = df
        .filter(col("doc_id") % 20 === 0)
        .select((col("doc_id") + 2000000L).as("doc_id"),
          graft.functions.TextFunctions.tokens(col("text")).as("tk"))
        .filter(size(col("tk")) >= 12)
        .select(col("doc_id"),
          concat_ws(" ", slice(col("tk"), lit(1),
            floor(size(col("tk")) / 2).cast("int"))).as("text"))
      val base = documents(s, d).select(col("doc_id"), col("text"))
      // staged once per (dataDir, plant recipe) — see stagedSetsPath
      val path = stagedSetsPath(s, "setsimdreg",
        "tok>=12;half-text;mod20+3M;5gram-md5x15", d) {
        val registry = base.filter(col("doc_id") % 20 === 0)
          .select((col("doc_id") + 3000000L).as("doc_id"), col("text"))
        shingles(registry)
      }
      val compiled = graft.operators.SetSimJoin.compileContainmentRegistry(
        graft.operators.SetSimJoin.loadSets(s, path), "sid", "stoks")
      val st = graft.streaming.EventsStream.readTable(s, d, "documents")
        .select(col("doc_id"), col("text"))
      val alerts = graft.operators.SetSimJoin.docContainmentProbe(
        shingles(halves(st)), compiled, threshold = 0.9,
        idCol = "doc_id", toksCol = "shingles")
      graft.streaming.EventsStream.runToCompletion(s, alerts,
          outputMode = "append")
        .orderBy(asc("query_id"), asc("doc_id"))
    },
    Some(s"""WITH reg0 AS (
               SELECT doc_id + 3000000 AS doc_id, text FROM documents
               WHERE doc_id % 20 = 0),
             regtk AS (
               SELECT doc_id, $toksSql AS t FROM reg0
               WHERE len($toksSql) >= 5),
             reg AS (
               SELECT doc_id AS query_id,
                 list_distinct(list_transform(
                   generate_series(1, len(t) - 4),
                   g -> CAST(('0x' || substr(md5(
                     array_to_string(list_slice(t, g, g + 4), ' ')), 1, 15))
                     AS BIGINT))) AS qset
               FROM regtk),
             halves AS (
               SELECT doc_id + 2000000 AS doc_id,
                 array_to_string(list_slice($toksSql,
                   1, CAST(floor(len($toksSql) / 2) AS INT)), ' ') AS text
               FROM documents
               WHERE doc_id % 20 = 0 AND len($toksSql) >= 12),
             doctk AS (
               SELECT doc_id, $toksSql AS t FROM halves
               WHERE len($toksSql) >= 5),
             docs AS (
               SELECT doc_id,
                 list_distinct(list_transform(
                   generate_series(1, len(t) - 4),
                   g -> CAST(('0x' || substr(md5(
                     array_to_string(list_slice(t, g, g + 4), ' ')), 1, 15))
                     AS BIGINT))) AS dset
               FROM doctk),
             qinst AS (SELECT query_id, unnest(qset) AS tok FROM reg),
             dinst AS (SELECT doc_id, unnest(dset) AS tok FROM docs),
             cand AS (
               SELECT DISTINCT q.query_id, i.doc_id
               FROM qinst q JOIN dinst i USING (tok)),
             scored AS (
               SELECT c.query_id, c.doc_id,
                 CAST(len(list_intersect(r.qset, d.dset)) AS BIGINT)
                   AS inter,
                 ROUND(len(list_intersect(r.qset, d.dset)) * 1.0 /
                   len(d.dset), 6) AS containment
               FROM cand c
               JOIN reg r ON r.query_id = c.query_id
               JOIN docs d ON d.doc_id = c.doc_id)
             SELECT query_id, doc_id, inter, containment FROM scored
             WHERE containment >= 0.9 ORDER BY query_id, doc_id"""))

  // ---- stored-signature lifecycle (save → append → remove → audit) ---
  // The MinHash signature table through its full path-store lifecycle:
  // half the corpus saved, the other half APPENDED (geometry derived
  // from the stamp), every 30th doc RETRACTED, then an arriving batch
  // of one-token-appended clones of every eligible doc (the
  // q_incremental_neardup margins: ≥ 25 distinct / ≥ 45 tokens, so the
  // LSH self-match guarantee is SQL-decidable) audits FROM THE STORE —
  // the corpus signature pass never re-runs. Each clone self-matches
  // iff its base SURVIVED the retraction (the b-side is the stored
  // signatures), so n_self_matched == surviving eligible docs; any
  // pair answering with a removed base id means the removal left rows
  // behind (n_removed_matched must be 0).
  private val nearDupStore = GraftQuery(
    "q_neardup_store",
    (s, d) => {
      val path = s"${GateStates.dir}/" +
        s"sigstore_${d.replaceAll("[^A-Za-z0-9]", "_")}"
      val docs = documents(s, d).select(col("doc_id"), col("text"))
      graft.operators.Dedup.saveSignatureStore(
        docs.filter(col("doc_id") % 2 === 0), "doc_id", "text", path)
      graft.operators.Dedup.appendSignatureStore(s, path,
        docs.filter(col("doc_id") % 2 === 1), "doc_id", "text")
      graft.operators.Dedup.removeSignatureStore(s, path,
        docs.filter(col("doc_id") % 30 === 0).select(col("doc_id")))
      val eligible = docs.filter(
        size(graft.functions.TextFunctions.distinctTokens(col("text"))) >= 25 &&
        size(graft.functions.TextFunctions.tokens(col("text"))) >= 45)
      val off = docs.agg(max(col("doc_id"))).head().getLong(0) + 1L
      val batch = eligible.select(
        (col("doc_id") + off).as("doc_id"),
        concat(col("text"), lit(" qqsigstore")).as("text"))
      val pairs = graft.operators.Dedup.incrementalNearDupFromStore(s,
        path, batch, docs, minJaccard = 0.9)
      val nBatch = batch.agg(count(lit(1)).as("n_batch"))
      val selfM = pairs.filter(col("a") - lit(off) === col("b"))
        .agg(countDistinct(col("a")).as("n_self_matched"))
      val removedM = pairs.join(
          docs.filter(col("doc_id") % 30 === 0)
            .select(col("doc_id").as("b")), Seq("b"), "left_semi")
        .agg(count(lit(1)).as("n_removed_matched"))
      nBatch.crossJoin(selfM).crossJoin(removedM)
    },
    Some(s"""SELECT
               CAST((SELECT COUNT(*) FROM documents
                     WHERE len(list_distinct($toksSql)) >= 25
                       AND len($toksSql) >= 45) AS BIGINT) AS n_batch,
               CAST((SELECT COUNT(*) FROM documents
                     WHERE len(list_distinct($toksSql)) >= 25
                       AND len($toksSql) >= 45
                       AND doc_id % 30 <> 0) AS BIGINT) AS n_self_matched,
               CAST(0 AS BIGINT) AS n_removed_matched"""))

  // ---- hot-bucket salted split (graceful degradation under skew) -----
  // A template token shared by 200 docs: every doc is {hotmark, u_i,
  // f1..f8}, so (df, tok)-rarity puts u_i first and the shared tokens
  // right behind it — prefix buckets reach 200, over the gate's
  // maxBucket = 50. With salting OFF this RAISES (the loud-cap
  // contract, pinned in SetSimJoinSpec); under the ADAPTIVE DEFAULT
  // (round 16) the engine sizes each hot token's split from its own
  // bucket count — here s = ⌈(200/50)²⌉ = 16, keeping every task at
  // the unsalted maxBucket² candidate bound (a-side salted by doc id,
  // b-side replicated — each pair meets once) — and the output equals
  // brute force, which the oracle restates as the literal all-pairs
  // intersection. At 100× corpus the same plan holds: the quadratic
  // candidate volume of a hot template token spreads across salt ×
  // partitions instead of one task.
  private val setSimHotToken = GraftQuery(
    "q_setsim_hot_token",
    (s, d) => {
      val fillers = (1 to 8).map(j => lit(s"f$j"))
      val docs = documents(s, d)
        .filter(col("doc_id") < 400 && col("doc_id") % 2 === 0)
        .select(col("doc_id"),
          array(lit("hotmark") +:
            concat(lit("u"), col("doc_id").cast("string")) +:
            fillers: _*).as("toks"))
      graft.operators.SetSimJoin.jaccardPairs(docs, "doc_id", "toks",
          threshold = 0.8, maxBucket = 50)
        .orderBy(asc("a"), asc("b"))
    },
    Some("""WITH d AS (
              SELECT doc_id,
                ['hotmark', 'u' || CAST(doc_id AS VARCHAR),
                 'f1', 'f2', 'f3', 'f4', 'f5', 'f6', 'f7', 'f8'] AS s
              FROM documents WHERE doc_id < 400 AND doc_id % 2 = 0),
            pairs AS (
              SELECT a.doc_id AS a, b.doc_id AS b,
                CAST(len(list_intersect(a.s, b.s)) AS BIGINT) AS inter,
                ROUND(len(list_intersect(a.s, b.s)) * 1.0 /
                  (len(a.s) + len(b.s) - len(list_intersect(a.s, b.s))),
                  6) AS jaccard
              FROM d a JOIN d b ON a.doc_id < b.doc_id)
            SELECT a, b, inter, jaccard FROM pairs
            WHERE jaccard >= 0.8 ORDER BY a, b"""))

  // ---- stored-set removal (the retraction / GDPR-delete shape) -------
  // The store holds every 5th doc's distinct tokens; a takedown removes
  // every 10th doc (half the store); then an arriving batch of
  // nearmark clones (of ALL original 5th docs) audits against the
  // surviving store. Clones of removed docs must find NOTHING — the
  // oracle replays the audit over the DIFFERENCE, so a removal that
  // left rows behind (or dropped the wrong rows) fails the hash. The
  // store rebuilds fresh each run (saveSets overwrite) because removal
  // mutates it — correctness gate, not a headline.
  private val setSimRemoved = GraftQuery(
    "q_setsim_removed",
    (s, d) => {
      val path = s"${GateStates.dir}/" +
        s"setsimrm_${d.replaceAll("[^A-Za-z0-9]", "_")}"
      def toked(df: org.apache.spark.sql.DataFrame) = df
        .select(col("doc_id"),
          graft.functions.TextFunctions.tokens(col("text")).as("toks"))
        .filter(size(col("toks")) >= 1)
      val base = documents(s, d).select(col("doc_id"), col("text"))
        .filter(col("doc_id") % 5 === 0)
      graft.operators.SetSimJoin.saveSets(toked(base), "doc_id", "toks",
        path)
      graft.operators.SetSimJoin.removeSets(s, path,
        base.filter(col("doc_id") % 10 === 0).select(col("doc_id")))
      val batch = toked(base
        .select((col("doc_id") + 1000000L).as("doc_id"),
          regexp_replace(col("text"), "^\\S+", "nearmark").as("text")))
      graft.operators.SetSimJoin.incrementalJaccardPairs(s, path, batch,
          "doc_id", "toks", threshold = 0.7)
        .orderBy(asc("a"), asc("b"))
    },
    Some(s"""WITH survivors AS (
               SELECT doc_id, text, 0 AS isb FROM documents
               WHERE doc_id % 5 = 0 AND doc_id % 10 <> 0),
             batch AS (
               SELECT doc_id + 1000000 AS doc_id,
                 regexp_replace(text, '^\\S+', 'nearmark') AS text,
                 1 AS isb
               FROM documents WHERE doc_id % 5 = 0),
             corpus AS (
               SELECT * FROM survivors UNION ALL SELECT * FROM batch),
             sized AS (
               SELECT doc_id, isb, list_distinct($toksSql) AS stoks,
                 len(list_distinct($toksSql)) AS n
               FROM corpus WHERE len($toksSql) >= 1),
             cand AS (
               SELECT DISTINCT least(p1.doc_id, p2.doc_id) AS a,
                 greatest(p1.doc_id, p2.doc_id) AS b
               FROM (SELECT doc_id, isb, unnest(stoks) AS tok FROM sized) p1
               JOIN (SELECT doc_id, isb, unnest(stoks) AS tok FROM sized) p2
                 USING (tok)
               WHERE p1.doc_id <> p2.doc_id AND (p1.isb = 1 OR p2.isb = 1)),
             scored AS (
               SELECT c.a, c.b,
                 CAST(len(list_intersect(ra.stoks, rb.stoks)) AS BIGINT)
                   AS inter,
                 ROUND(len(list_intersect(ra.stoks, rb.stoks)) * 1.0 /
                   (ra.n + rb.n - len(list_intersect(ra.stoks, rb.stoks))),
                   6) AS jaccard
               FROM cand c
               JOIN sized ra ON ra.doc_id = c.a
               JOIN sized rb ON rb.doc_id = c.b)
             SELECT a, b, inter, jaccard FROM scored
             WHERE jaccard >= 0.7 ORDER BY a, b"""))

  // ---- stored-set compaction (small-files maintenance) ----------------
  // Build + two appendSets generations (the daily-batch shape), compact
  // to target file size, then read back: the oracle replays the stored
  // CONTENT (per-doc value-sorted distinct-token set sizes) — a
  // compaction that dropped, duplicated, or mangled rows fails the
  // hash; the files_reduced fact is computed Spark-side against the
  // pre-compact file count.
  private val compactSetsGate = GraftQuery(
    "q_compact_sets",
    (s, d) => {
      val path = s"${GateStates.dir}/" +
        s"setsimcp_${d.replaceAll("[^A-Za-z0-9]", "_")}"
      def toked(df: org.apache.spark.sql.DataFrame) = df
        .select(col("doc_id"),
          graft.functions.TextFunctions.tokens(col("text")).as("toks"))
        .filter(size(col("toks")) >= 1)
      val docs = documents(s, d).select(col("doc_id"), col("text"))
      graft.operators.SetSimJoin.saveSets(
        toked(docs.filter(col("doc_id") % 7 === 0)), "doc_id", "toks", path)
      graft.operators.SetSimJoin.appendSets(s, path,
        toked(docs.filter(col("doc_id") % 7 === 1)
          .select((col("doc_id") + 10000000L).as("doc_id"), col("text"))),
        "doc_id", "toks")
      graft.operators.SetSimJoin.appendSets(s, path,
        toked(docs.filter(col("doc_id") % 7 === 2)
          .select((col("doc_id") + 20000000L).as("doc_id"), col("text"))),
        "doc_id", "toks")
      def nFiles(): Long = {
        val hp = new org.apache.hadoop.fs.Path(path)
        val fs = hp.getFileSystem(s.sparkContext.hadoopConfiguration)
        val it = fs.listFiles(hp, true)
        var n = 0L
        while (it.hasNext) {
          if (it.next().getPath.getName.endsWith(".parquet")) n += 1
        }
        n
      }
      val before = nFiles()
      graft.operators.SetSimJoin.compactSets(s, path)
      val reduced = nFiles() < before
      graft.operators.SetSimJoin.loadSets(s, path)
        .select(col("sid"), col("n"), lit(reduced).as("files_reduced"))
        .orderBy(asc("sid"))
    },
    Some(s"""WITH corpus AS (
               SELECT doc_id, text FROM documents WHERE doc_id % 7 = 0
               UNION ALL
               SELECT doc_id + 10000000, text FROM documents
               WHERE doc_id % 7 = 1
               UNION ALL
               SELECT doc_id + 20000000, text FROM documents
               WHERE doc_id % 7 = 2)
             SELECT doc_id AS sid,
               CAST(len(list_distinct($toksSql)) AS INT) AS n,
               TRUE AS files_reduced
             FROM corpus WHERE len($toksSql) >= 1
             ORDER BY sid"""))

  // ---- compiled-registry maintenance (append + remove, then probe) ---
  // The daily eval-suite update without a full recompile: compile the
  // first registry generation (every 40th doc's first half), APPEND the
  // second (every 40th+20 doc's half), REMOVE half of generation one
  // (every 80th), then probe the whole documents table. The oracle
  // replays the FINAL membership — (gen1 \ removed) ∪ gen2 — through
  // the standard containment-probe restatement, so an append that
  // recompiled wrong, a removal that left postings behind, or a merge
  // that duplicated entries (containment > 1.0) all fail the hash.
  private val registryMaintenance = GraftQuery(
    "q_registry_maintenance",
    (s, d) => {
      def shingles(df: org.apache.spark.sql.DataFrame) = df
        .select(col("doc_id"),
          graft.functions.TextFunctions.tokens(col("text")).as("tk"))
        .filter(size(col("tk")) >= 5)
        .select(col("doc_id"),
          transform(sequence(lit(1), size(col("tk")) - 4),
            g => conv(substring(md5(concat_ws(" ", slice(col("tk"), g, lit(5)))),
              1, 15), 16, 10).cast("long")).as("shingles"))
      def halves(df: org.apache.spark.sql.DataFrame, m: Int, off: Long) = df
        .filter(col("doc_id") % 40 === m)
        .select((col("doc_id") + off).as("doc_id"),
          graft.functions.TextFunctions.tokens(col("text")).as("tk"))
        .filter(size(col("tk")) >= 12)
        .select(col("doc_id"),
          concat_ws(" ", slice(col("tk"), lit(1),
            floor(size(col("tk")) / 2).cast("int"))).as("text"))
      val base = documents(s, d).select(col("doc_id"), col("text"))
      val gen1 = graft.operators.SetSimJoin.compileContainmentRegistry(
        shingles(halves(base, 0, 2000000L)), "doc_id", "shingles")
      val merged = graft.operators.SetSimJoin.appendToContainmentRegistry(
        gen1, shingles(halves(base, 20, 4000000L)), "doc_id", "shingles")
      val pruned = graft.operators.SetSimJoin.removeFromContainmentRegistry(
        merged, base.filter(col("doc_id") % 80 === 0 &&
            col("doc_id") % 40 === 0)
          .select((col("doc_id") + 2000000L).as("qid"))
          .join(graft.operators.SetSimJoin.registryPostings(gen1)
            .select(col("query_id").as("qid")).distinct(), Seq("qid"),
            "left_semi"))
      graft.operators.SetSimJoin.containmentProbe(
          shingles(base), pruned, threshold = 0.9,
          idCol = "doc_id", toksCol = "shingles")
        .orderBy(asc("query_id"), asc("doc_id"))
    },
    Some(s"""WITH reg0 AS (
               SELECT doc_id + 2000000 AS doc_id,
                 array_to_string(list_slice($toksSql,
                   1, CAST(floor(len($toksSql) / 2) AS INT)), ' ') AS text
               FROM documents
               WHERE doc_id % 40 = 0 AND doc_id % 80 <> 0
                 AND len($toksSql) >= 12
               UNION ALL
               SELECT doc_id + 4000000 AS doc_id,
                 array_to_string(list_slice($toksSql,
                   1, CAST(floor(len($toksSql) / 2) AS INT)), ' ') AS text
               FROM documents
               WHERE doc_id % 40 = 20 AND len($toksSql) >= 12),
             regtk AS (
               SELECT doc_id, $toksSql AS t FROM reg0
               WHERE len($toksSql) >= 5),
             reg AS (
               SELECT doc_id AS query_id,
                 list_distinct(list_transform(
                   generate_series(1, len(t) - 4),
                   g -> CAST(('0x' || substr(md5(
                     array_to_string(list_slice(t, g, g + 4), ' ')), 1, 15))
                     AS BIGINT))) AS qset
               FROM regtk),
             doctk AS (
               SELECT doc_id, $toksSql AS t FROM documents
               WHERE len($toksSql) >= 5),
             docs AS (
               SELECT doc_id,
                 list_distinct(list_transform(
                   generate_series(1, len(t) - 4),
                   g -> CAST(('0x' || substr(md5(
                     array_to_string(list_slice(t, g, g + 4), ' ')), 1, 15))
                     AS BIGINT))) AS dset
               FROM doctk),
             qinst AS (SELECT query_id, unnest(qset) AS tok FROM reg),
             dinst AS (SELECT doc_id, unnest(dset) AS tok FROM docs),
             cand AS (
               SELECT DISTINCT q.query_id, i.doc_id
               FROM qinst q JOIN dinst i USING (tok)),
             scored AS (
               SELECT c.query_id, c.doc_id,
                 CAST(len(list_intersect(r.qset, d.dset)) AS BIGINT)
                   AS inter,
                 ROUND(len(list_intersect(r.qset, d.dset)) * 1.0 /
                   len(r.qset), 6) AS containment
               FROM cand c
               JOIN reg r ON r.query_id = c.query_id
               JOIN docs d ON d.doc_id = c.doc_id)
             SELECT query_id, doc_id, inter, containment FROM scored
             WHERE containment >= 0.9 ORDER BY query_id, doc_id"""))

  override val queries: Seq[GraftQuery] = Seq(
    dedupExact, dedupDrop, ngramJaccard, minhashPairs, skewGuard,
    minhashSharded, crossShard, crossShardNear, incrementalDedup,
    incrementalNearDup, minhash10x, simhashSignatures, simhashPairs,
    setSimJoin, containmentJoin, incrementalSetSim, incrementalContainment,
    streamContainment, streamSetSim, streamDocContainment, nearDupStore,
    setSimHotToken, setSimRemoved, compactSetsGate, registryMaintenance)
}
