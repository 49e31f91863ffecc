package graft.queries

import org.apache.spark.sql.functions._
import graft.Tables._
import graft.functions.TextFunctions
import graft.operators.{Dedup, GroupedTopK}

/** Corpus-mining extensions: TF-IDF term ranking, PII redaction, and
  * duplicate clustering via connected components — the document-side
  * operators a training-data pipeline layers on top of dedup/quality
  * (SURVEY.md §7.5 north star). All oracle-checked, including the
  * clustering (DuckDB recursive CTE reachability).
  */
object TextMiningSuite extends QuerySuite {

  private val toksSql =
    """list_filter(string_split_regex(trim(text), '\s+'), x -> x <> '')"""

  // ---- TF-IDF top-3 terms per document -------------------------------
  // tf and df are exact integer aggregates; the only float is the final
  // tf·ln((N+1)/(df+1)), rounded to 6 BEFORE ranking in both engines so
  // a last-bit libm difference can't flip a rank. Corpus-level stats
  // (df, N) come from the FULL table; only the reported docs are cut to
  // doc_id < 100 to keep the gate result bounded.
  private val tfidf = GraftQuery(
    "q_tfidf",
    (s, d) => {
      val toks = documents(s, d).select(
        col("doc_id"),
        explode(TextFunctions.tokens(col("text"))).as("tok"))
      val tf = toks.groupBy("doc_id", "tok").agg(count(lit(1)).as("tf"))
      val dfreq = tf.groupBy("tok").agg(count(lit(1)).as("df"))
      val n = documents(s, d).agg(count(lit(1)).as("n"))
      val scored = tf.join(dfreq, "tok")
        .crossJoin(broadcast(n))
        .withColumn("tfidf",
          round(col("tf") *
            log((col("n") + lit(1.0)) / (col("df") + lit(1.0))), 6))
        .filter(col("doc_id") < 100)
      GroupedTopK(scored, Seq("doc_id"),
          Seq(desc("tfidf"), asc("tok")), k = 3)
        .select("doc_id", "rank", "tok", "tfidf")
        .orderBy(asc("doc_id"), asc("rank"))
    },
    Some(s"""WITH toks AS (
               SELECT doc_id, unnest($toksSql) AS tok FROM documents),
             tf AS (
               SELECT doc_id, tok, COUNT(*) AS tf FROM toks GROUP BY 1, 2),
             dfreq AS (
               SELECT tok, COUNT(*) AS df FROM tf GROUP BY 1),
             n AS (SELECT COUNT(*) AS n FROM documents),
             scored AS (
               SELECT tf.doc_id, tf.tok,
                 ROUND(tf.tf * ln((n.n + 1.0) / (dfreq.df + 1.0)), 6) AS tfidf
               FROM tf JOIN dfreq USING (tok) CROSS JOIN n
               WHERE tf.doc_id < 100),
             ranked AS (
               SELECT doc_id, tok, tfidf,
                 ROW_NUMBER() OVER (PARTITION BY doc_id
                   ORDER BY tfidf DESC, tok) AS rank
               FROM scored)
             SELECT doc_id, CAST(rank AS INTEGER) AS rank, tok, tfidf
             FROM ranked WHERE rank <= 3 ORDER BY doc_id, rank"""))

  // ---- PII redaction --------------------------------------------------
  // The corpus is synthetic, so PII is injected deterministically per
  // row (email + phone), then scrubbed; the query reports counts and
  // the redacted text. Patterns are RE2-safe (no backrefs) so the Java
  // and DuckDB regex engines agree.
  private val emailPtn = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
  private val phonePtn = "\\+1-555-[0-9]{4}"
  private val piiRedact = GraftQuery(
    "q_pii_redact",
    (s, d) =>
      documents(s, d)
        .select(col("doc_id"),
          concat(col("text"), lit(" contact user"), col("doc_id"),
                 lit("@example.com or +1-555-"),
                 lpad(pmod(col("doc_id"), lit(10000)).cast("string"), 4, "0"))
            .as("raw"))
        .select(
          col("doc_id"),
          regexp_count(col("raw"), lit(emailPtn)).as("n_emails"),
          regexp_count(col("raw"), lit(phonePtn)).as("n_phones"),
          regexp_replace(
            regexp_replace(col("raw"), emailPtn, "[EMAIL]"),
            phonePtn, "[PHONE]").as("redacted"))
        .orderBy(asc("doc_id")),
    Some(s"""WITH raw AS (
               SELECT doc_id,
                 text || ' contact user' || doc_id ||
                 '@example.com or +1-555-' ||
                 lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0') AS raw
               FROM documents)
             SELECT doc_id,
               CAST(len(regexp_extract_all(raw, '$emailPtn')) AS INTEGER)
                 AS n_emails,
               CAST(len(regexp_extract_all(raw, '$phonePtn')) AS INTEGER)
                 AS n_phones,
               regexp_replace(regexp_replace(raw, '$emailPtn', '[EMAIL]', 'g'),
                 '$phonePtn', '[PHONE]', 'g') AS redacted
             FROM raw ORDER BY doc_id"""))

  // ---- duplicate clustering: connected components over near-dup edges -
  // Edges = proximity pairs with token-set jaccard > 0.5 (the exact,
  // oracle-able near-dup relation); clusters = min reachable doc_id via
  // Dedup.connectedComponents (log-round label propagation). The DuckDB
  // oracle recomputes reachability with a recursive CTE — a full
  // cross-engine check of an iterative distributed algorithm.
  private val dedupClusters = GraftQuery(
    "q_dedup_clusters",
    (s, d) => {
      val docs = documents(s, d)
      val toks = docs.select(
        col("source").as("src_a"), col("doc_id").as("a"),
        TextFunctions.distinctTokens(col("text")).as("ta"))
      val cand = toks
        .withColumn("b", explode(sequence(col("a") + 1, col("a") + 20)))
      val right = docs.select(
        col("source").as("src_b"), col("doc_id").as("b"),
        TextFunctions.distinctTokens(col("text")).as("tb"))
      val edges = cand.join(right, "b")
        .filter(col("src_a") === col("src_b"))
        .filter(Dedup.jaccardTokens(col("ta"), col("tb")) > 0.5)
        .select(col("a"), col("b"))
      val nodes = docs.select(col("doc_id").as("id"))
      Dedup.connectedComponents(nodes, edges)
        .select(col("id").as("doc_id"), col("label").as("cluster"))
        .orderBy(asc("doc_id"))
    },
    Some(s"""WITH RECURSIVE t AS (
               SELECT doc_id, source, list_distinct($toksSql) AS toks
               FROM documents),
             pairs AS (
               SELECT a.doc_id AS a, b.doc_id AS b
               FROM t a JOIN t b
                 ON a.source = b.source
                AND b.doc_id > a.doc_id AND b.doc_id - a.doc_id <= 20
               WHERE CAST(len(list_intersect(a.toks, b.toks)) AS DOUBLE) /
                     CAST(len(list_distinct(a.toks || b.toks)) AS DOUBLE)
                     > 0.5),
             edges AS (
               SELECT a, b FROM pairs
               UNION ALL SELECT b AS a, a AS b FROM pairs),
             reach AS (
               SELECT doc_id AS node, doc_id AS label FROM documents
               UNION
               SELECT e.a AS node, r.label
               FROM edges e JOIN reach r ON e.b = r.node)
             SELECT node AS doc_id, MIN(label) AS cluster
             FROM reach GROUP BY node ORDER BY doc_id"""))

  // ---- blocked fuzzy matching (entity resolution) --------------------
  // The classic blocking pattern: resolve on DISTINCT entity names (the
  // vocabulary, not the rows — bounded regardless of table size), block
  // by a cheap key (first word) so the quadratic levenshtein verify runs
  // only within blocks, never across the corpus.
  private val fuzzyMatch = GraftQuery(
    "q_fuzzy_match",
    (s, d) => {
      val names = part(s, d).select(col("p_name")).distinct()
        .withColumn("blk", split(col("p_name"), " ").getItem(0))
      val l = names.select(col("blk"), col("p_name").as("name_a"))
      val r = names.select(col("blk"), col("p_name").as("name_b"))
      l.join(r, "blk")
        .filter(col("name_a") < col("name_b"))
        .withColumn("dist", levenshtein(col("name_a"), col("name_b")))
        .filter(col("dist") <= 3)
        .select("name_a", "name_b", "dist")
        .orderBy(asc("name_a"), asc("name_b"))
    },
    Some("""WITH n AS (SELECT DISTINCT p_name FROM part),
            b AS (
              SELECT p_name, string_split(p_name, ' ')[1] AS blk FROM n)
            SELECT a.p_name AS name_a, c.p_name AS name_b,
              CAST(levenshtein(a.p_name, c.p_name) AS INTEGER) AS dist
            FROM b a JOIN b c ON a.blk = c.blk AND a.p_name < c.p_name
            WHERE levenshtein(a.p_name, c.p_name) <= 3
            ORDER BY name_a, name_b"""))

  // ---- cluster-dedup: the corpus after keeping one doc per near-dup
  //      cluster (pairs → components → min-id keeper) -----------------
  private val clusterKeep = GraftQuery(
    "q_dedup_cluster_keep",
    (s, d) => {
      val docs = documents(s, d)
      val toks = docs.select(
        col("source").as("src_a"), col("doc_id").as("a"),
        TextFunctions.distinctTokens(col("text")).as("ta"))
      val cand = toks
        .withColumn("b", explode(sequence(col("a") + 1, col("a") + 20)))
      val right = docs.select(
        col("source").as("src_b"), col("doc_id").as("b"),
        TextFunctions.distinctTokens(col("text")).as("tb"))
      val edges = cand.join(right, "b")
        .filter(col("src_a") === col("src_b"))
        .filter(Dedup.jaccardTokens(col("ta"), col("tb")) > 0.5)
        .select(col("a"), col("b"))
      val clusters = Dedup.connectedComponents(
        docs.select(col("doc_id").as("id")), edges)
      // keeper of each cluster IS its label (min reachable id)
      clusters.select(col("label").as("doc_id")).distinct()
        .orderBy(asc("doc_id"))
    },
    Some(s"""WITH RECURSIVE t AS (
               SELECT doc_id, source, list_distinct($toksSql) AS toks
               FROM documents),
             pairs AS (
               SELECT a.doc_id AS a, b.doc_id AS b
               FROM t a JOIN t b
                 ON a.source = b.source
                AND b.doc_id > a.doc_id AND b.doc_id - a.doc_id <= 20
               WHERE CAST(len(list_intersect(a.toks, b.toks)) AS DOUBLE) /
                     CAST(len(list_distinct(a.toks || b.toks)) AS DOUBLE)
                     > 0.5),
             edges AS (
               SELECT a, b FROM pairs
               UNION ALL SELECT b AS a, a AS b FROM pairs),
             reach AS (
               SELECT doc_id AS node, doc_id AS label FROM documents
               UNION
               SELECT e.a AS node, r.label
               FROM edges e JOIN reach r ON e.b = r.node)
             SELECT DISTINCT MIN(label) AS doc_id
             FROM reach GROUP BY node ORDER BY doc_id"""))

  // ---- Okapi BM25 ranked retrieval (sparse similarity search) --------
  // Three literal multi-term queries over the documents vocabulary;
  // tf/df/dl/N are exact integer aggregates, avgdl one exact division,
  // per-term scores identical double arithmetic in both engines, and
  // the per-(query, doc) score folds term scores in TERM order (the
  // qerr convention) before the 6-dp round that ranking uses — so the
  // full ranking replays in DuckDB value-for-value.
  private val bm25Queries = Seq(
    (0L, "fast sort merge"),
    (1L, "spark stream window"),
    (2L, "hash join key vector"))
  private lazy val bm25OracleSql: String = {
      val qvals = bm25Queries
        .map { case (i, t) => s"($i, '$t')" }.mkString(", ")
      s"""WITH q(query_id, query_text) AS (VALUES $qvals),
             toks AS (
               SELECT doc_id, unnest($toksSql) AS tok FROM documents),
             tf AS (
               SELECT doc_id, tok, COUNT(*) AS tf FROM toks GROUP BY 1, 2),
             dl AS (SELECT doc_id, SUM(tf) AS dl FROM tf GROUP BY 1),
             dfreq AS (SELECT tok, COUNT(*) AS df FROM tf GROUP BY 1),
             stats AS (
               SELECT COUNT(*) AS n,
                 SUM(len(list_filter(string_split_regex(trim(text), '\\s+'),
                   x -> x <> ''))) AS sum_dl
               FROM documents),
             qt AS (
               SELECT query_id,
                 unnest(list_distinct(list_filter(
                   string_split_regex(trim(query_text), '\\s+'),
                   x -> x <> ''))) AS tok
               FROM q),
             scored AS (
               SELECT qt.query_id, tf.doc_id, tf.tok,
                 ln((stats.n - dfreq.df + 0.5) / (dfreq.df + 0.5) + 1.0) *
                 (tf.tf * (1.2 + 1.0)) /
                 (tf.tf + 1.2 * (1.0 - 0.75 + 0.75 * dl.dl /
                   (CAST(stats.sum_dl AS DOUBLE) / stats.n))) AS s
               FROM tf JOIN qt USING (tok) JOIN dfreq USING (tok)
               JOIN dl USING (doc_id) CROSS JOIN stats),
             perdoc AS (
               SELECT query_id, doc_id,
                 ROUND(list_sum(list(s ORDER BY tok)), 6) AS score
               FROM scored GROUP BY 1, 2),
             ranked AS (
               SELECT query_id, doc_id, score,
                 ROW_NUMBER() OVER (PARTITION BY query_id
                   ORDER BY score DESC, doc_id) AS rank
               FROM perdoc)
             SELECT query_id, CAST(rank AS INTEGER) AS rank, doc_id, score
             FROM ranked WHERE rank <= 5 ORDER BY query_id, rank"""
  }

  private val bm25 = GraftQuery(
    "q_bm25_topk",
    (s, d) => {
      import s.implicits._
      val qs = bm25Queries.toDF("query_id", "query_text")
      graft.operators.Bm25.topK(documents(s, d), qs, k = 5)
        .orderBy(asc("query_id"), asc("rank"))
    },
    Some(bm25OracleSql))

  // ---- BM25 from a STORED index (tokenize once, answer forever) ------
  // Postings/df/stats parquet tables are written and read back INSIDE
  // the gate (the q_ivfpq_stored convention, layout-stamped, loud
  // rejection on foreign stamps), and queries answer from the stored
  // frames with no text access. Same oracle as q_bm25_topk — the
  // stored path must be answer-identical to the direct one.
  private val bm25Stored = GraftQuery(
    "q_bm25_stored",
    (s, d) => {
      import s.implicits._
      val path = s"${GateStates.dir}/" +
        s"bm25_${d.replaceAll("[^A-Za-z0-9]", "_")}"
      graft.operators.Bm25.saveIndex(documents(s, d), path)
      val qs = bm25Queries.toDF("query_id", "query_text")
      graft.operators.Bm25.queryIndex(
          graft.operators.Bm25.loadIndex(s, path), qs, k = 5)
        .orderBy(asc("query_id"), asc("rank"))
    },
    Some(bm25OracleSql))

  // ---- BM25 incremental append (tokenize only the new batch) ---------
  // Index built from doc_id % 3 != 0, then the % 3 == 0 remainder is
  // APPENDED (batch-only tokenize; df merge + stats add + postings
  // append). Queries against the appended index must equal the
  // full-corpus oracle — i.e. append-then-query == rebuild-from-scratch,
  // the q_ivfpq_stored append convention for the sparse index.
  private val bm25Appended = GraftQuery(
    "q_bm25_appended",
    (s, d) => {
      import s.implicits._
      val path = s"${GateStates.dir}/" +
        s"bm25app_${d.replaceAll("[^A-Za-z0-9]", "_")}"
      val docs = documents(s, d)
      graft.operators.Bm25.saveIndex(docs.filter(col("doc_id") % 3 =!= 0), path)
      graft.operators.Bm25.appendDocs(s, path,
        docs.filter(col("doc_id") % 3 === 0))
      val qs = bm25Queries.toDF("query_id", "query_text")
      graft.operators.Bm25.queryIndex(
          graft.operators.Bm25.loadIndex(s, path), qs, k = 5)
        .orderBy(asc("query_id"), asc("rank"))
    },
    Some(bm25OracleSql))

  // ---- streaming percolation: stored queries, arriving documents -----
  // The INVERSE of search, through the REAL streaming plan: the three
  // bm25Queries are compiled against a stored index's frozen statistics
  // (preparePercolate), the documents table arrives as a stream, and
  // each arriving doc is scored in-row (registry-sized literals, no
  // joins, no state — append-mode legal by construction). Emits alert
  // rows with score ≥ 1.5 (~1% of doc×query pairs — alerting-sized).
  // The in-row fold is bit-identical to the batch engine (spec-pinned),
  // so the oracle is the q_bm25_topk scoring replay, thresholded
  // instead of ranked.
  private val streamPercolate = GraftQuery(
    "q_stream_percolate",
    (s, d) => {
      import s.implicits._
      val path = s"${GateStates.dir}/" +
        s"bm25perc_${d.replaceAll("[^A-Za-z0-9]", "_")}"
      graft.operators.Bm25.saveIndex(documents(s, d), path)
      val prep = graft.operators.Bm25.preparePercolate(
        graft.operators.Bm25.loadIndex(s, path),
        bm25Queries.toDF("query_id", "query_text"))
      val st = graft.streaming.EventsStream.readTable(s, d, "documents")
      val alerts = graft.operators.Bm25.percolate(st, prep, threshold = 1.5)
      graft.streaming.EventsStream.runToCompletion(s, alerts,
          outputMode = "append")
        .orderBy(asc("query_id"), asc("doc_id"))
    },
    Some {
      val qvals = bm25Queries
        .map { case (i, t) => s"($i, '$t')" }.mkString(", ")
      s"""WITH q(query_id, query_text) AS (VALUES $qvals),
             toks AS (
               SELECT doc_id, unnest($toksSql) AS tok FROM documents),
             tf AS (
               SELECT doc_id, tok, COUNT(*) AS tf FROM toks GROUP BY 1, 2),
             dl AS (SELECT doc_id, SUM(tf) AS dl FROM tf GROUP BY 1),
             dfreq AS (SELECT tok, COUNT(*) AS df FROM tf GROUP BY 1),
             stats AS (
               SELECT COUNT(*) AS n,
                 SUM(len(list_filter(string_split_regex(trim(text), '\\s+'),
                   x -> x <> ''))) AS sum_dl
               FROM documents),
             qt AS (
               SELECT query_id,
                 unnest(list_distinct(list_filter(
                   string_split_regex(trim(query_text), '\\s+'),
                   x -> x <> ''))) AS tok
               FROM q),
             scored AS (
               SELECT qt.query_id, tf.doc_id, tf.tok,
                 ln((stats.n - dfreq.df + 0.5) / (dfreq.df + 0.5) + 1.0) *
                 (tf.tf * (1.2 + 1.0)) /
                 (tf.tf + 1.2 * (1.0 - 0.75 + 0.75 * dl.dl /
                   (CAST(stats.sum_dl AS DOUBLE) / stats.n))) AS s
               FROM tf JOIN qt USING (tok) JOIN dfreq USING (tok)
               JOIN dl USING (doc_id) CROSS JOIN stats),
             perdoc AS (
               SELECT query_id, doc_id,
                 ROUND(list_sum(list(s ORDER BY tok)), 6) AS score
               FROM scored GROUP BY 1, 2)
             SELECT query_id, doc_id, score FROM perdoc
             WHERE score >= 1.5 ORDER BY query_id, doc_id"""
    })

  // ---- registry-scale percolation (decontamination shape) ------------
  // The literal-compiled percolate path (q_stream_percolate) is capped
  // at ~1000 registered queries because every term becomes a Catalyst
  // plan literal. This gate runs the BROADCAST-TABLE path
  // (compilePercolateTable + percolateJoin) at one-query-per-tenth-doc
  // registry scale — the decontamination use: docs and benchmark
  // queries are both rendered as 5-gram shingle terms (shingle "words"
  // are high-idf and registry-selective, so each arriving doc matches
  // ~only the benchmarks it actually contaminates), the registry
  // compiles to ONE broadcast row of map<term, entries>, and scoring is
  // per-row HOFs — no exchange, no aggregate, no state below the
  // ×1-row broadcast (PercolateJoinSpec pins the plan and literal-path
  // bit-equality). The oracle replays everything: shingling, frozen
  // index stats, idf, the token-ordered matched-terms fold, threshold.
  /** One SQL replay shared by the four percolate gates (registry /
    * store / sharded / upgrade): the registry ARTIFACT differs per
    * gate, the alert semantics must not.
    */
  private val percolateReplaySql = s"""WITH tk AS (
               SELECT doc_id, $toksSql AS tk FROM documents
               WHERE len($toksSql) >= 5),
             sh AS (
               SELECT doc_id, list_transform(generate_series(1, len(tk) - 4),
                 g -> substr(md5(array_to_string(
                   list_slice(tk, g, g + 4), ' ')), 1, 15)) AS stk
               FROM tk),
             inst AS (SELECT doc_id, unnest(stk) AS tok FROM sh),
             tf AS (
               SELECT doc_id, tok, COUNT(*) AS tf FROM inst GROUP BY 1, 2),
             dl AS (SELECT doc_id, len(stk) AS dl FROM sh),
             dfreq AS (SELECT tok, COUNT(*) AS df FROM tf GROUP BY 1),
             stats AS (
               SELECT COUNT(*) AS n, SUM(len(stk)) AS sum_dl FROM sh),
             reg AS (
               SELECT doc_id AS query_id,
                 list_distinct(list_slice(stk, 3, 8)) AS qts
               FROM sh WHERE doc_id % 10 = 0 AND len(stk) >= 8),
             qt AS (SELECT query_id, unnest(qts) AS tok FROM reg),
             scored AS (
               SELECT qt.query_id, tf.doc_id, tf.tok,
                 ln((stats.n - dfreq.df + 0.5) / (dfreq.df + 0.5) + 1.0) *
                 (tf.tf * (1.2 + 1.0)) /
                 (tf.tf + 1.2 * (1.0 - 0.75 + 0.75 * dl.dl /
                   (CAST(stats.sum_dl AS DOUBLE) / stats.n))) AS s
               FROM tf JOIN qt USING (tok) JOIN dfreq USING (tok)
               JOIN dl USING (doc_id) CROSS JOIN stats),
             perdoc AS (
               SELECT query_id, doc_id,
                 ROUND(list_sum(list(s ORDER BY tok)), 6) AS score
               FROM scored GROUP BY 1, 2)
             SELECT query_id, doc_id, score FROM perdoc
             WHERE score >= 5.0 ORDER BY query_id, doc_id"""

  /** The percolate gates' shared corpus shape: md5 5-gram shingles,
    * repartitioned before the CPU-dense transform (r13 narrow-scan
    * lesson) and CUT once — `sh` feeds the index build, the registry
    * derivation, and the probe side.
    *
    * r18 (the pushed-predicate sweep, VERDICT r17 #8): the old
    * `filter(size(tk) >= 5)` between the two projections was pushed by
    * Catalyst below the token projection AND the repartition — the
    * full tokenize ran a second time INTERPRETED (HOF predicates are
    * CodegenFallback) at pre-repartition scan width. The min-length
    * guard is now a `when` inside the shingle projection (short docs
    * project null) with the filter ABOVE the lineage cut, where it
    * reads a materialized column for free — the SetSimJoin r17 recipe.
    */
  private def percolateShingled(s: org.apache.spark.sql.SparkSession,
                                d: String) =
    graft.plans.Lineage.cut(documents(s, d)
      .repartition(2 * s.sparkContext.defaultParallelism)
      .select(col("doc_id"), TextFunctions.tokens(col("text")).as("tk"))
      .select(col("doc_id"),
        when(size(col("tk")) >= 5,
          concat_ws(" ", transform(sequence(lit(1), size(col("tk")) - 4),
            g => substring(md5(concat_ws(" ", slice(col("tk"), g, lit(5)))),
              1, 15)))).as("text")))
      .filter(col("text").isNotNull)

  private def percolateRegQueries(sh: org.apache.spark.sql.DataFrame) =
    sh.filter(col("doc_id") % 10 === 0)
      .select(col("doc_id").as("query_id"),
        TextFunctions.tokens(col("text")).as("stk"))
      .filter(size(col("stk")) >= 8)
      .select(col("query_id"),
        concat_ws(" ", slice(col("stk"), 3, 6)).as("query_text"))

  private val percolateRegistry = GraftQuery(
    "q_percolate_registry",
    (s, d) => {
      val path = s"${GateStates.dir}/" +
        s"bm25reg_${d.replaceAll("[^A-Za-z0-9]", "_")}"
      // repartition BEFORE the md5-shingle transform (the r13
      // narrow-scan lesson: one tiny parquet file = 2 splits, so the
      // CPU-dense per-5-gram md5 work otherwise runs 2-wide), and CUT:
      // `sh` feeds THREE consumers (the index build, the registry
      // derivation, and the probe side) — without the boundary the
      // shingling runs three times (TimeQ-measured: 17.3 s warm floor
      // without, 6.3 s with)
      val sh = percolateShingled(s, d)
      graft.operators.Bm25.saveIndex(sh, path)
      val reg = sh.filter(col("doc_id") % 10 === 0)
        .select(col("doc_id").as("query_id"),
          TextFunctions.tokens(col("text")).as("stk"))
        .filter(size(col("stk")) >= 8)
        .select(col("query_id"),
          concat_ws(" ", slice(col("stk"), 3, 6)).as("query_text"))
      val compiled = graft.operators.Bm25.compilePercolateTable(
        graft.operators.Bm25.loadIndex(s, path), reg)
      graft.operators.Bm25.percolateJoin(sh, compiled, threshold = 5.0)
        .orderBy(asc("query_id"), asc("doc_id"))
    },
    Some(percolateReplaySql),
    // headline since r14: the radix-bucket probe's 13× win
    // (BASELINE round 13) is regression-guarded by the bench
    headline = true)

  // ---- stored percolate registry (round 16): the alert list as a
  // persisted artifact. Same corpus/registry/oracle as
  // q_percolate_registry, but the registry travels through the FULL
  // store lifecycle: compile HALF the queries → savePercolateTable →
  // loadPercolateTable (fresh frame, stamp + bucket-count checked) →
  // appendToPercolateTable of the other half ON THE LOADED TABLE
  // (exercising the persisted stats fingerprint against the live
  // index) → save to a second store → load → percolateJoin. The final
  // alerts hash against the SAME full-registry SQL replay, so a store
  // that dropped/duplicated postings, lost the fingerprint, or probed
  // wrong buckets fails on values, not shape.
  private val percolateStore = GraftQuery(
    "q_percolate_store",
    (s, d) => {
      val path = s"${GateStates.dir}/" +
        s"bm25regst_${d.replaceAll("[^A-Za-z0-9]", "_")}"
      val sh = percolateShingled(s, d)
      graft.operators.Bm25.saveIndex(sh, s"$path/index")
      val idx = graft.operators.Bm25.loadIndex(s, s"$path/index")
      val reg = sh.filter(col("doc_id") % 10 === 0)
        .select(col("doc_id").as("query_id"),
          TextFunctions.tokens(col("text")).as("stk"))
        .filter(size(col("stk")) >= 8)
        .select(col("query_id"),
          concat_ws(" ", slice(col("stk"), 3, 6)).as("query_text"))
      val half1 = reg.filter(col("query_id") % 20 === 0)
      val half2 = reg.filter(col("query_id") % 20 =!= 0)
      graft.operators.Bm25.savePercolateTable(
        graft.operators.Bm25.compilePercolateTable(idx, half1),
        s"$path/store1")
      val grown = graft.operators.Bm25.appendToPercolateTable(idx,
        graft.operators.Bm25.loadPercolateTable(s, s"$path/store1"), half2)
      graft.operators.Bm25.savePercolateTable(grown, s"$path/store2")
      graft.operators.Bm25.percolateJoin(sh,
          graft.operators.Bm25.loadPercolateTable(s, s"$path/store2"),
          threshold = 5.0)
        .orderBy(asc("query_id"), asc("doc_id"))
    },
    Some(percolateReplaySql))

  // ---- sharded percolate registry (round 18): the same registry split
  // into R = 8 independent one-row registries by query-id hash
  // (compileShardedPercolateTable), probed through the full sharded
  // store lifecycle (save → manifest-checked load → shardedPercolateJoin's
  // sequential per-shard jobs). Alerts are per-query independent, so
  // the union must hash-match the SAME unsharded SQL replay — a shard
  // assignment that lost, duplicated, or cross-contaminated a query
  // fails on values. This is the bounded-driver path for registries
  // past the one-row broadcast's comfort zone (BASELINE.md round 17/18:
  // the 945k-query row needed a 48 g driver; sharded probes hold ~one
  // shard's map at a time).
  private val percolateSharded = GraftQuery(
    "q_percolate_sharded",
    (s, d) => {
      val path = s"${GateStates.dir}/" +
        s"bm25regsh_${d.replaceAll("[^A-Za-z0-9]", "_")}"
      val sh = percolateShingled(s, d)
      graft.operators.Bm25.saveIndex(sh, s"$path/index")
      val idx = graft.operators.Bm25.loadIndex(s, s"$path/index")
      graft.operators.Bm25.saveShardedPercolateTable(
        graft.operators.Bm25.compileShardedPercolateTable(idx,
          percolateRegQueries(sh), shards = 8),
        s"$path/store")
      graft.operators.Bm25.shardedPercolateJoin(sh,
          graft.operators.Bm25.loadShardedPercolateTable(s, s"$path/store"),
          threshold = 5.0)
        .orderBy(asc("query_id"), asc("doc_id"))
    },
    Some(percolateReplaySql))

  // ---- hybrid retrieval: BM25 ⊕ dense cosine via RRF ------------------
  // The standard two-tower production shape: sparse (BM25 over
  // documents) and dense (exact cosine over embeddings, same id space)
  // top-10 lists fuse by reciprocal-rank (1/(60+rank), rank-based so
  // the incommensurable score scales need no calibration). Integer
  // ranks make the fused score exact double arithmetic — the oracle
  // replays BOTH retrievers and the fusion fold (list-order) to full
  // value equality.
  private val hybridRetrieval = GraftQuery(
    "q_hybrid_retrieval",
    (s, d) => {
      import s.implicits._
      val qs = bm25Queries.toDF("query_id", "query_text")
      val qvecs = embeddings(s, d).filter(col("vec_id") < 3)
        .select(col("vec_id").as("query_id"),
                col("embedding").as("query_vec"))
      val sparse = graft.operators.Bm25.topK(documents(s, d), qs, k = 10)
      val dense = graft.operators.Similarity.bruteForceTopK(
          embeddings(s, d), qvecs, k = 10)
        .select(col("query_id"), col("rank"),
                col("neighbor_id").as("doc_id"))
      graft.operators.Bm25.rrfFuse(Seq(sparse, dense), k = 5)
        .orderBy(asc("query_id"), asc("rank"))
    },
    Some {
      val qvals = bm25Queries
        .map { case (i, t) => s"($i, '$t')" }.mkString(", ")
      s"""WITH q(query_id, query_text) AS (VALUES $qvals),
             toks AS (
               SELECT doc_id, unnest($toksSql) AS tok FROM documents),
             tf AS (
               SELECT doc_id, tok, COUNT(*) AS tf FROM toks GROUP BY 1, 2),
             dl AS (SELECT doc_id, SUM(tf) AS dl FROM tf GROUP BY 1),
             dfreq AS (SELECT tok, COUNT(*) AS df FROM tf GROUP BY 1),
             stats AS (
               SELECT COUNT(*) AS n,
                 SUM(len(list_filter(string_split_regex(trim(text), '\\s+'),
                   x -> x <> ''))) AS sum_dl
               FROM documents),
             qt AS (
               SELECT query_id,
                 unnest(list_distinct(list_filter(
                   string_split_regex(trim(query_text), '\\s+'),
                   x -> x <> ''))) AS tok
               FROM q),
             bscored AS (
               SELECT qt.query_id, tf.doc_id, tf.tok,
                 ln((stats.n - dfreq.df + 0.5) / (dfreq.df + 0.5) + 1.0) *
                 (tf.tf * (1.2 + 1.0)) /
                 (tf.tf + 1.2 * (1.0 - 0.75 + 0.75 * dl.dl /
                   (CAST(stats.sum_dl AS DOUBLE) / stats.n))) AS s
               FROM tf JOIN qt USING (tok) JOIN dfreq USING (tok)
               JOIN dl USING (doc_id) CROSS JOIN stats),
             bperdoc AS (
               SELECT query_id, doc_id,
                 ROUND(list_sum(list(s ORDER BY tok)), 6) AS score
               FROM bscored GROUP BY 1, 2),
             sparse AS (
               SELECT query_id, doc_id, rank FROM (
                 SELECT query_id, doc_id,
                   ROW_NUMBER() OVER (PARTITION BY query_id
                     ORDER BY score DESC, doc_id) AS rank
                 FROM bperdoc) WHERE rank <= 10),
             e AS (
               SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v
               FROM embeddings),
             qv AS (
               SELECT vec_id AS query_id, v AS qvec FROM e
               WHERE vec_id < 3),
             dsc AS (
               SELECT qv.query_id, e.vec_id AS doc_id,
                 list_sum(list_transform(list_zip(e.v, qv.qvec),
                   x -> x[1] * x[2])) /
                 sqrt(list_sum(list_transform(e.v, x -> x * x)) *
                      list_sum(list_transform(qv.qvec, x -> x * x))) AS cos
               FROM e CROSS JOIN qv WHERE e.vec_id <> qv.query_id),
             dense AS (
               SELECT query_id, doc_id, rank FROM (
                 SELECT query_id, doc_id,
                   ROW_NUMBER() OVER (PARTITION BY query_id
                     ORDER BY cos DESC, doc_id) AS rank
                 FROM dsc) WHERE rank <= 10),
             u AS (
               SELECT query_id, doc_id, rank, 0 AS src FROM sparse
               UNION ALL
               SELECT query_id, doc_id, rank, 1 AS src FROM dense),
             f AS (
               SELECT query_id, doc_id,
                 ROUND(list_sum(list(1.0 / (60 + rank) ORDER BY src)), 6)
                   AS rrf
               FROM u GROUP BY 1, 2),
             r AS (
               SELECT query_id, doc_id, rrf,
                 ROW_NUMBER() OVER (PARTITION BY query_id
                   ORDER BY rrf DESC, doc_id) AS rank
               FROM f)
             SELECT query_id, CAST(rank AS INTEGER) AS rank, doc_id, rrf
             FROM r WHERE rank <= 5 ORDER BY query_id, rank"""
    })

  // ---- HTML → text extraction (web-corpus front end) ------------------
  // Deterministic markup is planted around each document's text: head
  // with entity-bearing title, a style block, a script whose BODY
  // contains both a raw '<' comparison and a fake '<div>' (the
  // non-greedy strip must consume them), uppercase block tags, list
  // items, and the fixed entity set. Engine = composed codegen
  // regexp_replace chain (functions.HtmlText); oracle = the SAME
  // RE2-safe patterns emitted by HtmlText.htmlToTextSql — the two
  // renditions live in one file so they cannot drift. Java-regex/RE2
  // agreement on identical inputs is the cross-engine check (the
  // q_script_detect convention).
  private val htmlP1 = "<!DOCTYPE html><html><head><title>Doc "
  private val htmlP2 = " &amp; friends</title><style type=\"text/css\">p { color: red }</style>" +
    "<script type=\"text/javascript\">if (1 < 2) { emit(\"<div>ignored</div>\") }</script>" +
    "</head><body><h1>Doc "
  private val htmlP3 = "</h1><P CLASS=\"lead\">"
  private val htmlP4 = "</P><ul><li>alpha</li><li>beta</li></ul>" +
    "<div>footer &lt;b&gt; &#39;q&#39;&nbsp;&amp; tail</div></body></html>"
  private val htmlExtract = GraftQuery(
    "q_html_extract",
    (s, d) => {
      val raw = concat(lit(htmlP1), col("doc_id"), lit(htmlP2),
        col("doc_id"), lit(htmlP3), col("text"), lit(htmlP4))
      documents(s, d)
        .select(col("doc_id"),
          graft.functions.HtmlText.htmlTitle(raw).as("title"),
          graft.functions.HtmlText.htmlToText(raw).as("txt"))
        .withColumn("n_chars", length(col("txt")).cast("long"))
        .orderBy(asc("doc_id"))
    },
    Some {
      val h = s"'$htmlP1' || doc_id || '$htmlP2' || doc_id || " +
        s"'$htmlP3' || text || '$htmlP4'"
      s"""WITH ext AS (
            SELECT doc_id,
              ${graft.functions.HtmlText.htmlTitleSql(s"($h)")} AS title,
              ${graft.functions.HtmlText.htmlToTextSql(s"($h)")} AS txt
            FROM documents)
          SELECT doc_id, title, txt, CAST(length(txt) AS BIGINT) AS n_chars
          FROM ext ORDER BY doc_id"""
    })

  override val queries: Seq[GraftQuery] =
    Seq(tfidf, piiRedact, dedupClusters, fuzzyMatch, clusterKeep, bm25,
        bm25Stored, bm25Appended, streamPercolate, percolateRegistry,
        percolateStore, percolateSharded,
        hybridRetrieval, htmlExtract)
}
