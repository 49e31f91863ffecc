package graft.operators

import org.apache.spark.sql.{Column, DataFrame, Observation, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StructField, StructType}
import graft.functions.TextFunctions
import graft.plans.SideJobs
import graft.store.{Manifest, Store}

/** Okapi BM25 ranked retrieval — the SPARSE member of the similarity
  * family (reference scope: the engine's document retrieval/selection
  * surface; BM25 itself is Robertson & Walker 1994). Dense ANN
  * ([[Similarity]], [[Pq]]) ranks by embedding cosine; BM25 ranks by
  * lexical term overlap, and production retrieval stacks run both.
  *
  * Shape at 100 TB — an inverted index is a DATAFRAME, not a data
  * structure: the postings list is the (doc, term, tf) frame, built
  * with one tokenize pass + one groupBy, and queries join INTO it.
  *
  *  - per-doc term frequencies: first shuffle keys (doc_id, term) —
  *    corpus-sized but uniform (the exact-dedup fingerprint shape);
  *  - document frequencies: one more agg over the tf frame, keyed by
  *    term — VOCABULARY-sized output, not corpus-sized;
  *  - scoring: query terms are a broadcast (queries are bounded the
  *    way every ANN entry point here bounds them), so the score join
  *    is map-side against the tf frame — the corpus never reshuffles
  *    for the query side;
  *  - top-k per query: [[GroupedTopK]] (rank-window ⇒ per-partition
  *    limit, no global sort materialization).
  *
  * Determinism: tf, df, and doc lengths are exact integer aggregates;
  * avgdl = Σdl / N is one exact-integer division; each per-term score
  * is pure double arithmetic both engines state identically; the
  * per-(query, doc) score folds term scores in TERM order (collect →
  * sort → fold), never group-SUM order — the [[Pq.encode]] qerr
  * convention, so the DuckDB oracle replays scores bit-for-bit.
  */
object Bm25 {

  /** Per-document term frequencies + document length:
    * (doc_id, tok, tf, dl). One tokenize pass, ONE shuffle: dl is
    * computed at scan time (array size, before the explode) and rides
    * the groupBy KEYS — it is functionally dependent on doc_id, so the
    * extra key changes nothing about the distribution but saves the
    * doc_id-window re-exchange a post-agg `sum(tf) over (doc)` would
    * pay (measured as a second Exchange in the plan).
    */
  def termFrequencies(docs: DataFrame, idCol: String = "doc_id",
                      textCol: String = "text"): DataFrame = {
    val toks = docs
      .select(col(idCol).as("doc_id"),
        TextFunctions.tokens(col(textCol)).as("tk"))
      .select(col("doc_id"), size(col("tk")).cast("long").as("dl"),
        explode(col("tk")).as("tok"))
    toks.groupBy("doc_id", "dl", "tok").agg(count(lit(1)).as("tf"))
      .select(col("doc_id"), col("tok"), col("tf"), col("dl"))
  }

  /** BM25 idf: ln((N − df + 0.5)/(df + 0.5) + 1) — the
    * plus-one form, non-negative even for df > N/2 terms.
    */
  private def idf(n: Column, df: Column): Column =
    log((n - df + lit(0.5)) / (df + lit(0.5)) + lit(1.0))

  /** Top-k documents per query under Okapi BM25.
    *
    * @param docs     (idCol, textCol) corpus
    * @param queries  (query_id, query_text) — bounded, broadcast;
    *                 guarded by `maxQueries` the ANN-operator way
    * @param k1       term-frequency saturation (standard 1.2)
    * @param b        length normalization (standard 0.75)
    *
    * Output: (query_id, rank, doc_id, score) — score rounded to 6 dp
    * AFTER the term-ordered fold.
    */
  def topK(docs: DataFrame, queries: DataFrame, k: Int,
           k1: Double = 1.2, b: Double = 0.75,
           idCol: String = "doc_id", textCol: String = "text",
           maxQueries: Long = 10000L): DataFrame = {
    val qn = queries.limit((maxQueries + 1).toInt).count()
    require(qn <= maxQueries,
      s"bm25TopK: query side has >$maxQueries rows; run in bounded batches")

    val tf = termFrequencies(docs, idCol, textCol)
    // vocabulary-sized; broadcast back onto the tf frame
    val dfreq = tf.groupBy("tok").agg(count(lit(1)).as("df"))
    val stats = docs.agg(
      count(lit(1)).as("n"),
      sum(size(TextFunctions.tokens(col(textCol)))).as("sum_dl"))
    // DISTINCT query terms: a repeated term in query text scores once
    // (the standard bag-of-query-TERMS form)
    val qterms = queries.select(col("query_id"),
        explode(array_distinct(TextFunctions.tokens(col("query_text"))))
          .as("tok"))
    answerFromPostings(tf, dfreq, stats, qterms, k, k1, b)
  }

  /** The scoring half, shared by [[topK]] (fresh frames) and
    * [[queryIndex]] (frames read back from a stored index).
    */
  private def answerFromPostings(tf: DataFrame, dfreq: DataFrame,
                                 stats: DataFrame, qterms: DataFrame,
                                 k: Int, k1: Double, b: Double): DataFrame = {
    val scored = tf
      .join(broadcast(qterms), Seq("tok"))
      .join(broadcast(dfreq), Seq("tok"))
      .crossJoin(broadcast(stats))
      .select(col("query_id"), col("doc_id"), col("tok"),
        (idf(col("n"), col("df")) *
          (col("tf") * (lit(k1) + 1.0)) /
          (col("tf") + lit(k1) *
            (lit(1.0) - lit(b) +
             lit(b) * col("dl") / (col("sum_dl").cast("double") / col("n")))))
          .as("s"))
    val perDoc = scored.groupBy("query_id", "doc_id")
      .agg(round(aggregate(
          transform(array_sort(collect_list(struct(col("tok"), col("s")))),
            x => x.getField("s")),
          lit(0.0), (acc, x) => acc + x), 6).as("score"))
    GroupedTopK(perDoc, Seq("query_id"),
        Seq(desc("score"), asc("doc_id")), k = k)
      .select(col("query_id"), col("rank"), col("doc_id"), col("score"))
  }

  // ---- stored index: tokenize once, answer forever -------------------

  /** Stored-index layout stamp, the format of the index's manifest
    * (the signature-store / ivfpq convention): scoring a stored index
    * under different (k1, b) than it was built for is NOT an error (they
    * are query-time knobs), but a layout change is.
    */
  private[graft] val IndexFormatPrefix = "graft-bm25-v1"

  private val Postings = "postings"
  private val Dfreq = "dfreq"

  /** `tf` with Σ tf (= Σ dl over the docs with ≥ 1 token) observed;
    * no metrics means the optimizer proved `tf` empty. */
  private def observeSumDl(tf: DataFrame): (DataFrame, () => Long) = {
    val obs = Observation()
    (tf.observe(obs, coalesce(sum(col("tf")), lit(0L)).as("sum_dl")),
      () => obs.get.get("sum_dl").fold(0L)(_.asInstanceOf[Long]))
  }

  /** Persist the postings (doc, term, tf, dl) and document frequencies
    * under `path`, with the corpus stats (`n`, `sum_dl`) as manifest
    * values. The corpus is tokenized ONCE here; every later query
    * batch joins into the stored postings and never rescans text — the
    * sparse analogue of [[Pq.saveIndex]].
    *
    * Two jobs: the postings write observes `n` (a direct corpus count —
    * postings drop zero-token docs, but n must count every document)
    * and `sum_dl` (Σ tf over postings ≡ Σ dl over docs with ≥ 1 token;
    * a null-text doc is a zero-token doc and adds 0); dfreq then
    * derives from the written postings file-set, so the corpus is
    * tokenized once. Both commit together or not at all.
    */
  def saveIndex(docs: DataFrame, path: String,
                idCol: String = "doc_id", textCol: String = "text"): Unit = {
    val spark = docs.sparkSession
    val (counted, docStats) = Store.observeIds(docs, None)
    val (tf, sumDl) = observeSumDl(termFrequencies(counted, idCol, textCol))
    val posted = Store.writeFileSet(path, Postings, tf, Some("doc_id"))
    val dfreq = Store.read(spark, path, tf.schema, Seq(posted))
      .groupBy("tok").agg(count(lit(1)).as("df"))
    val counts = Store.writeFileSet(path, Dfreq, dfreq, None)
    Store.commit(spark, path, Store.manifest(spark, path), IndexFormatPrefix,
      Map(Postings -> tf.schema, Dfreq -> dfreq.schema), Seq(posted, counts),
      Map("n" -> docStats()._1.toString, "sum_dl" -> sumDl().toString))
  }

  final case class Bm25Index(postings: DataFrame, dfreq: DataFrame,
                             stats: DataFrame)

  /** The live manifest, its layout stamp checked — no job. */
  private def indexManifest(spark: org.apache.spark.sql.SparkSession,
                            path: String): Manifest =
    Store.live(spark, path, s"stored BM25 index at $path has no manifest " +
      "— not an index or a pre-manifest build; rebuild with Bm25.saveIndex")(
      _ == IndexFormatPrefix,
      f => s"stored BM25 index at $path has layout '$f', this build reads " +
        s"'$IndexFormatPrefix' — rebuild with Bm25.saveIndex")

  private def statsOf(m: Manifest): (Long, Long) =
    (m.values("n").toLong, m.values("sum_dl").toLong)

  /** Loads the index from its manifest: postings and dfreq are lazy
    * frames over their file-sets, stats a one-row local frame of the
    * manifest's `n` and `sum_dl`. Runs no job. */
  def loadIndex(spark: org.apache.spark.sql.SparkSession,
                path: String): Bm25Index = {
    val m = indexManifest(spark, path)
    val (n, sumDl) = statsOf(m)
    Bm25Index(Store.table(spark, path, m, Postings),
      Store.table(spark, path, m, Dfreq),
      spark.createDataFrame(java.util.List.of(Row(n, sumDl)),
        StructType(Seq(StructField("n", LongType), StructField("sum_dl", LongType)))))
  }

  /** Append a NEW batch of documents to a stored index without
    * re-tokenizing the stored corpus — the [[Pq.appendVectors]]
    * lifecycle for the sparse index. Only the BATCH is tokenized:
    *
    *  - postings: the batch's (doc, tok, tf, dl) rows as a new
    *    file-set; its write observes the batch's `n`, id range and
    *    `sum_dl`;
    *  - dfreq: df is ADDITIVE across disjoint doc sets, so the merge is
    *    stored ∪ batch → groupBy(tok).sum — vocab-sized — written as a
    *    new file-set replacing the stored one;
    *  - stats: the manifest's `n` and `sum_dl` plus the batch's.
    *
    * New ids must not collide with stored doc ids (duplicates would
    * double-score): the semi-join runs only when the batch's id range
    * overlaps the stored one. All of it commits in one manifest, so an
    * append that dies midway leaves the old index loadable. With fresh
    * ids, append-then-query == rebuild-from-scratch (spec-pinned, the
    * appendVectors convention).
    */
  def appendDocs(spark: org.apache.spark.sql.SparkSession, path: String,
                 newDocs: DataFrame, idCol: String = "doc_id",
                 textCol: String = "text"): Unit = {
    val m = indexManifest(spark, path)
    val (counted, docStats) = Store.observeIds(newDocs, Some(idCol))
    val (tf, sumDl) = observeSumDl(Store.conform(
      termFrequencies(counted, idCol, textCol), m.schemas(Postings)))
    val posted = Store.writeFileSet(path, Postings, tf, Some("doc_id"))
    val (n, range) = docStats()
    Store.requireFresh(spark, path, m, Postings, "doc_id",
      newDocs.select(col(idCol).as("doc_id")), n, range, Seq(posted),
      "bm25 appendDocs: new batch ids collide with stored doc ids — " +
      "duplicates would double-score queries; re-id the batch or rebuild")
    val merged = Store.table(spark, path, m, Dfreq)
      .unionByName(Store.read(spark, path, m.schemas(Postings), Seq(posted))
        .groupBy("tok").agg(count(lit(1)).cast("long").as("df")))
      .groupBy("tok").agg(sum(col("df")).as("df"))
    val counts = Store.writeFileSet(path, Dfreq, merged, None)
    val (oldN, oldDl) = statsOf(m)
    Store.commit(spark, path, Some(m), m.format, m.schemas,
      m.sets(Postings) :+ posted :+ counts,
      m.values ++ Map("n" -> (oldN + n).toString,
        "sum_dl" -> (oldDl + sumDl()).toString))
  }

  /** Rewrite the stored postings and dfreq tables into
    * ~`targetFileBytes` parquet files — [[appendDocs]] adds one
    * file-set per batch, and at daily cadence the index becomes a
    * small-files problem (the [[graft.operators.SetSimJoin.compactSets]]
    * maintenance shape, applied to the sparse index). Row sets are
    * untouched (spec-pinned); COALESCE only (a file-layout change must
    * not pay an exchange); both tables commit in one manifest.
    */
  def compactIndex(spark: org.apache.spark.sql.SparkSession, path: String,
                   targetFileBytes: Long = 128L * 1024 * 1024): Unit = {
    require(targetFileBytes > 0,
      s"bm25 compactIndex: targetFileBytes must be > 0, got " +
      s"$targetFileBytes")
    Store.compact(spark, path, indexManifest(spark, path),
      Seq(Postings, Dfreq), targetFileBytes)
  }

  /** Remove documents from a stored index by id — the retraction /
    * GDPR-delete member of the sparse-index lifecycle ([[saveIndex]] /
    * [[appendDocs]] / [[queryIndex]]). Everything updates EXACTLY (so
    * remove == rebuild-over-the-difference, spec-pinned):
    *
    *  - postings: the surviving rows as one new file-set;
    *  - dfreq: df is additive over disjoint doc sets, so the removed
    *    postings' per-term counts subtract; terms reaching df = 0 drop;
    *  - stats: n and Σdl decrement by the removed docs' counts (per-doc
    *    dl rides every posting row — first(dl) per removed id).
    *
    * Unknown ids are a LOUD error, and so is a removal id with zero
    * postings: a token-less doc contributes no postings, so its
    * membership is not reconstructible from the index — it cannot be
    * removed individually (rebuild instead). Removing every posting-
    * bearing doc is also loud (an emptied index is a rebuild). All of
    * it commits in one manifest.
    *
    * @param removeIds one column of ids (any name); null ids rejected.
    */
  def removeDocs(spark: org.apache.spark.sql.SparkSession, path: String,
                 removeIds: DataFrame): Unit = {
    val m = indexManifest(spark, path)
    val postings = Store.table(spark, path, m, Postings)
    val ids = Store.removalIds(postings, "doc_id", removeIds,
      "bm25 removeDocs: removal list contains null ids",
      id => s"bm25 removeDocs: id '$id' has no stored postings — unknown " +
        "or token-less; a retraction must fail loudly, and token-less " +
        "docs need a rebuild")
    val removed = postings.join(ids, Seq("doc_id"), "left_semi")
    val left = Store.writeKept(spark, path, Postings,
      postings.join(ids, Seq("doc_id"), "left_anti"), "doc_id",
      "bm25 removeDocs: removal would empty the index — delete the " +
      "path and rebuild with saveIndex instead")
    val del = removed.groupBy("doc_id").agg(first(col("dl")).as("dl"))
      .agg(count(lit(1)).as("n"),
        coalesce(sum(col("dl")), lit(0L)).cast("long").as("sdl"))
      .head()
    val dfDelta = removed.groupBy("tok").agg(count(lit(1)).as("ddf"))
    val counts = Store.writeFileSet(path, Dfreq,
      Store.table(spark, path, m, Dfreq).join(dfDelta, Seq("tok"), "left")
        .select(col("tok"),
          (col("df") - coalesce(col("ddf"), lit(0L))).as("df"))
        .filter(col("df") > 0), None)
    val (oldN, oldDl) = statsOf(m)
    Store.commit(spark, path, Some(m), m.format, m.schemas, Seq(left, counts),
      m.values ++ Map("n" -> (oldN - del.getLong(0)).toString,
        "sum_dl" -> (oldDl - del.getLong(1)).toString))
  }

  /** Answer top-k from a stored index — no text access, no tokenize. */
  def queryIndex(index: Bm25Index, queries: DataFrame, k: Int,
                 k1: Double = 1.2, b: Double = 0.75,
                 maxQueries: Long = 10000L): DataFrame = {
    val qn = queries.limit((maxQueries + 1).toInt).count()
    require(qn <= maxQueries,
      s"bm25 queryIndex: query side has >$maxQueries rows; run in batches")
    val qterms = queries.select(col("query_id"),
      explode(array_distinct(TextFunctions.tokens(col("query_text"))))
        .as("tok"))
    answerFromPostings(index.postings, index.dfreq, index.stats, qterms,
      k, k1, b)
  }

  // ---- percolation: stored queries, streaming documents --------------

  /** A registered query set compiled against FROZEN index statistics —
    * the driver-side literal program [[percolate]] ships to executors.
    * Bounded by construction: `maxQueries` × `maxTermsPerQuery` (loud
    * caps), a few doubles per term.
    */
  final case class PercolatePrepared(
      terms: Seq[(Long, Seq[(String, Double)])], avgdl: Double)

  /** Compile a bounded query set against a stored index's statistics
    * (df, N, Σdl frozen at index time — the percolation contract: alert
    * scores stay comparable across arriving batches because the corpus
    * model does NOT drift with the stream). Terms the index never saw
    * keep df = 0 — the max-idf novelty reading, which is what an
    * alerting query wants. Driver state is Σ query terms — registry-
    * sized, never corpus- or vocab-sized (only the dfreq rows matching
    * query terms are fetched, via a registry-bounded join).
    */
  def preparePercolate(index: Bm25Index, queries: DataFrame,
                       maxQueries: Long = 1000L,
                       maxTermsPerQuery: Int = 64): PercolatePrepared = {
    val qn = queries.limit((maxQueries + 1).toInt).count()
    require(qn > 0 && qn <= maxQueries,
      s"preparePercolate: query side must have 1..$maxQueries rows, got $qn")
    val stats = index.stats
      .select(col("n").cast("long"), col("sum_dl").cast("long")).head()
    val n = stats.getLong(0)
    val avgdl = stats.getLong(1).toDouble / n
    val qt = queries.select(col("query_id").cast("long").as("query_id"),
      explode(array_distinct(TextFunctions.tokens(col("query_text"))))
        .as("tok"))
    val rows = qt.join(index.dfreq, Seq("tok"), "left")
      .select(col("query_id"), col("tok"),
        coalesce(col("df"), lit(0L)).as("df"))
      .collect()
    val byQuery = rows.groupBy(_.getLong(0)).toSeq.sortBy(_._1).map {
      case (qid, rs) =>
        require(rs.length <= maxTermsPerQuery,
          s"preparePercolate: query $qid has ${rs.length} terms > " +
          s"$maxTermsPerQuery; tighten the query or raise the cap")
        // TERM-sorted — the [[topK]] fold-order convention, so scores
        // replay bit-for-bit against the batch engine and the oracle
        qid -> rs.map { r =>
          val df = r.getLong(2)
          (r.getString(1), math.log((n - df + 0.5) / (df + 0.5) + 1.0))
        }.sortBy(_._1).toSeq
    }
    PercolatePrepared(byQuery, avgdl)
  }

  /** The in-row BM25 score of one document's token array against one
    * compiled query: pure per-row arithmetic over built-in HOFs — zero
    * joins, zero aggregations, zero state. Unmatched terms contribute
    * +0.0, which is IEEE-exact, so the TERM-ordered fold equals the
    * batch engine's matched-terms-only fold bit for bit (spec-pinned).
    */
  private def percolateScore(toks: Column, terms: Seq[(String, Double)],
                             k1: Double, b: Double,
                             avgdl: Double): Column = {
    val dl = size(toks).cast("double")
    val norm = lit(k1) * (lit(1.0) - lit(b) + lit(b) * dl / lit(avgdl))
    round(terms.map { case (t, idfV) =>
      val tf = size(filter(toks, x => x === lit(t))).cast("double")
      lit(idfV) * (tf * (lit(k1) + 1.0)) / (tf + norm)
    }.reduce(_ + _), 6)
  }

  /** Percolation / alerting — the INVERSE of search: the query set is
    * stored, documents arrive, and each arriving document is scored
    * against every registered query; (query_id, doc_id, score) rows at
    * or above `threshold` are emitted. `docs` may be a STATIC frame or
    * a STREAMING one — the plan is stateless per row (registry-sized
    * literals, per-row HOFs, a bounded explode), so append-mode
    * streaming is legal by construction with no shuffle before the
    * sink, the [[LinearClassifier.scoreColumns]] deploy shape.
    *
    * threshold must be > 0: a zero threshold would emit every
    * (doc × query) pair including non-matches — an alerting flood, and
    * it would break batch parity (the batch engine never materializes
    * no-shared-term pairs).
    */
  def percolate(docs: DataFrame, prep: PercolatePrepared,
                threshold: Double, k1: Double = 1.2, b: Double = 0.75,
                idCol: String = "doc_id",
                textCol: String = "text"): DataFrame = {
    require(threshold > 0.0,
      s"percolate: threshold must be > 0 (got $threshold)")
    require(prep.terms.nonEmpty, "percolate: empty compiled query set")
    val entries = prep.terms.map { case (qid, ts) =>
      struct(lit(qid).as("query_id"),
        percolateScore(col("tk"), ts, k1, b, prep.avgdl).as("score"))
    }
    // null text must be EXCLUDED, not scored: under non-ANSI semantics
    // size(null) = -1, which would poison dl and tf into garbage scores
    // instead of the batch engine's behavior (a null-text doc simply
    // contributes no postings)
    docs.filter(col(textCol).isNotNull)
      .select(col(idCol).as("doc_id"),
        TextFunctions.tokens(col(textCol)).as("tk"))
      .select(col("doc_id"), explode(array(entries: _*)).as("e"))
      .select(col("e.query_id").as("query_id"), col("doc_id"),
        col("e.score").as("score"))
      .filter(col("score") >= threshold)
  }

  // ---- registry-scale percolation: broadcast table, not plan literal --

  /** Compile a LARGE query registry against a stored index's frozen
    * statistics as ONE relational row — (qmap, avgdl) where `qmap` is
    * map<tok, array<struct<query_id, idf>>>. The plan-literal
    * [[preparePercolate]] path is capped at ~1000 queries because every
    * term becomes a Catalyst literal in the compiled projection; a
    * decontamination-shaped registry (percolate every eval benchmark
    * against the stream — 10⁵–10⁶ stored queries) instead rides the
    * plan as broadcast DATA, and scoring stays per-row
    * ([[percolateJoin]]). Same frozen-statistics contract: df/N/Σdl at
    * compile time, unseen terms get df = 0 (max-idf novelty).
    *
    * The returned frame is one row; nothing here is collected beyond
    * the two guard counts and the stats row (both O(1)).
    */
  /** Radix-bucket count for the two-level compiled map. Spark's
    * `element_at` on a MapType is a LINEAR scan of the entry array —
    * measured 12 docs/sec on a 79k-query / 168k-term registry with a
    * flat map (≈ 33M string comparisons per document). Two levels keyed
    * by `pmod(xxhash64(tok), B)` cut each probe to ~B outer + ~terms/B
    * inner comparisons (measured 330× faster, ~4k docs/sec on the same
    * registry) while staying pure relational algebra — no UDF, no
    * custom expression, scoring bit-identical.
    */
  private[graft] val PercolateBuckets = 1024

  def compilePercolateTable(index: Bm25Index, queries: DataFrame,
                            maxQueries: Long = 1000000L,
                            maxTermsPerQuery: Int = 64): DataFrame = {
    val (post, avgdl, fp) =
      guardedPercolatePostings(index, queries, maxQueries, maxTermsPerQuery)
    foldPercolate(post, avgdl, fp)
  }

  /** Shared front half of the percolate compiles: the null/duplicate/
    * empty/terms-cap guards plus the (query_id, tok, idf) postings
    * against the index's frozen statistics — everything except the
    * final map fold, which differs between the one-row and the sharded
    * layouts.
    */
  private def guardedPercolatePostings(index: Bm25Index, queries: DataFrame,
                                       maxQueries: Long,
                                       maxTermsPerQuery: Int)
      : (DataFrame, Double, String) = {
    // ONE registry pass answers the three row-level guards (row count,
    // null/non-numeric ids, duplicate ids after the long cast) that
    // previously ran as three separate scan jobs (r18 opt — at registry
    // scale each was a full pass; the require order keeps the old
    // check precedence, so callers see the same first error). r19: the
    // registry guard pass, the index-stats read, and the dfreq
    // fingerprint are INDEPENDENT jobs — run them concurrently (guide
    // §2.6) instead of serializing three planning+scheduling floors;
    // the requires still apply in the old precedence order afterward.
    // Only the registry TOKENIZE guard stays sequential, behind the
    // row-count cap: an oversized registry must refuse before paying
    // its tokenize pass.
    val qgF = SideJobs.fork(
      queries.select(col("query_id").cast("long").as("qid"))
        .groupBy("qid").agg(count(lit(1)).as("c"))
        .agg(coalesce(sum(col("c")), lit(0L)).as("qn"),
          coalesce(sum(when(col("qid").isNull, col("c"))), lit(0L))
            .as("n_null"),
          coalesce(max(when(col("qid").isNotNull, col("c"))), lit(0L))
            .as("max_c"))
        .head())
    val stF = SideJobs.fork(index.stats
      .select(col("n").cast("long"), col("sum_dl").cast("long")).head())
    val dfF = SideJobs.fork(index.dfreq
      .agg(coalesce(sum(xxhash64(col("tok"), col("df"))), lit(0L)))
      .head().getLong(0))
    val (qguard, stats, dfh) = (qgF(), stF(), dfF())
    val qn = qguard.getLong(0)
    require(qn > 0 && qn <= maxQueries,
      s"compilePercolateTable: query side must have 1..$maxQueries rows, " +
      s"got $qn")
    val n = stats.getLong(0)
    val avgdl = stats.getLong(1).toDouble / n
    // null query_id is a loud error, not a row to drop: the segment
    // fold in percolateJoin uses a null accumulator as its
    // "no open segment" sentinel, and a null registry id would alias it
    require(qguard.getLong(1) == 0L,
      "compilePercolateTable: registry has null (or non-numeric) " +
      "query_id rows — every registered query needs a long id")
    // duplicate qids after the long cast would silently SUM their term
    // scores in percolateJoin's qid-major segment fold — the
    // compileContainmentRegistry hazard, guarded the same way
    require(qguard.getLong(2) <= 1L,
      "compilePercolateTable: registry has duplicate query ids " +
      "(possibly distinct source ids colliding after the long cast) — " +
      "duplicate-qid postings would silently merge scores in the " +
      "percolate fold; re-id the registry")
    val qt = queries.select(col("query_id").cast("long").as("query_id"),
      explode(array_distinct(TextFunctions.tokens(col("query_text"))))
        .as("tok"))
    val worstRow = qt.groupBy("query_id").agg(count(lit(1)).as("c"))
      .agg(max(struct(col("c"), col("query_id"))).as("w")).head()
    // every query_text tokenized to zero terms → qt is empty and the
    // max-struct aggregate returns a null struct; a registry that can
    // never match anything is a caller bug, not an NPE
    require(!worstRow.isNullAt(0),
      "compilePercolateTable: no registry query tokenizes to any term " +
      "(all query_text values empty/whitespace) — register non-empty " +
      "queries")
    val worst = worstRow.getStruct(0)
    require(worst.getLong(0) <= maxTermsPerQuery,
      s"compilePercolateTable: query ${worst.getLong(1)} has " +
      s"${worst.getLong(0)} terms > $maxTermsPerQuery; tighten the query " +
      "or raise the cap")
    (qt.join(index.dfreq, Seq("tok"), "left")
       .select(col("query_id"), col("tok"),
         idf(lit(n), coalesce(col("df"), lit(0L))).as("idf")),
     avgdl, s"n=$n;sum_dl=${stats.getLong(1)};dfh=$dfh")
  }

  /** Content fingerprint of the index statistics a registry was
    * compiled against: (n, Σdl, an order-independent hash of the whole
    * dfreq table). [[appendToPercolateTable]] compares it instead of
    * avgdl alone (ADVICE r15): an index mutation that happens to
    * preserve avgdl — remove-then-append of docs whose dl equals avgdl
    * — still changes df and idf, and mixing its compile output into an
    * older registry would silently blend two corpus models. The dfreq
    * scan is vocab-sized and compile-time only.
    */
  private def statsFingerprint(index: Bm25Index, n: Long,
                               sumDl: Long): String = {
    val dfh = index.dfreq
      .agg(coalesce(sum(xxhash64(col("tok"), col("df"))), lit(0L)))
      .head().getLong(0)
    s"n=$n;sum_dl=$sumDl;dfh=$dfh"
  }

  /** (query_id, tok, idf) postings → the one-row (qmap, avgdl) compiled
    * registry — shared by [[compilePercolateTable]] and the incremental
    * registry members below.
    */
  private def foldPercolate(post: DataFrame, avgdl: Double,
                            statsFp: String): DataFrame =
    post.select(col("tok"), struct(col("query_id"), col("idf")).as("e"))
      .groupBy("tok").agg(sort_array(collect_list(col("e"))).as("entries"))
      .groupBy(pmod(xxhash64(col("tok")), lit(PercolateBuckets.toLong))
        .cast("int").as("bucket"))
      // inner entries TOK-SORTED (binary UTF8 order) — registry layout
      // v2: [[graft.functions.PercolateAlerts]] binary-searches these
      // at probe time instead of Catalyst's linear element_at scan
      .agg(map_from_entries(
          array_sort(collect_list(struct(col("tok"), col("entries")))))
        .as("inner"))
      .agg(map_from_entries(collect_list(struct(col("bucket"), col("inner"))))
        .as("qmap"))
      .select(col("qmap"), lit(avgdl).as("avgdl"),
        lit(statsFp).as("stats_fp"))

  /** Stored percolate-registry layout marker — the radix bucket count
    * is baked in (the [[graft.operators.SetSimJoin.RegistryFormatStamp]]
    * rationale: bucket assignments are frozen at compile time, so a
    * build with a different count must reject the store loudly rather
    * than probe the wrong cells).
    */
  private[graft] val PercolateFormatStamp =
    s"graft-bm25perc-v2;buckets=$PercolateBuckets;inner=tok-sorted"

  /** Persist a compiled percolate registry under `path` — the alert
    * list compiles once (tokenize + idf join + caps + radix fold) and
    * every later percolating process loads the one-row (qmap, avgdl,
    * stats_fp) table in milliseconds instead of recompiling 10⁵–10⁶
    * queries per JVM. The frozen-statistics contract rides along:
    * stats_fp persists, so [[appendToPercolateTable]] on a LOADED
    * registry still proves the index did not drift since the original
    * compile.
    */
  def savePercolateTable(compiled: DataFrame, path: String): Unit = {
    require(Seq("qmap", "avgdl", "stats_fp")
        .forall(compiled.columns.contains),
      "savePercolateTable: frame lacks qmap/avgdl/stats_fp — not a " +
      "compiled percolate registry from this build; rebuild with " +
      "compilePercolateTable")
    Store.saveOneRow(compiled.select(col("qmap"), col("avgdl"), col("stats_fp")),
      path, PercolateFormatStamp,
      "savePercolateTable: compiled registry must be exactly one row — " +
      "this frame is not a compile output")
  }

  def loadPercolateTable(spark: org.apache.spark.sql.SparkSession,
                         path: String): DataFrame = {
    val m = Store.live(spark, path, s"stored percolate registry at $path has " +
      "no manifest — not a savePercolateTable table; rebuild with " +
      "compilePercolateTable + savePercolateTable")(
      _ == PercolateFormatStamp,
      f => s"stored percolate registry at $path has layout '$f', this build " +
        s"reads '$PercolateFormatStamp' (the radix bucket assignment is " +
        "frozen at compile time) — recompile and re-save")
    require(m.rows(Store.OneRowTable) == 1L,
      s"stored percolate registry at $path is not exactly one row — " +
      "recompile and re-save")
    Store.table(spark, path, m, Store.OneRowTable)
  }

  // ---- sharded percolate registries (round 18) -----------------------
  //
  // One compiled registry row is the right shape up to Spark's
  // broadcast ceiling, but a 10⁶-query decontamination list compiles
  // to a GB-scale single row: the ×1 broadcast then needs a
  // comparably-sized driver at probe time (measured: 48 g for the
  // 945k-query registry, BASELINE.md round 17) and ultimately hits the
  // 8 GB broadcast hard limit. Sharding by query id splits the SAME
  // registry into R independent one-row registries — alerts are
  // per-query, so the union of per-shard probes IS the unsharded
  // answer (spec-pinned) — and the probe runs them as R sequential
  // jobs so the driver only ever holds ~one shard's broadcast.

  /** Compile a large registry into `shards` independent radix maps —
    * one row per non-empty shard: (shard, qmap, avgdl, stats_fp). Same
    * guards, postings, and per-shard map layout as
    * [[compilePercolateTable]] (a shard is a valid one-row registry in
    * its own right); shard assignment is `pmod(xxhash64(query_id), R)`,
    * deterministic in the query id. The fold is fully distributed —
    * driver memory is O(1) here regardless of registry size.
    */
  def compileShardedPercolateTable(index: Bm25Index, queries: DataFrame,
                                   shards: Int,
                                   maxQueries: Long = 10000000L,
                                   maxTermsPerQuery: Int = 64): DataFrame = {
    require(shards >= 1 && shards <= 4096,
      s"compileShardedPercolateTable: shards must be in [1, 4096], " +
      s"got $shards")
    val (post, avgdl, fp) =
      guardedPercolatePostings(index, queries, maxQueries, maxTermsPerQuery)
    post
      .withColumn("shard",
        pmod(xxhash64(col("query_id")), lit(shards.toLong)).cast("int"))
      .select(col("shard"), col("tok"),
        struct(col("query_id"), col("idf")).as("e"))
      .groupBy("shard", "tok")
      .agg(sort_array(collect_list(col("e"))).as("entries"))
      .groupBy(col("shard"),
        pmod(xxhash64(col("tok")), lit(PercolateBuckets.toLong))
          .cast("int").as("bucket"))
      .agg(map_from_entries(
          array_sort(collect_list(struct(col("tok"), col("entries")))))
        .as("inner"))
      .groupBy("shard")
      .agg(map_from_entries(
          collect_list(struct(col("bucket"), col("inner")))).as("qmap"))
      .select(col("shard"), col("qmap"), lit(avgdl).as("avgdl"),
        lit(fp).as("stats_fp"))
  }

  private[graft] val ShardedPercolateFormatStamp =
    s"graft-bm25percsh-v1;buckets=$PercolateBuckets;inner=tok-sorted"

  /** Persist a sharded registry (R rows, ~registry/R bytes each — no
    * GB-scale single parquet row, and a probing process can load it
    * without ever materializing the whole registry in one task).
    */
  def saveShardedPercolateTable(compiled: DataFrame, path: String): Unit = {
    require(Seq("shard", "qmap", "avgdl", "stats_fp")
        .forall(compiled.columns.contains),
      "saveShardedPercolateTable: frame lacks shard/qmap/avgdl/stats_fp " +
      "— not a compileShardedPercolateTable output")
    val rows = compiled.select(col("shard"), col("qmap"), col("avgdl"),
      col("stats_fp"))
    // checked on the R written rows, so the compile runs once
    Store.saveChecked(rows.repartition(col("shard")), path,
        ShardedPercolateFormatStamp, Shards) { written =>
      if (Store.read(rows.sparkSession, path, rows.schema, Seq(written))
          .groupBy("shard").count().filter(col("count") > 1)
          .limit(1).count() == 0L) None
      else Some("saveShardedPercolateTable: frame has duplicate shard rows " +
        "— not a compileShardedPercolateTable output")
    }
  }

  private val Shards = "shards"

  def loadShardedPercolateTable(spark: org.apache.spark.sql.SparkSession,
                                path: String): DataFrame = {
    Store.table(spark, path, Store.live(spark, path, s"stored sharded percolate " +
      s"registry at $path has no manifest — not a saveShardedPercolateTable table")(
      _ == ShardedPercolateFormatStamp,
      f => s"stored sharded percolate registry at $path has layout '$f', this " +
        s"build reads '$ShardedPercolateFormatStamp' — recompile and re-save"),
      Shards)
  }

  /** Percolate `docs` against a SHARDED registry: one
    * [[percolateJoin]] per shard row, executed EAGERLY as sequential
    * jobs (each shard's small alert output is pinned via
    * localCheckpoint, truncating the plan so the shard's broadcast is
    * unreferenced — the driver holds ~one shard's map at a time
    * instead of the whole registry), then the union of the per-shard
    * alerts. Bit-identical to the unsharded probe at any shard count
    * (spec-pinned): shards partition the query ids, and alerts are
    * per-query independent.
    *
    * Eager + batch-only by design (a streaming caller runs R
    * independent [[percolateJoin]] streams instead — each shard row IS
    * a valid one-row registry).
    */
  def shardedPercolateJoin(docs: DataFrame, sharded: DataFrame,
                           threshold: Double,
                           k1: Double = 1.2, b: Double = 0.75,
                           idCol: String = "doc_id",
                           textCol: String = "text"): DataFrame = {
    require(!docs.isStreaming,
      "shardedPercolateJoin is batch-only (eager per-shard jobs); run " +
      "one percolateJoin stream per shard row for streaming docs")
    require(threshold > 0.0,
      s"shardedPercolateJoin: threshold must be > 0 (got $threshold)")
    val shardIds = sharded.select(col("shard").cast("int"))
      .distinct().collect().map(_.getInt(0)).sorted
    require(shardIds.nonEmpty,
      "shardedPercolateJoin: registry has no shard rows")
    shardIds.toSeq.map { sid =>
      percolateJoin(docs,
        sharded.filter(col("shard") === sid)
          .select(col("qmap"), col("avgdl"), col("stats_fp")),
        threshold, k1, b, idCol, textCol)
        .localCheckpoint(true)
    }.reduce(_ unionByName _)
  }

  /** Explode a compiled percolate registry back into its
    * (query_id, tok, idf) postings — registry-sized, the inverse of
    * [[foldPercolate]]. Public: audits want to ASK a compiled registry
    * what it contains.
    */
  def percolatePostings(compiled: DataFrame): DataFrame =
    compiled.select(explode(col("qmap")).as(Seq("bucket", "inner")))
      .select(explode(col("inner")).as(Seq("tok", "entries")))
      .select(col("tok"), explode(col("entries")).as("e"))
      .select(col("e.query_id").as("query_id"), col("tok"),
        col("e.idf").as("idf"))

  /** Append new queries to a COMPILED percolate registry without
    * recompiling the existing ones — the daily alert-list update. The
    * new side compiles against the SAME stored index (inheriting the
    * null/empty/duplicate/terms-cap guards), which must carry the same
    * frozen statistics the old compile saw: idf and avgdl are baked
    * into the compiled postings, so an index that drifted in between
    * (an [[appendDocs]]/[[removeDocs]]) would silently mix two corpus
    * models — checked loudly via the compiled stats FINGERPRINT (n,
    * Σdl, dfreq content hash — avgdl alone let through mutations that
    * preserve the ratio, ADVICE r15). append == recompile-over-union
    * (spec-pinned).
    */
  def appendToPercolateTable(index: Bm25Index, compiled: DataFrame,
                             newQueries: DataFrame,
                             maxQueries: Long = 1000000L,
                             maxTermsPerQuery: Int = 64): DataFrame = {
    require(compiled.columns.contains("stats_fp"),
      "appendToPercolateTable: compiled registry carries no stats " +
      "fingerprint — compiled by an older build; recompile with " +
      "compilePercolateTable")
    val newCompiled = compilePercolateTable(index, newQueries, maxQueries,
      maxTermsPerQuery)
    val oldRow = compiled.select(col("avgdl"), col("stats_fp")).head()
    val oldAvgdl = oldRow.getDouble(0)
    val oldFp = oldRow.getString(1)
    val newFp = newCompiled.select(col("stats_fp")).head().getString(0)
    require(oldFp == newFp,
      s"appendToPercolateTable: the registry was compiled against " +
      s"different index statistics (stored fingerprint $oldFp, index " +
      s"fingerprint $newFp) — scores would mix two corpus models; " +
      "recompile the whole registry against the current index")
    val oldPost = percolatePostings(compiled)
    val newPost = percolatePostings(newCompiled)
    val clash = newPost.select("query_id").distinct()
      .join(oldPost.select("query_id").distinct(), Seq("query_id"),
        "left_semi")
      .limit(1).count()
    require(clash == 0L,
      "appendToPercolateTable: new query ids collide with compiled ids " +
      "— duplicate-qid postings would silently merge scores; re-id the " +
      "batch or recompile")
    val union = oldPost.unionByName(newPost)
    val nq = union.select("query_id").distinct().count()
    require(nq <= maxQueries,
      s"appendToPercolateTable: union has $nq queries > $maxQueries — " +
      "shrink the registry or raise the cap knowingly")
    foldPercolate(union, oldAvgdl, oldFp)
  }

  /** Remove queries from a COMPILED percolate registry by id — loud on
    * unknown ids and on emptying the registry (the
    * [[graft.operators.SetSimJoin.removeFromContainmentRegistry]]
    * contract). remove == recompile-over-difference; removed ids stop
    * alerting.
    */
  def removeFromPercolateTable(compiled: DataFrame,
                               removeIds: DataFrame): DataFrame = {
    // the fingerprint rides through unchanged: removal never touches
    // the baked statistics
    val kept = compiled.select(col("avgdl"), col("stats_fp")).head()
    val ids = removeIds.select(removeIds.columns.head).toDF("raw")
      .select(col("raw").cast("long").as("query_id"))
    require(ids.filter(col("query_id").isNull).limit(1).count() == 0L,
      "removeFromPercolateTable: removal list contains null or " +
      "non-numeric ids")
    val post = percolatePostings(compiled)
    val missing = ids.join(post.select("query_id").distinct(),
        Seq("query_id"), "left_anti")
      .limit(1).collect()
    require(missing.isEmpty,
      s"removeFromPercolateTable: id " +
      s"'${missing.headOption.map(_.get(0)).orNull}' is not in the " +
      "registry — a typo'd retraction must fail loudly")
    val remaining = post.join(ids, Seq("query_id"), "left_anti")
    require(remaining.limit(1).count() == 1L,
      "removeFromPercolateTable: removal would empty the registry — an " +
      "empty registry cannot alert; recompile instead")
    foldPercolate(remaining, kept.getDouble(0), kept.getString(1))
  }

  /** Percolation against a COMPILED REGISTRY TABLE: each arriving
    * document joins the one-row compiled frame (a ×1-row broadcast —
    * data, not plan literals) and is scored against every registered
    * query fully IN-ROW:
    *
    *  - the doc's DISTINCT tokens, in token-sorted order, probe `qmap`
    *    (one map lookup per distinct token — the Elasticsearch
    *    percolator shape, a term-indexed registry probed by the doc);
    *  - each hit contributes idf·(tf·(k1+1))/(tf + norm), with tf
    *    counted in-row — matches accumulate in (query, token-sorted)
    *    order;
    *  - per-query totals fold the matched terms in token order, which
    *    is BIT-IDENTICAL to both [[percolate]]'s all-terms fold
    *    (unmatched terms add IEEE-exact +0.0) and the batch engine's
    *    matched-only fold (spec-pinned).
    *
    * No explode of the match set before scoring, no join keyed on the
    * token, no aggregation, no state: the plan below the ×1-row
    * broadcast is scan → project → generate(alerts) → filter, so
    * `docs` may be a STATIC frame or a STREAMING one (stream-static
    * join + stateless rows = append-mode legal), exactly like
    * [[percolate]] — but with registry capacity bounded by broadcast
    * memory instead of plan size.
    */
  def percolateJoin(docs: DataFrame, compiled: DataFrame,
                    threshold: Double, k1: Double = 1.2, b: Double = 0.75,
                    idCol: String = "doc_id",
                    textCol: String = "text"): DataFrame = {
    require(threshold > 0.0,
      s"percolateJoin: threshold must be > 0 (got $threshold)")
    require(graft.functions.PercolateAlerts.Buckets == PercolateBuckets,
      "percolate kernel bucket constant drifted from the compile fold's")
    // r18: the probe/fold is ONE codegen'd Catalyst expression
    // ([[graft.functions.PercolateAlerts]]) instead of a tower of
    // higher-order functions. Same plan shape (scan → project → ×1-row
    // broadcast join → project → generate), same bit-exact scores
    // (spec-pinned against both the HOF fold and the plan-literal
    // path) — but the whole stage now FUSES into whole-stage codegen,
    // which kills the two linear-in-registry cost terms the r17
    // cap-scale run measured (4,000 → 58 docs/s at 79k → 945k
    // queries): the CodegenFallback boundary that copied the full
    // qmap into an UnsafeRow per document, and the linear element_at
    // map scans (now a per-doc bucket index + binary search over the
    // v2 tok-sorted inner maps). The expression thresholds in-row, so
    // the emitted rows ARE the alerts.
    docs.filter(col(textCol).isNotNull)
      .select(col(idCol).as("doc_id"),
        TextFunctions.tokens(col(textCol)).as("tk"))
      .crossJoin(broadcast(compiled))
      // alerts materialize in a PROJECT below the explode — putting the
      // kernel inside the Generate node itself (what select(explode(…))
      // analyzes to) would leave qmap crossing the codegen→Generate
      // boundary as a full per-row UnsafeRow copy whenever GenerateExec
      // stays outside whole-stage codegen; this way the stage boundary
      // carries only (doc_id, alert list)
      .select(col("doc_id"),
        graft.functions.PercolateAlerts.alerts(
          col("tk"), col("qmap"), col("avgdl"), k1, b, threshold).as("al"))
      .select(col("doc_id"), explode(col("al")).as("e"))
      .select(col("e.query_id").as("query_id"), col("doc_id"),
        col("e.score").as("score"))
  }

  /** The pre-r18 higher-order-function probe/fold — kept (dev-only) as
    * the parity oracle for [[graft.functions.PercolateAlerts]] (the
    * kernel A/B it anchored is BASELINE.md *The CodegenFallback boundary
    * copy*, round 18). Linear in registry size per document
    * (BASELINE.md round 17/18); do not ship new callers.
    */
  private[graft] def percolateJoinHof(docs: DataFrame, compiled: DataFrame,
                    threshold: Double, k1: Double = 1.2, b: Double = 0.75,
                    idCol: String = "doc_id",
                    textCol: String = "text"): DataFrame = {
    require(threshold > 0.0,
      s"percolateJoin: threshold must be > 0 (got $threshold)")
    val tk = col("tk")
    val dl = size(tk).cast("double")
    val norm = lit(k1) * (lit(1.0) - lit(b) + lit(b) * dl / col("avgdl"))
    val noEntries = array().cast(
      "array<struct<query_id:bigint,idf:double>>")
    // matches in (token-sorted, per-token entry) order; each element is
    // (qid, the token's INDEX in the sorted-distinct array, one matched
    // term's score contribution) — ti makes the qid-major re-sort below
    // restore token order WITHIN each query without ever comparing the
    // float (bit-exact fold order, the engine-wide convention)
    val matches = flatten(transform(array_sort(array_distinct(tk)), (t, i) => {
      val tf = size(filter(tk, x => x === t)).cast("double")
      // two-level radix probe via try_element_at: a missing bucket and a
      // missing token both yield null (coalesced below) under ANSI and
      // non-ANSI alike — plain element_at would raise
      // MAP_KEY_DOES_NOT_EXIST on nearly every probe under ansi=true
      val entries = try_element_at(
        try_element_at(col("qmap"),
          pmod(xxhash64(t), lit(PercolateBuckets.toLong)).cast("int")), t)
      transform(coalesce(entries, noEntries), e =>
        struct(e.getField("query_id").as("qid"), i.as("ti"),
          (e.getField("idf") * (tf * (lit(k1) + 1.0)) / (tf + norm))
            .as("s")))
    }))
    // ONE qid-major pass: sort by (qid, ti) and segment-fold — the
    // first cut re-scanned the match list once per distinct query
    // (transform(qids, q => filter(m, qid == q))), an O(Q·M) per-row
    // layer that dominated the 79k-query profile 7:1 over the map
    // probes themselves (BASELINE round 13); the segment fold is
    // O(M log M + segments²-copies) and references `m` exactly once
    val noPairs = array().cast("array<struct<query_id:bigint,score:double>>")
    def closed(acc: Column) = concat(acc.getField("res"),
      array(struct(acc.getField("cq").as("query_id"),
        acc.getField("cs").as("score"))))
    val folded = aggregate(
      array_sort(col("m")),
      struct(noPairs.as("res"), lit(null).cast("bigint").as("cq"),
        lit(0.0).as("cs")),
      (acc, e) =>
        when(acc.getField("cq").isNull,
          struct(acc.getField("res").as("res"),
            e.getField("qid").as("cq"), e.getField("s").as("cs")))
        .when(e.getField("qid") === acc.getField("cq"),
          struct(acc.getField("res").as("res"),
            acc.getField("cq").as("cq"),
            (acc.getField("cs") + e.getField("s")).as("cs")))
        .otherwise(
          struct(closed(acc).as("res"), e.getField("qid").as("cq"),
            e.getField("s").as("cs"))),
      acc => when(acc.getField("cq").isNull, acc.getField("res"))
        .otherwise(closed(acc)))
    val perQ = transform(folded, p =>
      struct(p.getField("query_id").as("query_id"),
        round(p.getField("score"), 6).as("score")))
    docs.filter(col(textCol).isNotNull)
      .select(col(idCol).as("doc_id"),
        TextFunctions.tokens(col(textCol)).as("tk"))
      .crossJoin(broadcast(compiled))
      .select(col("doc_id"), matches.as("m"))
      .select(col("doc_id"), explode(perQ).as("e"))
      .select(col("e.query_id").as("query_id"), col("doc_id"),
        col("e.score").as("score"))
      .filter(col("score") >= threshold)
  }

  /** Reciprocal-rank fusion (Cormack et al. 2009) of ranked lists —
    * the standard hybrid-retrieval combiner: sparse (BM25) and dense
    * (cosine ANN) lists fuse on rank POSITION, not score, so the two
    * incommensurable score scales need no calibration.
    *
    *   rrf(d) = Σ_lists 1/(kRrf + rank_list(d))
    *
    * Inputs are (query_id, rank, doc_id) frames (extra columns
    * ignored); a doc absent from a list simply contributes no term —
    * the integer ranks make the fused score exact double arithmetic,
    * fully oracle-able. Both lists are per-query bounded (top-k of
    * bounded queries), so the union + groupBy shuffles candidate
    * rows only, never a corpus.
    */
  def rrfFuse(lists: Seq[DataFrame], k: Int,
              kRrf: Int = 60,
              docCol: String = "doc_id"): DataFrame = {
    require(lists.nonEmpty, "rrfFuse: need at least one ranked list")
    val tagged = lists.zipWithIndex.map { case (df, i) =>
      df.select(col("query_id"), col(docCol).as("fused_id"),
        col("rank").cast("long").as("rank"), lit(i).as("src"))
    }.reduce(_ unionByName _)
    // fold contributions in LIST order per doc — two or three terms,
    // but double addition order still must match the oracle's
    val fused = tagged.groupBy("query_id", "fused_id")
      .agg(round(aggregate(
          transform(array_sort(collect_list(struct(col("src"), col("rank")))),
            s => lit(1.0) / (lit(kRrf.toDouble) + s.getField("rank"))),
          lit(0.0), (acc, x) => acc + x), 6).as("rrf"))
    GroupedTopK(fused, Seq("query_id"),
        Seq(desc("rrf"), asc("fused_id")), k = k)
      .select(col("query_id"), col("rank"), col("fused_id").as(docCol),
              col("rrf"))
  }
}
