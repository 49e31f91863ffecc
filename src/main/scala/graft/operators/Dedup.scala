package graft.operators

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.functions.TextFunctions
import graft.store.{Manifest, Store}

/** Deduplication operators for training-data pipelines, Spark-first and
  * shuffle-aware:
  *
  *  - exact: hash-groupBy on a content fingerprint — ONE shuffle keyed by
  *    the (uniform) hash, never by raw text; no window over the corpus.
  *  - MinHash+LSH: shingle → per-seed min-hash signature → banded bucket
  *    join. Signatures are computed entirely inside whole-stage codegen
  *    (higher-order array functions over each row); only candidate-pair
  *    generation shuffles, keyed by (band, bandHash) — the classic
  *    sub-quadratic near-dup join. 100 TB note: bucket skew from
  *    boilerplate-heavy corpora is the known hazard — cap bucket size
  *    before the self-join (maxBucket) so a degenerate bucket cannot
  *    produce O(n²) pairs.
  *  - SimHash: 64-bit signature as a bit-count vector, built from per-
  *    (token,bit) hashes — again pure array expressions, no UDF.
  *  - n-gram Jaccard: exact verify step over candidate pairs via
  *    array_intersect / distinct-union.
  */
object Dedup {

  /** Shared default shingle width for the minhash family. Batch
    * ([[lshCandidatePairs]], [[nearDuplicatePairs]], incremental) and
    * streaming ([[graft.streaming.NearDupStream.bandedSignatures]])
    * defaults both point here so a consumer running both paths on
    * defaults gets ONE comparable signature space — two K values would
    * silently produce non-joinable signatures despite the documented
    * batch-parity contract.
    */
  val DefaultShingleK: Int = 5

  // ---------- exact ---------------------------------------------------

  /** One row per distinct content: keeper id (min), duplicate count. */
  def exactGroups(docs: DataFrame, idCol: String = "doc_id",
                  textCol: String = "text"): DataFrame =
    docs.groupBy(TextFunctions.exactFingerprint(col(textCol)).as("text_hash"))
      .agg(min(col(idCol)).as("keeper"), count(lit(1)).as("n_dups"))

  /** The deduplicated corpus: keep the min-id row per content hash.
    * Implemented as a semi-join against the keeper set (shuffle on the
    * uniform hash key), not a window over raw text.
    */
  def dropExactDuplicates(docs: DataFrame, idCol: String = "doc_id",
                          textCol: String = "text"): DataFrame =
    dropDuplicatesByKey(docs,
      TextFunctions.exactFingerprint(col(textCol)), idCol)

  /** Generic min-id-per-key dedup: keep the min-`idCol` row per value of
    * `key` (any deterministic expression — a fingerprint, a cluster id
    * from [[connectedComponents]], a pre-materialized token hash).
    */
  def dropDuplicatesByKey(docs: DataFrame, key: Column,
                          idCol: String): DataFrame = {
    val keepers = docs
      .groupBy(key.as("dedup_key"))
      .agg(min(col(idCol)).as(idCol))
      .select(idCol)
    docs.join(keepers, Seq(idCol), "left_semi")
  }

  // ---------- MinHash + LSH -------------------------------------------

  /** Token k-shingles as one array column (k consecutive tokens joined);
    * short docs fall back to the whole-doc shingle.
    */
  def shingles(text: Column, k: Int = 3): Column = {
    val toks = TextFunctions.tokens(text)
    when(size(toks) < k, array(concat_ws(" ", toks)))
      .otherwise(transform(
        sequence(lit(1), size(toks) - (k - 1)),
        i => concat_ws(" ", slice(toks, i, lit(k)))))
  }

  /** Per-token 64-bit hashes; the materialization unit for hash-space
    * shingling.
    */
  def tokenHashes(text: Column): Column =
    transform(TextFunctions.tokens(text), t => xxhash64(t))

  /** Hash-space k-shingles over a MATERIALIZED token-hash array column:
    * shingle i = xxhash64(th[i..i+k-1]) — k consecutive longs mixed into
    * one 64-bit hash. Never builds shingle strings (minhash only ever
    * consumes the hash; at sf0.1 concat_ws string-building alone cost
    * ~4 s). Short docs fall back to one whole-array hash.
    *
    * CRITICAL: `th` must be a bound column (projected in a previous
    * select), NOT a nested expression — interpreted HOF lambdas
    * re-evaluate nested arrays on EVERY element_at access, turning this
    * O(n·k) expression into O(n²·k) (measured 5× slower than string
    * shingles when inlined).
    */
  def shingleHashesFromTokenHashes(th: Column, k: Int = 3): Column =
    when(size(th) < k, array(xxhash64(th)))
      .otherwise(transform(
        sequence(lit(1), size(th) - (k - 1)),
        i => xxhash64((0 until k).map(j => element_at(th, i + j)): _*)))

  /** Per-seed hash family for minhash: independent affine-xorshift
    * permutations v_s(h) = mix(A_s·h + B_s) with fixed random odd
    * multipliers A_s and offsets B_s (mix = one invertible xorshift, so
    * each seed's map is a genuine bijection of the 64-bit space — a
    * permutation, which is what the minhash estimator assumes).
    *
    * Deliberately NOT the double-hashing family h1 + s·h2 (round-8 fix):
    * a LINEAR seed progression lets one shingle whose h2 approximates
    * (k/m)·2^64 capture the min on every m-th seed simultaneously — and
    * when m ≤ rowsPerBand that single shingle poisons EVERY band at
    * once, turning a one-token edit into a guaranteed candidate miss on
    * a jaccard≈0.99 pair. Observed at sf0.1: a planted twin's single new
    * shingle won exactly seeds 7,14,…,63 (stride 7 < the 8-row bands, so
    * all 8 bands disagreed) and a cross-shard near-dup group split.
    * Independent per-seed multipliers have no seed progression, so
    * min-capture events are uncorrelated across seeds — the same shape
    * as MLlib MinHashLSH's per-function random affine coefficients.
    */
  private[graft] val seedPerms: IndexedSeq[(Long, Long)] = {
    val rng = new scala.util.Random(0x5DEECE66DL)
    IndexedSeq.fill(512)((rng.nextLong() | 1L, rng.nextLong()))
  }

  private def seedPerm(h: Column, s: Int): Column = {
    val v = h * lit(seedPerms(s)._1) + lit(seedPerms(s)._2)
    v.bitwiseXOR(shiftrightunsigned(v, 32))
  }

  /** Version of the per-seed minhash family behind [[signatures]] /
    * [[minhashSignature]]. Signatures are only comparable WITHIN one
    * family: the round-8 switch from double hashing (v1) to per-seed
    * affine-xorshift permutations (v2) silently invalidated every
    * signature built before it — a stale stored table yields near-zero
    * recall with no error. Bump this whenever [[seedPerm]]'s math or
    * constants change; it rides in the signature store's format stamp
    * ([[saveSignatureStore]]), so a load refuses a stale store loudly.
    */
  val signatureFamilyVersion: Int = 2

  // ---- stored signature table: the full lifecycle ---------------------

  /** Store stamp: family version PLUS the signature GEOMETRY. The
    * family alone is not enough for a persisted table — an append built
    * with a different shingleK or numHashes has the same family yet its
    * signatures are incomparable (a k=5 signature never collides with a
    * k=9 one except by luck, so recall silently dies). The store bakes
    * (k, h) into the manifest's format stamp; append/audit derive their
    * geometry FROM the stamp, making a mismatch unrepresentable.
    */
  private[graft] def sigStoreStamp(shingleK: Int, numHashes: Int): String =
    s"graft-minhashsig-v$signatureFamilyVersion;k=$shingleK;h=$numHashes"

  /** A loaded signature store: the `(id, sig)` frame plus the parsed
    * geometry every consumer must call with.
    */
  final case class SignatureStore(sigs: DataFrame, shingleK: Int,
                                  numHashes: Int)

  private val SigTable = "sigs"

  /** Persist the corpus' signature table under `path` — the build-once
    * state of the incremental NEAR-dup audit (the
    * [[graft.operators.SetSimJoin.saveSets]] convention for the
    * probabilistic member). The corpus text is NOT stored: the exact
    * verify reads the corpus table itself; this store only saves the
    * dominant cost (the signature pass) across daily batches.
    */
  def saveSignatureStore(docs: DataFrame, idCol: String, textCol: String,
                         path: String,
                         shingleK: Int = DefaultShingleK,
                         numHashes: Int = 64): Unit =
    Store.save(docs.sparkSession, path, sigStoreStamp(shingleK, numHashes),
      Seq((SigTable, signatures(docs, idCol, textCol, shingleK, numHashes),
        Some("id"))))

  /** The live manifest, its format, geometry and columns checked — no
    * job. A store of an older layout (one whose rows carried a
    * per-row family column) is refused with the rebuild call.
    */
  private def sigManifest(spark: org.apache.spark.sql.SparkSession,
                          path: String): (Manifest, Int, Int) = {
    val m = Store.live(spark, path,
      s"stored signature table at $path has no manifest — not a " +
      "saveSignatureStore table; rebuild with Dedup.saveSignatureStore")(
      _.startsWith(s"graft-minhashsig-v$signatureFamilyVersion;"),
      f => s"stored signature table at $path has stamp '$f', this build " +
        s"writes 'graft-minhashsig-v$signatureFamilyVersion;…' — signatures " +
        "are not comparable across families/layouts; rebuild with " +
        "Dedup.saveSignatureStore")
    val cols = m.schemas(SigTable).fieldNames.mkString("(", ", ", ")")
    require(cols == "(id, sig)",
      s"stored signature table at $path has columns $cols, this build " +
      "stores (id, sig) — written by an older build; rebuild with " +
      "Dedup.saveSignatureStore")
    val geom = m.format.split(';').drop(1)
      .map(_.split('=')).map(kv => kv(0) -> kv(1).toInt).toMap
    (m, geom("k"), geom("h"))
  }

  def loadSignatureStore(spark: org.apache.spark.sql.SparkSession,
                         path: String): SignatureStore = {
    val (m, k, h) = sigManifest(spark, path)
    SignatureStore(Store.table(spark, path, m, SigTable), k, h)
  }

  /** Append a new batch's signatures under the STORED geometry (derived
    * from the stamp — a mismatched call is unrepresentable), refused
    * on an id collision (the [[SetSimJoin.appendSets]] contract: a
    * duplicate id double-answers every downstream audit). The id
    * semi-join runs only when the batch's id range, observed on the
    * write, overlaps the stored range.
    */
  def appendSignatureStore(spark: org.apache.spark.sql.SparkSession,
                           path: String, newDocs: DataFrame,
                           idCol: String, textCol: String): Unit = {
    val (m, k, h) = sigManifest(spark, path)
    Store.append(spark, path, m, SigTable,
      signatures(newDocs, idCol, textCol, k, h), "id",
      "appendSignatureStore: new batch ids collide with stored ids — " +
      "re-id the batch or rebuild with saveSignatureStore")
  }

  /** Compact the store's accumulated per-batch file-sets — coalesce
    * only (no exchange), one new file-set committed in place of the
    * old ones, rows spec-pinned identical (the
    * [[SetSimJoin.compactSets]] contract).
    */
  def compactSignatureStore(spark: org.apache.spark.sql.SparkSession,
                            path: String,
                            targetFileBytes: Long = 128L * 1024 * 1024): Unit = {
    require(targetFileBytes > 0,
      s"compactSignatureStore: targetFileBytes must be > 0, got " +
      s"$targetFileBytes")
    Store.compact(spark, path, sigManifest(spark, path)._1, Seq(SigTable),
      targetFileBytes)
  }

  /** Remove stored signatures by id — the retraction member (loud on
    * unknown ids and on emptying, the [[SetSimJoin.removeSets]]
    * contract); removed ids stop pairing in every downstream audit.
    */
  def removeSignatureStore(spark: org.apache.spark.sql.SparkSession,
                           path: String, removeIds: DataFrame): Unit = {
    Store.remove(spark, path, sigManifest(spark, path)._1, SigTable, "id",
      removeIds, "removeSignatureStore: removal list contains null ids",
      id => s"removeSignatureStore: id '$id' is not in the store — a " +
        "typo'd retraction must fail loudly, not report success",
      "removeSignatureStore: removal would empty the store — delete the " +
      "path and rebuild with saveSignatureStore instead")
  }

  /** Incremental near-dup audit answered FROM the store: load (stamp +
    * geometry checked from the manifest, no job), then
    * [[incrementalNearDupPairs]] with the stored signatures as the
    * corpus side — the corpus signature pass (its dominant cost) never
    * re-runs; only batch signatures and the candidate-bounded exact
    * verify touch text.
    */
  def incrementalNearDupFromStore(spark: org.apache.spark.sql.SparkSession,
                                  path: String, newBatch: DataFrame,
                                  corpus: DataFrame,
                                  minJaccard: Double = 0.8,
                                  idCol: String = "doc_id",
                                  textCol: String = "text",
                                  numBands: Int = 8,
                                  maxBucket: Int = 200,
                                  expectedBatchBands: Long = 1000000L)
      : DataFrame = {
    val st = loadSignatureStore(spark, path)
    incrementalNearDupPairs(newBatch, corpus, minJaccard, idCol, textCol,
      st.shingleK, st.numHashes, numBands, maxBucket, expectedBatchBands,
      corpusSigs = Some(st.sigs))
  }

  /** MinHash signature from a shingle-hash array ([[shingleHashes]]):
    * element s = min over shingles of the seed-s permutation
    * ([[seedPerm]] family). Pure per-row expression — no explode, no
    * shuffle. Kept in exact parity with the agg-form [[signatures]]
    * (spec-pinned).
    */
  def minhashSignature(shHashes: Column, numHashes: Int = 64): Column = {
    require(numHashes <= seedPerms.length, s"numHashes > ${seedPerms.length}")
    val perms = array((0 until numHashes).map(s =>
      struct(lit(seedPerms(s)._1).as("a"), lit(seedPerms(s)._2).as("b"))): _*)
    transform(perms, p => array_min(transform(shHashes, h => {
      val v = h * p.getField("a") + p.getField("b")
      v.bitwiseXOR(shiftrightunsigned(v, 32))
    })))
  }

  /** LSH bands: band i hashes signature rows [i*r, (i+1)*r). Same band
    * hash in any band ⇒ candidate pair.
    */
  def bands(sig: Column, numBands: Int, rowsPerBand: Int): Column =
    transform(sequence(lit(0), lit(numBands - 1)),
      i => struct(
        i.cast("int").as("band"),
        xxhash64(slice(sig, i * rowsPerBand + 1, lit(rowsPerBand))).as("bh")))

  /** Per-doc minhash signatures frame: (id, sig).
    *
    * The whole signature is ONE compiled pass per row
    * ([[graft.functions.MinhashSig]]): zero explode, zero shuffle —
    * signatures inherit the scan's partitioning, so the first exchange
    * in any dedup pipeline is the one keyed by (band, bucket), not an
    * extra corpus-wide aggregation. This replaced the explode+agg form
    * (kept as [[signaturesAgg]], spec-pinned bit-identical), which
    * materialized tokens·k shingle rows and shuffled them all by doc id
    * for 64 min-aggregates — at 100 TB that exchange IS the cost.
    *
    * Row semantics: null-text docs drop (as the agg form's explode
    * dropped them); ids are treated per-row — callers must not rely on
    * the agg form's accidental shingle-union of duplicate ids.
    * carryCols ride along (functionally dependent on the id — e.g. the
    * shard key for windowed dedup) so no re-join is needed downstream.
    */
  def signatures(docs: DataFrame, idCol: String, textCol: String,
                 shingleK: Int, numHashes: Int,
                 carryCols: Seq[String] = Nil): DataFrame = {
    require(numHashes <= seedPerms.length, s"numHashes > ${seedPerms.length}")
    val carry = carryCols.map(col)
    docs.select(
        (col(idCol).as("id") +: carry) :+
          tokenHashes(col(textCol)).as("th"): _*)
      .select(
        (col("id") +: carry) :+
          graft.functions.MinhashSig.minhash_sig(
            col("th"), shingleK, numHashes).as("sig"): _*)
      .where(col("sig").isNotNull)
  }

  /** The explode+agg signature pipeline [[signatures]] replaced —
    * shingles explode to rows, 64 codegen min-aggregates shuffle by doc
    * id. Kept as the independent parity oracle for the compiled
    * expression (MinhashSigSpec pins bit-equality on real documents):
    * the two forms share only the seed constants, so a drift in either
    * shingle fold or permutation math fails the spec loudly.
    */
  private[graft] def signaturesAgg(
      docs: DataFrame, idCol: String, textCol: String,
      shingleK: Int, numHashes: Int,
      carryCols: Seq[String] = Nil): DataFrame = {
    require(numHashes <= seedPerms.length, s"numHashes > ${seedPerms.length}")
    val carry = carryCols.map(col)
    val ex = docs.select(
        (col(idCol).as("id") +: carry) :+
          tokenHashes(col(textCol)).as("th"): _*)
      .select(
        (col("id") +: carry) :+
          explode(shingleHashesFromTokenHashes(col("th"), shingleK)).as("h1"): _*)
    val aggs = (0 until numHashes).map(s =>
      min(seedPerm(col("h1"), s)).as(s"h$s"))
    ex.groupBy(("id" +: carryCols).map(col): _*)
      .agg(aggs.head, aggs.tail: _*)
      .select((col("id") +: carry) :+
              array((0 until numHashes).map(i => col(s"h$i")): _*).as("sig"): _*)
  }

  /** Fraction of agreeing signature positions — the MinHash estimator of
    * Jaccard similarity. Cheap pre-verify filter for candidate pairs.
    * Codegen expression ([[graft.functions.SigAgreement]]): it runs once
    * per LSH candidate pair, where the interpreted-HOF original paid a
    * zipped-array allocation plus lambda interpretation per pair.
    */
  def signatureSimilarity(sa: Column, sb: Column): Column =
    graft.functions.VectorOps.sig_agree(sa, sb)

  /** The HOF original, kept as the parity oracle for [[SigAgreement]]. */
  private[graft] def signatureSimilarityHof(sa: Column, sb: Column): Column =
    aggregate(zip_with(sa, sb, (x, y) => when(x === y, 1).otherwise(0)),
      lit(0), (acc, v) => acc + v).cast("double") / size(sa).cast("double")

  /** Candidate near-duplicate pairs (a < b) from banded minhash buckets.
    *
    * Band geometry defaults (8 bands × 8 rows) target high-similarity
    * dedup: collision probability 1-(1-j^8)^8 is ~1 at j≥0.9 but <3% at
    * j=0.5 — essential on boilerplate-heavy corpora where loose bands
    * make candidate generation quadratic.
    *
    * @param maxBucket skew guard: buckets larger than this (pathological
    *                  boilerplate) are dropped rather than joined, keeping
    *                  worst-case pair count ≤ buckets·maxBucket².
    */
  def lshCandidatePairs(
      docs: DataFrame,
      idCol: String = "doc_id",
      textCol: String = "text",
      shingleK: Int = DefaultShingleK,
      numHashes: Int = 64,
      numBands: Int = 8,
      maxBucket: Int = 200): DataFrame =
    lshCandidatePairsFromSigs(
      signatures(docs, idCol, textCol, shingleK, numHashes),
      numHashes, numBands, maxBucket)

  /** Candidate generation from a precomputed (id, sig) frame — lets the
    * caller compute/cache signatures ONCE when they are reused by a
    * downstream verify stage.
    */
  /** Banded bucket rows from a signature frame: one (id, [shard cols,]
    * band, bh) row per band — the join-key stream every LSH bucket join
    * builds on.
    */
  private def bandedRows(sigs: DataFrame, numBands: Int, rowsPerBand: Int,
                         shardCols: Seq[String] = Nil): DataFrame =
    sigs
      .select((col("id") +: shardCols.map(col)) :+
              explode(bands(col("sig"), numBands, rowsPerBand)).as("b"): _*)
      .select((col("id") +: shardCols.map(col)) :+
              col("b.band").as("band") :+ col("b.bh").as("bh"): _*)

  def lshCandidatePairsFromSigs(
      sigs: DataFrame,
      numHashes: Int = 64,
      numBands: Int = 8,
      maxBucket: Int = 200,
      shardCols: Seq[String] = Nil): DataFrame = {
    val rowsPerBand = numHashes / numBands
    // shardCols join into the bucket key: pairs only form within a shard
    // (windowed dedup — a corpus too large for one LSH pass dedups per
    // source/date window, each shard an independent, smaller bucket join)
    val key = shardCols ++ Seq("band", "bh")
    val banded = bandedRows(sigs, numBands, rowsPerBand, shardCols)
    // ONE bucket aggregation replaces the previous self-join shape
    // (r18 opt): grouping the banded rows per bucket and expanding the
    // id array in-row pays a single full-width exchange where the
    // self-join paid three (the two join sides also re-derived the
    // whole banding subtree, DataFrame plans being trees). Pair
    // expansion (all a < b within a bucket) is two codegen Generates —
    // row counts identical to the join's.
    //
    // The skew guard must bound the aggregation buffer, not just the
    // output (ADVICE r18 medium): a size filter on the grouped array
    // only drops an oversized bucket AFTER its whole id list
    // materialized in one aggregation buffer — O(bucket) executor
    // memory for exactly the pathological boilerplate bucket maxBucket
    // exists for. The collect is therefore CAPPED at maxBucket + 1
    // elements per bucket ([[graft.functions.CollectListCapped]]): a
    // valid bucket collects everything (plain collect_list), a
    // degenerate one stops at maxBucket + 1 — enough for the size
    // filter to detect and drop it — so the buffer is O(maxBucket) by
    // construction in the partial, the merge, and the final. Same
    // single-aggregation plan shape and one exchange as r18. The two
    // plan-level guard shapes both measured worse (r19, interleaved
    // A/B): count-per-bucket agg + broadcast anti-join 1.18–1.37×
    // across the minhash family (a second banding derivation plus a
    // broadcast-build job per call, twice in cross_shard);
    // window-count pre-filter 1.08–1.13× (the sort + extra pass).
    banded.groupBy(key.map(col): _*)
      .agg(graft.functions.CollectListCapped(col("id"), maxBucket + 1)
        .as("ids"))
      .filter(size(col("ids")).between(2, maxBucket))
      .select(explode(col("ids")).as("a"), col("ids"))
      .select(col("a"), explode(col("ids")).as("b"))
      .filter(col("a") < col("b"))
      .distinct()
  }

  /** Exact token-set Jaccard similarity between two text columns. */
  def jaccard(textA: Column, textB: Column): Column =
    jaccardTokens(TextFunctions.distinctTokens(textA),
                  TextFunctions.distinctTokens(textB))

  /** Jaccard over pre-distinct token arrays — use when the token arrays
    * are materialized per DOC (once) rather than re-tokenized per PAIR.
    */
  def jaccardTokens(ta: Column, tb: Column): Column = {
    val i = size(array_intersect(ta, tb)).cast("double")
    val u = size(array_distinct(concat(ta, tb))).cast("double")
    when(u === 0, lit(0.0)).otherwise(i / u)
  }

  /** MinHash-LSH near-dup pipeline, staged cheap-to-expensive:
    * banded candidates → signature-agreement estimate filter (slack
    * below `minJaccard` to protect recall) → exact token-set Jaccard
    * verify on the survivors only. The expensive text join touches only
    * rows that already look similar — at 100 TB the estimate filter is
    * what keeps verify cost proportional to true-duplicate density, not
    * candidate density.
    *
    * `shardCols` turns this into WINDOWED dedup: pairs only form within
    * a shard (source, date window, …). For corpora that exceed one LSH
    * pass this bounds every bucket join to shard size, at the documented
    * cost of missing cross-shard duplicates — use
    * [[crossShardDedupClusters]] when cross-shard matters: it adds the
    * second pass over shard representatives.
    */
  def nearDuplicatePairs(
      docs: DataFrame,
      minJaccard: Double = 0.8,
      idCol: String = "doc_id",
      textCol: String = "text",
      shingleK: Int = DefaultShingleK,
      numHashes: Int = 64,
      shardCols: Seq[String] = Nil,
      maxBucket: Int = 200): DataFrame = {
    // One per-doc attribute frame (sig + distinct tokens, ONE tokenize
    // pass) feeds every consumer: banding, both estimate joins, and both
    // exact-verify joins. Cached, so the corpus is scanned/tokenized
    // once; the verify tail then enriches the (small) candidate-pair
    // stream with TWO id-keyed joins instead of the previous four
    // (sig-a, sig-b, toks-a, toks-b — r18 opt: the four SMJs exchanged
    // a corpus-derived side each, and the corpus tokenized three times).
    nearDupFromAttrs(attrFrame(docs, idCol, textCol, shingleK, numHashes,
      carryCols = shardCols), minJaccard, numHashes, shardCols, maxBucket)
  }

  /** [[nearDuplicatePairs]] over a PRE-TOKENIZED corpus — the composed
    * pipelines' shape (r19): their lineage-cut upstream already
    * materialized the token arrays, and running the tokenizer on the
    * text column again inside the minhash stage was a second full
    * corpus tokenize per pipeline. Identical output to
    * [[nearDuplicatePairs]] whenever `docs(toksCol) ==
    * TextFunctions.tokens(docs(textCol))` (parity spec-pinned);
    * signature math, null semantics, and the verify tail are the same
    * code.
    */
  def nearDuplicatePairsTokens(
      docs: DataFrame,
      minJaccard: Double = 0.8,
      idCol: String = "doc_id",
      toksCol: String = "toks",
      shingleK: Int = DefaultShingleK,
      numHashes: Int = 64,
      shardCols: Seq[String] = Nil,
      maxBucket: Int = 200): DataFrame =
    nearDupFromAttrs(
      attrFrameFromToks(docs, idCol, toksCol, shingleK, numHashes,
        carryCols = shardCols), minJaccard, numHashes, shardCols, maxBucket)

  private def nearDupFromAttrs(attrFrame: DataFrame, minJaccard: Double,
                               numHashes: Int, shardCols: Seq[String],
                               maxBucket: Int): DataFrame = {
    // read by banding and both verify joins of the returned lazy plan,
    // so it outlives the call: GC-owned (the graft.plans.Lineage rule).
    // The attribute projection is narrow: no job runs here unless the
    // caller's input plan holds an exchange.
    val attrs = attrFrame.localCheckpoint(false)
    val pairs = lshCandidatePairsFromSigs(attrs, numHashes,
      maxBucket = maxBucket, shardCols = shardCols)
    verifyCandidates(pairs, attrs, minJaccard)
  }

  /** Per-doc attribute frame shared by candidate generation and the
    * verify tail: (id[, carryCols], sig, toks). The minhash signature
    * and the distinct-token array come from ONE tokenize pass (`tk` is
    * bound in its own projection so CollapseProject cannot inline the
    * tokenizer into both consumers). Signature math and null semantics
    * are bit-identical to [[signatures]]: same bound-column staging,
    * same MinhashSig expression, same `sig IS NOT NULL` row drop — and
    * a doc dropped here never reached the old verify output either (its
    * pairs died in the inner toks join).
    */
  private def attrFrame(docs: DataFrame, idCol: String, textCol: String,
                        shingleK: Int, numHashes: Int,
                        carryCols: Seq[String] = Nil): DataFrame =
    attrsFromTk(docs.select(
        (col(idCol).as("id") +: carryCols.map(col)) :+
          TextFunctions.tokens(col(textCol)).as("tk"): _*),
      shingleK, numHashes, carryCols)

  /** [[attrFrame]] from a pre-materialized token-array column — no
    * tokenizer in the plan at all; everything from the `tk` binding on
    * is the same code (same MinhashSig expression, same staging, same
    * null-row drop).
    */
  private def attrFrameFromToks(docs: DataFrame, idCol: String,
                                toksCol: String, shingleK: Int,
                                numHashes: Int,
                                carryCols: Seq[String] = Nil): DataFrame =
    attrsFromTk(docs.select(
        (col(idCol).as("id") +: carryCols.map(col)) :+
          col(toksCol).as("tk"): _*),
      shingleK, numHashes, carryCols)

  private def attrsFromTk(staged: DataFrame, shingleK: Int, numHashes: Int,
                          carryCols: Seq[String]): DataFrame = {
    require(numHashes <= seedPerms.length, s"numHashes > ${seedPerms.length}")
    val carry = carryCols.map(col)
    staged
      .select(
        (col("id") +: carry) :+
          transform(col("tk"), t => xxhash64(t)).as("th") :+
          array_distinct(col("tk")).as("toks"): _*)
      .select(
        (col("id") +: carry) :+
          graft.functions.MinhashSig.minhash_sig(
            col("th"), shingleK, numHashes).as("sig") :+
          col("toks"): _*)
      .where(col("sig").isNotNull)
  }

  /** The estimate-then-verify tail shared by the one-pass and two-pass
    * near-dup pipelines: signature-agreement estimate filter (slack
    * below `minJaccard` to protect recall) → exact token-set Jaccard on
    * the survivors only. `attrs` is the [[attrFrame]] shape — both the
    * signature and the token array attach in one join per pair side.
    */
  private def verifyCandidates(pairs: DataFrame, attrs: DataFrame,
                               minJaccard: Double): DataFrame = {
    val a = attrs.select(col("id").as("a"), col("sig").as("sa"),
      col("toks").as("ta"))
    val b = attrs.select(col("id").as("b"), col("sig").as("sb"),
      col("toks").as("tb"))
    pairs.join(a, "a").join(b, "b")
      .withColumn("est", signatureSimilarity(col("sa"), col("sb")))
      .filter(col("est") >= minJaccard - 0.15)
      .withColumn("jaccard", jaccardTokens(col("ta"), col("tb")))
      .filter(col("jaccard") >= minJaccard)
      .select(col("a"), col("b"), round(col("jaccard"), 6).as("jaccard"))
  }

  /** Windowed near-dup dedup WITH the cross-shard second pass the
    * windowed pipeline documents ([[nearDuplicatePairs]] `shardCols`
    * note): per-shard LSH bounds every bucket join to shard size, then a
    * single GLOBAL pass over shard REPRESENTATIVES (one doc per
    * within-shard cluster) catches the duplicates that span shards — the
    * common case on a real corpus sharded by date or source. Cost shape
    * at scale: the shard pass is |corpus| with shard-bounded joins; the
    * rep pass is |distinct contents per shard| ≪ |corpus| after
    * within-shard dedup, so the global bucket join runs on the deduped
    * residue, never the raw corpus.
    *
    * Signatures are computed ONCE over the corpus and reused by both
    * passes (the rep pass semi-joins them down to representatives) — at
    * 100 TB this halves the dominant tokenize+minhash cost vs running
    * the one-pass pipeline twice.
    *
    * Returns one row per doc: (id, cluster) where cluster is the min doc
    * id reachable through within-shard OR cross-shard near-dup pairs —
    * i.e. exact clones in different shards are GUARANTEED to share a
    * cluster (identical text ⇒ identical signature ⇒ same rep-pass
    * bucket), which is the oracle contract of `q_dedup_cross_shard`.
    *
    * @param corpusSigs precomputed signature frame (`id`, `sig`, plus
    *   the `shardCols` columns) — the same stored-signature-table shape
    *   [[incrementalNearDupPairs]] accepts, so ONE maintained table
    *   serves both the ingest-time and the full-corpus operator. Must
    *   have been built with the same shingleK/numHashes and minhash
    *   family ([[loadSignatureStore]] checks both from the store's
    *   stamp; for any other frame the contract is the caller's). Joined
    *   once to the tokenize pass into this operator's own cached
    *   attribute frame (released before return);
    *   both LSH passes then skip the corpus signature pass, the
    *   dominant corpus-side cost.
    */
  def crossShardDedupClusters(
      docs: DataFrame,
      minJaccard: Double = 0.8,
      idCol: String = "doc_id",
      textCol: String = "text",
      shingleK: Int = DefaultShingleK,
      numHashes: Int = 64,
      shardCols: Seq[String] = Nil,
      maxBucket: Int = 200,
      corpusSigs: Option[DataFrame] = None): DataFrame = {
    require(shardCols.nonEmpty,
      "crossShardDedupClusters needs shardCols; for a single-window corpus " +
      "use nearDuplicatePairs + connectedComponents directly")
    // One cached per-doc attribute frame (sig + toks, [[attrFrame]])
    // serves banding AND both verify passes on both pair sides — the
    // previous shape cached signatures and tokens separately and paid
    // four id-keyed verify joins per pass (r18 opt). A caller-provided
    // signature table skips the signature pass: its rows join once to
    // the tokenize pass and the product is cached here (the join runs
    // at cache build, not per consumer).
    graft.plans.Lineage.scoped { scope =>
      val attrs = scope.persist(corpusSigs.map { cs =>
        cs.join(
          docs.select(col(idCol).as("id"),
            TextFunctions.distinctTokens(col(textCol)).as("toks")),
          Seq("id"))
      }.getOrElse(
        attrFrame(docs, idCol, textCol, shingleK, numHashes,
          carryCols = shardCols)))
      // pass 1: within-shard pairs → within-shard clusters. Both label
      // frames feed the returned lazy stitch join; connectedComponents
      // hands them back GC-owned, so they live exactly as long as it.
      val withinPairs = verifyCandidates(
        lshCandidatePairsFromSigs(attrs, numHashes, maxBucket = maxBucket,
          shardCols = shardCols),
        attrs, minJaccard)
      // node counts for the CC dense-graph probe come from frames this
      // operator materializes anyway (one attr row per doc, labels
      // checkpointed by CC) — never a fresh corpus scan (ADVICE r8): counting
      // `attrs` triggers the signature computation both passes reuse.
      val nDocs = attrs.count()
      val shardLabels = connectedComponents(
        docs.select(col(idCol).as("id")), withinPairs,
        nodesCount = Some(nDocs))
      // representatives: the min-id doc of each within-shard cluster is
      // exactly the doc whose id == its label (singletons represent
      // themselves)
      val reps = shardLabels.filter(col("id") === col("label")).select("id")
      val repAttrs = attrs.join(reps, Seq("id"), "left_semi")
      // pass 2: GLOBAL pairs over representatives (no shard key in the
      // bucket join) → rep-level clusters; the rep count scans the
      // checkpointed label frame only
      val repPairs = verifyCandidates(
        lshCandidatePairsFromSigs(repAttrs, numHashes, maxBucket = maxBucket),
        repAttrs, minJaccard)
      val repLabels = connectedComponents(reps, repPairs,
        nodesCount = Some(reps.count()))
      // stitch: doc → its within-shard rep → the rep's global cluster.
      // Both passes have materialized through the attribute cache by now
      // (connectedComponents rounds are eager actions), so the stitch
      // reads checkpoints only.
      shardLabels.select(col("id"), col("label").as("rep"))
        .join(repLabels.select(col("id").as("rep"), col("label").as("cluster")),
              Seq("rep"), "left")
        .select(col("id"), coalesce(col("cluster"), col("rep")).as("cluster"))
    }
  }

  // ---------- incremental (batch-vs-corpus) dedup ---------------------

  /** Incremental-ingest dedup: the rows of `newBatch` whose content does
    * NOT already exist in `corpus`. Exact result, Bloom-accelerated:
    *
    * The naive anti-join shuffles every corpus fingerprint — at 100 TB
    * that is a full-corpus shuffle to admit a batch a millionth its
    * size. Instead the (small) new batch builds a Bloom filter over its
    * fingerprints, delivered to the corpus scan as a scalar subquery
    * ([[BloomJoin]] machinery); the corpus is scanned once and only
    * fingerprints that MIGHT collide with the batch survive to the
    * anti-join — ≈ |batch| · (dup rate + false-positive rate) rows
    * shuffle instead of |corpus|. No false negatives, and the exact
    * anti-join removes false positives, so the result equals the naive
    * join (the oracle checks this).
    */
  def incrementalDedup(newBatch: DataFrame, corpus: DataFrame,
                       idCol: String = "doc_id",
                       textCol: String = "text",
                       expectedBatchItems: Long = 1000000L): DataFrame = {
    val fp = TextFunctions.exactFingerprint(col(textCol))
    val batchBloom = BloomJoin.bloomOf(
      newBatch.select(fp.as("fp")), "fp", expectedBatchItems)
    val corpusHits = corpus
      .select(fp.as("__corpus_fp"))
      .where(BloomJoin.mightContain(batchBloom, col("__corpus_fp")))
    newBatch
      .withColumn("__fp", fp)
      .join(corpusHits, col("__fp") === col("__corpus_fp"), "left_anti")
      .drop("__fp")
  }

  /** Incremental-ingest NEAR-dup: the (batch doc, corpus doc) pairs whose
    * token-set jaccard meets `minJaccard` — "which batch docs are
    * near-duplicates of content already in the corpus", the natural
    * ingest-time operator at 100 TB (the exact-content version is
    * [[incrementalDedup]]). Returns (a = batch id, b = corpus id,
    * jaccard); batch rows to ADMIT are the anti-join of the batch
    * against `select("a")`.
    *
    * Scale shape: the naive approach runs the full one-pass LSH over
    * corpus ∪ batch — a corpus-sized bucket shuffle to place a batch a
    * millionth its size. Instead:
    *
    *  - signatures are computed per side; the corpus signature pass is
    *    one scan (in production they are precomputed and stored — the
    *    checkpointed frame here stands in for that signature table);
    *  - the corpus's banded rows are pruned by a Bloom filter over the
    *    BATCH's (band, bandHash) keys, delivered to the corpus stream as
    *    a scalar subquery ([[BloomJoin]] machinery): only corpus rows
    *    whose bucket might collide with the batch survive to the bucket
    *    join, ≈ |batch|·bands·(dup + false-positive rate) rows instead
    *    of |corpus|·bands;
    *  - candidate enrichment joins BROADCAST the (bounded) candidate
    *    side so corpus signatures and tokens are never shuffled — the
    *    corpus is only ever scanned, never exchanged.
    *
    * Bloom false positives cost only wasted candidates (removed by the
    * estimate + exact verify); no false negatives, so recall equals the
    * unpruned bucket join's. Oversized buckets on either side are
    * dropped by the [[lshCandidatePairs]] `maxBucket` contract, bounding
    * the worst case at buckets·maxBucket².
    *
    * A batch within the broadcast bound takes the batch-probe route
    * instead ([[BatchProbe]]): collected once, its band keys filter one
    * narrow scan of the corpus signatures, and the survivors' tokens are
    * verified in one `InSet`-filtered corpus scan, with no exchange.
    *
    * Id spaces of `newBatch` and `corpus` must be disjoint (standard for
    * ingest — new docs get new ids); signatures/tokens are looked up per
    * SIDE, so a collision would silently pair the wrong documents.
    *
    * @param corpusSigs precomputed corpus signature frame (`id`, `sig`)
    *   — the production shape: a stored signature table maintained at
    *   ingest means repeated batches skip the corpus signature pass
    *   entirely (the dominant corpus-side cost). Must have been built
    *   with the same shingleK/numHashes AND the same minhash family —
    *   [[incrementalNearDupFromStore]] takes both from the store's
    *   stamp; for a caller's own [[signatures]] frame the contract is
    *   the caller's. Used as-is (not persisted here — its storage is the
    *   caller's).
    */
  def incrementalNearDupPairs(
      newBatch: DataFrame, corpus: DataFrame,
      minJaccard: Double = 0.8,
      idCol: String = "doc_id",
      textCol: String = "text",
      shingleK: Int = DefaultShingleK,
      numHashes: Int = 64,
      numBands: Int = 8,
      maxBucket: Int = 200,
      expectedBatchBands: Long = 1000000L,
      corpusSigs: Option[DataFrame] = None): DataFrame =
    collectSigBatch(newBatch, idCol, textCol, shingleK, numHashes, numBands)
      .flatMap(b => nearDupProbe(b, corpus, minJaccard, idCol, textCol,
        shingleK, numHashes, numBands, maxBucket, corpusSigs))
      .getOrElse(incrementalNearDupExchange(newBatch, corpus, minJaccard,
        idCol, textCol, shingleK, numHashes, numBands, maxBucket,
        expectedBatchBands, corpusSigs))

  /** [[incrementalNearDupPairs]] above the broadcast bound: the batch's
    * bucket keys reach the corpus band stream as a Bloom filter, and the
    * two sides meet in exchanges. */
  private def incrementalNearDupExchange(
      newBatch: DataFrame, corpus: DataFrame, minJaccard: Double,
      idCol: String, textCol: String, shingleK: Int, numHashes: Int,
      numBands: Int, maxBucket: Int, expectedBatchBands: Long,
      corpusSigs: Option[DataFrame]): DataFrame = {
    val rowsPerBand = numHashes / numBands
    // both signature sides are read several times by the returned lazy
    // plan, so they outlive the call: GC-owned (the graft.plans.Lineage
    // rule; narrow projections, so no job runs here on narrow inputs)
    val bSigs = signatures(newBatch, idCol, textCol, shingleK, numHashes)
      .localCheckpoint(false)
    val cSigs = corpusSigs.getOrElse(
      signatures(corpus, idCol, textCol, shingleK, numHashes)
        .localCheckpoint(false))
    val bBand = bandedRows(bSigs, numBands, rowsPerBand)
    val cBand = bandedRows(cSigs, numBands, rowsPerBand)
    // Bloom over the batch's bucket keys; both sides fold (band, bh) into
    // one long the same way, so probe equals build by construction.
    val bandKey = xxhash64(col("band"), col("bh"))
    val bloom = BloomJoin.bloomOf(
      bBand.select(bandKey.as("bk")), "bk", expectedBatchBands)
    val cPruned = cBand.where(BloomJoin.mightContain(bloom, bandKey))
    // Skew guard per side (broadcast anti-join, as in the one-pass path):
    // a boilerplate bucket on EITHER side would otherwise make the bucket
    // join quadratic in bucket size. The corpus-side count runs on the
    // Bloom-pruned stream, so it is batch-proportional too.
    def guard(banded: DataFrame): DataFrame = {
      val oversized = banded.groupBy("band", "bh")
        .agg(count(lit(1)).as("n")).filter(col("n") > maxBucket)
        .select("band", "bh")
      banded.join(broadcast(oversized), Seq("band", "bh"), "left_anti")
    }
    val cand = guard(bBand).select(col("band"), col("bh"), col("id").as("a"))
      .join(guard(cPruned).select(col("band"), col("bh"), col("id").as("b")),
            Seq("band", "bh"))
      .select(col("a"), col("b"))
      .distinct()
    // estimate filter: batch sigs broadcast; then the candidate side
    // broadcasts against the corpus signature scan (no corpus exchange)
    val withSa = cand.join(
      broadcast(bSigs.select(col("id").as("a"), col("sig").as("sa"))), "a")
    val estimated = cSigs.select(col("id").as("b"), col("sig").as("sb"))
      .join(broadcast(withSa), "b")
      .withColumn("est", signatureSimilarity(col("sa"), col("sb")))
      .filter(col("est") >= minJaccard - 0.15)
      .select(col("a"), col("b"))
    // exact verify: batch tokens ride the broadcast, and corpus rows
    // tokenize AFTER the broadcast candidate probe — only candidate
    // corpus rows ever tokenize, the corpus is still never shuffled,
    // and `estimated` is referenced exactly ONCE. (The earlier
    // semi-join shape referenced it twice — for the id prune and the
    // final join — and DataFrame plans are trees, not DAGs, so the
    // whole candidate pipeline computed twice, measured in the plan.)
    val bToks = newBatch.select(
      col(idCol).as("a"),
      TextFunctions.distinctTokens(col(textCol)).as("ta"))
    val withBatch = estimated.join(broadcast(bToks), "a")
    corpus
      .join(broadcast(withBatch), corpus(idCol) === withBatch("b"))
      .select(col("a"), col("b"), col("ta"),
              TextFunctions.distinctTokens(col(textCol)).as("tb"))
      .withColumn("jaccard", jaccardTokens(col("ta"), col("tb")))
      .filter(col("jaccard") >= minJaccard)
      .select(col("a"), col("b"), round(col("jaccard"), 6).as("jaccard"))
  }

  /** A batch held on the driver for the batch-probe route ([[BatchProbe]]):
    * per document with a signature, its id, signature, band buckets
    * (band, bh) and distinct tokens. */
  private final case class SigBatch(rows: IndexedSeq[Row], idType: DataType) {
    def id(i: Int): Any = rows(i).get(0)
    def sig(i: Int): Seq[Long] = rows(i).getSeq[Long](1)
    def buckets(i: Int): Set[(Int, Long)] =
      rows(i).getSeq[Row](2).map(r => (r.getInt(0), r.getLong(1))).toSet
    def toks(i: Int): Seq[String] = rows(i).getSeq[String](3)
  }

  /** The batch's signature rows in one collect, when the batch is planned
    * within the broadcast bound and its collected bytes (id, signature,
    * buckets and token characters) fit it too; None otherwise. */
  private def collectSigBatch(newBatch: DataFrame, idCol: String,
                              textCol: String, shingleK: Int, numHashes: Int,
                              numBands: Int): Option[SigBatch] =
    BatchProbe.plannedBound(newBatch).flatMap { bound =>
      require(numHashes <= seedPerms.length, s"numHashes > ${seedPerms.length}")
      val rowBytes = 8L + 8L * numHashes + 12L * numBands
      val attrs = newBatch
        .select(col(idCol).as("id"), tokenHashes(col(textCol)).as("th"),
          TextFunctions.distinctTokens(col(textCol)).as("ta"))
        .select(col("id"), graft.functions.MinhashSig.minhash_sig(
          col("th"), shingleK, numHashes).as("sig"), col("ta"))
        .where(col("sig").isNotNull)
        .select(col("id"), col("sig"),
          bands(col("sig"), numBands, numHashes / numBands).as("bd"), col("ta"))
      val rows = BatchProbe.collectCapped(attrs, bound / rowBytes + 1)
      val bytes = rows.map(r => rowBytes +
        r.getSeq[String](3).map(t => 8L + t.length).sum).sum
      if (bytes > bound) None
      else Some(SigBatch(rows.toIndexedSeq, attrs.schema("id").dataType))
    }

  /** [[incrementalNearDupPairs]] on the batch-probe route, or None when
    * the stored hits for the batch's buckets exceed buckets ×
    * (maxBucket + 1): the caller falls back to the exchange plan, so no
    * collect is unbounded.
    *
    *  - One narrow scan of the corpus signatures returns the rows whose
    *    band hash is one of the batch's, each with its
    *    matched buckets and the batch documents whose signature agrees
    *    within the estimate slack (`sig_agree` against the batch
    *    signatures, a plan constant).
    *  - The skew guard runs on the driver over those rows: a bucket
    *    holding more than `maxBucket` rows on either side is dropped, and
    *    a pair survives when it shares a bucket that is kept.
    *  - The returned plan scans `corpus`, keeps the surviving ids (an
    *    index keyed by corpus id, holding each one's batch partners),
    *    tokenizes only those rows, and verifies each against its
    *    partners' tokens.
    */
  private def nearDupProbe(b: SigBatch, corpus: DataFrame, minJaccard: Double,
                           idCol: String, textCol: String, shingleK: Int,
                           numHashes: Int, numBands: Int, maxBucket: Int,
                           corpusSigs: Option[DataFrame]): Option[DataFrame] =
    graft.plans.Lineage.scoped { scope =>
      // a corpus signature pass, when no stored one is given, is read by
      // this call's one job only; persisted so the hit filter's pushdown
      // below the projection cannot run the minhash twice
      val cSigs = corpusSigs.getOrElse(scope.persist(
        signatures(corpus, idCol, textCol, shingleK, numHashes)))
      val buckets = b.rows.indices.map(b.buckets)
      val batchCount = buckets.flatten.groupMapReduce(identity)(_ => 1)(_ + _)
      val postType = ArrayType(StructType(Seq(StructField("band", IntegerType),
        StructField("i", IntegerType))))
      val bucketIndex = BatchProbe.index(
        buckets.zipWithIndex.flatMap { case (bs, i) => bs.map(k => (k, i)) }
          .groupBy(_._1._2).toSeq.map { case (bh, ps) =>
            (bh, bh, ps.map { case ((band, _), i) => Row(band, i) }) },
        LongType, postType)
      val sigs = BatchProbe.data(b.rows.indices.map(b.sig),
        ArrayType(ArrayType(LongType)))
      val partners = filter(array_distinct(flatten(transform(col("hits"), x =>
          transform(filter(coalesce(bucketIndex.lookup(x.getField("bh"),
              x.getField("bh")), array().cast(postType)),
            p => p.getField("band") === x.getField("band")),
            p => p.getField("i"))))),
        i => signatureSimilarity(element_at(sigs, i + 1), col("sig")) >=
          minJaccard - 0.15)
      val idType = cSigs.schema("id").dataType
      val cap = batchCount.size.toLong * (maxBucket + 1)
      val hitRows = if (batchCount.isEmpty) Array.empty[Row] else BatchProbe.collectCapped(cSigs
          .select(col("id"), col("sig"), filter(
            bands(col("sig"), numBands, numHashes / numBands),
            x => bucketIndex.lookup(x.getField("bh"), x.getField("bh")).isNotNull).as("hits"))
          .where(size(col("hits")) > 0)
          .select(col("id"), xxhash64(col("id")).as("idh"), col("hits"),
            partners.as("partners")), cap + 1)
      if (hitRows.length > cap) None
      else {
        def hitsOf(r: Row) = r.getSeq[Row](2).map(x => (x.getInt(0), x.getLong(1)))
          .filter(batchCount.contains)
        val storedCount = hitRows.toSeq.flatMap(hitsOf)
          .groupMapReduce(identity)(_ => 1)(_ + _)
        def kept(k: (Int, Long)) =
          batchCount(k) <= maxBucket && storedCount(k) <= maxBucket
        // (corpus id, its hash, the batch rows it verifies against)
        val cands = hitRows.toSeq.flatMap { r =>
          val hit = hitsOf(r).toSet
          val is = r.getSeq[Int](3).filter(i => (buckets(i) & hit).exists(kept))
          if (is.isEmpty) None else Some((r.get(0), r.getLong(1), is))
        }
        val verifyIndex = BatchProbe.index(
          cands.groupBy(_._1).toSeq.map { case (id, cs) =>
            (cs.head._2, id, cs.flatMap(_._3).distinct) },
          idType, ArrayType(IntegerType))
        val ids = BatchProbe.data(b.rows.indices.map(b.id), ArrayType(b.idType))
        val toks = BatchProbe.data(b.rows.indices.map(b.toks),
          ArrayType(ArrayType(StringType)))
        val cid = col(idCol).cast(idType)
        Some(corpus.select(cid.as("b"), verifyIndex.lookup(xxhash64(cid), cid).as("is"),
            col(textCol))
          .where(col("is").isNotNull)
          .select(col("b"), explode(col("is")).as("i"),
            TextFunctions.distinctTokens(col(textCol)).as("tb"))
          .select(element_at(ids, col("i") + 1).as("a"), col("b"),
            element_at(toks, col("i") + 1).as("ta"), col("tb"))
          .withColumn("jaccard", jaccardTokens(col("ta"), col("tb")))
          .filter(col("jaccard") >= minJaccard)
          .select(col("a"), col("b"), round(col("jaccard"), 6).as("jaccard")))
      }
    }

  /** Fuzzy benchmark decontamination: flag TRAIN documents whose
    * n-gram-set Jaccard against any EVAL document clears `minJaccard` —
    * the near-duplicate extension of exact n-gram decontamination
    * (`q_decontaminate`), catching paraphrased/lightly-edited benchmark
    * leakage the exact join misses.
    *
    * Same machinery as [[incrementalNearDupPairs]] with two deliberate
    * differences:
    *  - the VERIFY runs on distinct n-GRAM sets (shingleK-grams), not
    *    token sets — on a shared small vocabulary token-set Jaccard of
    *    unrelated documents is high (measured ≈ 0.7 on the synthetic
    *    corpus) while n-gram overlap collapses (≈ 0.06 at k = 2), which
    *    is exactly why the decontamination literature thresholds
    *    n-gram overlap;
    *  - default geometry is 32 bands × 2 rows: decontamination is
    *    recall-critical (a missed leak poisons an eval) and the
    *    candidate-rate cost of loose bands is bounded by the EVAL side,
    *    which is tiny — candidates ≤ Σ eval-bucket sizes, never
    *    corpus × corpus.
    *
    * Scale shape: eval bucket keys → Bloom → prune the train-side band
    * stream (train never shuffles against itself); skew guard on both
    * sides; verify joins the (bounded) candidate set back to the two
    * text columns. `trainSigs` reuses a stored [[signatures]] table
    * (the incremental-dedup convention) so repeated eval drops
    * never re-sign the corpus.
    *
    * Returns (eval_id, doc_id, ngram_jaccard) — one row per flagged
    * (eval, train) pair at ngram_jaccard ≥ minJaccard.
    */
  def fuzzyDecontaminate(
      train: DataFrame, evalSet: DataFrame,
      minJaccard: Double = 0.3,
      idCol: String = "doc_id",
      textCol: String = "text",
      shingleK: Int = 2,
      numHashes: Int = 64,
      numBands: Int = 32,
      maxBucket: Int = 2000,
      expectedEvalBands: Long = 1000000L,
      trainSigs: Option[DataFrame] = None): DataFrame = {
    val rowsPerBand = numHashes / numBands
    val eSigs = signatures(evalSet, idCol, textCol, shingleK, numHashes)
    val tSigs = trainSigs.getOrElse(
      signatures(train, idCol, textCol, shingleK, numHashes))
    val eBand = bandedRows(eSigs, numBands, rowsPerBand)
    val tBand = bandedRows(tSigs, numBands, rowsPerBand)
    val bandKey = xxhash64(col("band"), col("bh"))
    val bloom = BloomJoin.bloomOf(
      eBand.select(bandKey.as("bk")), "bk", expectedEvalBands)
    val tPruned = tBand.where(BloomJoin.mightContain(bloom, bandKey))
    def guard(banded: DataFrame): DataFrame = {
      val oversized = banded.groupBy("band", "bh")
        .agg(count(lit(1)).as("n")).filter(col("n") > maxBucket)
        .select("band", "bh")
      banded.join(broadcast(oversized), Seq("band", "bh"), "left_anti")
    }
    val cand = guard(eBand)
      .select(col("band"), col("bh"), col("id").as("eval_id"))
      .join(guard(tPruned)
        .select(col("band"), col("bh"), col("id").as("flag_id")),
        Seq("band", "bh"))
      .select(col("eval_id"), col("flag_id"))
      .distinct()
    // verify on distinct n-gram sets; eval shingles ride the broadcast,
    // train rows shingle only when probed (the incremental verify shape)
    val eGrams = evalSet.select(col(idCol).as("eval_id"),
      array_distinct(shingles(col(textCol), shingleK)).as("ga"))
    val withE = cand.join(broadcast(eGrams), "eval_id")
    train
      .join(broadcast(withE), train(idCol) === withE("flag_id"))
      .select(col("eval_id"), col("flag_id").as("doc_id"), col("ga"),
              array_distinct(shingles(col(textCol), shingleK)).as("gb"))
      .withColumn("ngram_jaccard", jaccardTokens(col("ga"), col("gb")))
      .filter(col("ngram_jaccard") >= minJaccard)
      .select(col("eval_id"), col("doc_id"),
              round(col("ngram_jaccard"), 6).as("ngram_jaccard"))
  }

  // ---------- duplicate clustering ------------------------------------

  /** Connected components over an undirected near-duplicate edge set:
    * every node gets the MIN node id reachable from it (its cluster id,
    * i.e. the canonical keeper for dedup-by-cluster).
    *
    * Iterative min-label propagation with path compression: each round
    * takes the min over (own label, neighbors' labels, label's label) —
    * the label-chase halves chain depth per round (pointer jumping), so
    * convergence is O(log diameter) rounds, each a shuffle join, not
    * O(diameter). Labels only decrease, so a stable Σlabel is the exact
    * fixpoint test (one cheap action per round — the driver never
    * collects the labels themselves).
    */
  /** The returned labels frame is GC-owned (the [[graft.plans.Lineage]]
    * lifetime rule): its blocks live as long as the caller holds it.
    *
    * @param nodesCount known node count, enabling the dense-graph probe
    *   WITHOUT a corpus-sized action: callers that already hold the
    *   count (e.g. from a cached signature frame) pass it and dense
    *   graphs skip the sparse path's rejoin pass. When None the
    *   operator does NOT count the corpus just to probe — it takes the
    *   sparse path, correct (and optimal) for the real-corpus case
    *   where duplicates are a few percent; a dup-dense caller that
    *   doesn't know its size pays only the (cheap, cached-frame)
    *   rejoin it always paid before the adaptive probe existed.
    */
  def connectedComponents(nodes: DataFrame, edges: DataFrame,
                          maxIter: Int = 30,
                          nodesCount: Option[Long] = None): DataFrame = {
    // Iterative plans MUST truncate lineage each round: chaining round
    // N's plan into round N+1 doubles the logical plan per round —
    // exponential planning cost that OOMs the driver near ~12 rounds.
    //
    // Rounds are Lineage.scoped rounds (LogicalRDD + persist), the
    // previous round released once the new round is materialized.
    // Interleaved-A/B measured faster at sf0.1 than eager
    // localCheckpoint rounds (BASELINE.md *connectedComponents round
    // materialization A/B*). Same O(1) logical plan per round; blocks
    // stay recoverable (lineage kept; eviction recomputes instead of
    // failing the job, localCheckpoint's documented hazard). The
    // LogicalRDD leaf is lazy; the per-round Σlabel action is what
    // populates the cache, so no extra job is paid.
    val spark = nodes.sparkSession
    graft.plans.Lineage.scoped { scope =>
      val sym = scope.round(edges.select(col("a"), col("b"))
        .unionByName(edges.select(col("b").as("a"), col("a").as("b"))))
      // Propagation runs over edge PARTICIPANTS only when the dup graph is
      // SPARSE: an isolated node can never change label (no neighbor, and
      // the label chase starts from identity), so carrying it through
      // every round pays |nodes|-sized self-join and left-join rounds for
      // rows that are already at their fixpoint. On a real corpus
      // duplicates are sparse — CC must scale with the DUP GRAPH, not the
      // corpus (100 TB of docs vs the few percent that pair). The
      // restriction is ADAPTIVE (round 8, gated round 9): on a DENSE
      // graph (≥ half the nodes touch an edge — planted test corpora,
      // heavily duplicated crawls) restricting buys nothing while paying
      // an eager rejoin pass, so the probe routes dense graphs down the
      // full-node path — but ONLY when the caller supplied `nodesCount`:
      // probing blind would mean a corpus-sized nodes.count() action on
      // every call, against this operator's own scaling rationale
      // (ADVICE r8). The participant count is NOT extra work — the sparse
      // path needs the frame anyway and the count fills its cache. The
      // semi-join keeps the current semantics for edges naming unknown
      // ids (they influence nothing, as before).
      val participants = scope.round(sym.select(col("a").as("id")).distinct()
        .join(nodes.select(col("id")), Seq("id"), "left_semi"))
      val nParts = participants.count()
      val dense = nodesCount.exists(n => nParts * 2 >= n && n > 0)
      // Round frames are (id,label) pairs whose cardinality the loop
      // KNOWS, so they are COALESCED to a width from the row count before
      // materializing: a materialized round otherwise freezes at the
      // configured shuffle width, below AQE's coalescing reach — the
      // measured shuffle=128 over-partitioning tax (see
      // graft.plans.Lineage). Coalesce, not repartition: the merge is
      // narrow (no exchange) — the Lineage.cut lesson measured on the llm
      // pipeline. ~48 B per materialized (id,label) UnsafeRow — the width
      // only needs the order of magnitude (64 MB target ⇒ ~1.4M
      // rows/partition).
      val labelRows = if (dense) nodesCount.get else nParts
      val labelWidth = graft.plans.Lineage.widthForBytes(
        spark, BigInt(labelRows) * 48L)
      var labels = scope.round(
        (if (dense) nodes.select(col("id")) else participants)
          .select(col("id"), col("id").as("label")).coalesce(labelWidth))
      if (dense) scope.release(participants)
      // Edgeless graphs short-circuit: every node is its own cluster, so
      // the identity labels ARE the fixpoint — skip the propagation loop.
      // Common in composed operators: a well-sharded corpus reaches the
      // rep pass with few or zero cross-shard pairs, and an
      // already-deduped batch has none at all. nParts == 0 covers both
      // the edgeless frame and edges naming only unknown ids (identity is
      // the fixpoint there too) without an extra isEmpty probe.
      var prevSum = BigDecimal(-1)
      var i = 0
      var done = nParts == 0L
      // A round sees the fixpoint only when it changes nothing, so labels
      // that settle in round maxIter get one more, confirming round.
      while (!done && i <= maxIter) {
        val neighborMin = sym
          .join(labels.select(col("id").as("b"), col("label").as("bl")), "b")
          .groupBy(col("a").as("id")).agg(min("bl").as("nmin"))
        val chased = labels
          .join(labels.select(col("id").as("label"),
                              col("label").as("ll")), Seq("label"), "left")
          .select(col("id"), least(col("label"), col("ll")).as("label"))
        // EAGER materialization, measured choice: a lazy round would let
        // two rounds run per job, but the un-materialized previous round
        // is referenced 3× per round (label self-join + neighbor join) and
        // DataFrame plans are trees, not DAGs — the subtree recomputes per
        // reference (~2× slower end-to-end when tried at sf0.1).
        val updated = scope.round(chased
          .join(neighborMin.withColumnRenamed("nmin", "nl"), Seq("id"), "left")
          .select(col("id"),
                  least(col("label"), coalesce(col("nl"), col("label")))
                    .as("label")).coalesce(labelWidth))
        i += 1
        // one action per round: fixpoint test + cache fill.
        // Only after it may the previous round's blocks be dropped — the
        // new round computes FROM them.
        val s = BigDecimal(updated.agg(sum("label")).head().getLong(0))
        scope.release(labels)
        labels = updated
        done = s == prevSum
        prevSum = s
      }
      scope.release(sym)
      // A round cap that binds leaves labels short of the fixpoint: part
      // of a component still carries a larger label, so the components
      // come back split with no sign of it. Refuse instead.
      if (!done)
        throw new IllegalStateException(
          s"connectedComponents: no fixpoint after maxIter = $maxIter rounds " +
          "— the labels would split components; raise maxIter")
      // The returned frame outlives the call, so it is checkpointed
      // EAGERLY: the round caches it derives from are released right
      // after, and a lazy hand-off would leave its lineage rooted in
      // freed blocks, turning the caller's first action into a full loop
      // recompute. Sparse path: rejoin isolated nodes as identity labels
      // — one linear pass. Dense path: the loop already ran over every
      // node, so the labels ARE the result — no rejoin pass to pay (that
      // pass is exactly what the adaptive probe exists to avoid on
      // dup-dense corpora); one narrow job copies the in-memory round.
      if (dense) labels.localCheckpoint(true)
      else {
        val full = nodes.select(col("id"))
          .join(labels.select(col("id"), col("label").as("plabel")),
                Seq("id"), "left")
          .select(col("id"), coalesce(col("plabel"), col("id")).as("label"))
        nodesCount.fold(full)(n => full.coalesce(graft.plans.Lineage
          .widthForBytes(spark, BigInt(n) * 48L)))
          .localCheckpoint(true)
      }
    }
  }

  // ---------- SimHash -------------------------------------------------

  /** Per-bit ±1 contribution derived from ONE 64-bit token hash: bit b
    * of xxhash64(token) — each token is hashed once, not once per bit
    * (shift distances are Scala literals, so this stays codegen-able).
    */
  private def bitContribution(tokenHash: Column, b: Int): Column =
    shiftright(tokenHash, b).bitwiseAND(lit(1L)) * 2 - 1

  /** 64-bit SimHash as an array of 64 bits (0/1). Bit b is the sign of
    * Σ_tokens (2·bit_b(xxhash64(token)) − 1): a deterministic
    * random-hyperplane rounding in GF(2). Array form keeps every
    * operation codegen-able (no variable-distance bit shifts — the 64
    * positions unroll as Scala-level literals).
    */
  def simhashBits(text: Column): Column = {
    val toks = TextFunctions.distinctTokens(text)
    val hashes = transform(toks, t => xxhash64(t))
    array((0 until 64).map { b =>
      val contrib = aggregate(hashes, lit(0L),
        (acc, h) => acc + bitContribution(h, b))
      when(contrib > 0, lit(1)).otherwise(lit(0)).cast("int")
    }: _*)
  }

  /** Corpus-level SimHash signatures: (id, sig) via explode + 64 sum
    * aggregates — the codegen shape (same lesson as [[signatures]]: HOF
    * lambdas are interpreted; explode + aggregate is whole-stage codegen
    * with map-side partials). Bit values are identical to
    * [[simhashBits]]; docs with no tokens get the all-zero signature.
    */
  def simhashSignatures(docs: DataFrame, idCol: String = "doc_id",
                        textCol: String = "text"): DataFrame = {
    val ex = docs.select(
        col(idCol).as("id"),
        explode(TextFunctions.distinctTokens(col(textCol))).as("tok"))
      // hash ONCE per token row; the 64 aggregates below just shift+mask
      .select(col("id"), xxhash64(col("tok")).as("h"))
    val aggs = (0 until 64).map(b =>
      sum(bitContribution(col("h"), b)).as(s"c$b"))
    val summed = ex.groupBy("id").agg(aggs.head, aggs.tail: _*)
      .select(col("id"),
        array((0 until 64).map(b =>
          when(col(s"c$b") > 0, 1).otherwise(0).cast("int")): _*).as("sig"))
    // keep token-less docs (explode drops them) with all-zero signatures
    val zeros = array(Seq.fill(64)(lit(0)): _*)
    docs.select(col(idCol).as("id"))
      .join(summed, Seq("id"), "left")
      .select(col("id"), coalesce(col("sig"), zeros).as("sig"))
  }

  /** Registration-time driver-side replica of [[simhashSignatures]] for
    * probe-literal oracles: plain Scala over the same xxhash64 primitive
    * (Catalyst's XxHash64Function at the `xxhash64` function's seed 42),
    * but through an INDEPENDENT evaluation path — no Catalyst plan, no
    * codegen, no HOFs — so a gate can bake the expected signature hex
    * for a literal probe text into static oracle SQL and catch drift in
    * either path.
    */
  def simhashHexLocal(text: String): String = {
    val toks = text.trim.split("\\s+").filter(_.nonEmpty).distinct
    val hashes = toks.map(t =>
      org.apache.spark.sql.catalyst.expressions.XxHash64Function.hash(
        org.apache.spark.unsafe.types.UTF8String.fromString(t),
        org.apache.spark.sql.types.StringType, 42L))
    val bits = (0 until 64).map { b =>
      val s = hashes.map(h => ((h >> b) & 1L) * 2 - 1).sum
      if (s > 0) 1 else 0
    }
    (0 until 16).map { i =>
      val v = bits(i * 4) * 8 + bits(i * 4 + 1) * 4 +
        bits(i * 4 + 2) * 2 + bits(i * 4 + 3)
      "0123456789abcdef".charAt(v)
    }.mkString
  }

  /** Hamming distance between two equal-length bit arrays. */
  def hamming(a: Column, b: Column): Column =
    aggregate(zip_with(a, b, (x, y) => abs(x - y)), lit(0),
      (acc, v) => acc + v)

  /** Compact hex rendering of a 64-bit array (16 hex chars) for
    * storage/display.
    */
  def bitsToHex(bits: Column): Column = {
    val nibbles = transform(sequence(lit(0), lit(15)), i => {
      val v = element_at(bits, i * 4 + 1) * 8 + element_at(bits, i * 4 + 2) * 4 +
              element_at(bits, i * 4 + 3) * 2 + element_at(bits, i * 4 + 4)
      element_at(split(lit("0,1,2,3,4,5,6,7,8,9,a,b,c,d,e,f"), ","), v + 1)
    })
    concat_ws("", nibbles)
  }

  /** SimHash near-dup pairs: bucket by the first `prefixBits` bits (an
    * LSH on the signature prefix), then verify full Hamming distance.
    */
  /** Pack a 64-bit array into 4 × 16-bit words (as longs). All shifts
    * are Scala literals, so packing is a plain codegen'd projection.
    */
  def packBits(bits: Column): Column =
    array((0 until 4).map { w =>
      (0 until 16).map { j =>
        when(element_at(bits, w * 16 + j + 1) === 1, lit(1L << j))
          .otherwise(lit(0L))
      }.reduce(_ + _)
    }: _*)

  /** Hamming distance on packed words: Σ bit_count(a XOR b) — codegen'd
    * (vs an interpreted 64-element zip_with on the bit arrays).
    */
  def hammingPacked(wa: Column, wb: Column): Column =
    (0 until 4).map { i =>
      bit_count(element_at(wa, i + 1).bitwiseXOR(element_at(wb, i + 1)))
    }.reduce(_ + _)

  /** SimHash near-dup pairs via 4-band LSH over the packed words.
    *
    * Recall: by pigeonhole, any pair at Hamming ≤ 3 agrees EXACTLY on at
    * least one of the 4 16-bit words, so banding over all words is
    * complete for the default threshold (a single prefix bucket would
    * silently miss pairs whose diffs land early).
    *
    * @param maxBucket skew guard (same rationale as minhash banding):
    *                  near-identical corpora concentrate signatures into
    *                  few buckets, and an uncapped bucket self-join is
    *                  quadratic in bucket size.
    */
  def simhashNearPairs(
      docs: DataFrame,
      maxHamming: Int = 3,
      idCol: String = "doc_id",
      textCol: String = "text",
      maxBucket: Int = 2000): DataFrame = {
    val packed = simhashSignatures(docs, idCol, textCol)
      .select(col("id"), packBits(col("sig")).as("words"))
      // read by banding and the skew guard of the returned lazy plan:
      // GC-owned (the graft.plans.Lineage rule). The signature plan
      // aggregates and joins, so its exchanges run here, at call time.
      .localCheckpoint(false)
    // Words travel WITH the banded rows (32 bytes/row) so the Hamming
    // verify evaluates inside the bucket join's projection — BEFORE the
    // distinct. On template-heavy corpora the 16-bit bands are loose
    // (measured 5M candidate pairs for 100k docs at sf0.1): a
    // distinct-then-rejoin verify pays two extra shuffles of the
    // candidate set, while filter-in-join reduces it to the true-pair
    // density (~50k) ahead of the only candidate-wide shuffle.
    val banded = packed.select(
      col("id"), col("words"),
      posexplode(col("words")).as(Seq("band", "w")))
    // Broadcast anti-join skew guard (see lshCandidatePairsFromSigs).
    val oversized = banded.groupBy("band", "w")
      .agg(count(lit(1)).as("n")).filter(col("n") > maxBucket)
      .select("band", "w")
    val guarded = banded.join(broadcast(oversized), Seq("band", "w"),
      "left_anti")
    val l = guarded.select(col("band"), col("w"),
      col("id").as("a"), col("words").as("wa"))
    val r = guarded.select(col("band"), col("w"),
      col("id").as("b"), col("words").as("wb"))
    l.join(r, Seq("band", "w"))
      .filter(col("a") < col("b"))
      .withColumn("hamming", hammingPacked(col("wa"), col("wb")))
      .filter(col("hamming") <= maxHamming)
      .select(col("a"), col("b"), col("hamming"))
      .distinct()
  }
}
