package graft.operators

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.SparkTestSession

/** Pins the previous-call cache-eviction contract for every operator
  * that persists internally and returns (or retains) a cached frame:
  * [[Dedup.nearDuplicatePairs]] (signature cache),
  * [[Dedup.simhashNearPairs]] (packed-signature cache),
  * [[Dedup.connectedComponents]] (returned labels),
  * [[Similarity.kmeansFit]] (returned centroids), and
  * [[Dedup.crossShardDedupClusters]] (a TWO-frame slot: the within-shard
  * and rep-level label frames the stitch join consumes).
  *
  * CacheManager pins persisted plans until an explicit unpersist, so
  * without eviction a long-lived session calling these repeatedly
  * accumulates one dead cache per call. Each operator is invoked twice
  * with DISTINCT inputs (the realistic repeated-use shape — identical
  * plans coalesce in CacheManager and never accumulate in the first
  * place) and the spec asserts the manager holds exactly the live
  * entries: the latest call's cache, never the previous one's.
  */
class CacheEvictionSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark
  import spark.implicits._

  /** Entry count via reflection — CacheManager exposes isEmpty but not
    * size, and the contract here is "exactly N live entries".
    */
  private def cacheEntries: Int = {
    val cm = spark.sharedState.cacheManager
    val f = cm.getClass.getDeclaredField("cachedData")
    f.setAccessible(true)
    f.get(cm).asInstanceOf[IndexedSeq[_]].size
  }

  private def corpus(tag: String) = Seq(
    (1L, s"the quick brown fox jumps over the lazy dog $tag"),
    (2L, s"the quick brown fox jumps over the lazy dog $tag"),
    (3L, s"an entirely different document about spark engines $tag"),
    (4L, s"yet another unrelated piece of text content here $tag"))
    .toDF("doc_id", "text")

  private def vectors(shift: Double) = Seq(
    (0L, Array(1.0 + shift, 0.1, 0.0)),
    (1L, Array(0.0, 1.0 + shift, 0.2)),
    (2L, Array(0.9, 0.1, 0.1)),
    (3L, Array(0.1, 0.9, 0.1)),
    (4L, Array(0.8, 0.2, 0.0)))
    .toDF("vec_id", "embedding")

  test("repeated calls leave exactly one live cache entry per operator") {
    spark.sharedState.cacheManager.clearCache()
    assert(cacheEntries == 0)

    Dedup.nearDuplicatePairs(corpus("a")).count()
    Dedup.nearDuplicatePairs(corpus("b")).count()
    assert(cacheEntries == 1,
      "nearDuplicatePairs must evict the previous call's signature cache")

    Dedup.simhashNearPairs(corpus("a")).count()
    Dedup.simhashNearPairs(corpus("b")).count()
    assert(cacheEntries == 2,
      "simhashNearPairs must evict the previous call's packed cache")

    val nodes = Seq(1L, 2L, 3L, 4L).toDF("id")
    val edges = Seq((1L, 2L), (3L, 4L)).toDF("a", "b")
    Dedup.connectedComponents(nodes, edges).count()
    Dedup.connectedComponents(nodes, edges.limit(1)).count()
    assert(cacheEntries == 3,
      "connectedComponents must evict the previous call's labels cache")

    Similarity.kmeansFit(vectors(0.0), k = 2, maxIter = 2).count()
    Similarity.kmeansFit(vectors(0.5), k = 2, maxIter = 2).count()
    assert(cacheEntries == 4,
      "kmeansFit must evict the previous fit's centroid cache")

    // crossShardDedupClusters owns TWO caller-owned CC label frames per
    // call (registerCache=false inside), tracked in a 2-frame slot; the
    // signature cache it persists internally is released before return.
    // So two calls must leave exactly the latest call's two frames live.
    def sharded(tag: String) = Seq(
      (1L, s"the quick brown fox jumps over the lazy dog $tag", "s1"),
      (2L, s"the quick brown fox jumps over the lazy dog $tag", "s2"),
      (3L, s"an entirely different document about spark engines $tag", "s1"),
      (4L, s"yet another unrelated piece of text content here $tag", "s2"))
      .toDF("doc_id", "text", "shard")
    Dedup.crossShardDedupClusters(sharded("a"), shardCols = Seq("shard")).count()
    Dedup.crossShardDedupClusters(sharded("b"), shardCols = Seq("shard")).count()
    assert(cacheEntries == 6,
      "crossShardDedupClusters must evict the previous call's two label " +
      "frames and leave exactly the latest call's pair live")

    // incrementalNearDupPairs persists BOTH sides' signatures (batch in
    // the shared signature slot — evicting the nearDuplicatePairs entry
    // from above, by contract — corpus in its own slot): two calls must
    // leave exactly the latest call's pair live (6 − 1 + 2 = 7).
    Dedup.incrementalNearDupPairs(corpus("x"), corpus("a")).count()
    Dedup.incrementalNearDupPairs(corpus("y"), corpus("b")).count()
    assert(cacheEntries == 7,
      "incrementalNearDupPairs must evict the previous call's batch and " +
      "corpus signature caches")

    // caller-provided corpus signatures are NOT registered for eviction
    // (their storage is the caller's): the corpus slot EMPTIES (previous
    // call's corpus cache evicted, nothing replaces it) and the batch
    // slot turns over → 7 − 1 = 6
    val stored = Dedup.signatures(corpus("b"), "doc_id", "text", 5, 64)
    Dedup.incrementalNearDupPairs(corpus("z"), corpus("b"),
      corpusSigs = Some(stored)).count()
    assert(cacheEntries == 6,
      "caller-owned corpus signatures must not enter the eviction slot")

    Packing.packByTokenBudget(corpus("a"), budget = 5L).count()
    Packing.packByTokenBudget(corpus("b"), budget = 5L).count()
    assert(cacheEntries == 7,
      "packByTokenBudget must evict the previous call's counted frame")

    // hygiene: leave nothing behind for other suites
    spark.sharedState.cacheManager.clearCache()
  }

  test("sequential Bpe.train and WordPiece.train leave no cache entry") {
    // both return an eager merge list, so the persisted per-iteration
    // symbol table is dead on return and must not outlive the call
    spark.sharedState.cacheManager.clearCache()
    val docs = Seq(Seq("low", "lower", "newest", "widest"),
      Seq("low", "lowest", "newer")).toDF("toks")
    assert(Bpe.train(docs, "toks", numMerges = 3).size == 3)
    assert(cacheEntries == 0,
      "Bpe.train must release its last symbol table before returning")
    assert(WordPiece.train(docs, "toks", numMerges = 3).size == 3)
    assert(cacheEntries == 0,
      "WordPiece.train must release its last symbol table before returning")
  }
}
