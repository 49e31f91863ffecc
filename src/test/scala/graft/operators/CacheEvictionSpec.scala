package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.sql.functions._
import org.scalatest.concurrent.Eventually._
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.time.{Millis, Seconds, Span}
import graft.SparkTestSession

/** Pins the lifetime rule of [[graft.plans.Lineage]] for every operator
  * that hands back (or whose returned lazy plan reads) a frame it
  * materialized: the frame is GC-owned. For each operator:
  *
  *  - once the result is consumed, CacheManager holds no entry (frames
  *    that die inside the call were released, and the surviving ones
  *    are checkpoints, not cached plans);
  *  - `A = op(x)`, then `B = op(y)`, then consuming `A` returns the rows
  *    `op(x)` returns alone, and the materializations A's plan reads
  *    are still registered: a second caller does not evict them;
  *  - once both results are dropped, a GC returns the registered
  *    persistent RDDs to what they were before the calls.
  *
  * Frames are kept inside [[overlappedCalls]] so that nothing in the
  * test body still reaches them when the GC runs.
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

  /** Ids of the RDDs the context holds as persistent. A fresh set of
    * ints: keeping the returned map (or a view of it) would keep its
    * RDDs reachable.
    */
  private def persistentIds(): Set[Int] =
    spark.sparkContext.getPersistentRDDs.keysIterator.toSet

  /** Ids of the RDDs `df`'s plan reads as leaves: the checkpoints its
    * call handed back. Intermediate checkpoints the call dropped are
    * not among them. */
  private def readIds(df: DataFrame): Set[Int] =
    df.queryExecution.analyzed.collectLeaves()
      .collect { case r: LogicalRDD => r.rdd.id }.toSet

  private def rows(df: DataFrame): Seq[String] =
    df.collect().map(_.toString).toSeq.sorted

  private def corpus(tag: String) = Seq(
    (1L, s"the quick brown fox jumps over the lazy dog $tag"),
    (2L, s"the quick brown fox jumps over the lazy dog $tag"),
    (3L, s"an entirely different document about spark engines $tag"),
    (4L, s"yet another unrelated piece of text content here $tag"))
    .toDF("doc_id", "text")

  private def sharded(tag: String) = corpus(tag)
    .withColumn("shard", when($"doc_id" % 2 === 0, "s2").otherwise("s1"))

  /** A disjoint-id batch holding a near twin of corpus doc 1. */
  private def batch(tag: String) = Seq(
    (11L, s"the quick brown fox jumps over the lazy dog $tag"),
    (12L, s"something unrelated to every corpus document $tag"))
    .toDF("doc_id", "text")

  private val nodes = Seq(1L, 2L, 3L, 4L, 5L, 6L).toDF("id")

  private def edges(tag: String) =
    (if (tag == "a") Seq((1L, 2L), (3L, 4L)) else Seq((1L, 3L)))
      .toDF("a", "b")

  private def denseEdges(tag: String) =
    (if (tag == "a") Seq((1L, 2L), (3L, 4L), (5L, 6L))
     else Seq((1L, 3L), (3L, 5L), (2L, 4L))).toDF("a", "b")

  private def vectors(tag: String) = {
    val shift = if (tag == "a") 0.0 else 0.5
    Seq(
      (0L, Array(1.0 + shift, 0.1, 0.0)),
      (1L, Array(0.0, 1.0 + shift, 0.2)),
      (2L, Array(0.9, 0.1, 0.1)),
      (3L, Array(0.1, 0.9, 0.1)),
      (4L, Array(0.8, 0.2, 0.0)))
      .toDF("vec_id", "embedding")
  }

  /** 24 deterministic 8-d vectors for the PQ family, shifted per tag. */
  private def pqVectors(tag: String) = {
    val shift = if (tag == "a") 0.0 else 0.3
    (0L until 24L).map(i =>
        (i, Array.tabulate(8)(j => math.sin(i * 0.7 + j * 1.3) + shift)))
      .toDF("vec_id", "embedding")
  }

  private val pqQueries = Seq((100L, Array.tabulate(8)(j => math.cos(j))))
    .toDF("query_id", "query_vec")

  private def labeled(tag: String) = corpus(tag)
    .select($"doc_id", ($"doc_id" % 2).cast("int").as("y"),
      split($"text", " ").as("toks"))

  /** A = op("a"), B = op("b"), then A consumed: the first two checks.
    * Returns nothing, so every frame is unreachable once it returns.
    */
  private def overlappedCalls(op: String => DataFrame): Unit = {
    val expected = rows(op("a"))
    assert(expected.nonEmpty, "fixture must give the operator rows")
    assert(cacheEntries == 0,
      "a consumed result must leave no CacheManager entry")
    val before = persistentIds()
    val a = op("a")
    val ownedByA = readIds(a)
    assert(ownedByA.nonEmpty && ownedByA.subsetOf(persistentIds() -- before),
      "the call must register the materialization its result reads")
    val b = op("b")
    assert(rows(a) == expected,
      "a second call must not change the first call's rows")
    assert(ownedByA.subsetOf(persistentIds()),
      "a second call must not release the first call's materialization")
    assert(rows(b).nonEmpty)
    assert(cacheEntries == 0,
      "consumed results must leave no CacheManager entry")
  }

  private def lifetime(name: String)(op: String => DataFrame): Unit =
    test(s"$name: result is GC-owned, outlives a second call, freed by GC") {
      spark.sharedState.cacheManager.clearCache()
      val baseline = persistentIds()
      overlappedCalls(op)
      eventually(timeout(Span(60, Seconds)), interval(Span(200, Millis))) {
        System.gc()
        val leaked = persistentIds() -- baseline
        assert(leaked.isEmpty,
          s"persistent RDDs $leaked outlived every reference to them")
      }
    }

  lifetime("nearDuplicatePairs")(t => Dedup.nearDuplicatePairs(corpus(t)))

  lifetime("simhashNearPairs")(t => Dedup.simhashNearPairs(corpus(t)))

  lifetime("connectedComponents, sparse path")(t =>
    Dedup.connectedComponents(nodes, edges(t)))

  lifetime("connectedComponents, dense path")(t =>
    Dedup.connectedComponents(nodes, denseEdges(t), nodesCount = Some(6L)))

  lifetime("crossShardDedupClusters")(t =>
    Dedup.crossShardDedupClusters(sharded(t), shardCols = Seq("shard")))

  // the exchange route: its signature frames are checkpoints
  lifetime("incrementalNearDupPairs")(t => BatchProbeSpec.exchangeRoute(spark)(
    Dedup.incrementalNearDupPairs(batch(t), corpus(t))))

  /** For an audit on the batch-probe route, which materializes nothing:
    * `A = op("a")` reads no checkpoint, `B = op("b")`, then `A` is
    * consumed and returns `op("a")`'s rows alone; no CacheManager entry
    * and no persistent RDD is left. */
  private def probeRoute(name: String)(op: String => DataFrame): Unit =
    test(s"$name, batch-probe route: nothing materialized, reads after a second call") {
      spark.sharedState.cacheManager.clearCache()
      val baseline = persistentIds()
      val expected = rows(op("a"))
      assert(expected.nonEmpty, "fixture must give the operator rows")
      val a = op("a")
      assert(readIds(a).isEmpty, "the probe route reads no checkpoint")
      val b = op("b")
      assert(rows(a) == expected,
        "a second call must not change the first call's rows")
      assert(rows(b).nonEmpty)
      assert(cacheEntries == 0,
        "consumed results must leave no CacheManager entry")
      eventually(timeout(Span(60, Seconds)), interval(Span(200, Millis))) {
        System.gc()
        assert((persistentIds() -- baseline).isEmpty)
      }
    }

  private def storeOf(tag: String, save: String => Unit): String = {
    val p = java.nio.file.Files.createTempDirectory(s"evict_$tag").toString
    save(p)
    p
  }

  private def toks(df: DataFrame) =
    df.select($"doc_id", split($"text", " ").as("toks"))

  private lazy val setsPaths = Seq("a", "b").map(t => t -> storeOf(t,
    SetSimJoin.saveSets(toks(corpus(t)), "doc_id", "toks", _))).toMap

  private lazy val sigPaths = Seq("a", "b").map(t => t -> storeOf(t,
    Dedup.saveSignatureStore(corpus(t), "doc_id", "text", _))).toMap

  probeRoute("incrementalJaccardPairs")(t =>
    SetSimJoin.incrementalJaccardPairs(spark, setsPaths(t), toks(batch(t)),
      "doc_id", "toks", 0.8))

  probeRoute("incrementalNearDupFromStore")(t =>
    Dedup.incrementalNearDupFromStore(spark, sigPaths(t), batch(t), corpus(t)))

  lifetime("packByTokenBudget")(t =>
    Packing.packByTokenBudget(corpus(t), budget = 5L))

  // centroid sums are order-sensitive at the last ulp: compare rounded
  lifetime("kmeansFit")(t =>
    Similarity.kmeansFit(vectors(t), k = 2, maxIter = 2)
      .select($"cell", transform($"cv", v => round(v, 6)).as("cv")))

  lifetime("LinearClassifier.trainScoreBinary")(t =>
    LinearClassifier.trainScoreBinary(labeled(t), "doc_id", "toks", "y",
      numBuckets = 64, iters = 2)
      .select($"doc_id", $"n_features", round($"score", 3), $"pred_label"))

  // trained codebooks come out of the Lloyd loop; adc compared rounded
  lifetime("Pq.ivfPqTopK, trained codebooks")(t =>
    Pq.ivfPqTopK(pqVectors(t), pqQueries, k = 3, nCells = 2, nProbe = 2,
        m = 2, ksub = 4, trainIters = 2)
      .select($"query_id", $"rank", $"neighbor_id", round($"adc", 6)))

  // codebooks come out of opqTrain's outer loop, which drops each
  // earlier iteration's checkpoints; centroids compared rounded
  lifetime("Opq.opqTrain, codebooks") { t =>
    val (_, cb, _) = Opq.opqTrain(pqVectors(t), m = 2, ksub = 4, outerIters = 2)
    cb.select($"sub", $"code", transform($"cv", v => round(v, 6)).as("cv"))
  }

  test("sequential Bpe.train and WordPiece.train leave no cache entry") {
    // both return an eager merge list, so the persisted per-iteration
    // symbol table is dead on return and must not outlive the call
    spark.sharedState.cacheManager.clearCache()
    val docs = Seq(Seq("low", "lower", "newest", "widest"),
      Seq("low", "lowest", "newer")).toDF("toks")
    assert(BpeReference.train(docs, "toks", numMerges = 3).size == 3)
    assert(cacheEntries == 0,
      "Bpe.train must release its last symbol table before returning")
    assert(WordPieceReference.train(docs, "toks", numMerges = 3).size == 3)
    assert(cacheEntries == 0,
      "WordPiece.train must release its last symbol table before returning")
  }
}
