package graft.operators

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.SparkTestSession

class DedupSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark
  import spark.implicits._

  private val corpus = Seq(
    (1L, "the quick brown fox jumps over the lazy dog again and again"),
    (2L, "the quick brown fox jumps over the lazy dog again and again"), // exact dup of 1
    (3L, "the quick brown fox jumps over the lazy cat again and again"), // near dup of 1
    (4L, "completely different content about spark query engines at scale"),
    (5L, "")).toDF("doc_id", "text")

  test("exactGroups collapses exact duplicates to min-id keeper") {
    val g = Dedup.exactGroups(corpus).orderBy("keeper").collect()
    val byKeeper = g.map(r => r.getLong(1) -> r.getLong(2)).toMap
    assert(byKeeper(1L) == 2L)       // docs 1+2 together
    assert(byKeeper(3L) == 1L)
    assert(byKeeper(4L) == 1L)
  }

  test("dropExactDuplicates keeps min-id row per content") {
    val ids = Dedup.dropExactDuplicates(corpus)
      .select("doc_id").as[Long].collect().sorted.toSeq
    assert(ids == Seq(1L, 3L, 4L, 5L))
  }

  test("jaccard: hand-computed values") {
    val df = Seq(("a b", "b c"), ("a b c", "a b c"), ("a", "b"), ("", ""))
      .toDF("ta", "tb")
    val got = df.select(Dedup.jaccard(col("ta"), col("tb"))).as[Double].collect()
    assert(math.abs(got(0) - 1.0 / 3.0) < 1e-12)
    assert(got(1) == 1.0)
    assert(got(2) == 0.0)
    assert(got(3) == 0.0)
  }

  test("minhash near-dup pipeline finds exact and near duplicates") {
    val pairs = Dedup.nearDuplicatePairs(corpus, minJaccard = 0.8)
      .as[(Long, Long, Double)].collect().toSeq.sortBy(p => (p._1, p._2))
    assert(pairs.exists(p => p._1 == 1L && p._2 == 2L && p._3 == 1.0),
      s"exact dup pair (1,2) not found in $pairs")
    // doc 3 differs by one token out of ~10 distinct: token jaccard ~0.8+
    assert(pairs.forall(p => p._3 >= 0.8))
    assert(!pairs.exists(p => p._2 == 4L), "unrelated doc flagged")
  }

  test("collect_list_capped: full list under the bound, detectable over") {
    // the skew guard's aggregate (r19): a valid group collects every
    // element; an over-bound group stops at exactly `bound` elements —
    // O(bound) buffer by construction — which the size filter drops
    val df = (1 to 500).map(i => (if (i <= 3) "small" else "big", i.toLong))
      .toDF("k", "v")
    val got = df.groupBy("k")
      .agg(graft.functions.CollectListCapped(col("v"), 201).as("ids"))
      .select($"k", size($"ids").as("n"), $"ids")
      .collect().map(r => r.getString(0) -> r).toMap
    assert(got("small").getInt(1) == 3)
    assert(got("small").getSeq[Long](2).sorted == Seq(1L, 2L, 3L))
    assert(got("big").getInt(1) == 201, "over-bound group must stop at bound")
    // and the guard semantics: under a maxBucket=200 filter, the big
    // group reads as oversized and drops, the small one survives whole
    val kept = df.groupBy("k")
      .agg(graft.functions.CollectListCapped(col("v"), 201).as("ids"))
      .filter(size($"ids").between(2, 200))
      .select("k").as[String].collect().toSeq
    assert(kept == Seq("small"))
  }

  test("tokens entry == text entry on pre-tokenized docs (bit parity)") {
    // r19: composed pipelines call nearDuplicatePairsTokens over the
    // token arrays their lineage cut already materialized — its output
    // must be identical to the textCol entry whenever toks ==
    // tokens(text), including the empty-doc row drop
    val toksed = corpus.select($"doc_id",
      graft.functions.TextFunctions.tokens($"text").as("toks"))
    def norm(df: org.apache.spark.sql.DataFrame) =
      df.as[(Long, Long, Double)].collect().toSeq.sorted
    assert(norm(Dedup.nearDuplicatePairsTokens(toksed, minJaccard = 0.8)) ==
      norm(Dedup.nearDuplicatePairs(corpus, minJaccard = 0.8)))
  }

  test("sharded minhash: pairs form within a shard, never across") {
    // same text planted in two shards: (1,2) share shard A, 3 sits alone
    // in shard B with the identical text — unsharded finds (1,3),(2,3);
    // sharded must not
    val sharded = Seq(
      (1L, "the quick brown fox jumps over the lazy dog again and again", "A"),
      (2L, "the quick brown fox jumps over the lazy dog again and again", "A"),
      (3L, "the quick brown fox jumps over the lazy dog again and again", "B"),
      (4L, "completely different content about spark query engines at scale", "B")
    ).toDF("doc_id", "text", "source")
    val in1 = Dedup.nearDuplicatePairs(sharded, minJaccard = 0.8,
        shardCols = Seq("source"))
      .as[(Long, Long, Double)].collect().toSeq.sortBy(p => (p._1, p._2))
    assert(in1.map(p => (p._1, p._2)) == Seq((1L, 2L)),
      s"sharded pairs: $in1")
    val unsharded = Dedup.nearDuplicatePairs(sharded, minJaccard = 0.8)
      .as[(Long, Long, Double)].collect().toSeq.map(p => (p._1, p._2)).sorted
    assert(unsharded == Seq((1L, 2L), (1L, 3L), (2L, 3L)),
      s"unsharded pairs: $unsharded")
  }

  test("crossShardDedupClusters merges the cross-shard clones windowed dedup misses") {
    val sharded = Seq(
      (1L, "the quick brown fox jumps over the lazy dog again and again", "A"),
      (2L, "the quick brown fox jumps over the lazy dog again and again", "A"),
      (3L, "the quick brown fox jumps over the lazy dog again and again", "B"),
      (5L, "the quick brown fox jumps over the lazy dog again and again", "B"),
      (4L, "completely different content about spark query engines at scale", "B"),
      (6L, "yet another unrelated body of text mentioning databases only", "C")
    ).toDF("doc_id", "text", "source")
    // the windowed pass alone: (1,2) in A, (3,5) in B — never across
    val windowed = Dedup.nearDuplicatePairs(sharded, minJaccard = 0.8,
        shardCols = Seq("source"))
      .select("a", "b").as[(Long, Long)].collect().toSet
    assert(windowed == Set((1L, 2L), (3L, 5L)))
    // two-pass: reps 1 (A-cluster) and 3 (B-cluster) pair globally, so
    // ALL FOUR clones stitch into cluster 1 — including 5, which never
    // paired with 1 or 2 directly (transitivity through its rep)
    val clusters = Dedup.crossShardDedupClusters(sharded, minJaccard = 0.8,
        shardCols = Seq("source"))
      .as[(Long, Long)].collect().toMap
    assert(clusters == Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 5L -> 1L,
                           4L -> 4L, 6L -> 6L), s"clusters: $clusters")
  }

  test("maxBucket guard drops oversized boilerplate buckets, keeps the rest") {
    // 30 identical boilerplate docs put >maxBucket ids into every one of
    // their band buckets -> the guard must drop them (zero pairs among
    // ids < 100), while an unrelated small near-dup pair in its own
    // bucket still verifies. This is the BEHAVIOR the PlanSpec LeftAnti
    // invariant only proves structurally.
    val boiler = (1L to 30L).map(i =>
      (i, "standard legal boilerplate header repeated across every document"))
    val docs = (boiler ++ Seq(
      (100L, "a genuinely distinct article about spark catalyst optimizers"),
      (101L, "a genuinely distinct article about spark catalyst optimizers")))
      .toDF("doc_id", "text")
    val pairs = Dedup.nearDuplicatePairs(docs, minJaccard = 0.8,
        maxBucket = 10)
      .as[(Long, Long, Double)].collect().toSeq
    assert(pairs.map(p => (p._1, p._2)) == Seq((100L, 101L)),
      s"expected only the small-bucket pair, got $pairs")
    // with the guard relaxed the boilerplate pairs come back: C(30,2)
    val all = Dedup.nearDuplicatePairs(docs, minJaccard = 0.8,
        maxBucket = 200).count()
    assert(all == 30L * 29 / 2 + 1, s"relaxed guard found $all pairs")
  }

  test("incrementalDedup admits only content absent from the corpus") {
    val corpus = Seq(
      (1L, "alpha beta gamma"), (2L, "delta epsilon zeta")).toDF("doc_id", "text")
    val batch = Seq(
      (10L, "alpha beta gamma"),        // dup of corpus 1 → rejected
      (11L, "  alpha   beta gamma "),   // same token stream → rejected
      (12L, "eta theta iota"),          // new → admitted
      (13L, "alpha beta"),              // prefix ≠ same content → admitted
      (14L, "eta theta iota")           // batch-internal dup of 12 → admitted (batch-vs-corpus only)
    ).toDF("doc_id", "text")
    val got = Dedup.incrementalDedup(batch, corpus)
      .select("doc_id").as[Long].collect().sorted.toSeq
    assert(got == Seq(12L, 13L, 14L))
  }

  test("incrementalNearDupPairs matches near and exact content, skips new") {
    BatchProbeSpec.onBothRoutes(spark) {
      val corpus = Seq(
        (1L, "the quick brown fox jumps over the lazy dog again and again"),
        (2L, "completely different content about spark query engines at scale"))
        .toDF("doc_id", "text")
      val batch = Seq(
        (10L, "the quick brown fox jumps over the lazy dog again and again"),      // exact dup → match 1
        (11L, "the quick brown fox jumps over the lazy dog again and again zz"),   // appended-token near dup → match 1
        (12L, "entirely novel text with no relation to anything stored before ok") // new → no match
      ).toDF("doc_id", "text")
      val pairs = Dedup.incrementalNearDupPairs(batch, corpus, minJaccard = 0.8)
        .as[(Long, Long, Double)].collect().toSeq.sortBy(_._1)
      assert(pairs.map(p => (p._1, p._2)) == Seq((10L, 1L), (11L, 1L)),
        s"got $pairs")
      assert(pairs.head._3 == 1.0)
    }
  }

  test("incrementalNearDupPairs: precomputed corpus signatures give identical pairs") {
    BatchProbeSpec.onBothRoutes(spark) {
      val corpus = Seq(
        (1L, "the quick brown fox jumps over the lazy dog again and again"),
        (2L, "completely different content about spark query engines at scale"))
        .toDF("doc_id", "text")
      val batch = Seq(
        (10L, "the quick brown fox jumps over the lazy dog again and again"),
        (12L, "entirely novel text with no relation to anything stored before ok"))
        .toDF("doc_id", "text")
      val stored = Dedup.signatures(corpus, "doc_id", "text", 5, 64)
      val viaStored = Dedup.incrementalNearDupPairs(batch, corpus,
          minJaccard = 0.8, corpusSigs = Some(stored))
        .as[(Long, Long, Double)].collect().toSeq.sorted
      val recomputed = Dedup.incrementalNearDupPairs(batch, corpus,
          minJaccard = 0.8)
        .as[(Long, Long, Double)].collect().toSeq.sorted
      assert(viaStored == recomputed && viaStored.map(p => (p._1, p._2)) == Seq((10L, 1L)))
    }
  }

  test("crossShardDedupClusters: stored signature table gives identical clusters") {
    val corpus = Seq(
      (1L, "the quick brown fox jumps over the lazy dog again and again", "s1"),
      (2L, "the quick brown fox jumps over the lazy dog again and again", "s2"),
      (3L, "completely different content about spark query engines at scale", "s1"),
      (4L, "entirely novel text with no relation to anything else here ok", "s2"))
      .toDF("doc_id", "text", "source")
    // the SAME maintained table shape incrementalNearDupPairs accepts:
    // signatures with the shard key carried
    val stored = Dedup.signatures(corpus, "doc_id", "text", 5, 64,
      carryCols = Seq("source"))
    val viaStored = Dedup.crossShardDedupClusters(corpus, minJaccard = 0.9,
        shardCols = Seq("source"), corpusSigs = Some(stored))
      .as[(Long, Long)].collect().toSeq.sorted
    val recomputed = Dedup.crossShardDedupClusters(corpus, minJaccard = 0.9,
        shardCols = Seq("source"))
      .as[(Long, Long)].collect().toSeq.sorted
    assert(viaStored == recomputed)
    // and the cross-shard clone group really clustered
    assert(viaStored.filter(_._1 <= 2L).map(_._2).distinct == Seq(1L))
  }

  test("incrementalNearDupPairs plan: bloom prunes the corpus band stream") {
    val corpus = Seq((1L, "alpha beta gamma delta")).toDF("doc_id", "text")
    val batch = Seq((10L, "alpha beta gamma delta")).toDF("doc_id", "text")
    // the exchange route's plan: a batch this small takes the
    // batch-probe route, which has no band stream (BatchProbeSpec)
    val plan = BatchProbeSpec.exchangeRoute(spark)(
      Dedup.incrementalNearDupPairs(batch, corpus)
        .queryExecution.optimizedPlan.toString)
    assert(plan.contains("might_contain"), s"no bloom probe in plan:\n$plan")
    // the candidate pipeline must be planned ONCE: exactly two probe
    // sites (the skew-guard count + the guarded stream, both over the
    // cached signatures). Four would mean an intermediate is referenced
    // twice and the whole pipeline recomputes — the regression this
    // round's verify-tail rewrite removed.
    val probes = "might_contain".r.findAllIn(plan).size
    assert(probes == 2, s"expected 2 bloom probe sites, found $probes")
  }

  test("signatureSimilarity is 1.0 for identical texts") {
    val sigs = Dedup.signatures(corpus.filter($"doc_id" <= 2), "doc_id", "text",
      shingleK = 5, numHashes = 64)
    val two = sigs.orderBy("id").collect()
    assert(two(0).getSeq[Long](1) == two(1).getSeq[Long](1))
  }

  test("agg-form minhash signatures equal the per-row HOF form") {
    // pins the per-seed permutation family: both forms must apply the
    // SAME seed constants in the same order, so a drift in either
    // implementation (or an accidental return to a seed-linear family)
    // shows up as a value mismatch here
    val docs = corpus.filter($"doc_id" =!= 5L)
    val agg = Dedup.signaturesAgg(docs, "doc_id", "text", 5, 64)
      .collect().map(r => r.getLong(0) -> r.getSeq[Long](1)).toMap
    val hof = docs.select($"doc_id".as("id"),
        Dedup.minhashSignature(Dedup.shingleHashesFromTokenHashes(
          Dedup.tokenHashes($"text"), 5)).as("sig"))
      .collect().map(r => r.getLong(0) -> r.getSeq[Long](1)).toMap
    assert(agg.keySet == hof.keySet)
    agg.keySet.foreach(id => assert(agg(id) == hof(id), s"doc $id"))
  }

  test("one-token-appended twins stay LSH-reachable (stride regression)") {
    // The double-hashing family this replaced lost a jaccard≈0.99 pair
    // when one shingle captured the min on a stride ≤ rowsPerBand (all
    // bands poisoned at once). Property: across many synthetic docs,
    // every appended-token twin must surface as a candidate pair.
    val texts = (0 until 120).map { i =>
      val toks = (0 until 60).map(j => s"w${(i * 31 + j * 7) % 97}")
      (i.toLong, toks.mkString(" "))
    }
    val base = texts.toDF("doc_id", "text")
    val twins = texts.map { case (id, t) => (id + 10000L, t + " zz") }
      .toDF("doc_id", "text")
    val pairs = Dedup.nearDuplicatePairs(base.unionByName(twins),
        minJaccard = 0.9)
      .filter($"b" === $"a" + 10000L).count()
    assert(pairs == 120L, s"only $pairs of 120 twins paired")
  }

  test("simhash: identical text -> identical bits; near text -> small hamming") {
    val sigs = corpus.filter($"doc_id" =!= 5L).select(
      $"doc_id", Dedup.simhashBits($"text").as("bits"))
    val m = sigs.collect().map(r => r.getLong(0) -> r.getSeq[Int](1)).toMap
    assert(m(1L) == m(2L))
    val hamming13 = m(1L).zip(m(3L)).count { case (a, b) => a != b }
    val hamming14 = m(1L).zip(m(4L)).count { case (a, b) => a != b }
    assert(hamming13 < hamming14, s"near-dup $hamming13 !< unrelated $hamming14")
  }

  test("simhashNearPairs finds the planted exact pair") {
    val pairs = Dedup.simhashNearPairs(corpus, maxHamming = 3)
      .as[(Long, Long, Int)].collect().toSeq
    assert(pairs.exists(p => p._1 == 1L && p._2 == 2L && p._3 == 0))
  }

  test("agg-form simhash signatures equal the per-row HOF form") {
    val hof = corpus.select($"doc_id".as("id"),
        Dedup.simhashBits($"text").as("sig"))
      .collect().map(r => r.getLong(0) -> r.getSeq[Int](1)).toMap
    val agg = Dedup.simhashSignatures(corpus)
      .collect().map(r => r.getLong(0) -> r.getSeq[Int](1)).toMap
    assert(agg.keySet == hof.keySet)
    // non-empty docs: identical bits; empty doc 5: all-zero in agg form
    (1L to 4L).foreach(id => assert(agg(id) == hof(id), s"doc $id"))
    assert(agg(5L) == Seq.fill(64)(0))
  }

  test("bitsToHex renders 64 bits as 16 hex chars") {
    val hex = corpus.filter($"doc_id" === 1L)
      .select(Dedup.bitsToHex(Dedup.simhashBits($"text"))).as[String].head()
    assert(hex.length == 16 && hex.matches("[0-9a-f]{16}"))
  }

  private val decontamTrain = Seq(
    (1L, "alpha beta gamma delta epsilon zeta eta theta iota kappa"),
    // 2 = lightly edited copy of eval 100 (one token differs)
    (2L, "lambda mu nu xi omicron pi rho sigma tau upsilon"),
    (3L, "one two three four five six seven eight nine ten"),
    (4L, "red orange yellow green blue indigo violet black white gray"))
    .toDF("doc_id", "text")
  private val decontamEval = Seq(
    // near-dup of train 2: first token substituted
    (100L, "CHANGED mu nu xi omicron pi rho sigma tau upsilon"),
    // matches nothing in train
    (101L, "totally unrelated benchmark prompt with fresh words only"))
    .toDF("doc_id", "text")

  test("fuzzyDecontaminate flags the edited leak and nothing else") {
    val flagged = Dedup.fuzzyDecontaminate(decontamTrain, decontamEval)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    assert(flagged.length == 1, s"got ${flagged.toSeq}")
    val (evalId, docId, j) = flagged.head
    assert(evalId == 100L && docId == 2L)
    // first-token edit on a 10-token doc: the first token sits in ONE
    // bigram, so each side has 9 bigrams, 8 shared -> 8/10
    assert(math.abs(j - 8.0 / 10.0) < 1e-6, s"jaccard $j")
  }

  test("fuzzyDecontaminate: below-threshold similarity is not flagged") {
    // half the tokens rewritten: bigram overlap collapses below 0.3
    val weakEval = Seq(
      (100L, "lambda X nu Y omicron Z rho W tau V")).toDF("doc_id", "text")
    val flagged = Dedup.fuzzyDecontaminate(decontamTrain, weakEval).count()
    assert(flagged == 0L)
  }

  test("fuzzyDecontaminate: stored train signatures answer identically") {
    val stored = Dedup.signatures(decontamTrain, "doc_id", "text",
      shingleK = 2, numHashes = 64)
    val fresh = Dedup.fuzzyDecontaminate(decontamTrain, decontamEval)
      .collect().map(_.toSeq).toSet
    val reused = Dedup.fuzzyDecontaminate(decontamTrain, decontamEval,
        trainSigs = Some(stored))
      .collect().map(_.toSeq).toSet
    assert(fresh == reused)
  }

  test("connectedComponents refuses when maxIter binds before the fixpoint") {
    // a path over shuffled ids needs many label-propagation rounds;
    // three leave it split, which must raise rather than return
    val ids = new scala.util.Random(64).shuffle((0L until 64L).toList)
    val nodes = ids.toDF("id")
    val edges = ids.zip(ids.tail).toDF("a", "b")
    val ex = intercept[IllegalStateException] {
      Dedup.connectedComponents(nodes, edges, maxIter = 3)
    }
    assert(ex.getMessage.contains("maxIter = 3"))
  }

  test("connectedComponents: labels that settle in round maxIter are returned") {
    // one round joins the pair; only a second round sees no change
    val got = Dedup.connectedComponents(Seq(5L, 9L).toDF("id"),
        Seq((9L, 5L)).toDF("a", "b"), maxIter = 1)
      .as[(Long, Long)].collect().toMap
    assert(got == Map(5L -> 5L, 9L -> 5L))
  }

  test("connectedComponents: a star and a clique are one component each") {
    val star = (1L to 20L).map(i => (0L, i)).toDF("a", "b")
    val clique = (for (a <- 100L to 107L; b <- a + 1 to 107L) yield (a, b))
      .toDF("a", "b")
    val nodes = ((0L to 20L) ++ (100L to 107L)).toDF("id")
    val got = Dedup.connectedComponents(nodes, star.unionByName(clique))
      .as[(Long, Long)].collect().toMap
    assert(got == ((0L to 20L).map(_ -> 0L) ++ (100L to 107L).map(_ -> 100L)).toMap)
  }
}
