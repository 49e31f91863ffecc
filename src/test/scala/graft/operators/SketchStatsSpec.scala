package graft.operators

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.SparkTestSession

class SketchStatsSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark
  import spark.implicits._

  private lazy val df = spark.range(0, 10000)
    .select(col("id"),
      (col("id") % 7).cast("string").as("shard"),
      // 2500 distinct keys, each appearing 4 times across shards
      (col("id") % 2500).as("key"))

  test("shard estimates land within HLL error of exact") {
    val sk = SketchStats.shardSketches(df, "shard", "key")
    val per = SketchStats.shardEstimates(sk, "shard")
      .as[(String, Long, Double)].collect()
    val exact = df.groupBy("shard").agg(countDistinct(col("key")).as("e"))
      .as[(String, Long)].collect().toMap
    assert(per.length == 7)
    per.foreach { case (s, _, est) =>
      assert(math.abs(est - exact(s)) <= exact(s) * 0.05,
        s"shard $s: est $est vs exact ${exact(s)}")
    }
  }

  test("merged estimate is shard-layout invariant and near the truth") {
    // the operator's reason to exist: the SAME corpus sharded two
    // different ways must merge to the same estimate (HLL union is
    // associative/commutative over content), with no rescan
    val byShard = SketchStats.shardSketches(df, "shard", "key")
    val alt = df.withColumn("shard", (col("id") % 13).cast("string"))
    val byAlt = SketchStats.shardSketches(alt, "shard", "key")
    val m1 = SketchStats.mergedEstimate(byShard).as[Double].head()
    val m2 = SketchStats.mergedEstimate(byAlt).as[Double].head()
    assert(m1 == m2, s"merge must not depend on shard layout: $m1 vs $m2")
    assert(math.abs(m1 - 2500.0) <= 2500.0 * 0.05)
  }

  test("CMS: merged shard sketches never undercount and bound overcount") {
    val toks = df.select(col("shard"), col("key").cast("string").as("tok"))
    val merged = SketchStats.mergedCms(
      SketchStats.shardCms(toks, "shard", "tok"))
    val exact = toks.groupBy("tok").count()
      .as[(String, Long)].collect().toMap
    val n = 10000L
    val slack = math.ceil(0.001 * n).toLong
    Seq("0", "17", "2499").foreach { t =>
      val est = merged.estimateCount(
        t.getBytes(java.nio.charset.StandardCharsets.UTF_8))
      assert(est >= exact(t), s"$t: CMS must never undercount")
      assert(est <= exact(t) + slack, s"$t: $est vs ${exact(t)} + $slack")
    }
    // absent key: bounded by the same slack
    val ghost = merged.estimateCount(
      "no-such-token".getBytes(java.nio.charset.StandardCharsets.UTF_8))
    assert(ghost >= 0L && ghost <= slack)
  }

  test("CMS merge equals the un-sharded sketch on point queries") {
    val toks = df.select(col("shard"), col("key").cast("string").as("tok"))
    val merged = SketchStats.mergedCms(
      SketchStats.shardCms(toks, "shard", "tok"))
    val whole = SketchStats.mergedCms(
      SketchStats.shardCms(toks.withColumn("shard", lit("one")),
        "shard", "tok"))
    Seq("0", "100", "2499", "ghost").foreach { t =>
      val b = t.getBytes(java.nio.charset.StandardCharsets.UTF_8)
      assert(merged.estimateCount(b) == whole.estimateCount(b),
        s"CMS counters are exact-additive across shards ($t)")
    }
  }

  test("theta: exact mode below nominalEntries — set ops equal the truth") {
    // A = multiples of 2 in [0, 6000), B = multiples of 3: |A|=3000,
    // |B|=2000, |A∩B|=1000, |A∪B|=4000, |A\B|=2000 — all below 2^14,
    // so the estimates are exact, not approximate
    val tagged = spark.range(0, 6000).selectExpr("id")
      .selectExpr("CASE WHEN id % 2 = 0 THEN 'A' END AS tag", "id")
      .where("tag IS NOT NULL")
      .unionByName(spark.range(0, 6000)
        .selectExpr("CASE WHEN id % 3 = 0 THEN 'B' END AS tag", "id")
        .where("tag IS NOT NULL"))
    val sk = SketchStats.shardThetaSketches(tagged, "tag", "id")
      .collect().map(r => r.getString(0) -> r.getAs[Array[Byte]](1)).toMap
    val ops = SketchStats.thetaSetOps(sk("A"), sk("B"))
    assert(math.round(ops.estA) == 3000L)
    assert(math.round(ops.estB) == 2000L)
    assert(math.round(ops.estUnion) == 4000L)
    assert(math.round(ops.estIntersect) == 1000L)
    assert(math.round(ops.estANotB) == 2000L)
  }

  test("theta: estimation mode beyond nominalEntries stays within error") {
    // 100k distinct keys at nominalEntries=4096 → estimating mode;
    // relative standard error ~1/sqrt(4096) ≈ 1.6%, assert within 5%
    val one = spark.range(0, 100000)
      .selectExpr("'S' AS tag", "id")
    val sk = SketchStats.shardThetaSketches(one, "tag", "id",
        nominalEntries = 4096)
      .collect().map(r => r.getString(0) -> r.getAs[Array[Byte]](1)).toMap
    val ops = SketchStats.thetaSetOps(sk("S"), sk("S"),
      nominalEntries = 4096)
    assert(math.abs(ops.estA - 100000.0) <= 100000.0 * 0.05, s"${ops.estA}")
    assert(math.abs(ops.estIntersect - 100000.0) <= 100000.0 * 0.05)
  }

  test("KLL: exact mode below k — quantiles equal percentile_disc") {
    // 5000 values ≤ k=8192 ⇒ never compacts ⇒ INCLUSIVE quantiles are
    // the exact order statistics: smallest v with ≥ ⌈r·n⌉ values ≤ v
    val vals = df.filter(col("id") < 5000).select(col("shard"),
      (col("id") * 7 % 1000).cast("double").as("v"))
    val sk = SketchStats.shardKll(vals, "shard", "v", k = 8192)
    val merged = SketchStats.mergedKll(sk, k = 8192)
    assert(!merged.isEstimationMode, "combined n ≤ k must stay exact")
    val sorted = vals.select("v").as[Double].collect().sorted
    val n = sorted.length
    Seq(0.01, 0.25, 0.5, 0.75, 0.9, 0.99, 1.0).foreach { r =>
      val exact = sorted(math.ceil(r * n).toInt - 1)
      assert(merged.getQuantile(r) == exact,
        s"rank $r: ${merged.getQuantile(r)} vs $exact")
    }
    assert(merged.getN == n)
  }

  test("KLL: exact-mode merge is shard-layout invariant") {
    val vals = df.filter(col("id") < 5000).select(col("shard"), col("id"),
      (col("id") % 997).cast("double").as("v"))
    val a = SketchStats.mergedKll(
      SketchStats.shardKll(vals, "shard", "v", k = 8192), k = 8192)
    val alt = vals.withColumn("shard", (col("id") % 13).cast("string"))
    val b = SketchStats.mergedKll(
      SketchStats.shardKll(alt, "shard", "v", k = 8192), k = 8192)
    Seq(0.1, 0.5, 0.9).foreach { r =>
      assert(a.getQuantile(r) == b.getQuantile(r),
        s"rank $r differs across shard layouts")
    }
  }

  test("KLL: estimation mode beyond k stays within rank error") {
    // 100k distinct values at k=200 → compacted; normalized rank error
    // ~1.65% at 99% confidence — assert a generous 5% band. (Compaction
    // offsets are randomized, which is WHY the driver gate stays in
    // exact mode; here only the envelope is pinned.)
    val vals = spark.range(0, 100000)
      .select((col("id") % 7).cast("string").as("shard"),
        col("id").cast("double").as("v"))
    val merged = SketchStats.mergedKll(
      SketchStats.shardKll(vals, "shard", "v", k = 200), k = 200)
    assert(merged.isEstimationMode)
    Seq(0.25, 0.5, 0.9).foreach { r =>
      val est = merged.getQuantile(r)
      val trueRank = (est + 1.0) / 100000.0 // values are 0..99999
      assert(math.abs(trueRank - r) <= 0.05,
        s"rank $r: estimate $est has true rank $trueRank")
    }
  }

  test("sketch state is deterministic for fixed content") {
    val a = SketchStats.mergedEstimate(
      SketchStats.shardSketches(df, "shard", "key")).as[Double].head()
    val b = SketchStats.mergedEstimate(
      SketchStats.shardSketches(df.repartition(17), "shard", "key"))
      .as[Double].head()
    assert(a == b, "content-determined: partitioning must not change it")
  }

  // ---- frequent items -------------------------------------------------

  test("freq-items: exact mode — merged shard states equal true counts") {
    // 100 distinct keys (0..99), key i appears (i % 10) + 1 times;
    // 100 < 0.75·256 → never purges → exact, order-independent
    val rows = spark.range(0, 100).select(
        (col("id") % 5).cast("string").as("shard"),
        col("id").cast("string").as("v"),
        ((col("id") % 10) + 1).cast("int").as("n"))
      .withColumn("i", explode(sequence(lit(1), col("n"))))
    val sk = SketchStats.shardFreqItems(rows, "shard", "v", maxMapSize = 256)
    val merged = SketchStats.mergedFreqItems(sk, maxMapSize = 256)
    assert(merged.getMaximumError == 0)
    val got = SketchStats.frequentItems(merged).map(t => t._1 -> t._2).toMap
    (0 until 100).foreach { i =>
      assert(got(i.toString) == (i % 10) + 1L, s"key $i")
    }
    val nTotal = sk.agg(sum(col("n_items"))).head().getLong(0)
    assert(nTotal == (0 until 100).map(i => (i % 10) + 1).sum)
  }

  test("freq-items: estimating mode brackets the truth") {
    // 500 distinct keys at maxMapSize=64 (capacity 48) → purges; the
    // planted heavy key (1000 occurrences vs ≤ 5 for the rest) must
    // survive NO_FALSE_NEGATIVES with lb ≤ true ≤ ub
    val light = spark.range(0, 500).select(
        lit("s").as("shard"), col("id").cast("string").as("v"),
        ((col("id") % 5) + 1).cast("int").as("n"))
      .withColumn("i", explode(sequence(lit(1), col("n"))))
    val heavy = spark.range(0, 1000).select(
        lit("s").as("shard"), lit("HOT").as("v"), lit(1).as("n"),
        lit(1).as("i"))
    val sk = SketchStats.shardFreqItems(light.unionByName(heavy),
      "shard", "v", maxMapSize = 64)
    val merged = SketchStats.mergedFreqItems(sk, maxMapSize = 64)
    assert(merged.getMaximumError > 0, "should have purged")
    val hot = SketchStats.frequentItems(merged)
      .find(_._1 == "HOT")
    assert(hot.nonEmpty, "heavy hitter lost — NO_FALSE_NEGATIVES violated")
    val (_, _, lb, ub) = hot.get
    assert(lb <= 1000L && 1000L <= ub, s"bounds [$lb, $ub] miss 1000")
  }

  test("freq-items: exact-mode state is shard-layout invariant") {
    val a = SketchStats.frequentItems(SketchStats.mergedFreqItems(
      SketchStats.shardFreqItems(df.withColumn("v", col("key").cast("string")),
        "shard", "v", maxMapSize = 8192), maxMapSize = 8192))
    val alt = df.withColumn("shard", (col("id") % 13).cast("string"))
      .withColumn("v", col("key").cast("string")).repartition(17)
    val b = SketchStats.frequentItems(SketchStats.mergedFreqItems(
      SketchStats.shardFreqItems(alt, "shard", "v", maxMapSize = 8192),
      maxMapSize = 8192))
    assert(a == b)
  }

  // ---- bottom-k (KMV) -------------------------------------------------

  test("bottom-k: merged shard states equal the direct global sketch") {
    // the KMV merge theorem: the k smallest of a union are among the
    // k smallest of each part — so merge-of-states must be IDENTICAL
    // (values, not estimates) to sketching the whole frame as one shard
    val k = 16
    val states = SketchStats.shardBottomK(df, "shard", "key", k)
    val merged = SketchStats.mergedBottomK(states, k)
      .select("rk", "hk", "key").collect().toSeq
    val direct = SketchStats.mergedBottomK(
        SketchStats.shardBottomK(
          df.withColumn("one", lit("g")), "one", "key", k), k)
      .select("rk", "hk", "key").collect().toSeq
    assert(merged == direct)
  }

  test("bottom-k: state is shard-layout and partitioning invariant") {
    val k = 16
    val a = SketchStats.mergedBottomK(
      SketchStats.shardBottomK(df, "shard", "key", k), k)
      .select("key").as[String].collect().toSeq
    val alt = df.withColumn("shard", (col("id") % 13).cast("string"))
      .repartition(17)
    val b = SketchStats.mergedBottomK(
      SketchStats.shardBottomK(alt, "shard", "key", k), k)
      .select("key").as[String].collect().toSeq
    assert(a == b)
  }

  test("bottom-k: exact mode below k — estimate IS the distinct count") {
    // 7 shards × ~357 distinct keys each... use small keys: key % 11 →
    // 11 distinct < k=64 per shard and globally
    val small = df.select(col("shard"), (col("key") % 11).as("key"))
    val states = SketchStats.shardBottomK(small, "shard", "key", 64)
    val est = SketchStats.kmvEstimate(
      SketchStats.mergedBottomK(states, 64), 64).head()
    assert(est.getLong(0) == 11L && est.getDouble(1) == 11.0)
  }

  test("bottom-k: estimation mode lands near the truth") {
    // 2500 distinct at k=64: RSE ≈ 1/√(k−2) ≈ 12.7% — assert 3σ
    val states = SketchStats.shardBottomK(df, "shard", "key", 64)
    val est = SketchStats.kmvEstimate(
      SketchStats.mergedBottomK(states, 64), 64).head().getDouble(1)
    assert(math.abs(est - 2500.0) / 2500.0 <= 0.38, s"est $est")
  }

  test("bottom-k: plan takes the WindowGroupLimit per-partition shape") {
    // the scale contract: rank-filter top-k must plan as
    // WindowGroupLimit (per-partition bottom-k BEFORE the shard sort
    // boundary), never a full per-shard sort feeding a filter. df is
    // range-backed (distributed) — LocalRelation inputs special-case
    // such conversions away (the DashboardSpec lesson).
    val plan = SketchStats.shardBottomK(df, "shard", "key", 16)
      .queryExecution.executedPlan.toString
    assert(plan.contains("WindowGroupLimit"),
      s"expected WindowGroupLimit in:\n$plan")
  }

  test("bottom-k: duplicate keys across shards collapse in the merge") {
    // every key appears in ALL shards → each shard's bottom-k retains
    // the SAME keys; the merged state must re-distinct, not double-count
    val dup = df.select(col("shard"), (col("key") % 50).as("key"))
    val states = SketchStats.shardBottomK(dup, "shard", "key", 8)
    val merged = SketchStats.mergedBottomK(states, 8)
      .select("key").as[String].collect().toSeq
    assert(merged.distinct.size == 8)
    val perShard = states.filter(col("shard") === "0")
      .orderBy("rk").select("key").as[String].collect().toSeq
    assert(merged == perShard.take(8),
      "identical key sets ⇒ identical bottom-k everywhere")
  }

  test("stored-state lifecycle: save stamps the format, load strips it") {
    val dir = java.nio.file.Files.createTempDirectory("sketch_fmt").toString
    val path = s"$dir/states"
    val states = SketchStats.shardSketches(df, "shard", "key")
    SketchStats.saveStates(states, path)
    // the format version is stamped in the manifest, not in the rows...
    val m = graft.store.Store.manifest(spark, path).get
    assert(m.format == s"graft-sketch-v${SketchStats.sketchFormatVersion}")
    // ...so the loaded frame is exactly the states and answers identically
    val loaded = SketchStats.loadStates(spark, path)
    assert(loaded.columns.toSeq == states.columns.toSeq)
    val m1 = SketchStats.mergedEstimate(loaded).as[Double].head()
    val m2 = SketchStats.mergedEstimate(states).as[Double].head()
    assert(m1 == m2)
  }

  test("stale or unstamped stored-state tables are rejected loudly") {
    val dir = java.nio.file.Files.createTempDirectory("sketch_stale").toString
    val states = SketchStats.shardSketches(df, "shard", "key")
    // a table written OUTSIDE saveStates (no manifest) is refused
    val bare = s"$dir/bare"
    states.write.mode("overwrite").parquet(bare)
    val e1 = intercept[IllegalArgumentException] {
      SketchStats.loadStates(spark, bare)
    }
    assert(e1.getMessage.contains("no manifest"))
    // a store stamped by a FUTURE/other format version is refused, and
    // so is an append to it
    val stale = s"$dir/stale"
    SketchStats.saveStates(states, stale)
    graft.store.StoreTestKit.stampForeign(spark, stale,
      s"graft-sketch-v${SketchStats.sketchFormatVersion + 1}")
    val e2 = intercept[IllegalArgumentException] {
      SketchStats.loadStates(spark, stale)
    }
    assert(e2.getMessage.contains("not mergeable across formats"))
    val e3 = intercept[IllegalArgumentException] {
      SketchStats.appendStates(states, stale)
    }
    assert(e3.getMessage.contains("not mergeable across formats"))
    Seq(e1, e2).foreach(e => assert(e.getMessage.contains("SketchStats.saveStates")))
  }

  test("appending a shard that is already stored is refused; the old version stays") {
    val path = java.nio.file.Files.createTempDirectory("sketch_dup").toString
    val states = SketchStats.shardSketches(df, "shard", "key")
    SketchStats.saveStates(states.filter(col("shard") =!= "6"), path)
    SketchStats.appendStates(states.filter(col("shard") === "6"), path)
    val before = SketchStats.loadStates(spark, path)
      .select("shard", "n_rows").as[(String, Long)].collect().toSet
    assert(before.map(_._1) == (0 until 7).map(_.toString).toSet)
    // shard 3 again, next to a new shard: merged, shard 3 would count twice
    val again = SketchStats.shardSketches(
      df.filter(col("shard") === "3").union(
        df.filter(col("shard") === "0").withColumn("shard", lit("7"))),
      "shard", "key")
    val ex = intercept[IllegalArgumentException] {
      SketchStats.appendStates(again, path)
    }
    assert(ex.getMessage.contains("collide"))
    assert(SketchStats.loadStates(spark, path)
      .select("shard", "n_rows").as[(String, Long)].collect().toSet == before)
    assert(graft.store.StoreTestKit.entries(path) ==
      graft.store.StoreTestKit.live(spark, path),
      "the refused file-set was left behind")
  }
}
