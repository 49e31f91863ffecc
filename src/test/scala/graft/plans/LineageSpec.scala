package graft.plans

import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel
import org.scalatest.funsuite.AnyFunSuite
import graft.SparkTestSession

/** Pins the self-sizing lineage-cut contract: the width of a
  * materialized boundary tracks DATA VOLUME (plan-stats bytes with a
  * defaultParallelism floor), never `spark.sql.shuffle.partitions` —
  * the measured shuffle=128 over-partitioning tax (BASELINE.md round
  * 10) comes precisely from checkpoints freezing the configured
  * shuffle width below AQE's coalescing reach.
  */
class LineageSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark
  import spark.implicits._

  private def defaultPar = 2 * spark.sparkContext.defaultParallelism

  /** CacheManager entry count via reflection — it exposes isEmpty but
    * not size. */
  private def cacheEntries: Int = {
    val cm = spark.sharedState.cacheManager
    val f = cm.getClass.getDeclaredField("cachedData")
    f.setAccessible(true)
    f.get(cm).asInstanceOf[IndexedSeq[_]].size
  }

  private def persistentIds(): Set[Int] =
    spark.sparkContext.getPersistentRDDs.keysIterator.toSet

  private def counts = (1 to 200).map(i => (i % 7, i.toLong)).toDF("k", "v")
    .groupBy("k").agg(sum("v").as("s"))

  private def rows(df: org.apache.spark.sql.DataFrame): Seq[String] =
    df.collect().map(_.toString).toSeq.sorted

  test("widthForBytes: defaultParallelism floor, bytes term, loud cap") {
    assert(Lineage.widthForBytes(spark, BigInt(0)) == defaultPar)
    assert(Lineage.widthForBytes(spark, BigInt(1)) == defaultPar)
    // 10 target-sized partitions dominate the floor
    val t = Lineage.DefaultTargetPartitionBytes
    assert(Lineage.widthForBytes(spark, BigInt(t) * 10) == 10)
    // ceil, not floor: one byte over ⇒ one more partition
    assert(Lineage.widthForBytes(spark, BigInt(t) * 10 + 1) == 11)
    // degenerate stats (LogicalRDD / product joins report ~Long.Max)
    // clamp to maxPartitions instead of a million-task plan
    assert(Lineage.widthForBytes(spark, BigInt(Long.MaxValue),
      maxPartitions = 4096) == 4096)
  }

  test("cut width is independent of spark.sql.shuffle.partitions") {
    val df = (1 to 2000).map(i => (i % 50, i.toLong)).toDF("k", "v")
      .repartition(8)
    def widthAtShuffle(n: String): Int = {
      val prev = spark.conf.get("spark.sql.shuffle.partitions")
      spark.conf.set("spark.sql.shuffle.partitions", n)
      try {
        // a real shuffle: left alone, the materialized width would be
        // the configured value (or AQE's coalescing thereof)
        val agg = df.groupBy("k").agg(sum("v").as("s"))
        Lineage.cut(agg).rdd.getNumPartitions
      } finally spark.conf.set("spark.sql.shuffle.partitions", prev)
    }
    val w4 = widthAtShuffle("4")
    val w37 = widthAtShuffle("37")
    assert(w4 == w37, s"post-cut width must not track shuffle config: $w4 vs $w37")
    // the cut never EXCEEDS its target (coalesce is a narrow shrink;
    // AQE may have already coalesced tiny shuffles below the floor)
    assert(w4 <= defaultPar)
  }

  test("join-product stats are clamped by the leaf sum (the 2^20-task bug)") {
    // Catalyst's top-level sizeInBytes multiplies across join children;
    // unclamped, a post-join cut widens to maxPartitions and launches a
    // million-task repartition (measured on the first wiring). The leaf
    // clamp keeps the estimate input-bounded.
    val a = (1 to 1000).map(i => (i, "x" * 50)).toDF("k", "pa")
    val b = (1 to 1000).map(i => (i, "y" * 50)).toDF("k", "pb")
    val joined = a.join(b, "k").join(a.select(col("k"), col("pa").as("p2")), "k")
    val est = Lineage.estimateBytes(joined).get
    val leafSum = Seq(a, a, b).map(_.queryExecution.optimizedPlan
      .stats.sizeInBytes).sum
    assert(est <= leafSum, s"estimate $est must be leaf-bounded ($leafSum)")
    // and the default-target width stays at the parallelism floor
    assert(Lineage.targetWidth(joined) == defaultPar)
  }

  test("stats-less leaves fall back to the parallelism floor, not the cap") {
    val src = (1 to 100).map(i => (i, i.toString)).toDF("k", "v")
    // LogicalRDD without origin stats reports defaultSizeInBytes
    val noStats = spark.createDataFrame(src.rdd, src.schema)
    assert(Lineage.estimateBytes(noStats).isEmpty)
    assert(Lineage.targetWidth(noStats) == defaultPar)
  }

  test("cut width tracks bytes when the data term dominates") {
    // 16-wide upstream with a Project barrier (CollapseRepartition
    // would otherwise eat the cut's coalesce over a bare repartition)
    val df = (1 to 1000).map(i => (i, "x" * 100)).toDF("id", "pad")
      .repartition(16).withColumn("z", col("id") + 1)
    // force the bytes term with a 1-byte target; the loud cap bounds it
    val cutDf = Lineage.cut(df, targetPartitionBytes = 1L, maxPartitions = 11)
    assert(cutDf.rdd.getNumPartitions == 11)
    // coalesce is a NARROW merge: a cut never grows a too-narrow
    // upstream (no exchange at the boundary — the measured 3.4 s
    // repartition tax), so a 4-wide input stays 4-wide under a huge cap
    val narrow = Lineage.cut(df.coalesce(4).withColumn("z2", col("id")),
      targetPartitionBytes = 1L, maxPartitions = 1000)
    assert(narrow.rdd.getNumPartitions == 4)
  }

  test("scoped: a body that throws after two rounds leaves nothing cached") {
    spark.sharedState.cacheManager.clearCache()
    val before = persistentIds()
    val ex = intercept[IllegalStateException] {
      Lineage.scoped { scope =>
        val r1 = scope.round(counts)
        r1.count()
        val r2 = scope.round(r1.filter(col("s") > 100))
        r2.count()
        assert(cacheEntries == 2)
        assert((persistentIds() -- before).size == 2)
        throw new IllegalStateException("refused")
      }
    }
    assert(ex.getMessage == "refused")
    assert(cacheEntries == 0, "a thrown body left its rounds cached")
    val left = persistentIds() -- before
    assert(left.isEmpty, s"a thrown body left persistent RDDs $left")
  }

  test("scoped: a checkpoint taken inside the scope reads after it closes") {
    spark.sharedState.cacheManager.clearCache()
    val expected = rows(counts)
    val kept = Lineage.scoped { scope =>
      val r = scope.round(counts)
      r.count()
      r.localCheckpoint(true)
    }
    assert(cacheEntries == 0)
    assert(rows(kept) == expected)
  }

  test("scoped: a round is one persisted LogicalRDD leaf; release drops it") {
    spark.sharedState.cacheManager.clearCache()
    val src = counts.join(counts.withColumnRenamed("s", "s2"), "k")
    Lineage.scoped { scope =>
      val r = scope.round(src)
      val plan = r.queryExecution.analyzed
      assert(plan.isInstanceOf[LogicalRDD] && plan.children.isEmpty,
        s"a round must be a single LogicalRDD leaf:\n$plan")
      assert(r.schema == src.schema)
      assert(r.storageLevel == StorageLevel.MEMORY_AND_DISK)
      assert(cacheEntries == 1)
      scope.release(r)
      assert(cacheEntries == 0)
    }
  }
}
