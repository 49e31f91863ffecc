package graft.operators

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.SparkTestSession

/** Sharded percolate registries (round 18): R independent one-row
  * registries that partition the query ids. The probe union must be
  * BIT-identical to the unsharded registry at any shard count, each
  * shard row must be a valid registry in its own right, the store
  * lifecycle must stamp-check, and the compile guards must still fire.
  */
class ShardedPercolateSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark
  import spark.implicits._

  private val sf = "/root/testdata/sf0.001"
  private def docs = graft.Tables.documents(spark, sf)
    .select($"doc_id", $"text")

  private lazy val index = {
    val p = java.nio.file.Files.createTempDirectory("percsh_idx").toString
    Bm25.saveIndex(docs, p)
    Bm25.loadIndex(spark, p)
  }

  private lazy val registry = docs.select($"doc_id".as("query_id"),
      concat_ws(" ", slice(graft.functions.TextFunctions.tokens($"text"),
        1, 5)).as("query_text"))
    .filter(length($"query_text") > 0)

  private def triples(df: org.apache.spark.sql.DataFrame) =
    df.select($"query_id".cast("long"), $"doc_id".cast("long"), $"score")
      .as[(Long, Long, Double)].collect()
      .map { case (q, d, s) =>
        (q, d, java.lang.Double.doubleToRawLongBits(s)) }.toSet

  test("sharded probe == unsharded probe bit-for-bit, any shard count") {
    val expected = triples(Bm25.percolateJoin(docs,
      Bm25.compilePercolateTable(index, registry), threshold = 1.5))
    assert(expected.size > 50, "degenerate fixture")
    for (r <- Seq(1, 4, 13)) {
      val sharded = Bm25.compileShardedPercolateTable(index, registry, r)
      assert(sharded.select("shard").distinct().count() <= r)
      val got = triples(
        Bm25.shardedPercolateJoin(docs, sharded, threshold = 1.5))
      assert(got == expected, s"shards=$r diverged from unsharded")
    }
  }

  test("shards PARTITION the query ids (no loss, no duplication)") {
    val sharded = Bm25.compileShardedPercolateTable(index, registry, 7)
    val perShardQids = sharded.select("shard", "qmap").collect().flatMap {
      row =>
        val shard = row.getInt(0)
        row.getMap[Int, Map[String, Seq[org.apache.spark.sql.Row]]](1)
          .values.flatMap(_.values).flatten
          .map(e => (e.getLong(0), shard))
    }.toSeq
    val qidShards = perShardQids.distinct.groupBy(_._1).map {
      case (q, ss) => (q, ss.map(_._2).distinct) }
    assert(qidShards.values.forall(_.size == 1),
      "a query id appears in more than one shard")
    val allQids = registry.select($"query_id").as[Long].collect().toSet
    assert(qidShards.keySet == allQids, "shard union lost query ids")
  }

  test("each shard row is itself a valid one-row registry") {
    val sharded = Bm25.compileShardedPercolateTable(index, registry, 5)
    val full = triples(
      Bm25.shardedPercolateJoin(docs, sharded, threshold = 1.5))
    val one = sharded.filter($"shard" === sharded.select(min("shard"))
      .head().getInt(0)).select("qmap", "avgdl", "stats_fp")
    val sub = triples(Bm25.percolateJoin(docs, one, threshold = 1.5))
    assert(sub.nonEmpty && sub.subsetOf(full))
  }

  test("store lifecycle: save/load round-trips; foreign stores reject") {
    val sharded = Bm25.compileShardedPercolateTable(index, registry, 4)
    val p = java.nio.file.Files.createTempDirectory("percsh_st").toString
    Bm25.saveShardedPercolateTable(sharded, s"$p/store")
    val loaded = Bm25.loadShardedPercolateTable(spark, s"$p/store")
    assert(triples(Bm25.shardedPercolateJoin(docs, loaded, 1.5)) ==
      triples(Bm25.shardedPercolateJoin(docs, sharded, 1.5)))
    // a ONE-ROW registry store is not a sharded store and vice versa
    Bm25.savePercolateTable(
      Bm25.compilePercolateTable(index, registry), s"$p/flat")
    intercept[IllegalArgumentException] {
      Bm25.loadShardedPercolateTable(spark, s"$p/flat")
    }
    intercept[IllegalArgumentException] {
      Bm25.loadPercolateTable(spark, s"$p/store")
    }
    // and a non-sharded frame refuses the sharded saver
    intercept[IllegalArgumentException] {
      Bm25.saveShardedPercolateTable(
        Bm25.compilePercolateTable(index, registry), s"$p/bad")
    }
    // duplicate shard rows are refused from the written rows: the saved
    // registry stays live and the refused file-set is deleted
    val live = graft.store.StoreTestKit.live(spark, s"$p/store")
    val ex = intercept[IllegalArgumentException] {
      Bm25.saveShardedPercolateTable(sharded.unionByName(sharded), s"$p/store")
    }
    assert(ex.getMessage.contains("duplicate shard rows"))
    assert(graft.store.StoreTestKit.entries(s"$p/store") == live)
    assert(Bm25.loadShardedPercolateTable(spark, s"$p/store").count() ==
      sharded.count())
  }

  test("compile guards fire: duplicate ids, bad shard counts") {
    val dup = Seq(("1", "fast sort"), ("01", "spark hash"))
      .toDF("query_id", "query_text")
    intercept[IllegalArgumentException] {
      Bm25.compileShardedPercolateTable(index, dup, 4)
    }
    intercept[IllegalArgumentException] {
      Bm25.compileShardedPercolateTable(index, registry, 0)
    }
    intercept[IllegalArgumentException] {
      Bm25.shardedPercolateJoin(docs,
        Bm25.compileShardedPercolateTable(index, registry, 2),
        threshold = 0.0)
    }
  }
}
