package graft
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.operators.Dedup

/** Data-dominated scaling probe for the dedup family (round 8).
  *
  * Every sf0.001→0.1 point in BASELINE.md is overhead-dominated (wall
  * grows ≤1.8× for 100× data), so the "no superlinear term" claim was
  * extrapolated, not observed. This profiler builds k independent COPIES
  * of the planted q_dedup_* corpus — each copy's tokens suffixed with a
  * copy tag so copies share NO content (dup density stays constant
  * instead of growing quadratically with k) and each copy reproducing
  * the gate's exact clone structure (two same-shard plantings + one
  * offsite shard) — then times the three dedup headlines at 1×, 4×, 10×
  * within one warm JVM. At sf0.1 the 10× corpus is 150k docs, deep
  * enough that per-row cost dominates JVM/planning overhead.
  *
  * Usage: ProfileScale <sfDir> [reps] [factors]   (factors csv, default 1,4,10)
  */
object ProfileScale {
  def main(args: Array[String]): Unit = {
    val d = args(0)
    val reps = if (args.length > 1) args(1).toInt else 2
    val factors = (if (args.length > 2) args(2) else "1,4,10")
      .split(',').map(_.trim.toInt).toSeq
    val spark =
      GraftSession.local(GraftSession.cpus(default = 32)).getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")

    val docs = Tables.documents(spark, d)
      .select(col("doc_id"), col("text"), col("source"))

    // copy j: ids shifted into their own 10M window, every token tagged
    // _j (split semantics match TextFunctions.tokens: \s+, empties out)
    def copyAt(j: Int): DataFrame = {
      val tagged = docs.select(
        (col("doc_id") + lit(j * 10000000L)).as("doc_id"),
        array_join(transform(
          filter(split(trim(col("text")), "\\s+"), t => t =!= ""),
          t => concat(t, lit(s"_$j"))), " ").as("text"),
        concat(col("source"), lit(s"_$j")).as("source"))
      tagged
        .unionByName(tagged.select((col("doc_id") + 1000000L).as("doc_id"),
          col("text"), col("source")))
        .unionByName(tagged.select((col("doc_id") + 2000000L).as("doc_id"),
          col("text"), concat(lit(s"offsite_$j")).as("source")))
    }

    def corpusAt(k: Int): DataFrame =
      (0 until k).map(copyAt).reduce(_.unionByName(_))

    def time(label: String, k: Int, it: Int)(mk: => DataFrame): Unit = {
      val t0 = System.nanoTime()
      val n = BenchAction.consumeAll(mk)
      println(f"$label%-12s k=$k%-3d it$it ${(System.nanoTime() - t0) / 1e9}%8.2f s  rows=$n")
    }

    // materialize every synthesized corpus before timing: the token
    // tagging is fixture construction, not operator work — a real 10×
    // corpus arrives from storage, it isn't re-derived inside every
    // signature/verify pass
    val corpora = factors.map { k =>
      val c = corpusAt(k)
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      println(s"k=$k corpus rows=${c.count()}")
      k -> c
    }
    // INTERLEAVED passes (the standing A/B protocol): the host shows
    // multi-second CPU-steal bursts, and running each factor's reps
    // back-to-back lets one burst bias a whole arm — round-robin over
    // factors puts every arm under the same noise distribution, so the
    // min-per-(shape, k) ratios are comparable. it0 = warm-up.
    (0 to reps).foreach { it =>
      corpora.foreach { case (k, corpus) =>
        time("minhash", k, it)(
          Dedup.nearDuplicatePairs(corpus, minJaccard = 0.9)
            .agg(count(lit(1))))
        time("sharded", k, it)(
          Dedup.nearDuplicatePairs(corpus, minJaccard = 0.9,
            shardCols = Seq("source")).agg(count(lit(1))))
        time("cross_shard", k, it)(
          Dedup.crossShardDedupClusters(corpus, minJaccard = 0.9,
            shardCols = Seq("source")).agg(countDistinct(col("cluster"))))
      }
    }
    corpora.foreach(_._2.unpersist(blocking = false))
    spark.stop()
  }
}
