package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.SparkTestSession
import graft.store.StoreTestKit.{jobsOf, tempDir}

object BatchProbeSpec {
  private val Threshold = "spark.sql.autoBroadcastJoinThreshold"

  /** `body` on the exchange route of the incremental audits: with
    * broadcasts off no batch takes the batch-probe route. */
  def exchangeRoute[T](spark: SparkSession)(body: => T): T = {
    val before = spark.conf.get(Threshold)
    spark.conf.set(Threshold, "-1")
    try body finally spark.conf.set(Threshold, before)
  }

  /** `body` on the batch-probe route (the session default for a small
    * batch), then again on the exchange route. */
  def onBothRoutes(spark: SparkSession)(body: => Unit): Unit = {
    body
    exchangeRoute(spark)(body)
  }
}

/** The batch-probe route of the incremental audits: at a 60-document
  * batch each audit runs a few narrow jobs with no exchange, returns
  * what the exchange route returns, checks collisions without a job
  * when the id ranges are disjoint, and falls back to the exchange
  * route when its bounds do not hold.
  */
class BatchProbeSpec extends AnyFunSuite {
  import BatchProbeSpec._
  private lazy val spark = SparkTestSession.spark
  import spark.implicits._

  private val rnd = new scala.util.Random(61)
  private val vocab = (0 until 400).map(i => s"w$i")
  private def text() = rnd.shuffle(vocab).take(30 + rnd.nextInt(20)).mkString(" ")

  /** 300 stored documents, ids 0..299, and a 60-document batch, ids
    * 1000..1059, whose first 20 documents are one-token-appended twins
    * of stored ones. */
  private lazy val (base, batchRows) = {
    val stored = (0L until 300L).map(i => i -> text())
    val twins = (0 until 20).map(i => (1000L + i) -> (stored(i * 7)._2 + " zzextra"))
    (stored, twins ++ (20 until 60).map(i => (1000L + i) -> text()))
  }
  private lazy val basePath = {
    val p = tempDir("probe_base")
    base.toDF("doc_id", "text").write.mode("overwrite").parquet(p)
    p
  }
  private def corpus = spark.read.parquet(basePath)
  private def batch = batchRows.toDF("doc_id", "text")
  private def toks(df: DataFrame) =
    df.select($"doc_id", split($"text", " ").as("toks"))

  private lazy val setsPath = {
    val p = tempDir("probe_sets")
    SetSimJoin.saveSets(toks(corpus), "doc_id", "toks", p)
    p
  }
  private lazy val sigPath = {
    val p = tempDir("probe_sigs")
    Dedup.saveSignatureStore(corpus, "doc_id", "text", p)
    p
  }

  private def rows(df: DataFrame): Seq[String] =
    df.collect().map(_.toString).toSeq.sorted

  /** Jobs of the call and of consuming its result, the consumed plan,
    * and the result's rows. */
  private def measured(call: => DataFrame): (Seq[String], String, Seq[String]) = {
    Seq(basePath, setsPath, sigPath) // stage the inputs outside the count
    val ((df, out), jobs) = jobsOf(spark) {
      val df = call
      (df, rows(df))
    }
    (jobs, df.queryExecution.executedPlan.toString, out)
  }

  test("incrementalJaccardPairs at a 60-doc batch: at most 4 jobs, no exchange") {
    def audit = SetSimJoin.incrementalJaccardPairs(spark, setsPath,
      toks(batch), "doc_id", "toks", 0.8)
    val (jobs, plan, out) = measured(audit)
    assert(jobs.size <= 4, s"call + consume ran ${jobs.size} jobs: $jobs")
    assert(!plan.contains("Exchange"), s"probe plan holds an exchange:\n$plan")
    // a local relation would have the batch rows' probe folded into it
    // and run in the optimizer on the driver
    assert(!plan.contains("LocalTableScan"), s"batch side is a local relation:\n$plan")
    assert(out.nonEmpty, "the planted twins must pair")
    assert(out == exchangeRoute(spark)(rows(audit)))
  }

  test("incrementalContainmentPairs at a 60-doc batch: at most 4 jobs, no exchange") {
    def audit = SetSimJoin.incrementalContainmentPairs(spark, setsPath,
      toks(batch), "doc_id", "toks", 0.8)
    val (jobs, plan, out) = measured(audit)
    assert(jobs.size <= 4, s"call + consume ran ${jobs.size} jobs: $jobs")
    assert(!plan.contains("Exchange"), s"probe plan holds an exchange:\n$plan")
    // a local relation would have the batch rows' probe folded into it
    // and run in the optimizer on the driver
    assert(!plan.contains("LocalTableScan"), s"batch side is a local relation:\n$plan")
    assert(out.nonEmpty, "the planted twins must pair")
    assert(out == exchangeRoute(spark)(rows(audit)))
  }

  test("incrementalNearDupFromStore at a 60-doc batch: at most 4 jobs, no exchange") {
    def audit = Dedup.incrementalNearDupFromStore(spark, sigPath, batch, corpus,
      minJaccard = 0.8)
    val (jobs, plan, out) = measured(audit)
    assert(jobs.size <= 4, s"call + consume ran ${jobs.size} jobs: $jobs")
    assert(!plan.contains("Exchange"), s"probe plan holds an exchange:\n$plan")
    assert(out.size >= 20, s"the planted twins must pair: $out")
    assert(out == exchangeRoute(spark)(rows(audit)))
  }

  test("collision check: disjoint ranges run no job, overlapping fresh ids " +
      "run the semi-join and pass, colliding ids are refused") {
    val path = tempDir("probe_collide")
    SetSimJoin.saveSets(toks(Seq((0L, "a b c"), (10L, "d e f")).toDF("doc_id", "text")),
      "doc_id", "toks", path)
    def callJobs(ids: Seq[Long]) = jobsOf(spark)(SetSimJoin.incrementalJaccardPairs(
      spark, path, toks(ids.map(i => i -> "a b c").toDF("doc_id", "text")),
      "doc_id", "toks", 0.8))._2
    // a call whose ids miss [0, 10] runs at most the batch collect (none
    // for a local batch); overlapping ids add the semi-join
    val disjoint = callJobs(Seq(20L, 21L))
    assert(disjoint.size <= 1, s"disjoint ids ran $disjoint")
    val overlapping = callJobs(Seq(4L, 5L))
    assert(overlapping.size == disjoint.size + 1,
      s"overlapping ids ran $overlapping, disjoint ids $disjoint")
    val ex = intercept[IllegalArgumentException](callJobs(Seq(5L, 10L)))
    assert(ex.getMessage.contains("collide"))
  }

  test("a colliding id is refused on both routes even when its set is empty") {
    val path = tempDir("probe_collide_empty")
    SetSimJoin.saveSets(toks(Seq((0L, "a b c"), (10L, "d e f")).toDF("doc_id", "text")),
      "doc_id", "toks", path)
    // id 10 is stored; its batch row has no token, so it pairs with
    // nothing, but its id still collides
    val b = Seq((10L, Seq.empty[String]), (20L, Seq("a", "b", "c"))).toDF("doc_id", "toks")
    onBothRoutes(spark) {
      for (audit <- Seq[DataFrame => DataFrame](
          SetSimJoin.incrementalJaccardPairs(spark, path, _, "doc_id", "toks", 0.8),
          SetSimJoin.incrementalContainmentPairs(spark, path, _, "doc_id", "toks", 0.8))) {
        val ex = intercept[IllegalArgumentException](audit(b))
        assert(ex.getMessage.contains("collide"))
      }
    }
  }

  test("a batch with no planned size takes the exchange route, same rows") {
    val statsLess = spark.createDataFrame(toks(batch).rdd, toks(batch).schema)
    for ((name, audit) <- Seq[(String, DataFrame => DataFrame)](
        "jaccard" -> (b => SetSimJoin.incrementalJaccardPairs(spark, setsPath, b,
          "doc_id", "toks", 0.8)),
        "containment" -> (b => SetSimJoin.incrementalContainmentPairs(spark,
          setsPath, b, "doc_id", "toks", 0.8)))) {
      val df = audit(statsLess)
      val plan = df.queryExecution.executedPlan.toString
      assert(plan.contains("Join"), s"$name: expected the exchange plan:\n$plan")
      assert(rows(df) == rows(audit(toks(batch))), name)
    }
  }

  test("near-dup stored hits beyond buckets x (maxBucket + 1) fall back " +
      "to the exchange plan") {
    // ten stored copies of one document, one batch twin: its 8 buckets
    // admit 8 stored hits at maxBucket = 0, and every copy hits
    val doc = (0 until 40).map(j => s"w$j").mkString(" ")
    val copies = (0L until 10L).map(_ -> doc).toDF("doc_id", "text")
    val path = tempDir("probe_hot")
    Dedup.saveSignatureStore(copies, "doc_id", "text", path)
    val twin = Seq(100L -> (doc + " zz")).toDF("doc_id", "text")
    def audit(maxBucket: Int) = Dedup.incrementalNearDupFromStore(spark, path,
      twin, copies, maxBucket = maxBucket)
    val hot = audit(0)
    assert(hot.queryExecution.optimizedPlan.toString.contains("might_contain"),
      "over the hit cap the audit must take the exchange plan")
    assert(rows(hot).isEmpty, "every bucket is over maxBucket = 0")
    val cold = audit(200)
    assert(!cold.queryExecution.optimizedPlan.toString.contains("might_contain"))
    assert(rows(cold).size == 10)
  }
}
