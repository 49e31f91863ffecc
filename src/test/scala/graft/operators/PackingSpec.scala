package graft.operators

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.SparkTestSession
import graft.plans.CutPlan

class PackingSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark
  import spark.implicits._

  private val docs = Seq(
    (1L, "a b c"),            // 3 tokens, cum_excl 0  → pack 0
    (2L, "d e f g"),          // 4,        cum_excl 3  → pack 0
    (3L, "h i"),              // 2,        cum_excl 7  → pack 1 (budget 5)
    (4L, "j k l m n o p"),    // 7,        cum_excl 9  → pack 1 (overflow ok)
    (5L, "q"),                // 1,        cum_excl 16 → pack 3
    (6L, "")                  // 0,        cum_excl 17 → pack 3
  ).toDF("doc_id", "text")

  test("pack ids equal the exclusive-cumsum contract") {
    val got = Packing.packByTokenBudget(docs, budget = 5L)
      .orderBy("doc_id").as[(Long, Long, Long)].collect().toSeq
    assert(got == Seq((1L, 3L, 0L), (2L, 4L, 0L), (3L, 2L, 1L),
                      (4L, 7L, 1L), (5L, 1L, 3L), (6L, 0L, 3L)))
  }

  test("packIncremental: base ∪ continuation equals the one-pass packing") {
    // for EVERY split point: pack the prefix, carry only its token
    // total, pack the suffix incrementally — the union must be
    // byte-identical to packing everything at once
    val full = Packing.packByTokenBudget(docs, budget = 5L)
      .orderBy("doc_id").as[(Long, Long, Long)].collect().toSeq
    (0L to 6L).foreach { split =>
      val base = Packing.packByTokenBudget(
          docs.filter(col("doc_id") <= split), budget = 5L)
        .orderBy("doc_id").as[(Long, Long, Long)].collect().toSeq
      val prior = base.map(_._2).sum
      val incr = Packing.packIncremental(
          docs.filter(col("doc_id") > split), prior, budget = 5L)
        .orderBy("doc_id").as[(Long, Long, Long)].collect().toSeq
      assert(base ++ incr == full, s"split at $split")
    }
  }

  test("packIncremental: maxPackedId asserts the append-only boundary") {
    // valid continuation: new ids all sort after the manifest max
    val ok = Packing.packIncremental(docs.filter(col("doc_id") > 3L),
      priorTokens = 9L, budget = 5L, maxPackedId = Some(3L))
      .orderBy("doc_id").as[(Long, Long, Long)].collect()
    assert(ok.map(_._1).toSeq == Seq(4L, 5L, 6L))
    // overlapping id range: must throw, not silently mis-pack
    val e = intercept[IllegalArgumentException] {
      Packing.packIncremental(docs.filter(col("doc_id") > 2L),
        priorTokens = 9L, budget = 5L, maxPackedId = Some(3L))
    }
    assert(e.getMessage.contains("append-only"))
    // empty new batch is a valid (no-op) continuation
    assert(Packing.packIncremental(docs.filter(col("doc_id") > 100L),
      priorTokens = 9L, budget = 5L, maxPackedId = Some(3L)).count() == 0L)
  }

  test("packIncremental: empty prior state is plain packing") {
    val a = Packing.packIncremental(docs, priorTokens = 0L, budget = 5L)
      .orderBy("doc_id").as[(Long, Long, Long)].collect().toSeq
    val b = Packing.packByTokenBudget(docs, budget = 5L)
      .orderBy("doc_id").as[(Long, Long, Long)].collect().toSeq
    assert(a == b)
  }

  test("packFixedLength: docs span sequence boundaries per the stream contract") {
    // stream offsets 0,3,7,9,16; L=5: doc2 (3..6) spans seqs 0-1,
    // doc4 (9..15) spans 1-3, doc6 (0 tokens) excluded
    val got = Packing.packFixedLength(docs, seqLen = 5L)
      .orderBy("doc_id")
      .as[(Long, Long, Long, Long, Long, Long)].collect().toSeq
    assert(got == Seq(
      (1L, 3L, 0L, 0L, 0L, 1L),
      (2L, 4L, 3L, 0L, 1L, 2L),
      (3L, 2L, 7L, 1L, 1L, 1L),
      (4L, 7L, 9L, 1L, 3L, 3L),
      (5L, 1L, 16L, 3L, 3L, 1L)))
  }

  test("packFixedLength: every sequence except the last is exactly full") {
    val many = (1L to 2000L).map(i =>
      (i, Seq.fill((i % 13 + 1).toInt)("w").mkString(" ")))
      .toDF("doc_id", "text").repartition(8)
    val seqs = Packing.packFixedLength(many, seqLen = 128L)
    // token mass per sequence: sum over docs of overlap with [s*L, (s+1)*L)
    val perSeq = seqs.select(
        explode(expr("sequence(first_seq, last_seq)")).as("seq_id"),
        col("g_start"), col("n_tokens"))
      .select(col("seq_id"),
        (least(col("g_start") + col("n_tokens"), (col("seq_id") + 1) * 128L)
          - greatest(col("g_start"), col("seq_id") * 128L)).as("toks"))
      .groupBy("seq_id").agg(sum("toks").as("mass"))
      .orderBy("seq_id").as[(Long, Long)].collect()
    assert(perSeq.dropRight(1).forall(_._2 == 128L),
      "every non-final sequence must carry exactly seqLen tokens")
    assert(perSeq.last._2 <= 128L)
  }

  test("distributed result equals the single-partition reference at scale") {
    // 5k docs with varied token counts across many partitions must
    // reproduce the naive global-window cumsum exactly
    val many = (1L to 5000L).map(i =>
      (i, Seq.fill((i % 17 + 1).toInt)("w").mkString(" ")))
      .toDF("doc_id", "text").repartition(16)
    val got = Packing.packByTokenBudget(many, budget = 1000L)
    val w = org.apache.spark.sql.expressions.Window.orderBy("doc_id")
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, -1)
    val ref = many.select(col("doc_id"),
        size(graft.functions.TextFunctions.tokens(col("text"))).cast("long").as("n"))
      .withColumn("pack_ref",
        expr("coalesce(sum(n) over (order by doc_id rows between unbounded preceding and 1 preceding), 0) div 1000"))
    val mismatches = got.join(ref, "doc_id")
      .filter(col("pack_id") =!= col("pack_ref")).count()
    assert(mismatches == 0L)
  }

  /** `build`'s result with the plan of the `(id, n_tokens, part)`
    * checkpoint packing takes while it runs. The range exchange and the
    * partition-id column are materialized there, so the returned
    * frame's plan only scans them.
    */
  private def withPartedPlan[T](build: => T): (T, String) = {
    val (out, parted) =
      CutPlan.capture(spark, Seq("id", "n_tokens", "part"))(build)
    (out, parted.toString)
  }

  test("plan shape: range-partitioned, never a global single-partition sort") {
    val (plan, parted) = withPartedPlan(Packing.packByTokenBudget(
      docs, budget = 5L).queryExecution.executedPlan.toString)
    assert(parted.contains("rangepartitioning"),
      s"expected a range exchange in:\n$parted")
    // the doc-level window must partition by the physical partition id —
    // a global `Window [.. ORDER BY id]` with no partition spec would be
    // the 100 TB killer this operator exists to avoid
    assert(parted.toLowerCase.contains("spark_partition_id"),
      s"expected a partition-id column in:\n$parted")
    // the only SinglePartition exchange allowed is the per-partition
    // TOTALS frame (≤ shuffle.partitions rows); the doc-level window
    // must not funnel the corpus through one partition
    val docWindow = plan.linesIterator
      .find(l => l.contains("Window") && l.contains("id#"))
    assert(docWindow.exists(_.contains("part#")),
      s"doc-level window not partition-scoped:\n$plan")
  }

  test("the one unpartitioned window runs over the totals frame only") {
    // Bench logs flag `WindowExec: No Partition Defined` on this plan;
    // this pins WHY that warning is benign: the only window without a
    // partition spec consumes the per-partition totals aggregate (one
    // row per shuffle partition, `ptotal`), never doc-level rows — so
    // the serial step of the prefix sum is bounded by
    // spark.sql.shuffle.partitions no matter the corpus size.
    val plan = Packing.packByTokenBudget(docs, budget = 5L)
      .queryExecution.executedPlan.toString
    val windows = plan.linesIterator.filter(_.contains("Window ")).toSeq
    assert(windows.nonEmpty, s"no window nodes in:\n$plan")
    // a PARTITIONED spec lists the partition column before the order
    // column: windowspecdefinition(part#N, id#M ASC ...); the
    // unpartitioned totals spec starts directly with its order column:
    // windowspecdefinition(part#N ASC ...)
    val unpartitioned =
      windows.filter(_.matches(""".*windowspecdefinition\(part#\d+ ASC.*"""))
    assert(unpartitioned.size == 1,
      s"expected exactly one unpartitioned window:\n${windows.mkString("\n")}")
    assert(unpartitioned.head.contains("ptotal"),
      s"unpartitioned window must consume the totals frame, got:\n" +
        unpartitioned.head)
    assert(windows.filterNot(unpartitioned.contains).forall(
        _.matches(""".*windowspecdefinition\(part#\d+, id#\d+.*""")),
      s"every doc-level window must be partition-scoped:\n" +
        windows.mkString("\n"))
  }
}
