package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.{RDDScanExec, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.aggregate.BaseAggregateExec
import org.apache.spark.sql.execution.exchange.Exchange
import org.apache.spark.sql.execution.joins.BaseJoinExec
import org.scalatest.funsuite.AnyFunSuite
import graft.operators.SetSimJoin
import graft.plans.CutPlan

/** Physical-plan invariants (SURVEY.md §4.2): these are the properties
  * that make the plans survive a 100× scale-up — filters reaching the
  * parquet scan, pruned read schemas, broadcast joins for dims, true
  * top-k instead of global sorts. A regression here is a performance
  * bug even while results stay correct.
  */
class PlanSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark
  private val sf = "/root/testdata/sf0.001"

  private def plan(name: String): String = {
    val df = SparkEntry.queries(name)(spark, sf)
    df.collect() // materialize so AQE finalizes the plan
    finalPlan(df.queryExecution.executedPlan).toString
  }

  /** Pre-execution plan: AQE's FINAL plan string collapses reused early
    * stages into opaque QueryStage references, so whole-plan shape
    * assertions (a guard join deep in the pipeline) read the initial
    * physical plan instead.
    */
  private def planNoExec(name: String): String =
    SparkEntry.queries(name)(spark, sf).queryExecution.executedPlan.toString

  /** The pre-execution plan of an incremental set audit on its exchange
    * route: 200 stored sets and a 30-set local batch whose tokens are
    * doubles, a type the batch-probe route does not key, so the small,
    * sized batch keeps the exchange plan (measured and hinted). */
  private def exchangeAuditPlan(
      audit: (String, DataFrame) => DataFrame): String = {
    import spark.implicits._
    val rnd = new scala.util.Random(7)
    def sets(ids: Range) = ids.map(i =>
        i.toLong -> rnd.shuffle((0 until 60).map(_.toDouble)).take(12))
      .toDF("doc_id", "toks")
    val path = java.nio.file.Files.createTempDirectory("plan_inc").toString
    SetSimJoin.saveSets(sets(0 until 200), "doc_id", "toks", path)
    audit(path, sets(1000 until 1030)).queryExecution.executedPlan.toString
  }

  private def finalPlan(p: SparkPlan): SparkPlan = p match {
    case a: AdaptiveSparkPlanExec => a.executedPlan
    case other => other
  }

  /** The plan that materializes packing's own lineage cut, the narrow
    * `(id, n_tokens)` frame its range exchange samples, while gate
    * `name` is built. */
  private def packingCutPlan(name: String): SparkPlan =
    finalPlan(CutPlan.capture(spark, Seq("id", "n_tokens"))(
      SparkEntry.queries(name)(spark, sf))._2)

  /** The survivor-cut contract of a packing pipeline. Packing always
    * cuts its narrow input before the range exchange, so the final plan
    * holds an ExistingRDD with or without the caller's cut. The
    * caller's cut decides what packing's cut materializes: with it, a
    * projection over the survivors' checkpoint; without it, the dedup
    * join itself, which q_html_pipeline's title join-back then derives
    * a second time.
    */
  private def assertSurvivorsCut(name: String): Unit = {
    // AQE query stages are leaves; look inside them
    def nodes(p: SparkPlan): Seq[SparkPlan] = p match {
      case q: QueryStageExec => nodes(q.plan)
      case other => other +: other.children.flatMap(nodes)
    }
    val p = packingCutPlan(name)
    val all = nodes(p)
    val rederived = all.filter {
      case _: BaseJoinExec | _: BaseAggregateExec | _: Exchange => true
      case _ => false
    }
    val leaves = all.filter(_.children.isEmpty)
    assert(rederived.isEmpty && leaves.forall(_.isInstanceOf[RDDScanExec]),
      s"$name: packing's cut re-derives the dedup survivors:\n$p")
  }

  test("q_filter_sort: predicate pushed to parquet scan, schema pruned") {
    val s = plan("q_filter_sort")
    assert(s.contains("PushedFilters: [IsNotNull(l_quantity), GreaterThan(l_quantity,30.0)]"),
      s"filter not pushed:\n$s")
    assert(!s.contains("l_extendedprice"), s"unneeded column read:\n$s")
  }

  test("q_count_by_brand: only p_brand read; sort+limit is TakeOrdered") {
    val s = plan("q_count_by_brand")
    assert(s.contains("ReadSchema: struct<p_brand:string>"),
      s"column pruning failed:\n$s")
    assert(s.contains("TakeOrderedAndProject"), s"no top-k operator:\n$s")
  }

  test("q_join_inner: dims joined via BroadcastHashJoin, no shuffle of fact") {
    val s = plan("q_join_inner")
    assert(s.contains("BroadcastHashJoin"), s"expected broadcast join:\n$s")
    assert(!s.contains("SortMergeJoin"), s"unexpected sort-merge join:\n$s")
  }

  test("q_segment_revenue: customer side broadcast; agg is partial+final hash") {
    val s = plan("q_segment_revenue")
    assert(s.contains("BroadcastHashJoin"), s"customer not broadcast:\n$s")
    assert(s.contains("HashAggregate"), s"expected hash aggregation:\n$s")
  }

  test("q_top5_cte_join: top-k subplan broadcast back against part") {
    val s = plan("q_top5_cte_join")
    assert(s.contains("BroadcastHashJoin"), s"top-5 side not broadcast:\n$s")
  }

  test("q_filter_sort: ordered limit plans as TakeOrderedAndProject") {
    val s = plan("q_filter_sort")
    assert(s.contains("TakeOrderedAndProject"), s"no top-k operator:\n$s")
  }

  test("q_pricing_summary: date filter pushed, partial aggregation present") {
    val s = plan("q_pricing_summary")
    assert(s.contains("PushedFilters") && s.contains("l_shipdate"),
      s"shipdate filter not pushed:\n$s")
    assert(s.contains("HashAggregate"), s"expected hash agg:\n$s")
  }

  test("q_semi_join: plans as a broadcast LeftSemi with orders filter pushed") {
    val s = plan("q_semi_join")
    assert(s.contains("LeftSemi"), s"expected semi join:\n$s")
    assert(s.contains("BroadcastHashJoin"), s"semi side not broadcast:\n$s")
    assert(s.contains("o_orderpriority"), s"orders filter missing:\n$s")
  }

  test("q_anti_join: plans as a broadcast LeftAnti") {
    val s = plan("q_anti_join")
    assert(s.contains("LeftAnti"), s"expected anti join:\n$s")
    assert(s.contains("BroadcastHashJoin"), s"anti side not broadcast:\n$s")
  }

  test("q_range_join: band dim broadcast, never a shuffled cross product") {
    val s = plan("q_range_join")
    assert(s.contains("BroadcastNestedLoopJoin"),
      s"expected broadcast nested-loop join:\n$s")
    assert(!s.contains("CartesianProduct"), s"unexpected cartesian:\n$s")
  }

  test("q_grouped_topk: rank filter becomes a pre-shuffle WindowGroupLimit") {
    val s = plan("q_grouped_topk")
    assert(s.contains("WindowGroupLimit"), s"no WindowGroupLimit:\n$s")
  }

  test("q_bloom_join: might_contain filter prunes the fact BELOW the join") {
    val s = plan("q_bloom_join")
    assert(s.contains("might_contain"), s"no bloom probe in plan:\n$s")
    // the probe must sit on the scan side: the Filter line containing
    // might_contain appears after (deeper than) the join node in the
    // bottom-anchored plan string
    val joinIdx = s.indexOf("HashJoin")
    val probeIdx = s.indexOf("might_contain")
    assert(joinIdx >= 0 && probeIdx > joinIdx,
      s"bloom probe not below the join:\n$s")
  }

  test("q_asof_join_exec: custom AsOfJoinExec node; one exchange per side") {
    val s = plan("q_asof_join_exec")
    assert(s.contains("AsOfJoin"), s"custom exec not planned:\n$s")
    // key-clustered exchanges for both children, and no more than that
    // (EnsureRequirements must not stack extra shuffles on top)
    val exchanges = "Exchange hashpartitioning".r.findAllIn(s).length
    assert(exchanges == 2, s"expected 2 exchanges, got $exchanges:\n$s")
  }

  test("q_repetition / q_decontaminate: documents scan pruned to id+text") {
    Seq("q_repetition", "q_decontaminate").foreach { q =>
      val s = plan(q)
      assert(s.contains("ReadSchema: struct<doc_id:bigint,text:string>"),
        s"$q reads more than doc_id+text:\n$s")
    }
  }

  test("q_decontaminate: benchmark gram set broadcast, corpus not shuffled pre-join") {
    val s = plan("q_decontaminate")
    assert(s.contains("BroadcastHashJoin"), s"bench side not broadcast:\n$s")
  }

  test("q_embedding_topk: cosine evaluated inside WholeStageCodegen") {
    val s = plan("q_embedding_topk")
    // codegen spans print as "*(n)" in treeString — the Project that
    // evaluates vec_cosine must carry that prefix (fused, not interpreted)
    assert("""\*\(\d+\) Project \[[^\n]*vec_cosine""".r.findFirstIn(s).isDefined,
      s"vec_cosine not inside a codegen span:\n$s")
  }

  test("q_embedding_neardup: bucket skew guard is a broadcast anti-join; no all-pairs join") {
    val s = planNoExec("q_embedding_neardup")
    assert(s.contains("LeftAnti"), s"maxBucket anti-join guard missing:\n$s")
    // the only nested-loop join allowed is the final 1-row×1-row
    // expected×found crossJoin — the corpus must never cross itself
    assert(!s.contains("CartesianProduct"), s"all-pairs join appeared:\n$s")
  }

  test("q_dedup_minhash_sharded: skew guard present; shard key in the bucket grouping") {
    val s = planNoExec("q_dedup_minhash_sharded")
    // r18 opt + r19 guard fix (ADVICE r18 medium): candidate generation
    // is a single bucket aggregation per (shard, band, bh) + in-row
    // pair expansion, not a self-join — and the collect is CAPPED at
    // maxBucket + 1 elements (collect_list_capped), so a degenerate
    // boilerplate bucket never materializes an O(bucket) aggregation
    // buffer; the size filter then drops the detected-oversized groups
    assert(s.contains("collect_list_capped"),
      s"capped bucket aggregation missing (collect_list_capped):\n$s")
    assert(s.contains("<= 200"),
      s"maxBucket size-cap guard missing:\n$s")
    // the bucket grouping must key on (source, band, bh) — a plan that
    // pairs across shards would drop `source` from the grouping keys
    assert("""source#\d+[^\n]*band#\d+[^\n]*bh#\d+""".r.findFirstIn(s).isDefined,
      s"shard key not in the bucket grouping:\n$s")
  }

  test("q_incremental_dedup: batch bloom probes the corpus scan; exact anti-join on top") {
    val s = planNoExec("q_incremental_dedup")
    // the bloom arrives as a scalar subquery inlined into the corpus
    // side's filter — the shape that keeps the corpus from shuffling
    // more than its collision set
    assert(s.contains("might_contain"), s"bloom probe missing:\n$s")
    assert(s.contains("Subquery") || s.contains("scalar-subquery"),
      s"bloom not delivered as a scalar subquery:\n$s")
    assert(s.contains("LeftAnti"), s"exact anti-join missing:\n$s")
  }

  test("q_dpp_prune: fact scan carries a DynamicPruningExpression partition filter") {
    // runtime partition pruning, not static: the dim filter is on an
    // aggregated column, so the partition list only exists at execution
    // time — the scan must wait on it via a dynamic pruning subquery
    val s = planNoExec("q_dpp_prune")
    assert(s.toLowerCase.contains("dynamicpruningexpression"),
      s"no dynamic partition pruning on the fact scan:\n$s")
    assert(s.contains("PartitionFilters"), s"scan has no partition filters:\n$s")
  }

  test("q_dsir_weights: llr table broadcast to the feature stream; partial agg") {
    // the ONLY corpus-sized shuffles allowed are the bucket-count agg
    // and the per-doc weight reduce — the scoring join must broadcast
    // the ≤ numBuckets llr table, never shuffle the feature stream
    val s = planNoExec("q_dsir_weights")
    assert(s.contains("BroadcastHashJoin"), s"llr table not broadcast:\n$s")
    assert(s.contains("partial_count") || s.contains("partial_sum"),
      s"no map-side partial aggregation:\n$s")
  }

  test("q_dsir_select: gumbel top-k is TakeOrdered, not a global sort") {
    val s = planNoExec("q_dsir_select")
    assert(s.contains("TakeOrderedAndProject"), s"no top-k operator:\n$s")
  }

  test("q_sample_mod: deterministic sample is a pure scan-side filter") {
    val s = plan("q_sample_mod")
    // pmod isn't a parquet-pushable predicate, but it must stay a plain
    // Filter over the scan — no shuffle, no join — so sampling cost is
    // one pass at any scale
    assert(s.contains("Filter"), s"expected filter:\n$s")
    assert(!s.contains("Exchange hashpartitioning(l_orderkey"),
      s"sampling should not shuffle by key:\n$s")
  }

  test("bm25 percolation: stateless per-row plan — no exchange, no join, no aggregate") {
    // the percolate plan must stay scan → project → generate → filter:
    // any Exchange/Join/Aggregate would make the streaming deploy shape
    // illegal (or stateful) and break the zero-shuffle-before-sink claim
    import org.apache.spark.sql.functions.col
    val docs = Tables.documents(spark, sf).select(col("doc_id"), col("text"))
    val path = s"${System.getProperty("java.io.tmpdir")}/graft_states/planspec_perc"
    graft.operators.Bm25.saveIndex(docs, path)
    import spark.implicits._
    val qs = Seq((0L, "fast sort merge")).toDF("query_id", "query_text")
    val prep = graft.operators.Bm25.preparePercolate(
      graft.operators.Bm25.loadIndex(spark, path), qs)
    val p = graft.operators.Bm25.percolate(docs, prep, threshold = 1.5)
    p.collect()
    val s = finalPlan(p.queryExecution.executedPlan).toString
    assert(!s.contains("Exchange"), s"percolation must not shuffle:\n$s")
    assert(!s.contains("Join"), s"percolation must not join:\n$s")
    assert(!s.contains("Aggregate"), s"percolation must not aggregate:\n$s")
    assert(s.contains("Generate"), s"expected the bounded query explode:\n$s")
  }

  test("q_bm25_topk: query terms and vocabulary-sized tables broadcast; one tf aggregation shape") {
    val s = planNoExec("q_bm25_topk")
    assert(s.contains("BroadcastHashJoin"),
      s"expected broadcast score joins:\n$s")
    // top-k per query is the rank-window pre-shuffle limit, not a
    // global sort
    assert(s.contains("WindowGroupLimit"),
      s"expected WindowGroupLimit top-k:\n$s")
  }

  test("q_mrl_rerank: shortlist ids broadcast into the full-vector fetch; corpus not reshuffled") {
    val s = planNoExec("q_mrl_rerank")
    assert(s.contains("BroadcastHashJoin"),
      s"expected the shortlist to broadcast:\n$s")
    // the re-rank stage must not hash-exchange the corpus by id
    assert(!s.contains("Exchange hashpartitioning(neighbor_id"),
      s"re-rank should fetch via broadcast, not reshuffle the corpus:\n$s")
  }

  test("q_setsim_join: candidate join is equi on the prefix key; lineage cuts survive") {
    val s = planNoExec("q_setsim_join")
    assert(!s.contains("CartesianProduct"),
      s"candidate generation must never be all-pairs:\n$s")
    // exactly ONE nested-loop join is legal: the ×1-row guard cross
    // join (its build side is the one-row guard_ok frame); a second
    // would mean the candidate self-join degenerated to all-pairs
    val bnlj = "BroadcastNestedLoopJoin".r.findAllIn(s).size
    assert(bnlj <= 1, s"expected only the guard's ×1-row BNLJ, got $bnlj:\n$s")
    // both Lineage.cut boundaries (sets + ranked) appear as ExistingRDD scans
    assert(s.contains("ExistingRDD"),
      s"expected the materialization boundaries:\n$s")
  }

  test("q_llm_data_pipeline: lineage cut at stage boundaries survives") {
    // the 30× lesson (BASELINE.md round 10): the cleaned corpus feeds six
    // consumers — without the lazy localCheckpoint boundaries the plan
    // re-derives and re-codegens the whole upstream chain per consumer.
    // The checkpointed stages appear as ExistingRDD scans in the plan.
    val s = planNoExec("q_llm_data_pipeline")
    assert(s.contains("ExistingRDD"),
      s"stage-boundary localCheckpoint missing — plan:\n$s")
  }

  test("q_llm_pipeline_spans: lineage cut at the excision boundary survives") {
    // same idiom: the excised corpus feeds three consumers (winnow,
    // packing, final projection) — the boundary must stay an
    // ExistingRDD scan, not a re-derivation per consumer
    val s = planNoExec("q_llm_pipeline_spans")
    assert(s.contains("ExistingRDD"),
      s"stage-boundary localCheckpoint missing — plan:\n$s")
  }

  test("q_web_pipeline: lineage cut isolates the repetition-signal stage") {
    // without the cut, PushDownPredicates substitutes the raw-signal
    // aliases into the pushed filter, re-inlining the staged arrays
    // into lambda bodies (measured 13+ min at sf0.001)
    val s = planNoExec("q_web_pipeline")
    assert(s.contains("ExistingRDD"),
      s"signal-boundary localCheckpoint missing — plan:\n$s")
  }

  test("q_html_pipeline: dedup survivors are cut before packing") {
    // packByTokenBudget's repartitionByRange SAMPLES its child for
    // range bounds; uncut, the HTML-extraction tower under the
    // semi-join runs inside packing's own cut and again for the title
    // join-back. The survivors boundary must stay a checkpoint scan.
    assertSurvivorsCut("q_html_pipeline")
  }

  test("q_pretrain_pipeline: dedup survivors are cut before packing") {
    // same contract as q_html_pipeline for the fixed-length packer
    assertSurvivorsCut("q_pretrain_pipeline")
  }

  test("parquet MIN/MAX/COUNT aggregates push down to the scan") {
    // scan-efficiency contract at 100 TB: a bare min/max/count over a
    // parquet table must answer from footer statistics (PushedAggregation
    // in the scan), never a full column scan. Opt-in conf; DSv2 path.
    val prev = spark.conf.getOption("spark.sql.parquet.aggregatePushdown")
    val prevList = spark.conf.getOption("spark.sql.sources.useV1SourceList")
    spark.conf.set("spark.sql.parquet.aggregatePushdown", "true")
    spark.conf.set("spark.sql.sources.useV1SourceList", "")
    try {
      // timestamp columns are not pushdown-eligible (the NTZ/INT96
      // ambiguity) — numeric min/max + count(*) are
      val df = spark.read.parquet(s"$sf/lineitem.parquet")
        .agg(org.apache.spark.sql.functions.min("l_quantity"),
          org.apache.spark.sql.functions.max("l_orderkey"),
          org.apache.spark.sql.functions.count(
            org.apache.spark.sql.functions.lit(1)))
      val s = df.queryExecution.executedPlan.toString
      assert(s.contains("PushedAggregation: [MIN(l_quantity), " +
        "MAX(l_orderkey), COUNT(*)]"),
        s"aggregate not pushed to the parquet scan — plan:\n$s")
      assert(df.head().getLong(2) > 0)
    } finally {
      prev match {
        case Some(v) => spark.conf.set("spark.sql.parquet.aggregatePushdown", v)
        case None => spark.conf.unset("spark.sql.parquet.aggregatePushdown")
      }
      prevList match {
        case Some(v) => spark.conf.set("spark.sql.sources.useV1SourceList", v)
        case None => spark.conf.unset("spark.sql.sources.useV1SourceList")
      }
    }
  }

  test("incremental joins: batch side broadcasts, no shuffle-join demotion") {
    // The stats-less-checkpoint hazard (BASELINE.md round-14 third
    // pass): the batch-derived join inputs come off a localCheckpoint
    // with no Catalyst stats, so the planner cannot see they are small
    // — the operators state the broadcast() hint from the size they
    // compute. Measured regression shape when the hint is lost: the
    // candidate join degrades to a shuffle join and the gate reads ~2x
    // its floor. Pin it here so the regression fails a test, not a
    // bench floor. (Round 15 moved the hint inside saltedTokenJoin —
    // this pin guards that refactor and every future one.)
    //
    // Round 16: the adaptive-by-default hot-bucket split adds a salted
    // branch whose join is shuffle_hash-HINTED (bounded build cells by
    // the salt arithmetic; AQE deletes the branch at runtime when no
    // token is hot), so ShuffledHashJoin nodes are expected — the
    // demotion signature to ban is SortMergeJoin (the planner's default
    // for a stats-less unhinted join), plus the BHJ presence check.
    // ADVICE r16 tightening: banning only SortMergeJoin left a hole —
    // a batch-side broadcast join demoted to ShuffledHashJoin would
    // pass as long as SOME BHJ appeared elsewhere. The salted hot
    // branch is the ONLY legitimate SHJ source (one hinted join per
    // saltedTokenJoin call: jaccard has one, containment one per
    // candidate branch), so bound the SHJ node count to that budget:
    // any demotion adds an SHJ beyond it and fails here.
    //
    // The gates' batches fit the broadcast bound, so they take the
    // batch-probe route: one scan with the batch as literals and no join
    // to demote. The exchange plans keep the pin through a batch the
    // route does not key ([[exchangeAuditPlan]]).
    for (name <- Seq("q_incremental_setsim", "q_incremental_containment")) {
      val probe = planNoExec(name)
      assert(!probe.contains("Join"),
        s"$name: the batch-probe route plans no join:\n$probe")
    }
    for ((name, saltedJoins, s) <- Seq(
        ("incrementalJaccardPairs", 1, exchangeAuditPlan((p, b) =>
          SetSimJoin.incrementalJaccardPairs(spark, p, b, "doc_id", "toks", 0.8))),
        ("incrementalContainmentPairs", 2, exchangeAuditPlan((p, b) =>
          SetSimJoin.incrementalContainmentPairs(spark, p, b, "doc_id", "toks",
            0.9))))) {
      assert(!s.contains("SortMergeJoin"),
        s"$name: batch-side broadcast hint lost — a join demoted to a " +
        s"sort-merge join:\n$s")
      val shj = "ShuffledHashJoin".r.findAllIn(s).length
      assert(shj <= saltedJoins,
        s"$name: $shj ShuffledHashJoin nodes but only $saltedJoins " +
        s"hinted salted-branch join(s) expected — a broadcast join was " +
        s"demoted:\n$s")
      assert(s.contains("BroadcastHashJoin"),
        s"$name: expected broadcast candidate joins:\n$s")
    }
  }
}
