package graft.queries

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.Tables._
import graft.plans.Lineage
import graft.functions.TextFunctions

/** Statistical and scalar-function breadth: bivariate statistics,
  * argmin/argmax aggregates, value-position window functions, array
  * function composition, regexp extraction, and calendar arithmetic.
  * All DuckDB-oracled.
  *
  * Scale notes: everything here is scan → partial/final hash agg or a
  * bounded-partition window (per-customer order counts, not unbounded
  * time series); codegen'd built-ins throughout, no UDFs.
  */
object StatsExtSuite extends QuerySuite {

  private val toksSql =
    """list_filter(string_split_regex(trim(text), '\s+'), x -> x <> '')"""

  // ---- bivariate statistics per group --------------------------------
  // corr/covar/stddev/var are single-pass partial aggregates (moment
  // sketches merge associatively) — one shuffle on a 6-value key.
  // Doubles rounded: parallel vs sequential summation order.
  private val statsCorr = GraftQuery(
    "q_stats_corr",
    (s, d) =>
      lineitem(s, d)
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
          count(lit(1)).as("n"),
          round(corr(col("l_quantity"), col("l_extendedprice")), 6).as("qty_price_corr"),
          round(covar_samp(col("l_quantity"), col("l_extendedprice")), 4).as("qty_price_covar"),
          round(stddev_samp(col("l_quantity")), 6).as("qty_stddev"),
          round(var_samp(col("l_quantity")), 6).as("qty_var"))
        .orderBy(asc("l_returnflag"), asc("l_linestatus")),
    Some("""SELECT l_returnflag, l_linestatus, COUNT(*) AS n,
              ROUND(corr(l_quantity, l_extendedprice), 6) AS qty_price_corr,
              ROUND(covar_samp(l_quantity, l_extendedprice), 4) AS qty_price_covar,
              ROUND(stddev_samp(l_quantity), 6) AS qty_stddev,
              ROUND(var_samp(l_quantity), 6) AS qty_var
            FROM lineitem GROUP BY l_returnflag, l_linestatus
            ORDER BY l_returnflag, l_linestatus"""))

  // ---- argmax / argmin aggregates ------------------------------------
  // (verified tie-free on this data; a production call would tie-break
  // with max_by(x, struct(y, x)))
  private val minmaxBy = GraftQuery(
    "q_minmax_by",
    (s, d) =>
      customer(s, d)
        .groupBy("c_nationkey")
        .agg(
          max_by(col("c_name"), col("c_acctbal")).as("richest"),
          min_by(col("c_name"), col("c_acctbal")).as("poorest"),
          round(max(col("c_acctbal")), 2).as("max_bal"))
        .orderBy(asc("c_nationkey")),
    Some("""SELECT c_nationkey,
              max_by(c_name, c_acctbal) AS richest,
              min_by(c_name, c_acctbal) AS poorest,
              ROUND(MAX(c_acctbal), 2) AS max_bal
            FROM customer GROUP BY c_nationkey ORDER BY c_nationkey"""))

  // ---- value-position window functions (full frame) ------------------
  private val firstLast = GraftQuery(
    "q_first_last",
    (s, d) => {
      val w = Window.partitionBy("o_custkey")
        .orderBy(asc("o_orderdate"), asc("o_orderkey"))
        .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
      orders(s, d)
        .select(
          col("o_custkey"),
          first(col("o_orderkey")).over(w).as("first_order"),
          last(col("o_orderkey")).over(w).as("last_order"),
          nth_value(col("o_orderkey"), 2).over(w).as("second_order"))
        .distinct()
        .orderBy(asc("o_custkey"))
    },
    Some("""SELECT DISTINCT o_custkey,
              first_value(o_orderkey) OVER w AS first_order,
              last_value(o_orderkey) OVER w AS last_order,
              nth_value(o_orderkey, 2) OVER w AS second_order
            FROM orders
            WINDOW w AS (PARTITION BY o_custkey
              ORDER BY o_orderdate, o_orderkey
              ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)
            ORDER BY o_custkey"""))

  // ---- array function composition ------------------------------------
  // sort(distinct(...)) then slice: distinct-order is engine-specific in
  // both engines, so the sort is what makes the compare well-defined.
  private val arrayFuncs = GraftQuery(
    "q_array_funcs",
    (s, d) =>
      documents(s, d)
        .select(col("doc_id"), TextFunctions.tokens(col("text")).as("toks"))
        .select(
          col("doc_id"),
          array_join(slice(array_sort(array_distinct(col("toks"))), 1, 5), " ")
            .as("first5_sorted"),
          size(array_distinct(col("toks"))).as("n_distinct"),
          when(array_contains(col("toks"), "the"), lit(1)).otherwise(lit(0))
            .as("has_the"))
        .orderBy(asc("doc_id")),
    Some(s"""WITH t AS (
               SELECT doc_id, $toksSql AS toks FROM documents)
             SELECT doc_id,
               array_to_string(list_sort(list_distinct(toks))[1:5], ' ')
                 AS first5_sorted,
               len(list_distinct(toks)) AS n_distinct,
               CASE WHEN list_contains(toks, 'the') THEN 1 ELSE 0 END AS has_the
             FROM t ORDER BY doc_id"""))

  // ---- regexp extract-all over semi-structured text ------------------
  private val extractNumbers = GraftQuery(
    "q_extract_numbers",
    (s, d) =>
      events(s, d)
        .select(
          col("event_id"),
          regexp_extract_all(col("props"), lit("[0-9]+"), lit(0)).as("nums"))
        .select(
          col("event_id"),
          array_join(col("nums"), ",").as("nums_csv"),
          size(col("nums")).as("n_nums"))
        .orderBy(asc("event_id")),
    Some("""SELECT event_id,
              array_to_string(regexp_extract_all(props, '[0-9]+'), ',') AS nums_csv,
              len(regexp_extract_all(props, '[0-9]+')) AS n_nums
            FROM events ORDER BY event_id"""))

  // ---- calendar arithmetic breadth -----------------------------------
  // dates emitted as formatted strings (physical date types hash
  // differently across engines' pandas dtypes)
  private val dateFuncs = GraftQuery(
    "q_date_funcs",
    (s, d) =>
      orders(s, d)
        .select(
          col("o_orderkey"),
          date_format(date_trunc("month", col("o_orderdate")), "yyyy-MM-dd")
            .as("month_start"),
          date_format(last_day(col("o_orderdate")), "yyyy-MM-dd").as("month_end"),
          date_format(add_months(col("o_orderdate"), 3), "yyyy-MM-dd")
            .as("plus3m"),
          quarter(col("o_orderdate")).as("qtr"),
          datediff(lit("1998-01-01").cast("date"), col("o_orderdate"))
            .as("days_to_98"))
        .orderBy(asc("o_orderkey")),
    Some("""SELECT o_orderkey,
              strftime(date_trunc('month', o_orderdate), '%Y-%m-%d') AS month_start,
              strftime(last_day(o_orderdate), '%Y-%m-%d') AS month_end,
              strftime(o_orderdate + INTERVAL 3 MONTH, '%Y-%m-%d') AS plus3m,
              CAST(quarter(o_orderdate) AS INTEGER) AS qtr,
              CAST(datediff('day', o_orderdate, DATE '1998-01-01') AS INTEGER)
                AS days_to_98
            FROM orders ORDER BY o_orderkey"""))

  // ---- math scalar breadth -------------------------------------------
  private val mathFuncs = GraftQuery(
    "q_math_funcs",
    (s, d) =>
      part(s, d)
        .select(
          col("p_partkey"),
          round(log(col("p_retailprice")), 6).as("ln_price"),
          round(pow(col("p_size"), 2).cast("double"), 1).as("size_sq"),
          ceil(col("p_retailprice")).cast("long").as("price_ceil"),
          floor(col("p_retailprice")).cast("long").as("price_floor"),
          signum(col("p_size") - 25).cast("int").as("size_sign"),
          (col("p_partkey") % 7).as("key_mod"))
        .orderBy(asc("p_partkey")),
    Some("""SELECT p_partkey,
              ROUND(ln(p_retailprice), 6) AS ln_price,
              ROUND(CAST(p_size AS DOUBLE) * p_size, 1) AS size_sq,
              CAST(ceil(p_retailprice) AS BIGINT) AS price_ceil,
              CAST(floor(p_retailprice) AS BIGINT) AS price_floor,
              CAST(sign(p_size - 25) AS INTEGER) AS size_sign,
              p_partkey % 7 AS key_mod
            FROM part ORDER BY p_partkey"""))

  // ---- null-handling scalar breadth ----------------------------------
  // nullif/coalesce/greatest/least over a column made sparse on purpose
  private val nullFuncs = GraftQuery(
    "q_null_funcs",
    (s, d) =>
      customer(s, d)
        .select(
          col("c_custkey"),
          nullif(col("c_mktsegment"), lit("BUILDING")).as("seg_or_null"))
        .select(
          col("c_custkey"),
          coalesce(col("seg_or_null"), lit("SUPPRESSED")).as("seg_disp"),
          when(col("seg_or_null").isNull, 1).otherwise(0).as("was_building"))
        .orderBy(asc("c_custkey")),
    Some("""SELECT c_custkey,
              COALESCE(NULLIF(c_mktsegment, 'BUILDING'), 'SUPPRESSED')
                AS seg_disp,
              CASE WHEN NULLIF(c_mktsegment, 'BUILDING') IS NULL
                THEN 1 ELSE 0 END AS was_building
            FROM customer ORDER BY c_custkey"""))

  // ---- z-order (Morton) key ------------------------------------------
  // The data-skipping sort key ([[graft.operators.ZOrder]]) checked
  // bit-for-bit: same shift/mask formula on both engines. Layout payoff
  // (per-file bounding boxes on both dims) is pinned in ZOrderSpec.
  private val zorderKey = GraftQuery(
    "q_zorder_key",
    (s, d) =>
      lineitem(s, d)
        .filter(col("l_orderkey") % 37 === 0)
        .select(
          col("l_orderkey"), col("l_linenumber"),
          (col("l_partkey") % 1024).as("pk"),
          (col("l_suppkey") % 1024).as("sk"))
        .withColumn("z",
          graft.operators.ZOrder.zValue(col("pk"), col("sk"), bits = 10))
        // (l_orderkey, l_linenumber) is NOT unique in this synthetic
        // data — order by every projected column for a total order
        .orderBy(asc("l_orderkey"), asc("l_linenumber"), asc("pk"), asc("sk")),
    Some(s"""SELECT l_orderkey, l_linenumber,
               l_partkey % 1024 AS pk, l_suppkey % 1024 AS sk,
               ${graft.operators.ZOrder.zValueSql(
                   "(l_partkey % 1024)", "(l_suppkey % 1024)", bits = 10)} AS z
             FROM lineitem WHERE l_orderkey % 37 = 0
             ORDER BY l_orderkey, l_linenumber, pk, sk"""))

  // ---- mergeable cardinality sketches (round 10) ---------------------
  // Shard-resumable distinct counts: HLL state per shard once, corpus
  // answers later by unioning states — no rescan. Reduced-form oracle:
  // DuckDB pins the EXACT per-shard and total distincts plus the row
  // counts; the sketch estimates are checked engine-side against those
  // exacts (≤5% at lgK=12, ~1.6% RSE — deterministic, content-hashed,
  // not sampled) and union-of-shards is checked against the direct
  // whole-corpus sketch within the same 5% envelope: a small direct
  // sketch stays in exact (list/set) mode while a union of sparse shard
  // states promotes to estimating HLL mode, so the two legitimately
  // differ by up to ~2×RSE — each is pinned near the truth, not
  // byte-equal to the other.
  private val sketchDistinct = GraftQuery(
    "q_sketch_distinct",
    (s, d) => {
      val docs = documents(s, d)
      val sk = graft.operators.SketchStats
        .shardSketches(docs, "source", "doc_id")
      val per = graft.operators.SketchStats.shardEstimates(sk, "source")
      val exact = docs.groupBy("source")
        .agg(countDistinct(col("doc_id")).as("exact_distinct"))
      val shardRows = per.join(exact, Seq("source"))
        .select(col("source"), col("n_rows"), col("exact_distinct"),
          (abs(col("est_distinct") - col("exact_distinct"))
            <= col("exact_distinct") * 0.05).as("within_tol"),
          lit(true).as("merge_consistent"))
      val merged = graft.operators.SketchStats.mergedEstimate(sk)
        .select(col("est_distinct").as("merged_est"))
      val direct = docs.agg(
        hll_sketch_estimate(hll_sketch_agg(col("doc_id"), lit(12)))
          .as("direct_est"))
      val totals = docs.agg(count(lit(1)).as("n_rows"),
          countDistinct(col("doc_id")).as("exact_distinct"))
        .crossJoin(merged).crossJoin(direct)
        .select(lit("__total__").as("source"), col("n_rows"),
          col("exact_distinct"),
          (abs(col("merged_est") - col("exact_distinct"))
            <= col("exact_distinct") * 0.05).as("within_tol"),
          (abs(col("merged_est") - col("direct_est"))
            <= col("direct_est") * 0.05).as("merge_consistent"))
      shardRows.unionByName(totals).orderBy(asc("source"))
    },
    Some("""SELECT source, CAST(COUNT(*) AS BIGINT) AS n_rows,
              CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS exact_distinct,
              TRUE AS within_tol, TRUE AS merge_consistent
            FROM documents GROUP BY source
            UNION ALL
            SELECT '__total__', CAST(COUNT(*) AS BIGINT),
              CAST(COUNT(DISTINCT doc_id) AS BIGINT), TRUE, TRUE
            FROM documents
            ORDER BY source"""))

  // ---- Count-Min heavy hitters over stored shard sketches ------------
  // The frequency dual of q_sketch_distinct: per-shard CMS state once,
  // heavy-hitter queries later against the driver-merged artifact (KBs
  // per shard, shard count operator-bounded). Deterministic: fixed
  // seed + content ⇒ fixed estimates, so the CMS guarantees —
  // estimate ≥ exact always, ≤ exact + ε·N w.h.p. — are stable
  // booleans, pinned against DuckDB's exact top-10 token counts.
  private val cmsHeavyHitters = GraftQuery(
    "q_cms_heavy_hitters",
    (s, d) => {
      import s.implicits._
      val toks = documents(s, d).select(col("source"),
        explode(TextFunctions.tokens(col("text"))).as("tok"))
      val (merged, nTotal) = Lineage.scoped { scope =>
        val sk = scope.persist(
          graft.operators.SketchStats.shardCms(toks, "source", "tok"))
        (graft.operators.SketchStats.mergedCms(sk),
          sk.agg(sum(col("n_items"))).head().getLong(0))
      }
      val slack = math.ceil(0.001 * nTotal).toLong
      val top = toks.groupBy("tok").agg(count(lit(1)).as("exact_cnt"))
        .orderBy(desc("exact_cnt"), asc("tok")).limit(10).collect()
      top.toSeq.map { r =>
        val t = r.getString(0); val c = r.getLong(1)
        val est = merged.estimateCount(
          t.getBytes(java.nio.charset.StandardCharsets.UTF_8))
        (t, c, est >= c, est <= c + slack)
      }.toDF("tok", "exact_cnt", "ge_exact", "within_eps")
        .orderBy(desc("exact_cnt"), asc("tok"))
    },
    Some(s"""WITH w AS (SELECT unnest($toksSql) AS tok FROM documents),
              c AS (SELECT tok, CAST(COUNT(*) AS BIGINT) AS exact_cnt
                    FROM w GROUP BY tok)
            SELECT tok, exact_cnt, TRUE AS ge_exact, TRUE AS within_eps
            FROM c ORDER BY exact_cnt DESC, tok LIMIT 10"""))

  // ---- theta sketch set algebra across stored shard states -----------
  // |A ∩ B| / |A \ B| between two independently-sketched doc sets with
  // NO join between the corpora. The gate's key sets (≤5000 doc_ids)
  // sit below nominalEntries=2^14, so the theta sketches are in EXACT
  // mode — the estimates ARE the counts, and the oracle is full value
  // equality, not a tolerance boolean; the same code degrades to
  // ~1/√k-error estimates beyond 2^14 keys (spec-pinned).
  private val thetaSetOpsQ = GraftQuery(
    "q_theta_setops",
    (s, d) => {
      import s.implicits._
      val docs = documents(s, d).select(col("doc_id"))
      val tagged = docs.filter(col("doc_id") % 2 === 0)
        .select(lit("A").as("tag"), col("doc_id"))
        .unionByName(docs.filter(col("doc_id") % 3 === 0)
          .select(lit("B").as("tag"), col("doc_id")))
      val sk = graft.operators.SketchStats
        .shardThetaSketches(tagged, "tag", "doc_id")
        .collect().map(r => r.getString(0) -> r.getAs[Array[Byte]](1)).toMap
      val ops = graft.operators.SketchStats.thetaSetOps(sk("A"), sk("B"))
      Seq((math.round(ops.estA), math.round(ops.estB),
          math.round(ops.estUnion), math.round(ops.estIntersect),
          math.round(ops.estANotB)))
        .toDF("est_a", "est_b", "est_union", "est_intersect", "est_diff")
    },
    Some("""SELECT
              CAST((SELECT COUNT(*) FROM documents WHERE doc_id % 2 = 0)
                AS BIGINT) AS est_a,
              CAST((SELECT COUNT(*) FROM documents WHERE doc_id % 3 = 0)
                AS BIGINT) AS est_b,
              CAST((SELECT COUNT(*) FROM documents
                    WHERE doc_id % 2 = 0 OR doc_id % 3 = 0)
                AS BIGINT) AS est_union,
              CAST((SELECT COUNT(*) FROM documents WHERE doc_id % 6 = 0)
                AS BIGINT) AS est_intersect,
              CAST((SELECT COUNT(*) FROM documents
                    WHERE doc_id % 2 = 0 AND doc_id % 3 <> 0)
                AS BIGINT) AS est_diff"""))

  // ---- KLL quantile sketches over stored shard states ----------------
  // The rank-statistics member of the mergeable-sketch family: per-shard
  // KLL state of the doc token-count distribution once, percentile
  // questions (per shard AND corpus-wide, by merging states) answered
  // later with no rescan. The gate keeps every sketch below k=2^14
  // retained values, so KLL is in EXACT mode — deterministic, and the
  // INCLUSIVE quantile rule coincides with SQL `percentile_disc`, so
  // the oracle is full value equality (the q_theta_setops pattern);
  // estimation-mode rank error beyond k is spec-pinned (compaction
  // coin-flips make it nondeterministic — unusable for hash gates,
  // exactly what you use at 100 TB).
  private val kllQuantilesQ = GraftQuery(
    "q_kll_quantiles",
    (s, d) => {
      import s.implicits._
      val vals = documents(s, d).select(col("source"),
        size(TextFunctions.tokens(col("text"))).cast("double").as("n_toks"))
      val ranks = Seq(0.25, 0.5, 0.75, 0.9)
      val (perShard, merged) = Lineage.scoped { scope =>
        val sk = scope.persist(graft.operators.SketchStats
          .shardKll(vals, "source", "n_toks", k = 16384))
        (sk.collect().toSeq.map { r =>
          val qs = graft.operators.SketchStats
            .kllQuantiles(r.getAs[Array[Byte]]("kll"), ranks)
          (r.getString(0), r.getLong(1),
           qs(0).toLong, qs(1).toLong, qs(2).toLong, qs(3).toLong)
        }, graft.operators.SketchStats.mergedKll(sk, k = 16384))
      }
      require(!merged.isEstimationMode,
        s"q_kll_quantiles: ${merged.getN} values exceeded k=16384 — the " +
        "sketch compacted into (nondeterministic) estimation mode and can " +
        "no longer value-match percentile_disc; raise k or sample the gate " +
        "input. The estimation-mode CONTRACT is the spec-pinned rank-error " +
        "envelope, not value equality.")
      val mq = ranks.map(merged.getQuantile)
      (perShard :+ (("__total__", merged.getN,
          mq(0).toLong, mq(1).toLong, mq(2).toLong, mq(3).toLong)))
        .toDF("source", "n_values", "p25", "p50", "p75", "p90")
        .orderBy(asc("source"))
    },
    Some(s"""WITH t AS (
               SELECT source, len($toksSql) AS n FROM documents)
             SELECT source, CAST(COUNT(n) AS BIGINT) AS n_values,
               CAST(percentile_disc(0.25) WITHIN GROUP (ORDER BY n)
                 AS BIGINT) AS p25,
               CAST(percentile_disc(0.5) WITHIN GROUP (ORDER BY n)
                 AS BIGINT) AS p50,
               CAST(percentile_disc(0.75) WITHIN GROUP (ORDER BY n)
                 AS BIGINT) AS p75,
               CAST(percentile_disc(0.9) WITHIN GROUP (ORDER BY n)
                 AS BIGINT) AS p90
             FROM t GROUP BY source
             UNION ALL
             SELECT '__total__', CAST(COUNT(n) AS BIGINT),
               CAST(percentile_disc(0.25) WITHIN GROUP (ORDER BY n)
                 AS BIGINT),
               CAST(percentile_disc(0.5) WITHIN GROUP (ORDER BY n)
                 AS BIGINT),
               CAST(percentile_disc(0.75) WITHIN GROUP (ORDER BY n)
                 AS BIGINT),
               CAST(percentile_disc(0.9) WITHIN GROUP (ORDER BY n)
                 AS BIGINT)
             FROM t
             ORDER BY source"""))

  // ---- frequent-items sketch: WHICH tokens are heavy, from state -----
  // Closes the frequency story q_cms_heavy_hitters leaves open: CMS
  // answers point queries but needs a candidate list (that gate gets
  // it from an exact groupBy); the ItemsSketch surfaces the heavy
  // hitters FROM THE MERGED SHARD STATES ALONE — the engine-side top
  // list below comes purely from stored sketch bytes, no corpus
  // rescan, no candidate list. The documents vocabulary (31 tokens)
  // sits far below maxMapSize·0.75, so the sketch never purges: exact
  // mode, insertion-order independent, full value equality vs DuckDB's
  // exact counts (estimating-mode bounds are spec-pinned — purge
  // timing is order-dependent, the theta/KLL contract split).
  private val freqItemsQ = GraftQuery(
    "q_freq_items",
    (s, d) => {
      import s.implicits._
      val toks = documents(s, d).select(col("source"),
        explode(TextFunctions.tokens(col("text"))).as("tok"))
      val sk = graft.operators.SketchStats
        .shardFreqItems(toks, "source", "tok", maxMapSize = 128)
      val merged = graft.operators.SketchStats
        .mergedFreqItems(sk, maxMapSize = 128)
      require(merged.getMaximumError == 0,
        "q_freq_items: sketch purged into (order-dependent) estimating " +
        "mode and can no longer value-match exact counts; raise " +
        "maxMapSize. The estimating-mode CONTRACT is the spec-pinned " +
        "[lb, ub] bracket, not value equality.")
      graft.operators.SketchStats.frequentItems(merged).take(12)
        .zipWithIndex.map { case ((t, est, lb, ub), i) =>
          (i + 1L, t, est, lb == est && ub == est)
        }.toDF("rank", "tok", "est_cnt", "exact_mode")
        .orderBy(asc("rank"))
    },
    Some(s"""WITH w AS (SELECT unnest($toksSql) AS tok FROM documents),
              c AS (SELECT tok, CAST(COUNT(*) AS BIGINT) AS est_cnt
                    FROM w GROUP BY tok),
              r AS (SELECT ROW_NUMBER() OVER (ORDER BY est_cnt DESC, tok)
                      AS rank, tok, est_cnt
                    FROM c)
            SELECT rank, tok, est_cnt, TRUE AS exact_mode
            FROM r WHERE rank <= 12 ORDER BY rank"""))

  // ---- bottom-k (KMV) sketches: deterministic mergeable sampling -----
  // The fifth mergeable-sketch member: a content-hash bottom-k per
  // shard is simultaneously a retry/repartition-stable uniform sample
  // of the shard's distinct keys AND a KMV distinct estimator
  // ((k-1)/h_k, Bar-Yossef et al. 2002). Because the "randomness" is
  // md5 arithmetic, this is the one sketch whose ESTIMATION MODE the
  // oracle replays to full value equality — no envelope booleans: the
  // estimate, the sample membership, AND its rank order (digest) are
  // all pinned per shard and for the merged state. exact_distinct
  // rides along so the artifact shows estimate-vs-truth directly.
  private val bottomKSketchQ = GraftQuery(
    "q_bottomk_sketch",
    (s, d) => {
      val k = 64
      val docs = documents(s, d)
      val states = graft.operators.SketchStats
        .shardBottomK(docs, "source", "doc_id", k)
      val stateAggs = Seq(
        count(lit(1)).as("n_state"), max(col("hk")).as("hk_max"),
        md5(array_join(transform(
          array_sort(collect_list(struct(col("rk"), col("key")))),
          e => e.getField("key")), ",")).as("sample_digest"))
      def estCols(prefix: org.apache.spark.sql.DataFrame) = prefix
        .select(col("*"),
          round(when(col("n_state") < k, col("n_state").cast("double"))
            .otherwise(lit((k - 1).toDouble) / col("hk_max")), 4)
            .as("kmv_est"))
        .drop("hk_max")
      val exact = docs.groupBy("source")
        .agg(countDistinct(col("doc_id")).as("exact_distinct"))
      val perShard = estCols(states.groupBy("source")
          .agg(stateAggs.head, stateAggs.tail: _*))
        .join(exact, Seq("source"))
      val total = estCols(graft.operators.SketchStats
          .mergedBottomK(states, k).agg(stateAggs.head, stateAggs.tail: _*))
        .crossJoin(docs.agg(
          countDistinct(col("doc_id")).as("exact_distinct")))
        .select(lit("__total__").as("source"), col("n_state"),
          col("sample_digest"), col("kmv_est"), col("exact_distinct"))
      perShard.select(col("source"), col("n_state"), col("sample_digest"),
          col("kmv_est"), col("exact_distinct"))
        .unionByName(total).orderBy(asc("source"))
    },
    Some(s"""WITH dk AS (
               SELECT DISTINCT source, CAST(doc_id AS VARCHAR) AS key
               FROM documents),
             h AS (
               SELECT source, key,
                 (('0x' || substr(md5(key || ':kmv'), 1, 8))::BIGINT + 0.5)
                   / 4294967296.0 AS hk
               FROM dk),
             r AS (
               SELECT source, key, hk,
                 ROW_NUMBER() OVER (PARTITION BY source
                   ORDER BY hk, key) AS rk
               FROM h),
             st AS (SELECT * FROM r WHERE rk <= 64),
             ex AS (
               SELECT source,
                 CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS exact_distinct
               FROM documents GROUP BY source),
             per AS (
               SELECT s.source, CAST(COUNT(*) AS BIGINT) AS n_state,
                 ROUND(CASE WHEN COUNT(*) < 64 THEN COUNT(*)::DOUBLE
                   ELSE 63.0 / MAX(hk) END, 4) AS kmv_est,
                 md5(string_agg(key, ',' ORDER BY rk)) AS sample_digest,
                 MIN(ex.exact_distinct) AS exact_distinct
               FROM st s JOIN ex ON s.source = ex.source
               GROUP BY s.source),
             mk AS (SELECT DISTINCT hk, key FROM st),
             mr AS (
               SELECT hk, key,
                 ROW_NUMBER() OVER (ORDER BY hk, key) AS rk
               FROM mk),
             mst AS (SELECT * FROM mr WHERE rk <= 64),
             tot AS (
               SELECT '__total__' AS source,
                 CAST(COUNT(*) AS BIGINT) AS n_state,
                 ROUND(CASE WHEN COUNT(*) < 64 THEN COUNT(*)::DOUBLE
                   ELSE 63.0 / MAX(hk) END, 4) AS kmv_est,
                 md5(string_agg(key, ',' ORDER BY rk)) AS sample_digest,
                 (SELECT CAST(COUNT(DISTINCT doc_id) AS BIGINT)
                  FROM documents) AS exact_distinct
               FROM mst)
             SELECT * FROM per UNION ALL SELECT * FROM tot
             ORDER BY source"""))

  // ---- stored-state lifecycle gates (round 11) -----------------------
  // The gates above PROVE each sketch's math; these prove the LIFECYCLE
  // that is the whole point of mergeable sketches: shard states are
  // written to a parquet table once (the one corpus-sized pass, eager),
  // and every answer below is derived from the STORED table — the
  // returned plan never touches the corpus again (in the physical plan
  // the only scan subtree is the KB-sized states parquet, or a
  // LocalRelation where the merge is driver-side; BASELINE.md
  // *Third-session TimeQ floors and new headline bands* records the
  // double corpus scan the lifecycle replaces). Paths are per-gate/per-SF so the
  // driver's triple-SF sweep can't cross-contaminate.

  private def statesPath(gate: String, d: String): String =
    s"${GateStates.dir}/${gate}_" +
      d.replaceAll("[^A-Za-z0-9]", "_")

  // The INCREMENTAL half of the stored-state lifecycle: yesterday's
  // shard states sit in parquet untouched; today's new shard is
  // sketched alone and APPENDED to the stored table; corpus-wide
  // answers merge the stored states — the old shards are never
  // rescanned (the incremental-dedup convention applied to
  // statistics). The gate builds the "old" table from sources ≠ src0,
  // appends src0's state, and checks the merged estimate against the
  // whole-corpus exact count — plus that the stored table really holds
  // old+new shard rows.
  private val sketchIncrementalQ = GraftQuery(
    "q_sketch_incremental",
    (s, d) => {
      val docs = documents(s, d)
      val path = statesPath("hll_incr", d)
      graft.operators.SketchStats.saveStates(
        graft.operators.SketchStats.shardSketches(
          docs.filter(col("source") =!= "src0"), "source", "doc_id"), path)
      // append-only state update: ONE new shard sketched, old untouched
      // (appendStates, not a raw write — it commits the shard to the
      // store's manifest and refuses a shard that is already stored)
      graft.operators.SketchStats.appendStates(
        graft.operators.SketchStats.shardSketches(
          docs.filter(col("source") === "src0"), "source", "doc_id"), path)
      val loaded = graft.plans.Lineage.cut(
        graft.operators.SketchStats.loadStates(s, path))
      val merged = graft.operators.SketchStats.mergedEstimate(loaded)
      loaded.agg(count(lit(1)).as("n_shards"),
          sum(col("n_rows")).as("n_rows"))
        .crossJoin(merged)
        .crossJoin(docs.agg(
          countDistinct(col("doc_id")).as("exact_distinct")))
        .select(col("n_shards"), col("n_rows"), col("exact_distinct"),
          (abs(col("est_distinct") - col("exact_distinct"))
            <= col("exact_distinct") * 0.05).as("within_tol"))
    },
    Some("""SELECT CAST(COUNT(DISTINCT source) AS BIGINT) AS n_shards,
              CAST(COUNT(*) AS BIGINT) AS n_rows,
              CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS exact_distinct,
              TRUE AS within_tol
            FROM documents"""))

  // Vocabulary overlap between two shards from stored theta states —
  // "how much does src0's token set overlap src1's" with NO join
  // between the corpora and no rescan: the set algebra runs on two
  // KB byte arrays read back from parquet. Exact mode (vocab ≪ 2^14)
  // ⇒ full value equality vs DuckDB's exact set ops.
  private val thetaStoredQ = GraftQuery(
    "q_theta_stored",
    (s, d) => {
      import s.implicits._
      val toks = documents(s, d)
        .filter(col("source").isin("src0", "src1"))
        .select(col("source"), explode(TextFunctions.tokens(col("text"))).as("tok"))
      val path = statesPath("theta", d)
      graft.operators.SketchStats.saveStates(
        graft.operators.SketchStats.shardThetaSketches(toks, "source", "tok"),
        path)
      val stored = graft.operators.SketchStats.loadStates(s, path)
        .collect().map(r => r.getString(0) -> r.getAs[Array[Byte]](1)).toMap
      val ops = graft.operators.SketchStats
        .thetaSetOps(stored("src0"), stored("src1"))
      Seq((math.round(ops.estA), math.round(ops.estB),
          math.round(ops.estUnion), math.round(ops.estIntersect),
          math.round(ops.estANotB)))
        .toDF("est_a", "est_b", "est_union", "est_intersect", "est_diff")
    },
    Some(s"""WITH ta AS (SELECT DISTINCT tok FROM (
                SELECT unnest($toksSql) AS tok FROM documents
                WHERE source = 'src0')),
              tb AS (SELECT DISTINCT tok FROM (
                SELECT unnest($toksSql) AS tok FROM documents
                WHERE source = 'src1'))
            SELECT
              CAST((SELECT COUNT(*) FROM ta) AS BIGINT) AS est_a,
              CAST((SELECT COUNT(*) FROM tb) AS BIGINT) AS est_b,
              CAST((SELECT COUNT(*) FROM
                (SELECT tok FROM ta UNION SELECT tok FROM tb)) AS BIGINT)
                AS est_union,
              CAST((SELECT COUNT(*) FROM
                (SELECT tok FROM ta INTERSECT SELECT tok FROM tb)) AS BIGINT)
                AS est_intersect,
              CAST((SELECT COUNT(*) FROM
                (SELECT tok FROM ta EXCEPT SELECT tok FROM tb)) AS BIGINT)
                AS est_diff"""))

  // Shard-SUBSET distribution from stored KLL states: merge only the
  // src0+src1 states read back from parquet — the "what does this
  // slice look like" question a stored-state table exists to answer
  // (the original gate always merges everything). Exact mode ⇒
  // percentile_disc value equality.
  private val kllStoredQ = GraftQuery(
    "q_kll_stored",
    (s, d) => {
      import s.implicits._
      val vals = documents(s, d).select(col("source"),
        size(TextFunctions.tokens(col("text"))).cast("double").as("n_toks"))
      val path = statesPath("kll", d)
      graft.operators.SketchStats.saveStates(
        graft.operators.SketchStats.shardKll(vals, "source", "n_toks",
          k = 16384), path)
      val ranks = Seq(0.25, 0.5, 0.75, 0.9)
      val (perShard, merged) = Lineage.scoped { scope =>
        val loaded = scope.persist(graft.operators.SketchStats
          .loadStates(s, path).filter(col("source").isin("src0", "src1")))
        (loaded.collect().toSeq.map { r =>
          val qs = graft.operators.SketchStats
            .kllQuantiles(r.getAs[Array[Byte]]("kll"), ranks)
          (r.getString(0), r.getLong(1),
           qs(0).toLong, qs(1).toLong, qs(2).toLong, qs(3).toLong)
        }, graft.operators.SketchStats.mergedKll(loaded, k = 16384))
      }
      require(!merged.isEstimationMode,
        s"q_kll_stored: ${merged.getN} values exceeded k=16384 — " +
        "estimation mode is nondeterministic and cannot value-match " +
        "percentile_disc (envelope spec-pinned); raise k")
      val mq = ranks.map(merged.getQuantile)
      (perShard :+ (("__subset__", merged.getN,
          mq(0).toLong, mq(1).toLong, mq(2).toLong, mq(3).toLong)))
        .toDF("source", "n_values", "p25", "p50", "p75", "p90")
        .orderBy(asc("source"))
    },
    Some(s"""WITH t AS (
               SELECT source, len($toksSql) AS n FROM documents
               WHERE source IN ('src0', 'src1'))
             SELECT source, CAST(COUNT(n) AS BIGINT) AS n_values,
               CAST(percentile_disc(0.25) WITHIN GROUP (ORDER BY n)
                 AS BIGINT) AS p25,
               CAST(percentile_disc(0.5) WITHIN GROUP (ORDER BY n)
                 AS BIGINT) AS p50,
               CAST(percentile_disc(0.75) WITHIN GROUP (ORDER BY n)
                 AS BIGINT) AS p75,
               CAST(percentile_disc(0.9) WITHIN GROUP (ORDER BY n)
                 AS BIGINT) AS p90
             FROM t GROUP BY source
             UNION ALL
             SELECT '__subset__', CAST(COUNT(n) AS BIGINT),
               CAST(percentile_disc(0.25) WITHIN GROUP (ORDER BY n)
                 AS BIGINT),
               CAST(percentile_disc(0.5) WITHIN GROUP (ORDER BY n)
                 AS BIGINT),
               CAST(percentile_disc(0.75) WITHIN GROUP (ORDER BY n)
                 AS BIGINT),
               CAST(percentile_disc(0.9) WITHIN GROUP (ORDER BY n)
                 AS BIGINT)
             FROM t
             ORDER BY source"""))

  // Bottom-k answers as a DISTRIBUTED plan over the stored states —
  // the one sketch whose merge is itself a DataFrame program. The
  // loaded table is lineage-cut so per-shard AND merged answers share
  // ONE parquet scan (the r10 plan audit of q_bottomk_sketch, BASELINE.md
  // *Third-session TimeQ floors and new headline bands*, found exactly
  // the double scan subtree); no exact_distinct companion —
  // that column is what forced the original gate back to the corpus.
  private val kmvStoredQ = GraftQuery(
    "q_kmv_stored",
    (s, d) => {
      val k = 64
      val path = statesPath("kmv", d)
      graft.operators.SketchStats.saveStates(
        graft.operators.SketchStats.shardBottomK(
          documents(s, d), "source", "doc_id", k), path)
      val loaded = graft.plans.Lineage.cut(
        graft.operators.SketchStats.loadStates(s, path))
      val stateAggs = Seq(
        count(lit(1)).as("n_state"), max(col("hk")).as("hk_max"),
        md5(array_join(transform(
          array_sort(collect_list(struct(col("rk"), col("key")))),
          e => e.getField("key")), ",")).as("sample_digest"))
      def estCols(df: org.apache.spark.sql.DataFrame) = df
        .select(col("*"),
          round(when(col("n_state") < k, col("n_state").cast("double"))
            .otherwise(lit((k - 1).toDouble) / col("hk_max")), 4)
            .as("kmv_est"))
        .drop("hk_max")
      val perShard = estCols(loaded.groupBy("source")
        .agg(stateAggs.head, stateAggs.tail: _*))
      val total = estCols(graft.operators.SketchStats
          .mergedBottomK(loaded, k).agg(stateAggs.head, stateAggs.tail: _*))
        .select(lit("__total__").as("source"), col("n_state"),
          col("sample_digest"), col("kmv_est"))
      perShard.select(col("source"), col("n_state"), col("sample_digest"),
          col("kmv_est"))
        .unionByName(total).orderBy(asc("source"))
    },
    Some("""WITH dk AS (
               SELECT DISTINCT source, CAST(doc_id AS VARCHAR) AS key
               FROM documents),
             h AS (
               SELECT source, key,
                 (('0x' || substr(md5(key || ':kmv'), 1, 8))::BIGINT + 0.5)
                   / 4294967296.0 AS hk
               FROM dk),
             r AS (
               SELECT source, key, hk,
                 ROW_NUMBER() OVER (PARTITION BY source
                   ORDER BY hk, key) AS rk
               FROM h),
             st AS (SELECT * FROM r WHERE rk <= 64),
             per AS (
               SELECT source, CAST(COUNT(*) AS BIGINT) AS n_state,
                 md5(string_agg(key, ',' ORDER BY rk)) AS sample_digest,
                 ROUND(CASE WHEN COUNT(*) < 64 THEN COUNT(*)::DOUBLE
                   ELSE 63.0 / MAX(hk) END, 4) AS kmv_est
               FROM st GROUP BY source),
             mk AS (SELECT DISTINCT hk, key FROM st),
             mr AS (
               SELECT hk, key,
                 ROW_NUMBER() OVER (ORDER BY hk, key) AS rk
               FROM mk),
             mst AS (SELECT * FROM mr WHERE rk <= 64),
             tot AS (
               SELECT '__total__' AS source,
                 CAST(COUNT(*) AS BIGINT) AS n_state,
                 md5(string_agg(key, ',' ORDER BY rk)) AS sample_digest,
                 ROUND(CASE WHEN COUNT(*) < 64 THEN COUNT(*)::DOUBLE
                   ELSE 63.0 / MAX(hk) END, 4) AS kmv_est
               FROM mst)
             SELECT source, n_state, sample_digest, kmv_est FROM per
             UNION ALL
             SELECT source, n_state, sample_digest, kmv_est FROM tot
             ORDER BY source"""))

  // Per-shard top-3 AND global top-12 heavy hitters from stored
  // ItemsSketch states alone — per-state point answers plus the
  // merged-state answer, no corpus rescan, no candidate list. Exact
  // mode (vocab ≪ 0.75·maxMapSize) ⇒ value equality.
  private val fiStoredQ = GraftQuery(
    "q_fi_stored",
    (s, d) => {
      import s.implicits._
      val toks = documents(s, d).select(col("source"),
        explode(TextFunctions.tokens(col("text"))).as("tok"))
      val path = statesPath("fi", d)
      graft.operators.SketchStats.saveStates(
        graft.operators.SketchStats.shardFreqItems(toks, "source", "tok",
          maxMapSize = 128), path)
      val (perShard, merged) = Lineage.scoped { scope =>
        val loaded = scope.persist(
          graft.operators.SketchStats.loadStates(s, path))
        (loaded.select(col("source"), col("fi")).collect().toSeq
          .flatMap { r =>
            val sk = org.apache.datasketches.frequencies.ItemsSketch.getInstance(
              org.apache.datasketches.memory.Memory.wrap(
                r.getAs[Array[Byte]]("fi")),
              new org.apache.datasketches.common.ArrayOfStringsSerDe)
            require(sk.getMaximumError == 0,
              "q_fi_stored: shard state purged into estimating mode; raise " +
              "maxMapSize (estimating-mode [lb,ub] contract is spec-pinned)")
            graft.operators.SketchStats.frequentItems(sk).take(3).zipWithIndex
              .map { case ((t, est, _, _), i) =>
                (r.getString(0), i + 1L, t, est) }
          },
          graft.operators.SketchStats.mergedFreqItems(loaded, maxMapSize = 128))
      }
      require(merged.getMaximumError == 0,
        "q_fi_stored: merged state purged into estimating mode; raise " +
        "maxMapSize (estimating-mode [lb,ub] contract is spec-pinned)")
      val global = graft.operators.SketchStats.frequentItems(merged)
        .take(12).zipWithIndex
        .map { case ((t, est, _, _), i) => ("__total__", i + 1L, t, est) }
      (perShard ++ global).toDF("source", "rank", "tok", "est_cnt")
        .orderBy(asc("source"), asc("rank"))
    },
    Some(s"""WITH w AS (SELECT source, unnest($toksSql) AS tok
                        FROM documents),
              c AS (SELECT source, tok, CAST(COUNT(*) AS BIGINT) AS est_cnt
                    FROM w GROUP BY source, tok),
              pr AS (SELECT source,
                       ROW_NUMBER() OVER (PARTITION BY source
                         ORDER BY est_cnt DESC, tok) AS rank,
                       tok, est_cnt
                     FROM c),
              g AS (SELECT tok, CAST(SUM(est_cnt) AS BIGINT) AS est_cnt
                    FROM c GROUP BY tok),
              gr AS (SELECT '__total__' AS source,
                       ROW_NUMBER() OVER (ORDER BY est_cnt DESC, tok)
                         AS rank, tok, est_cnt
                     FROM g)
            SELECT source, rank, tok, est_cnt FROM pr WHERE rank <= 3
            UNION ALL
            SELECT source, rank, tok, est_cnt FROM gr WHERE rank <= 12
            ORDER BY source, rank"""))

  override val queries: Seq[GraftQuery] =
    Seq(statsCorr, minmaxBy, firstLast, arrayFuncs, extractNumbers, dateFuncs,
        mathFuncs, nullFuncs, zorderKey, sketchDistinct, cmsHeavyHitters,
        thetaSetOpsQ, kllQuantilesQ, freqItemsQ, bottomKSketchQ,
        thetaStoredQ, kllStoredQ, kmvStoredQ, fiStoredQ,
        sketchIncrementalQ)
}
