package graft.operators

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.store.{Manifest, Store}

/** Exact all-pairs set-similarity join via PREFIX FILTERING (the
  * PPJoin/AllPairs family — Bayardo et al. 2007, Xiao et al. 2008;
  * this is the length + prefix filter, without the positional
  * refinement): every pair of documents whose token-set Jaccard
  * reaches the threshold, EXACTLY — no banding probability, no missed
  * pairs. The deterministic complement to [[Dedup]]'s MinHash-LSH:
  * LSH trades recall for corpus-shape independence; prefix filtering
  * guarantees recall 1.0 and wins whenever near-dup decisions must be
  * auditable (legal takedown sweeps, eval-set certification).
  *
  * Why it scales: sort each doc's distinct tokens by GLOBAL RARITY
  * (df asc, tok asc — a total order both engines can state). Two sets
  * with Jaccard ≥ t must overlap in ≥ ⌈t/(1+t)·(nₐ+n_b)⌉ tokens, so
  * each doc only needs to expose its first n − ⌈t·n⌉ + 1 rarest tokens
  * (the PREFIX) as candidate keys — a pair sharing NO prefix token
  * cannot qualify. Candidate buckets are keyed by the RAREST tokens in
  * the corpus, so bucket sizes track the df of rare tokens (small by
  * construction); the skew guard still caps them loudly because "rare
  * globally" is a distribution fact, not a guarantee.
  *
  *  - one corpus pass for df (vocab-sized table);
  *  - rank join + per-doc sort: the one corpus-sized shuffle;
  *  - prefix explode ≤ (1−t)·|doc| + 1 rows per doc, carrying ONLY
  *    (tok, sid, n, pos) — never the token array. The first cut of this
  *    operator shipped each doc's FULL sorted array on every prefix row,
  *    making the candidate exchange O(n²/5) bytes per n-token doc
  *    (~200× amplification on 1k-token web docs — the r12 verdict's one
  *    plan finding). Id-only rows restore corpus-linear shuffle volume:
  *    measured 87.4 MB → 29.4 MB total shuffle write on the sf0.1 gate
  *    corpus (the residual is the rank join and verify fetches);
  *  - the candidate self-join is equi on the prefix token, then the
  *    POSITIONAL filter (Xiao et al. §4): with both docs sorted in the
  *    same global order, every shared token sits at-or-after the
  *    minimal shared prefix token, so overlap ≤ min(nₐ−pₐ, n_b−p_b)
  *    (0-based positions) — pairs that cannot reach the equivalent
  *    overlap ⌈t/(1+t)·(nₐ+n_b)⌉ are pruned before any array is fetched;
  *  - survivors (the ~0.005%-selective candidate ids) join BACK to the
  *    materialized ranked frame — each side's array shuffles exactly
  *    once — for the exact sorted-array-intersection verify, pairs
  *    emitted once (a < b).
  *
  * Determinism: df, ranks, prefixes, positions, and the intersection
  * count are all integer; jaccard = inter/(nₐ+n_b−inter) rounds to 6 dp
  * for the cross-engine compare.
  */
object SetSimJoin {

  /** Expected distinct tokens the prefix-token Bloom filters are sized
    * for — the filters that prune the container-side and archive-side
    * exchanges. */
  private val BloomItems = 1000000L

  /** Hot-bucket salting arithmetic, shared by every member. A
    * one-sided salted split of a bucket of c rows into s sub-buckets
    * leaves per-task candidate volume at (c/s)·c = c²/s — the salted
    * a-side thins by s but the replicated b-side still holds the whole
    * bucket — so keeping the UNSALTED per-task contract (≤ maxBucket²
    * candidates per task) needs s ≥ (c/maxBucket)², not c/maxBucket
    * (ADVICE r15: the old maxBucket×salt cap let one task generate
    * maxBucket²×salt candidates). Hence:
    *
    *  - ADAPTIVE (hotBucketSalt < 0, the default): each hot token gets
    *    its own s = ⌈(c/maxBucket)²⌉ from the engine's own bucket
    *    counts — exactly enough replication, chosen in-plan (no job at
    *    call time). The loud backstop survives at c ≤ maxBucket ×
    *    [[AdaptiveMaxSaltRoot]] (s ≤ AdaptiveMaxSaltRoot²).
    *  - FIXED (hotBucketSalt > 0): every hot token splits into exactly
    *    hotBucketSalt sub-buckets; the cap is maxBucket ×
    *    ⌊√hotBucketSalt⌋ so the per-task bound still holds.
    *  - OFF (hotBucketSalt == 0): the legacy loud-raise contract — a
    *    bucket over maxBucket aborts with remediation advice.
    *
    * '''BEHAVIOR CHANGE (round 16)''': the default on all four public
    * entry points ([[jaccardPairs]], [[containmentPairs]],
    * [[incrementalJaccard]], [[incrementalContainment]]) flipped from
    * 0 (loud abort at maxBucket) to -1 (adaptive salting). Callers who
    * relied on the abort as a DATA-QUALITY TRIPWIRE — e.g. detecting a
    * boilerplate/template token flooding a bucket — now silently admit
    * buckets up to 32× maxBucket (per-task candidate volume stays
    * bounded at maxBucket², but TOTAL candidate work can grow up to
    * ~1024× before any error). Detection-oriented callers must pass
    * `hotBucketSalt = 0` explicitly to restore the old contract —
    * AND (round 17, ADVICE r17) note the tripwire's SCOPE in the
    * incremental audits: their guard counts are restricted to
    * batch-relevant buckets, so even with `hotBucketSalt = 0` an
    * archive-side hot token the batch never touches does not abort
    * (it cannot create audit work); full-corpus detection requires
    * [[jaccardPairs]]/[[containmentPairs]] over the whole corpus.
    * Round 18 adds abort-free detection for BOTH modes: pass
    * `observeSalt = Some(name)` and read the salted-bucket count and
    * max bucket population from the query's observed metrics (see
    * [[observeSaltEvents]]) — same batch-relevant scope caveat in the
    * audits.
    */
  private[graft] val AdaptiveMaxSaltRoot = 32

  /** Loud-guard cap on a bucket count under the chosen salt mode —
    * the largest c whose salted split still meets the maxBucket²
    * per-task contract (see above).
    */
  private[graft] def saltedGuardCap(maxBucket: Int, hotBucketSalt: Int): Long =
    if (hotBucketSalt > 0)
      maxBucket.toLong *
        math.max(1L, math.floor(math.sqrt(hotBucketSalt.toDouble)).toLong)
    else if (hotBucketSalt < 0) maxBucket.toLong * AdaptiveMaxSaltRoot
    else maxBucket.toLong

  /** Per-token salt factor for a hot bucket of `c` rows: the smallest
    * s with c²/s ≤ maxBucket², i.e. ⌈(c/maxBucket)²⌉ (always ≥ 2 for a
    * hot token), bounded by AdaptiveMaxSaltRoot² so a count beyond the
    * loud cap cannot explode unboundedly before the guard evaluates.
    * Fixed mode states the caller's literal.
    */
  private def saltFor(c: Column, maxBucket: Int, hotBucketSalt: Int): Column =
    if (hotBucketSalt > 0) lit(hotBucketSalt)
    else least(
      ceil(pow(c.cast("double") / maxBucket, 2.0)),
      lit(AdaptiveMaxSaltRoot.toLong * AdaptiveMaxSaltRoot)).cast("int")

  private def guardHint(hotBucketSalt: Int): String =
    if (hotBucketSalt != 0) "salted cap " else ""

  /** Prefix length n − ⌈t·n⌉ + 1, the ⌈⌉ taken over t·n − 1e-9 (the
    * [[jaccardPairs]] epsilon). */
  private def prefixLen(n: Column, threshold: Double): Column =
    (n - ceil(lit(threshold) * n - lit(1e-9)) + 1).cast("int")

  /** The skew guard's refusal after "… collects c docs ". */
  private def guardAdvice(hotBucketSalt: Int, guardCap: Long): String =
    s"(> ${guardHint(hotBucketSalt)}$guardCap); raise the threshold, " +
      "pre-dedup, or raise maxBucket/hotBucketSalt knowingly"

  /** Salt-event visibility (VERDICT r17 #4): when `observeAs` is set,
    * a CollectMetrics node (`Dataset.observe`) over the guard's own
    * bucket counts publishes `salted_buckets` — the number of buckets
    * over maxBucket, exactly the ones adaptive mode splits and
    * `hotBucketSalt = 0` would abort on — and `max_bucket`, the
    * largest population seen. Read post-action via
    * `df.queryExecution.observedMetrics(name)` or any
    * QueryExecutionListener; streaming runs surface them in progress
    * events. The metrics ride counts the guard already aggregates
    * (zero extra exchange) and restore template-flood DETECTION for
    * adaptive-mode callers without the abort. In the incremental
    * audits the counts are batch-relevant-restricted, so coverage
    * matches what the audit can actually salt — full-corpus detection
    * remains [[jaccardPairs]]/[[containmentPairs]]. A plan whose guard
    * subtree never executes (e.g. AQE empty-relation propagation on an
    * empty candidate set) observes nothing, matching the guard's own
    * semantics.
    */
  private def observeSaltEvents(cnt: DataFrame, cCol: String,
                                maxBucket: Int,
                                observeAs: Option[String]): DataFrame =
    observeAs.fold(cnt)(nm => cnt.observe(nm,
      count(when(col(cCol) > maxBucket, 1)).as("salted_buckets"),
      coalesce(max(col(cCol)), lit(0L)).as("max_bucket")))

  /** All pairs (a, b, inter, jaccard) with a < b and jaccard ≥
    * `threshold` over DISTINCT token sets.
    *
    * @param maxBucket loud cap on one prefix token's bucket (candidate
    *                  generation is quadratic per bucket; a corpus
    *                  where a prefix token collects more docs than
    *                  this needs a higher threshold or pre-dedup)
    * @param hotBucketSalt < 0 (default) ADAPTS: buckets over
    *                  `maxBucket` split into per-token salt sub-buckets
    *                  sized from the engine's own bucket counts (one
    *                  side salted by doc id, the other replicated
    *                  across every salt — each pair still meets exactly
    *                  once, so the output is EXACT), spreading a hot
    *                  template token's quadratic candidate work across
    *                  the cluster while keeping every task at the
    *                  unsalted maxBucket² candidate bound. 0 keeps the
    *                  loud-raise contract: a bucket over `maxBucket`
    *                  aborts. > 0 fixes the split at that many
    *                  sub-buckets. The candidate COUNT is still
    *                  quadratic in the bucket — salting bounds per-task
    *                  latency/memory, not total work — so the loud
    *                  backstop survives at [[saltedGuardCap]].
    */
  def jaccardPairs(docs: DataFrame, idCol: String, toksCol: String,
                   threshold: Double,
                   maxBucket: Int = 10000,
                   hotBucketSalt: Int = -1,
                   observeSalt: Option[String] = None): DataFrame = {
    require(threshold > 0.0 && threshold <= 1.0,
      s"setSimJoin: threshold must be in (0,1], got $threshold")
    // Cut here too: `sets` feeds BOTH the df aggregation and the rank
    // join — without the boundary the caller's whole set-construction
    // lineage (tokenize/shingle/explode, often the most expensive part
    // of the query) runs twice (TimeQ-measured: the q_setsim_join gate
    // reads ~11.7 s warm without this cut, ~6 s with it).
    // Filter AFTER the cut, never below it: `set` is a derived column,
    // and a pre-cut filter gets predicate-pushed through the caller's
    // repartition to the scan with the WHOLE derivation (tokenize +
    // md5 shingle tower on the gate corpus) substituted into the
    // predicate — stage-profiled at ~4-5 s of single-task interpreted
    // HOF evaluation per run, re-deriving below the exchange what the
    // post-exchange projection derives again 64-wide. Post-checkpoint
    // the filter reads a materialized array's size: free.
    val sets = graft.plans.Lineage.cut(
      docs.select(col(idCol).as("sid"),
        array_distinct(col(toksCol)).as("set")))
      .filter(size(col("set")) >= 1)
    val inst = sets.select(col("sid"), explode(col("set")).as("tok"))
    val dfreq = inst.groupBy("tok").agg(count(lit(1)).as("df"))
    // per-doc tokens sorted by (df asc, tok asc): rarest first — the
    // global order both the candidate prefix and the oracle state.
    // Lineage-cut: three consumers (a-side, b-side, the skew guard)
    // would otherwise each re-derive this aggregation — three corpus
    // shuffles for one frame (plan-audited; the q_llm_data_pipeline
    // boundary lesson).
    val ranked = graft.plans.Lineage.cut(
      inst.join(dfreq, Seq("tok"))
        .groupBy("sid")
        .agg(transform(array_sort(collect_list(struct(col("df"), col("tok")))),
          x => x.getField("tok")).as("stoks"))
        .select(col("sid"), col("stoks"), size(col("stoks")).as("n")))
    // prefix length n − ⌈t·n⌉ + 1. The ⌈⌉ is computed over t·n − 1e-9:
    // binary doubles overshoot exact products (0.6·5 =
    // 3.0000000000000004, whose plain ceil is 4 — a SHORTER prefix,
    // i.e. missed pairs and a broken recall-1.0 contract). The epsilon
    // restores the mathematical ceiling at every representable t·n
    // while leaving true integer boundaries (0.5·4 = 2.0) intact.
    // prefix rows are (pos, tok, sid, n) ONLY — the array stays behind
    // in `ranked` and is fetched per-side AFTER candidate pruning
    val pref = ranked.select(col("sid"), col("n"),
      posexplode(slice(col("stoks"), lit(1), prefixLen(col("n"), threshold)))
        .as(Seq("pos", "tok")))
    // Skew guard: a prefix bucket larger than maxBucket is a loud
    // EXECUTION-TIME error, never a silent quadratic blowup — and never
    // a silent drop either ([[Dedup]]'s anti-join cap is correct for
    // probabilistic LSH; here dropping a bucket would break the
    // recall-1.0 contract). The guard rides the plan as a one-row cross
    // join whose projection raises when the worst bucket exceeds the
    // cap: LAZY (an operator API must not run jobs at call time — the
    // first cut of this check collect()ed at plan-construction, paying
    // a full extra corpus pass per call even if the result was never
    // used) and unprunable BECAUSE ITS VALUE FLOWS INTO THE OUTPUT:
    // guard_ok (1 when within cap) multiplies the intersection count.
    // A dangling unused guard column is NOT enough — column pruning
    // deletes the projection and raise_error never evaluates (the
    // BenchAction.consumeAll lesson, re-learned here in a failing spec).
    val cnt = pref.groupBy("tok").agg(count(lit(1)).as("c"))
    // with salting on, the loud cap survives at the largest bucket the
    // split can spread while keeping per-task candidate volume at the
    // unsalted maxBucket² contract (see saltedGuardCap)
    val guardCap = saltedGuardCap(maxBucket, hotBucketSalt)
    val chk = observeSaltEvents(cnt, "c", maxBucket, observeSalt)
      .agg(max_by(struct(col("tok"), col("c")), col("c")).as("w"))
      .select(
        when(coalesce(col("w.c"), lit(0L)) > guardCap,
          raise_error(concat(lit("setSimJoin: prefix token '"),
            col("w.tok"), lit("' collects "), col("w.c"),
            lit(" docs " + guardAdvice(hotBucketSalt, guardCap)))))
          .otherwise(lit(1)).as("guard_ok"))
    val a = pref.select(col("tok"), col("sid").as("a"),
      col("n").as("na"), col("pos").as("pa"))
    val b = pref.select(col("tok"), col("sid").as("b"),
      col("n").as("nb"), col("pos").as("pb"))
    // Token-level matches via [[saltedTokenJoin]]: cold tokens keep the
    // plain equi self-join (one bucket = one task's hash cell); buckets
    // beyond maxBucket split EXACTLY — the a-side of a hot token salts
    // by hash(doc id) into per-token sub-buckets, the b-side replicates
    // across all of them, and the join key becomes (tok, salt): every
    // (a, b) match meets exactly once (at a's salt), so downstream
    // candidate aggregation sees the identical multiset of rows while
    // no single task holds the whole bucket. The hot set is
    // vocab-derived and tiny by construction (each hot token costs >
    // maxBucket prefix rows, so there are at most |pref| / maxBucket of
    // them) — broadcastable at any corpus size.
    val hot =
      if (hotBucketSalt == 0) None
      else Some(cnt.filter(col("c") > maxBucket).select(col("tok"),
        saltFor(col("c"), maxBucket, hotBucketSalt).as("s")))
    val matched = saltedTokenJoin(a, b, hot, hintA = false, hintB = false)
    // Candidate ids: the min-aggregation both deduplicates multi-token
    // matches AND finds the minimal shared prefix token — both docs are
    // sorted in the SAME global (df, tok) order, so min(pa) and min(pb)
    // come from the same token. Jaccard ≥ t ⟺ overlap ≥
    // ⌈t/(1+t)·(na+nb)⌉ (epsilon-guarded like the prefix length), and
    // no shared token precedes the minimal shared prefix token (an
    // earlier shared token would itself be in both prefixes at smaller
    // positions), so min(na−pa, nb−pb) bounds the overlap from above.
    val alpha = ceil(lit(threshold / (1.0 + threshold)) *
      (col("na") + col("nb")) - lit(1e-9))
    val candIds = matched.filter(col("a") < col("b"))
      .groupBy(col("a"), col("b"), col("na"), col("nb"))
      .agg(min(col("pa")).as("pa"), min(col("pb")).as("pb"))
      .filter(least(col("na") - col("pa"), col("nb") - col("pb")) >= alpha)
      .select(col("a"), col("b"), col("na"), col("nb"))
    // fetch each side's sorted array ONCE, only for surviving candidates
    val cand = candIds
      .join(ranked.select(col("sid").as("a"), col("stoks").as("ta")), Seq("a"))
      .join(ranked.select(col("sid").as("b"), col("stoks").as("tb")), Seq("b"))
      .crossJoin(broadcast(chk))
    cand.select(col("a"), col("b"), col("na"), col("nb"),
        (size(array_intersect(col("ta"), col("tb"))).cast("long") *
          col("guard_ok").cast("long")).as("inter"))
      .select(col("a"), col("b"), col("inter"),
        round(col("inter") /
          (col("na") + col("nb") - col("inter")).cast("double"), 6)
          .as("jaccard"))
      .filter(col("jaccard") >= threshold)
  }

  /** The ASYMMETRIC member: every DIRECTED pair (a, b, a ≠ b) with
    * containment |A∩B| / |A| ≥ `threshold` — "a's set is mostly inside
    * b's" — the quote/inclusion/boilerplate-reuse detector Jaccard
    * structurally misses (a 50-token quote inside a 5000-token page has
    * containment 1.0 and Jaccard ≈ 0.01). Exact, recall 1.0 by
    * construction, same machinery as [[jaccardPairs]] with the
    * containment-shaped filters:
    *
    *  - only the CONTAINED side prefixes: |A∩B| ≥ ⌈t·nₐ⌉ forces A's
    *    first nₐ − ⌈t·nₐ⌉ + 1 rarest tokens to intersect B ANYWHERE, so
    *    candidates are A-prefix rows against B's full (slim, id-only)
    *    token instances — the inverted-index join; bucket volume per
    *    token is its corpus df, which is why the skew guard here caps
    *    the df of PREFIX tokens (rarest-of-each-doc, small by
    *    construction, loud when not);
    *  - size filter: n_b ≥ ⌈t·nₐ⌉ (B must have room for the overlap);
    *  - the positional filter carries over verbatim: both sides sort in
    *    the same global (df, tok) order, so min-position aggregation
    *    finds the globally minimal shared token and overlap ≤
    *    min(nₐ−pₐ, n_b−p_b);
    *  - survivors fetch both sorted arrays once for the exact verify.
    *
    * Both directions of an exact duplicate pair emit (containment 1.0
    * each way) — callers wanting undirected semantics filter a < b.
    * Output: (a, b, inter, containment), containment rounded to 6 dp.
    */
  def containmentPairs(docs: DataFrame, idCol: String, toksCol: String,
                       threshold: Double,
                       maxBucket: Int = 10000,
                       hotBucketSalt: Int = -1,
                       observeSalt: Option[String] = None): DataFrame = {
    require(threshold > 0.0 && threshold <= 1.0,
      s"containmentPairs: threshold must be in (0,1], got $threshold")
    // filter after the cut — the jaccardPairs pushed-predicate lesson
    val sets = graft.plans.Lineage.cut(
      docs.select(col(idCol).as("sid"),
        array_distinct(col(toksCol)).as("set")))
      .filter(size(col("set")) >= 1)
    val inst = sets.select(col("sid"), explode(col("set")).as("tok"))
    val dfreq = inst.groupBy("tok").agg(count(lit(1)).as("df"))
    val ranked = graft.plans.Lineage.cut(
      inst.join(dfreq, Seq("tok"))
        .groupBy("sid")
        .agg(transform(array_sort(collect_list(struct(col("df"), col("tok")))),
          x => x.getField("tok")).as("stoks"))
        .select(col("sid"), col("stoks"), size(col("stoks")).as("n")))
    // contained-side prefix (epsilon ceiling — the jaccardPairs lesson)
    val pref = ranked.select(col("sid"), col("n"),
      posexplode(slice(col("stoks"), lit(1), prefixLen(col("n"), threshold)))
        .as(Seq("pos", "tok")))
    // Container side: FULL slim instance rows with positions — but
    // BLOOM-PRUNED before the candidate exchange when the prefix frame
    // will not broadcast. Only instances whose token appears in SOME
    // doc's prefix can ever find a candidate partner, yet when the
    // prefix frame outgrows the broadcast threshold (it does at real
    // scale) the equi-join below would hash, serialize, and shuffle
    // every token instance in the corpus — at 1k-token web docs the
    // container-side exchange IS the tokenized corpus (the r13
    // verdict's one plan finding). A Bloom filter over the prefix
    // tokens reaches the probe as a broadcast scalar subquery (the
    // [[BloomJoin]] machinery), prunes at the project stage BEFORE any
    // exchange, and is semantics-free by construction: no false
    // negatives (recall 1.0 intact), false positives only inflate
    // candidates the exact verify already removes. Bounded memory at
    // any corpus size ([[BloomItems]] sizes the bits), unlike a broadcast
    // semi-join on the raw prefix-token set. The build aggregates
    // pref's tok column directly — no distinct() first: Bloom
    // insertion is idempotent, and the dedup exchange would cost more
    // than the duplicate inserts it saves.
    //
    // ADAPTIVE: the prune engages only when the corpus' Catalyst leaf
    // stats exceed the session broadcast threshold (unknown stats ⇒
    // prune — the scale-safe default). Below the threshold the planner
    // broadcasts the prefix side, the container side never shuffles,
    // and the Bloom would be pure overhead — the same signal the
    // planner itself keys on, read lazily (no job at call time).
    // Measured on the q_containment_join corpus (sf0.1, same-JVM
    // interleaved A/B in the forced-shuffle regime = the at-scale plan
    // shape): total shuffle write 21.5 → 18.3 MB, records 1.13M →
    // 0.90M — the container exchange's ~540k instance rows pruned to
    // ~312k, wall at parity. The survival rate tracks the corpus' df
    // distribution (this fixture's tiny vocabulary makes per-doc-rare
    // tokens corpus-common); on df≈1-dominated web shingles survival
    // approaches the prefix fraction itself.
    val bThr = docs.sparkSession.sessionState.conf.autoBroadcastJoinThreshold
    val prune = bThr < 0 ||
      graft.plans.Lineage.estimateBytes(docs).forall(_ > bThr)
    val fullRaw = ranked.select(col("sid"), col("n"),
      posexplode(col("stoks")).as(Seq("pos", "tok")))
    val full =
      if (prune) fullRaw.where(BloomJoin.mightContain(
        BloomJoin.bloomOf(pref.select(col("tok")), "tok", BloomItems),
        col("tok")))
      else fullRaw
    // guard on prefix-token corpus df — the per-token candidate volume;
    // with salting on the loud cap survives at saltedGuardCap (the
    // jaccardPairs convention)
    val guardCap = saltedGuardCap(maxBucket, hotBucketSalt)
    val chk = observeSaltEvents(pref.join(dfreq, Seq("tok")), "df",
        maxBucket, observeSalt)
      .agg(max_by(struct(col("tok"), col("df")), col("df")).as("w"))
      .select(
        when(coalesce(col("w.df"), lit(0L)) > guardCap,
          raise_error(concat(lit("containmentPairs: prefix token '"),
            col("w.tok"), lit("' has corpus df "), col("w.df"),
            lit(" " + guardAdvice(hotBucketSalt, guardCap)))))
          .otherwise(lit(1)).as("guard_ok"))
    val a = pref.select(col("tok"), col("sid").as("a"),
      col("n").as("na"), col("pos").as("pa"))
    val b = full.select(col("tok"), col("sid").as("b"),
      col("n").as("nb"), col("pos").as("pb"))
    // inverted-index matches; salting splits buckets whose corpus df
    // exceeds maxBucket exactly as in [[jaccardPairs]]: the prefix side
    // salts by contained-doc id, the instance side replicates across
    // all salts — each (a, b) match meets once
    val hot =
      if (hotBucketSalt == 0) None
      else Some(pref.select(col("tok")).distinct()
        .join(dfreq, Seq("tok")).filter(col("df") > maxBucket)
        .select(col("tok"), saltFor(col("df"), maxBucket, hotBucketSalt).as("s")))
    val matched = saltedTokenJoin(a, b, hot, hintA = false, hintB = false)
    val alpha = ceil(lit(threshold) * col("na") - lit(1e-9))
    val candIds = matched.filter(col("a") =!= col("b"))
      .groupBy(col("a"), col("b"), col("na"), col("nb"))
      .agg(min(col("pa")).as("pa"), min(col("pb")).as("pb"))
      .filter(col("nb") >= alpha &&
        least(col("na") - col("pa"), col("nb") - col("pb")) >= alpha)
      .select(col("a"), col("b"), col("na"))
    val cand = candIds
      .join(ranked.select(col("sid").as("a"), col("stoks").as("ta")), Seq("a"))
      .join(ranked.select(col("sid").as("b"), col("stoks").as("tb")), Seq("b"))
      .crossJoin(broadcast(chk))
    cand.select(col("a"), col("b"), col("na"),
        (size(array_intersect(col("ta"), col("tb"))).cast("long") *
          col("guard_ok").cast("long")).as("inter"))
      .select(col("a"), col("b"), col("inter"),
        round(col("inter") / col("na").cast("double"), 6).as("containment"))
      .filter(col("containment") >= threshold)
  }

  // ---- incremental: stored sets, arriving batches ----------------------

  /** Stored-state layout marker, the format stamp of the sets store
    * (the signature-store / ivfpq convention).
    * `order=value` is part of the contract: stored arrays sort by TOKEN
    * VALUE, not global rarity — rarity (df) DRIFTS as the corpus grows,
    * which would stale every stored prefix; value order is
    * df-independent, so yesterday's arrays answer tomorrow's batches
    * unchanged. The price is prefix selectivity (value-order prefixes
    * are not the rarest tokens), paid only on the incremental path —
    * the batch [[jaccardPairs]] keeps the rarity order.
    */
  private[graft] val SetsFormatStamp = "graft-setsim-v1;order=value"

  /** (sid, stoks [value-sorted distinct tokens], n) — the stored shape,
    * UNFILTERED: callers that cut the frame must filter `n >= 1` AFTER
    * the boundary (a pre-cut filter on the derived array gets pushed
    * to the caller's scan with the whole token derivation substituted
    * into the predicate — the jaccardPairs pushed-predicate lesson).
    */
  private def orderedSetsRaw(docs: DataFrame, idCol: String,
                             toksCol: String): DataFrame =
    docs.select(col(idCol).as("sid"),
        array_sort(array_distinct(col(toksCol))).as("stoks"))
      .select(col("sid"), col("stoks"), size(col("stoks")).as("n"))

  /** [[orderedSetsRaw]] with empty sets dropped — the save-path shape
    * (one-time build; the double-evaluation a pushed derived-column
    * predicate costs is paid once and amortized over every later
    * audit).
    */
  private def orderedSets(docs: DataFrame, idCol: String,
                          toksCol: String): DataFrame =
    orderedSetsRaw(docs, idCol, toksCol).filter(col("n") >= 1)

  private val SetsTable = "sets"

  /** Persist the corpus' value-ordered sets under `path` — the
    * build-once state of the incremental near-dup audit (the
    * [[Dedup]] stored-signatures convention, exact instead of
    * probabilistic).
    */
  def saveSets(docs: DataFrame, idCol: String, toksCol: String,
               path: String): Unit =
    Store.save(docs.sparkSession, path, SetsFormatStamp,
      Seq((SetsTable, orderedSets(docs, idCol, toksCol), Some("sid"))))

  /** The live manifest, its layout stamp checked — no job. */
  private def setsManifest(spark: org.apache.spark.sql.SparkSession,
                           path: String): Manifest =
    Store.live(spark, path, s"stored set-similarity state at $path has no " +
      "manifest — not a saveSets table; rebuild with SetSimJoin.saveSets")(
      _ == SetsFormatStamp,
      f => s"stored set-similarity state at $path has layout '$f', this " +
        s"build reads '$SetsFormatStamp' — rebuild with SetSimJoin.saveSets")

  def loadSets(spark: org.apache.spark.sql.SparkSession,
               path: String): DataFrame =
    Store.table(spark, path, setsManifest(spark, path), SetsTable)

  /** The audits' load + head measurement: the manifest load runs no
    * job, so the fused batch-stats/disjoint job is the only head job.
    */
  private def loadSetsWithBatchStats(
      spark: org.apache.spark.sql.SparkSession, path: String,
      batchCut: DataFrame, op: String): (DataFrame, Long, Long) = {
    val stored = loadSets(spark, path)
    val (bRows, bToks) = batchStatsRequireDisjoint(stored, batchCut, op)
    (stored, bRows, bToks)
  }

  /** Append a new batch's sets, refused on an id collision (duplicate
    * ids would pair with themselves and double-answer audits). The id
    * semi-join runs only when the batch's id range, observed on the
    * write, overlaps the stored range.
    */
  def appendSets(spark: org.apache.spark.sql.SparkSession, path: String,
                 newDocs: DataFrame, idCol: String,
                 toksCol: String): Unit = {
    Store.append(spark, path, setsManifest(spark, path), SetsTable,
      orderedSets(newDocs, idCol, toksCol), "sid",
      "setsim appendSets: new batch ids collide with stored ids — " +
      "re-id the batch or rebuild with saveSets")
  }

  /** Rewrite the stored sets into ~`targetFileBytes` parquet files —
    * the maintenance half of the append lifecycle: [[appendSets]] adds
    * one small file-set per batch, and at daily-batch cadence the
    * stored corpus becomes a small-files problem (every [[loadSets]]
    * pays per-file open/footer costs; at 1000 executors the driver
    * pays listing). Contract: the ROW SET is untouched (same sids, same
    * arrays — spec-pinned), only the file layout changes.
    *
    * Plan shape: one read, a COALESCE (no shuffle — compaction must not
    * pay an exchange to merge files), one new file-set committed in
    * place of the old ones ([[graft.store.Store.compact]]).
    */
  def compactSets(spark: org.apache.spark.sql.SparkSession, path: String,
                  targetFileBytes: Long = 128L * 1024 * 1024): Unit = {
    require(targetFileBytes > 0,
      s"compactSets: targetFileBytes must be > 0, got $targetFileBytes")
    Store.compact(spark, path, setsManifest(spark, path), Seq(SetsTable),
      targetFileBytes)
  }

  /** Remove stored sets by id — the retraction/GDPR-delete member of
    * the stored-state lifecycle ([[saveSets]]/[[appendSets]]/
    * [[compactSets]]). Contract: remove == rebuild over the difference
    * (spec-pinned — the stored rows are per-doc facts, so dropping rows
    * IS the rebuild), and removed ids stop answering every downstream
    * audit. Unknown ids are a LOUD error, not a no-op: a takedown list
    * with a typo'd id must not report success while the doc keeps
    * answering. The surviving rows commit as one new file-set.
    *
    * @param removeIds one column of ids (any name); null ids rejected.
    */
  def removeSets(spark: org.apache.spark.sql.SparkSession, path: String,
                 removeIds: DataFrame): Unit = {
    Store.remove(spark, path, setsManifest(spark, path), SetsTable, "sid",
      removeIds, "removeSets: removal list contains null ids",
      id => s"removeSets: id '$id' is not in the stored state — a typo'd " +
        "retraction must fail loudly, not report success",
      "removeSets: removal would empty the store — delete the path and " +
      "rebuild with saveSets instead")
  }

  /** Token-keyed candidate join with the hot-bucket salted split (the
    * [[jaccardPairs]] `hotBucketSalt` machinery, shared by every
    * member): cold tokens keep the plain equi-join with the caller's
    * broadcast hints; each token in `hot` (columns `tok`, `s` = its
    * salt factor, per-token under the adaptive default) splits into
    * `s` sub-buckets — the a-side salted by doc id, the b-side
    * replicated across every salt — so each (a, b) match still meets
    * exactly once while no single task holds a whole hot bucket. Hot
    * branches never carry a broadcast hint (a replicated hot side is
    * exactly what must not broadcast).
    */
  private def saltedTokenJoin(a: DataFrame, b: DataFrame,
                              hot: Option[DataFrame],
                              hintA: Boolean, hintB: Boolean): DataFrame = {
    def h(df: DataFrame, on: Boolean) = if (on) broadcast(df) else df
    hot match {
      case None => h(a, hintA).join(h(b, hintB), Seq("tok"))
      case Some(ht) =>
        val hb = broadcast(ht.select(col("tok"), col("s")))
        val hbToks = broadcast(ht.select(col("tok")))
        val aCold = a.join(hbToks, Seq("tok"), "left_anti")
        val bCold = b.join(hbToks, Seq("tok"), "left_anti")
        val aHot = a.join(hb, Seq("tok"))
          .withColumn("salt",
            pmod(xxhash64(col("a")), col("s").cast("long")).cast("int"))
          .drop("s")
        val bHot = b.join(hb, Seq("tok"))
          .withColumn("salt", explode(sequence(lit(0), col("s") - 1)))
          .drop("s")
        // shuffle-hash, building on the THINNED a-side: each (tok,
        // salt) cell holds ≤ maxBucket a-rows by the salt arithmetic,
        // so the hash build is bounded by construction and skipping the
        // SMJ sort is free win; when no token is hot, AQE's
        // empty-relation propagation deletes this branch at runtime
        // before the probe side is ever scanned
        h(aCold, hintA).join(h(bCold, hintB), Seq("tok"))
          .unionByName(aHot.hint("shuffle_hash")
            .join(bHot, Seq("tok", "salt")).drop("salt"))
    }
  }

  /** Loud EAGER check that no batch id collides with a stored sid — a
    * collision duplicates that sid in the union, multiplying
    * verify-join rows into silently wrong pair output, and the
    * worst case (an identical re-sent doc) produces EMPTY output, so a
    * lazy output-riding guard (the maxBucket convention) would never
    * evaluate exactly when it matters.
    *
    * Takes the batch's LINEAGE-CUT (sid, stoks, n) frame, not the raw
    * newDocs (r19): checking raw newDocs re-ran the caller's whole
    * tokenize/shingle tower a second time — column pruning cannot
    * delete a `filter(size(tokens) >= k)` the caller put under the id
    * column — so the audit paid one extra full batch derivation per
    * call. And it is FUSED with the audit's batch measurement (r19):
    * the disjoint semi-join, the checkpoint materialization, and the
    * batch-stats aggregate were three serial driver round-trips at the
    * head of every audit, each paying its own planning + scheduling
    * floor; one left join + one-row aggregate does all three. The id
    * set checked is identical to raw newDocs (the n >= 1 filter sits
    * ABOVE the cut), and (r, t) count exactly the n >= 1 rows the old
    * stats aggregate saw. Returns (batchRows, batchTotalToks).
    */
  private def batchStatsRequireDisjoint(stored: DataFrame,
                                        batchCut: DataFrame,
                                        op: String): (Long, Long) = {
    val st = batchCut.select(col("sid"), col("n"))
      .join(stored.select(col("sid"), lit(1).as("__hit")), Seq("sid"), "left")
      .agg(count(when(col("n") >= 1, lit(1))).as("r"),
        coalesce(sum(when(col("n") >= 1, col("n"))), lit(0L)).as("t"),
        count(col("__hit")).as("overlap")).head()
    require(st.getLong(2) == 0L,
      s"$op: batch ids collide with stored ids — re-id the batch " +
      "or rebuild with saveSets")
    (st.getLong(0), st.getLong(1))
  }

  /** Safety ceiling for the ids-only fetch broadcast: the `sides`
    * frame carries ~120 B per candidate pair (ids + lengths, never a
    * token array), so this admits ~2M pairs while staying two orders
    * of magnitude under Spark's 8 GB broadcast limit and typical
    * driver heaps. Audits whose candidate count exceeds it are doing
    * ≥2M-row candidate work — the fallback's extra jobs are noise
    * there.
    */
  private[graft] val SafeFetchIdBroadcastBytes: Long = 256L << 20

  /** Per-token byte allowance for the array-carrying fetch broadcast:
    * shingle/token strings in every gate corpus and ProfileIncScale
    * arm run 8–40 B; 64 B is conservative without being uselessly so.
    */
  private[graft] val FetchTokenBytes: Long = 64L

  /** Survivors-only array fetch for the incremental audits, with
    * SIZE-CONDITIONED tiny-side hints (VERDICT r17 #2 / ADVICE r17
    * medium). The r17 fix hinted `candIds` and its a-fetch
    * intermediate unconditionally — correct in the audit regime
    * (candidates are batch-proportional) but a hard runtime failure
    * waiting on a high-duplication batch: an unbounded candidate set
    * forced into a driver-side broadcast can exceed Spark's 8 GB
    * broadcast limit where the unhinted shuffle plan would have
    * completed (slowly). Now the candidate set is lineage-cut and
    * COUNTED first (the fetch reuses the checkpoint, so candidate
    * generation still runs once), the hints engage only when the
    * measured EXACT count fits a safety ceiling — the fitsBroadcast
    * discipline of the candidate joins above, with a measured count in
    * place of an estimate — and the fallback to the unhinted joins is
    * loud.
    */
  private def fetchCandidateArrays(spark: org.apache.spark.sql.SparkSession,
                                   candIds: DataFrame, union: DataFrame,
                                   caller: String): DataFrame = {
    // r18 (VERDICT r17 #2 / ADVICE r17 medium): the r17 fetch hinted
    // candIds AND its a-fetch intermediate unconditionally — the
    // latter carries a full token array per pair, and a
    // high-duplication batch could push it past Spark's 8 GB broadcast
    // limit / the driver heap where a shuffle plan would have
    // completed (slowly). Now the candidate ids are lineage-cut and
    // MEASURED first — one small job aggregating the exact pair count
    // and Σ set sizes off the checkpoint the fetch then reuses (the
    // candidate join still executes once) — and the fetch escalates
    // through three shapes on those exact numbers:
    //   1. both volumes under their ceilings → the r17 plan verbatim:
    //      tiny side hinted at BOTH joins, archive streams through two
    //      broadcast-hash joins, zero added exchange (the common audit
    //      regime; VERDICT r16 #2 measured the unhinted plan shuffling
    //      132 MB for a 544-pair fetch at a 64× archive);
    //   2. ids fit but arrays might not → explode each pair into two
    //      id rows, ONE ids-only broadcast join against the archive,
    //      then group matched (sid, stoks) rows back into (pair, ta,
    //      tb) — token arrays never enter a broadcast; the array
    //      exchange is a candidate-bounded groupBy shuffle;
    //   3. past the id ceiling — or broadcasts disabled outright → the
    //      same regroup shape with the archive scan Bloom-pruned
    //      instead of broadcast-joined: zero driver-side collection.
    // Measured (TimeQ sf0.1, warm, 8 reps): ~+0.2 s per audit for the
    // measurement job vs the r17 unconditional-broadcast floor; the
    // rejected alternatives cost more (pessimistic Σ df·c_batch bound:
    // +0.8 s of archive explode in the stats job; unconditional
    // regroup shuffle: +0.3/+1.0 s).
    val keyCols = candIds.columns.toSeq
    val candCut = candIds.localCheckpoint(false)
    val st = candCut.agg(count(lit(1)).as("n"),
      coalesce(sum(col("na") + col("nb")), lit(0L)).as("t")).head()
    val (nCand, nToks) = (st.getLong(0), st.getLong(1))
    val bThr = spark.sessionState.conf.autoBroadcastJoinThreshold
    // `graft.setsim.fetchCeilingBytes` (session conf) overrides the
    // built-in safety ceiling — the operational dial for driver heaps
    // that can afford more (or less) than the default, and the lever
    // the spec uses to exercise all three fetch shapes at unit scale.
    val ceiling = spark.conf.getOption("graft.setsim.fetchCeilingBytes")
      .map(_.toLong)
      .getOrElse(math.max(bThr, SafeFetchIdBroadcastBytes))
    val idsFit = bThr >= 0 && nCand * 120L <= ceiling
    val arraysFit = idsFit && nCand * 48L + nToks * FetchTokenBytes <= ceiling
    if (arraysFit) {
      broadcast(broadcast(candCut)
          .join(union.select(col("sid").as("a"), col("stoks").as("ta")),
            Seq("a")))
        .join(union.select(col("sid").as("b"), col("stoks").as("tb")),
          Seq("b"))
    } else {
      System.err.println(s"[$caller] measured candidate volume " +
        s"($nCand pairs, $nToks set elements) exceeds the fetch " +
        "broadcast ceiling (or broadcasts are disabled) — " +
        (if (idsFit) "arrays leave the broadcast (ids-only join + regroup)"
         else "fetch falls back to a Bloom-pruned shuffle"))
      val sides = candCut.select(keyCols.map(col) :+
        explode(array(col("a"), col("b"))).as("sid"): _*)
      val joined =
        if (idsFit) union.join(broadcast(sides), Seq("sid"))
        else {
          val idBloom = BloomJoin.bloomOf(
            candCut.select(explode(array(col("a"), col("b"))).as("cid")),
            "cid", math.max(4096L, 2L * nCand))
          union.where(BloomJoin.mightContain(idBloom, col("sid")))
            .join(sides, Seq("sid"))
        }
      joined.groupBy(keyCols.map(col): _*)
        .agg(first(when(col("sid") === col("a"), col("stoks")),
            ignoreNulls = true).as("ta"),
          first(when(col("sid") === col("b"), col("stoks")),
            ignoreNulls = true).as("tb"))
    }
  }

  /** Every pair (a, b, inter, jaccard ≥ t) the BATCH introduces against
    * a stored corpus — stored×batch and batch-internal pairs, each
    * once (a < b), recall 1.0. The incremental-dedup lifecycle for the
    * exact join: the stored corpus' sets are read back, never
    * re-tokenized and never re-sorted (value order is df-free), and
    * candidate generation exposes value-order prefixes of BOTH sides —
    * the same prefix/positional mathematics as [[jaccardPairs]] (any
    * fixed total order works; the minimal-shared-token argument only
    * needs "a prefix is a prefix of the global order"). Pairs wholly
    * inside the stored corpus are the PRIOR audits' output and are not
    * re-emitted: incremental(stored, batch) ∪ prior == rebuild over
    * stored ∪ batch (spec-pinned).
    *
    * A batch within the broadcast bound takes the batch-probe route
    * ([[BatchProbe]]): collected once, checked for id collisions
    * against the manifest's id range, and probed in-row by one narrow
    * scan; its skew guard refuses at call time. A larger batch meets the
    * stored prefixes in exchanges.
    */
  def incrementalJaccardPairs(spark: org.apache.spark.sql.SparkSession,
                              path: String, newDocs: DataFrame,
                              idCol: String, toksCol: String,
                              threshold: Double,
                              maxBucket: Int = 10000,
                              hotBucketSalt: Int = -1,
                              observeSalt: Option[String] = None): DataFrame = {
    require(threshold > 0.0 && threshold <= 1.0,
      s"incrementalJaccardPairs: threshold must be in (0,1], got $threshold")
    val m = setsManifest(spark, path)
    collectSetsBatch(m, newDocs, idCol, toksCol, threshold) match {
      case Some(b) =>
        jaccardBatchProbe(spark, path, m, b, threshold, maxBucket, hotBucketSalt,
          observeSalt)
      case None =>
        incrementalJaccardExchange(spark, path, newDocs, idCol, toksCol,
          threshold, maxBucket, hotBucketSalt, observeSalt)
    }
  }

  /** [[incrementalJaccardPairs]] above the broadcast bound: the batch
    * side and the stored prefixes meet in exchanges. */
  private def incrementalJaccardExchange(
      spark: org.apache.spark.sql.SparkSession, path: String,
      newDocs: DataFrame, idCol: String, toksCol: String, threshold: Double,
      maxBucket: Int, hotBucketSalt: Int,
      observeSalt: Option[String]): DataFrame = {
    val batchCut = graft.plans.Lineage.cut(
      orderedSetsRaw(newDocs, idCol, toksCol))
    val (stored, bRows, bToks) = loadSetsWithBatchStats(spark, path,
      batchCut, "incrementalJaccardPairs")
    val batch = batchCut.filter(col("n") >= 1)
    val union = graft.plans.Lineage.cut(stored.unionByName(batch))
    def prefixes(ranked: DataFrame) = ranked.select(col("sid"), col("n"),
      posexplode(slice(col("stoks"), lit(1), prefixLen(col("n"), threshold)))
        .as(Seq("pos", "tok")))
    val prefAll = prefixes(union)
    val prefBatch = prefixes(batch)
    // Guard/salt counts over batch-RELEVANT buckets only (VERDICT r16
    // #2, measured via ProfileIncScale's shuffle accounting: this
    // groupBy was the one archive-proportional exchange left in the
    // audit — 102 MB shuffled at a 32× archive for a 500-row batch,
    // because in the broadcast regime the candidate join needs no
    // archive exchange but the count still shuffled every union
    // prefix row). Only a token present in some BATCH prefix can key
    // a candidate join here, so count exactly those buckets via a
    // broadcast semi-join: surviving tokens keep their full union
    // counts (the semi-join drops whole buckets, never rows within
    // one), and the count exchange becomes batch-proportional.
    // Deliberate, documented relaxation: a hot token the batch never
    // touches no longer trips the salt-off abort — it cannot create
    // candidate work in this audit, and the full-corpus tripwire
    // remains in jaccardPairs / the store-build path.
    val cnt = prefAll.join(
        broadcast(prefBatch.select(col("tok")).distinct()),
        Seq("tok"), "left_semi")
      .groupBy("tok").agg(count(lit(1)).as("c"))
    val guardCap = saltedGuardCap(maxBucket, hotBucketSalt)
    val chk = observeSaltEvents(cnt, "c", maxBucket, observeSalt)
      .agg(max_by(struct(col("tok"), col("c")), col("c")).as("w"))
      .select(
        when(coalesce(col("w.c"), lit(0L)) > guardCap,
          raise_error(concat(lit("incrementalJaccardPairs: prefix token '"),
            col("w.tok"), lit("' collects "), col("w.c"),
            lit(" docs " + guardAdvice(hotBucketSalt, guardCap)))))
          .otherwise(lit(1)).as("guard_ok"))
    // The a-side is the UNION's prefixes — archive-sized — but only
    // rows whose token appears in some BATCH prefix can ever join the
    // b-side. Bloom-prune the a-side against the batch's prefix tokens
    // before its exchange (the containmentPairs treatment): each audit
    // then shuffles the archive in proportion to the BATCH on BOTH
    // join inputs. No false negatives; spurious survivors die in the
    // equi-join itself. The skew guard stays on the UNPRUNED frame
    // (conservative). ADAPTIVE (the containmentPairs rule, stated on
    // batch stats because the checkpointed batch has no Catalyst leaf
    // stats): when the batch's slim prefix rows fit the broadcast
    // threshold the planner broadcasts them, the a-side never
    // exchanges, and the Bloom would be pure measured overhead
    // (+0.9 s on the gate corpus for zero exchange saved: BASELINE.md
    // *Adaptive Bloom pruning across the set-similarity family*) — so
    // the prune engages only above it. The batch stats
    // came from the fused disjoint-check job above, which also
    // materialized the batch checkpoint the main query reuses.
    val batchSlimBytes = 24L * (bRows + bToks)
    val bThr = spark.sessionState.conf.autoBroadcastJoinThreshold
    val fitsBroadcast = bThr >= 0 && batchSlimBytes <= bThr
    val aPruned =
      if (!fitsBroadcast)
        prefAll.where(BloomJoin.mightContain(
          BloomJoin.bloomOf(prefBatch.select(col("tok")), "tok", BloomItems),
          col("tok")))
      else prefAll
    val a = aPruned.select(col("tok"), col("sid").as("a"),
      col("n").as("na"), col("pos").as("pa"))
    // Below the threshold the batch side must BROADCAST — but the
    // checkpointed batch has no Catalyst stats, so the planner can't
    // see that it is small (measured: without the hint the candidate
    // join degraded to a shuffle join and the gate read ~2× its floor).
    // We just computed the true size; state the hint explicitly (on
    // the COLD branch only when salting — a replicated hot side is
    // exactly what must not broadcast).
    val bRaw = prefBatch.select(col("tok"), col("sid").as("b"),
      col("n").as("nb"), col("pos").as("pb"))
    val hot =
      if (hotBucketSalt == 0) None
      else Some(cnt.filter(col("c") > maxBucket).select(col("tok"),
        saltFor(col("c"), maxBucket, hotBucketSalt).as("s")))
    val alpha = ceil(lit(threshold / (1.0 + threshold)) *
      (col("na") + col("nb")) - lit(1e-9))
    // per-ORIENTATION min positions (batch-internal pairs arrive in both
    // orientations), positional filter per orientation, THEN normalize
    // a < b and dedupe
    val candIds = saltedTokenJoin(a, bRaw, hot,
        hintA = false, hintB = fitsBroadcast)
      .filter(col("a") =!= col("b"))
      .groupBy(col("a"), col("b"), col("na"), col("nb"))
      .agg(min(col("pa")).as("pa"), min(col("pb")).as("pb"))
      .filter(least(col("na") - col("pa"), col("nb") - col("pb")) >= alpha)
      .select(when(col("a") < col("b"),
          struct(col("a"), col("b"), col("na"), col("nb")))
        .otherwise(struct(col("b").as("a"), col("a").as("b"),
          col("nb").as("na"), col("na").as("nb"))).as("p"))
      .select(col("p.a").as("a"), col("p.b").as("b"),
        col("p.na").as("na"), col("p.nb").as("nb"))
      .dropDuplicates("a", "b")
    // Survivors-only array fetch with the tiny side hinted at BOTH
    // joins when (and only when) its MEASURED size fits broadcast —
    // see [[fetchCandidateArrays]] (VERDICT r16 #2 found the unhinted
    // plan shuffling the whole archive — 132 MB written / 263 MB read
    // for a 544-pair fetch at 64×; VERDICT r17 #2 found the
    // unconditional hint a driver hazard on large batches).
    val cand = fetchCandidateArrays(spark, candIds, union,
        "incrementalJaccardPairs")
      .crossJoin(broadcast(chk))
    cand.select(col("a"), col("b"), col("na"), col("nb"),
        (size(array_intersect(col("ta"), col("tb"))).cast("long") *
          col("guard_ok").cast("long")).as("inter"))
      .select(col("a"), col("b"), col("inter"),
        round(col("inter") /
          (col("na") + col("nb") - col("inter")).cast("double"), 6)
          .as("jaccard"))
      .filter(col("jaccard") >= threshold)
  }

  // ---- batch-probe route of the incremental audits ---------------------

  /** A batch held on the driver ([[BatchProbe]]): its (sid, stoks, n)
    * rows with n ≥ 1, each with the xxhash64 of its tokens, and the ids
    * of all its rows (the collision check's id set, which the exchange
    * plan also takes before the n ≥ 1 filter). */
  private final case class SetsBatch(rows: IndexedSeq[Row], ids: Seq[Any],
                                     sidType: DataType, tokType: DataType,
                                     threshold: Double) {
    def toks(i: Int): Seq[Any] = rows(i).getSeq[Any](1)
    def n(i: Int): Int = rows(i).getInt(2)
    private def hashes(i: Int): Seq[Long] = rows(i).getSeq[Long](3)
    /** The [[prefixLen]] of row i, computed as Spark computes it. */
    def prefixLen(i: Int): Int = n(i) - math.ceil(threshold * n(i) - 1e-9).toInt + 1
    def prefix(i: Int): Seq[Any] = toks(i).take(prefixLen(i))

    /** The (sid, stoks, n) rows as one array literal, row i at i + 1. */
    lazy val literal: Column = BatchProbe.data(
      rows.map(r => Row(r.get(0), r.get(1), r.get(2))),
      ArrayType(StructType(Seq(StructField("sid", sidType),
        StructField("stoks", ArrayType(tokType)), StructField("n", IntegerType)))))

    /** The (sid, stoks, n) rows, read out of [[literal]] over a range.
      * Not a local relation: Spark folds the projections above a local
      * relation into it (ConvertToLocalRelation), so the probe of every
      * batch row would run in the optimizer, interpreted, on the driver
      * (measured on `q_setsim_removed` at sf0.1: most of its driver
      * time). */
    def frame(spark: org.apache.spark.sql.SparkSession): DataFrame = {
      val n = rows.length
      spark.range(0, n, 1, math.max(1, math.min(n, spark.sparkContext.defaultParallelism)))
        .select(element_at(literal, col("id").cast("int") + 1).as("r"))
        .select(col("r.sid"), col("r.stoks"), col("r.n"))
    }

    /** An index from each token among the first `len(i)` of row i to
      * its postings (i, p), p its 0-based position in row i. */
    def postings(len: Int => Int): BatchProbe.Index = {
      val entries = for {
        i <- rows.indices
        p <- 0 until len(i) if toks(i)(p) != null
      } yield (hashes(i)(p), toks(i)(p), Row(i, p))
      BatchProbe.index(
        entries.groupBy(_._2).toSeq.map { case (t, ps) => (ps.head._1, t, ps.map(_._3)) },
        tokType, PostingsType)
    }
  }

  private val PostingsType = ArrayType(StructType(Seq(
    StructField("i", IntegerType), StructField("p", IntegerType))))

  /** The batch's rows in one collect, when the batch is planned within
    * the broadcast bound and its measured slim bytes (24 B per row and
    * per token, the exchange plan's `fitsBroadcast` measure) fit it too;
    * None otherwise, and when its tokens are not of a keyable type equal
    * to the stored one. Rows with no token are dropped on the driver:
    * as a Spark filter the derived-size predicate would be pushed into
    * the caller's plan (the [[jaccardPairs]] pushed-predicate lesson). */
  private def collectSetsBatch(m: Manifest, newDocs: DataFrame, idCol: String,
                               toksCol: String,
                               threshold: Double): Option[SetsBatch] =
    BatchProbe.plannedBound(newDocs).flatMap { bound =>
      val sets = orderedSetsRaw(newDocs, idCol, toksCol)
      def elem(s: StructType) = s("stoks").dataType.asInstanceOf[ArrayType].elementType
      val tokType = elem(sets.schema)
      if (!BatchProbe.keyable(tokType) || tokType != elem(m.schemas(SetsTable))) None
      else {
        val all = BatchProbe.collectCapped(sets.select(col("sid"), col("stoks"),
            col("n"), transform(col("stoks"), t => xxhash64(t)).as("th")),
            bound / 24 + 1)
        val rows = all.filter(_.getInt(2) >= 1)
        // every collected row counts, so a collect cut short by the
        // per-partition cap always exceeds the bound
        val slimBytes = 24L * (all.length + rows.map(_.getInt(2).toLong).sum)
        if (slimBytes > bound) None
        else Some(SetsBatch(rows.toIndexedSeq, all.map(_.get(0)).toSeq,
          sets.schema("sid").dataType, tokType, threshold))
      }
    }

  /** Eager refusal of a batch whose ids collide with stored ids (the
    * [[batchStatsRequireDisjoint]] contract) for a batch on the driver:
    * no job when the batch's id range misses the manifest's
    * ([[Store.disjointIds]]); otherwise one narrow scan of the stored
    * ids filtered by the batch's ids as a literal set. */
  private def requireDisjointBatch(spark: org.apache.spark.sql.SparkSession,
                                   path: String, m: Manifest, b: SetsBatch,
                                   op: String): Unit = {
    val ids = b.ids.filter(_ != null)
    val range =
      if (ids.isEmpty || !Store.integral(b.sidType)) None
      else {
        val ls = ids.map(_.asInstanceOf[Number].longValue)
        Some((ls.min, ls.max))
      }
    val collide = !Store.disjointIds(m, SetsTable, ids.size, range) &&
      BatchProbe.collectCapped(Store.table(spark, path, m, SetsTable)
        .select(col("sid")).where(BatchProbe.isIn(col("sid"), ids, b.sidType)), 1)
        .nonEmpty
    require(!collide, s"$op: batch ids collide with stored ids — re-id the " +
      "batch or rebuild with saveSets")
  }

  /** The skew guard of a probe audit, at call time: `counts` (token →
    * bucket count), computed only when the stored rows plus the batch
    * rows could exceed the cap (the manifest's row count says so) or
    * salt events are observed, must stay within the cap. Returns the
    * counts, which the output publishes as salt events. */
  private def probeGuard(m: Manifest, b: SetsBatch, maxBucket: Int,
                         hotBucketSalt: Int, observeSalt: Option[String],
                         refusal: (Any, Long) => String)(
                         counts: => Map[Any, Long]): Map[Any, Long] = {
    val guardCap = saltedGuardCap(maxBucket, hotBucketSalt)
    val c =
      if (observeSalt.isEmpty && m.rows(SetsTable) + b.rows.length <= guardCap)
        Map.empty[Any, Long]
      else counts
    c.maxByOption(_._2).foreach { case (tok, n) =>
      require(n <= guardCap, refusal(tok, n) + guardAdvice(hotBucketSalt, guardCap))
    }
    c
  }

  /** One narrow job over the stored rows: per token, the number of rows
    * whose `hits` (tokens, each at most once per row) hold it, and the
    * tokens some row's `marks` hold. Each partition returns its partial
    * counts, at most one entry per token the columns admit. */
  private def storedHits(stored: DataFrame, hits: Column,
                         marks: Column): (Map[Any, Long], Set[Any]) = {
    val parts = stored.select(hits.as("hit"), marks.as("mark"))
      .rdd.mapPartitions { it =>
        val c = scala.collection.mutable.HashMap.empty[Any, Long]
        val marked = scala.collection.mutable.HashSet.empty[Any]
        it.foreach { r =>
          r.getSeq[Any](0).foreach(t => c(t) = c.getOrElse(t, 0L) + 1L)
          marked ++= r.getSeq[Any](1)
        }
        c.iterator.map { case (t, n) => (t, n, marked(t)) }
      }.collect()
    (parts.toSeq.groupMapReduce(_._1)(_._2)(_ + _), parts.filter(_._3).map(_._1).toSet)
  }

  /** `stored` counts plus one per batch row holding the token. */
  private def plusBatch(stored: Map[Any, Long],
                        batchHits: Seq[Seq[Any]]): Map[Any, Long] =
    (stored.toSeq ++ batchHits.flatten.map(_ -> 1L)).groupMapReduce(_._1)(_._2)(_ + _)

  /** Salt events published as constants: an empty result still reports
    * them. */
  private def observeCounts(out: DataFrame, counts: Map[Any, Long],
                            maxBucket: Int,
                            observeSalt: Option[String]): DataFrame =
    observeSalt.fold(out) { nm =>
      val salted = counts.values.count(_ > maxBucket).toLong
      val top = counts.values.maxOption.getOrElse(0L)
      out.observe(nm, coalesce(max(lit(salted)), lit(salted)).as("salted_buckets"),
        coalesce(max(lit(top)), lit(top)).as("max_bucket"))
    }

  /** Stored ∪ batch rows (sid, stoks, n, isb), `isb` marking the batch. */
  private def unionRows(spark: org.apache.spark.sql.SparkSession,
                        stored: DataFrame, b: SetsBatch): DataFrame =
    stored.select(col("sid"), col("stoks"), col("n"), lit(false).as("isb"))
      .unionByName(b.frame(spark).withColumn("isb", lit(true)))

  /** The batch rows a row meets through `toks` (its tokens, each at its
    * position) looked up in `index`: one (i, pr, po) per batch row i, at
    * the positions in the row (pr) and in row i (po) of their minimal
    * shared token. Both sides sort in the same value order, so that
    * token is first in both, and the positional filter is the exchange
    * plan's. Sorted by i. */
  private def probeHits(toks: Column, index: BatchProbe.Index): Column =
    array_sort(flatten(transform(toks, (t, pr) =>
      transform(coalesce(index.lookup(xxhash64(t), t), array().cast(PostingsType)),
        e => struct(e.getField("i").as("i"), pr.as("pr"), e.getField("p").as("po"))))))

  /** The first entry per batch row of a [[probeHits]] column `h`. */
  private def firstPerRow(h: Column): Column =
    filter(h, (x, j) => j === 0 ||
      element_at(h, greatest(j, lit(1))).getField("i") =!= x.getField("i"))

  /** [[incrementalJaccardPairs]] on the batch-probe route: the batch's
    * sets and a prefix-token index over them ride the plan as literals,
    * and one narrow scan over stored ∪ batch probes each row in-row:
    * the row's prefix tokens look up the batch prefix index (the prefix
    * filter: a qualifying pair shares a prefix token), the first hit
    * per batch row passes the positional filter, and survivors
    * intersect the two sets exactly. A batch row finds the other batch
    * rows the same way; such a pair is kept once, by `a < b`. The skew
    * guard counts union prefix rows per batch prefix token. Salting is
    * moot here: no exchange holds a bucket. */
  private def jaccardBatchProbe(spark: org.apache.spark.sql.SparkSession,
                                path: String, m: Manifest, b: SetsBatch,
                                threshold: Double, maxBucket: Int,
                                hotBucketSalt: Int,
                                observeSalt: Option[String]): DataFrame = {
    val op = "incrementalJaccardPairs"
    requireDisjointBatch(spark, path, m, b, op)
    val stored = Store.table(spark, path, m, SetsTable)
    val prefix = slice(col("stoks"), lit(1), prefixLen(col("n"), threshold))
    val counts = probeGuard(m, b, maxBucket, hotBucketSalt, observeSalt,
        (tok, c) => s"$op: prefix token '$tok' collects $c docs ") {
      val batchPrefixes = b.rows.indices.map(i => b.prefix(i).filter(_ != null))
      val toks = batchPrefixes.flatten.distinct
      plusBatch(storedHits(stored, filter(prefix, t => BatchProbe.isIn(t, toks, b.tokType)),
        array().cast(ArrayType(b.tokType)))._1, batchPrefixes)
    }
    val sets = b.literal
    val alpha = ceil(lit(threshold / (1.0 + threshold)) *
      (col("n") + col("o.n")) - lit(1e-9))
    val rowCols = Seq(col("sid"), col("stoks"), col("n"), col("isb"))
    val out = unionRows(spark, stored, b)
      .select(rowCols :+ probeHits(prefix, b.postings(b.prefixLen)).as("h"): _*)
      .select(rowCols :+ explode(firstPerRow(col("h"))).as("x"): _*)
      .select(rowCols ++ Seq(col("x.pr").as("pa"), col("x.po").as("pb"),
        element_at(sets, col("x.i") + 1).as("o")): _*)
      .filter(col("sid") =!= col("o.sid") &&
        (!col("isb") || col("sid") < col("o.sid")) &&
        least(col("n") - col("pa"), col("o.n") - col("pb")) >= alpha)
      .select(least(col("sid"), col("o.sid")).as("a"),
        greatest(col("sid"), col("o.sid")).as("b"),
        size(array_intersect(col("stoks"), col("o.stoks"))).cast("long").as("inter"),
        col("n").as("na"), col("o.n").as("nb"))
      .select(col("a"), col("b"), col("inter"),
        round(col("inter") /
          (col("na") + col("nb") - col("inter")).cast("double"), 6)
          .as("jaccard"))
      .filter(col("jaccard") >= threshold)
    observeCounts(out, counts, maxBucket, observeSalt)
  }

  /** [[incrementalContainmentPairs]] on the batch-probe route: one
    * narrow scan over stored ∪ batch, the batch as literals, finds both
    * candidate branches of the exchange plan in-row:
    *
    *  - the row contained in a batch row: the row's prefix tokens look up
    *    an index of every batch token;
    *  - a batch row contained in a stored row: the stored row's tokens
    *    look up the batch prefix index (a batch row inside another
    *    batch row is the first branch's).
    *
    * The first hit per batch row and direction passes the size and
    * positional filters, and survivors intersect the two sets exactly.
    * The skew guard counts the union df of each union prefix token the
    * batch carries, as the exchange plan's does. */
  private def containmentBatchProbe(spark: org.apache.spark.sql.SparkSession,
                                    path: String, m: Manifest, b: SetsBatch,
                                    threshold: Double, maxBucket: Int,
                                    hotBucketSalt: Int,
                                    observeSalt: Option[String]): DataFrame = {
    val op = "incrementalContainmentPairs"
    requireDisjointBatch(spark, path, m, b, op)
    val stored = Store.table(spark, path, m, SetsTable)
    val prefix = slice(col("stoks"), lit(1), prefixLen(col("n"), threshold))
    val counts = probeGuard(m, b, maxBucket, hotBucketSalt, observeSalt,
        (tok, c) => s"$op: prefix token '$tok' has corpus df $c ") {
      // the union df of each token the batch carries, kept for the
      // tokens some union prefix holds
      val batchToks = b.rows.indices.map(i => b.toks(i).filter(_ != null))
      val toks = batchToks.flatten.distinct
      val (df, storedPrefix) = storedHits(stored,
        filter(col("stoks"), t => BatchProbe.isIn(t, toks, b.tokType)),
        filter(prefix, t => BatchProbe.isIn(t, toks, b.tokType)))
      val inPrefix = storedPrefix ++ b.rows.indices.flatMap(b.prefix)
      plusBatch(df, batchToks).filter(e => inPrefix(e._1))
    }
    val sets = b.literal
    def dir(h: Column, rowContained: Boolean) = transform(firstPerRow(h), x =>
      struct(x.getField("i").as("i"), x.getField("pr").as("pr"),
        x.getField("po").as("po"), lit(rowContained).as("rc")))
    val rowCols = Seq(col("sid"), col("stoks"), col("n"))
    val na = when(col("x.rc"), col("n")).otherwise(col("o.n"))
    val nb = when(col("x.rc"), col("o.n")).otherwise(col("n"))
    val pa = when(col("x.rc"), col("x.pr")).otherwise(col("x.po"))
    val pb = when(col("x.rc"), col("x.po")).otherwise(col("x.pr"))
    val alpha = ceil(lit(threshold) * col("na") - lit(1e-9))
    val out = unionRows(spark, stored, b)
      .select(rowCols ++ Seq(
        probeHits(prefix, b.postings(b.n)).as("h1"),
        filter(probeHits(col("stoks"), b.postings(b.prefixLen)),
          _ => !col("isb")).as("h2")): _*)
      .select(rowCols :+ explode(concat(dir(col("h1"), rowContained = true),
        dir(col("h2"), rowContained = false))).as("x"): _*)
      .select(rowCols ++ Seq(col("x"), element_at(sets, col("x.i") + 1).as("o")): _*)
      .select(rowCols ++ Seq(col("o"), na.as("na"), nb.as("nb"), pa.as("pa"),
        pb.as("pb"), when(col("x.rc"), col("sid")).otherwise(col("o.sid")).as("a"),
        when(col("x.rc"), col("o.sid")).otherwise(col("sid")).as("b")): _*)
      .filter(col("a") =!= col("b") && col("nb") >= alpha &&
        least(col("na") - col("pa"), col("nb") - col("pb")) >= alpha)
      .select(col("a"), col("b"), col("na"),
        size(array_intersect(col("stoks"), col("o.stoks"))).cast("long").as("inter"))
      .select(col("a"), col("b"), col("inter"),
        round(col("inter") / col("na").cast("double"), 6).as("containment"))
      .filter(col("containment") >= threshold)
    observeCounts(out, counts, maxBucket, observeSalt)
  }

  // ---- percolated containment: compiled registry, arriving docs -------

  /** Two-level radix buckets for the compiled registry map — Spark's
    * `element_at` on MapType is a LINEAR scan (the Bm25 percolation
    * lesson, 330× measured), so one flat map over a large registry
    * vocabulary pays O(terms) per probe; bucket → inner-map cuts it to
    * ~B outer + terms/B inner comparisons.
    */
  private[graft] val ProbeBuckets = 1024

  /** Compile a containment registry (the frozen eval/benchmark sets of
    * a decontamination audit) into ONE relational row:
    * `qmap: map<bucket, map<tok, array<struct<query_id, nq>>>>` plus
    * nothing else — containment needs only each query's distinct-token
    * postings and its set size. The [[graft.operators.Bm25]]
    * percolate-table convention: registry as broadcast DATA (not plan
    * literals), probed per-row with zero joins below the ×1-row
    * broadcast, so the probe side may be a static frame or a stream.
    *
    * Eager (compilation is a build step): caps the registry at
    * `maxQueries` rows and `maxPostings` total distinct-token postings
    * (the broadcast's size), rejects null ids (the probe's segment
    * fold uses a null accumulator as its no-open-segment sentinel) and
    * empty sets (containment |A∩D|/|A| is undefined at |A| = 0).
    */
  def compileContainmentRegistry(registry: DataFrame, idCol: String,
                                 toksCol: String,
                                 maxQueries: Long = 1000000L,
                                 maxPostings: Long = 10000000L): DataFrame = {
    val sets = registry.select(col(idCol).cast("long").as("qid"),
      array_distinct(col(toksCol)).as("set"))
    val qn = sets.limit((math.min(maxQueries, Int.MaxValue - 1L) + 1L)
      .toInt).count()
    require(qn > 0 && qn <= maxQueries,
      s"compileContainmentRegistry: registry must have 1..$maxQueries " +
      s"rows, got $qn")
    val nBad = sets.filter(col("qid").isNull || size(col("set")) < 1)
      .limit(1).count()
    require(nBad == 0L,
      "compileContainmentRegistry: registry has null/non-numeric ids or " +
      "empty token sets — every registered query needs a long id and at " +
      "least one token")
    // Duplicate qids (including distinct source ids that collide after
    // the cast('long'), e.g. '1' and '01') are a loud error, not a merge:
    // duplicate-qid postings sit adjacent in the probe's qid-major
    // segment fold and silently SUM their intersection counts across
    // registry rows — containment can exceed 1.0 and alerts
    // false-fire/miss. Everywhere else stored ids are duplicate-checked
    // eagerly (appendSets, requireDisjointIds, Pq.appendVectors); the
    // registry compile is the same lifecycle boundary.
    val nDup = sets.groupBy("qid").agg(count(lit(1)).as("c"))
      .filter(col("c") > 1).limit(1).count()
    require(nDup == 0L,
      "compileContainmentRegistry: registry has duplicate query ids " +
      "(possibly distinct source ids colliding after the long cast) — " +
      "duplicate-qid postings would silently merge in the probe fold; " +
      "re-id the registry")
    val post = sets.select(col("qid"), size(col("set")).as("nq"),
      explode(col("set")).as("tok"))
    val nPost = post.limit((math.min(maxPostings, Int.MaxValue - 1L) + 1L)
      .toInt).count()
    require(nPost <= maxPostings,
      s"compileContainmentRegistry: registry has $nPost postings > " +
      s"$maxPostings — shrink the registry or raise the cap knowingly")
    foldRegistry(post.select(col("tok"), col("qid").as("query_id"),
      col("nq")))
  }

  /** (query_id, tok, nq) postings → the one-row radix-bucketed qmap —
    * shared by [[compileContainmentRegistry]] and the incremental
    * registry members below.
    */
  private def foldRegistry(post: DataFrame): DataFrame =
    post.select(col("tok"),
        struct(col("query_id"), col("nq")).as("e"))
      .groupBy("tok").agg(sort_array(collect_list(col("e"))).as("entries"))
      .groupBy(pmod(xxhash64(col("tok")), lit(ProbeBuckets.toLong))
        .cast("int").as("bucket"))
      .agg(map_from_entries(collect_list(struct(col("tok"), col("entries"))))
        .as("inner"))
      .agg(map_from_entries(collect_list(struct(col("bucket"), col("inner"))))
        .as("qmap"))

  /** Stored-registry layout marker. The RADIX BUCKET COUNT is baked
    * into the stamp: the compiled qmap's outer keys are
    * `pmod(xxhash64(tok), ProbeBuckets)` assignments frozen at compile
    * time, so a build with a different bucket count would probe the
    * wrong cells of a stored registry and silently alert on nothing —
    * that build must reject the store loudly instead.
    */
  private[graft] val RegistryFormatStamp =
    s"graft-setsimreg-v1;buckets=$ProbeBuckets"

  /** Persist a compiled containment/jaccard/doc registry under `path`
    * — compiled registries are the one stored-artifact family that was
    * rebuilt per JVM: a decontamination registry over 10⁶ eval queries
    * pays its compile (tokenize + caps + radix fold) once here and
    * every later audit process [[loadContainmentRegistry]]s the
    * one-row table in milliseconds. The probes treat the loaded frame
    * exactly like a fresh compile (same ×1-row broadcast), and the
    * maintenance members work on it unchanged.
    */
  def saveContainmentRegistry(compiled: DataFrame, path: String): Unit = {
    require(compiled.columns.contains("qmap"),
      "saveContainmentRegistry: frame has no qmap column — not a " +
      "compiled registry; build one with compileContainmentRegistry")
    Store.saveOneRow(compiled.select(col("qmap")), path, RegistryFormatStamp,
      "saveContainmentRegistry: compiled registry must be exactly one " +
      "row — this frame is not a compile output")
  }

  def loadContainmentRegistry(spark: org.apache.spark.sql.SparkSession,
                              path: String): DataFrame = {
    val m = Store.live(spark, path, s"stored registry at $path has no " +
      "manifest — not a saveContainmentRegistry table; rebuild with " +
      "compileContainmentRegistry + saveContainmentRegistry")(
      _ == RegistryFormatStamp,
      f => s"stored registry at $path has layout '$f', this build reads " +
        s"'$RegistryFormatStamp' (the radix bucket assignment is frozen at " +
        "compile time) — recompile and re-save")
    require(m.rows(Store.OneRowTable) == 1L,
      s"stored registry at $path is not exactly one row — " +
      "recompile and re-save")
    Store.table(spark, path, m, Store.OneRowTable)
  }

  /** Explode a compiled registry row back into its (query_id, tok, nq)
    * postings — registry-sized, the inverse of [[foldRegistry]]. Public
    * because audits want to ASK a compiled registry what it contains.
    */
  def registryPostings(compiled: DataFrame): DataFrame =
    compiled.select(explode(col("qmap")).as(Seq("bucket", "inner")))
      .select(explode(col("inner")).as(Seq("tok", "entries")))
      .select(col("tok"), explode(col("entries")).as("e"))
      .select(col("e.query_id").as("query_id"), col("tok"),
        col("e.nq").as("nq"))

  /** Append new queries to a COMPILED containment registry without
    * recompiling the existing ones — the daily eval-suite/takedown-list
    * update (VERDICT r14: the one-shot compile made every registry
    * change a full recompile). The stored side is exploded back to
    * postings (registry-sized — the corpus is never touched), the new
    * side compiles through [[compileContainmentRegistry]] (inheriting
    * its null/empty/duplicate guards on the BATCH), ids are checked
    * disjoint eagerly, the union is re-capped, and the fold re-runs
    * over registry-sized rows. append == recompile-over-union
    * (spec-pinned, the [[Opq.appendVectors]] convention).
    */
  def appendToContainmentRegistry(compiled: DataFrame,
                                  newRegistry: DataFrame, idCol: String,
                                  toksCol: String,
                                  maxQueries: Long = 1000000L,
                                  maxPostings: Long = 10000000L): DataFrame = {
    val newCompiled = compileContainmentRegistry(newRegistry, idCol,
      toksCol, maxQueries, maxPostings)
    val oldPost = registryPostings(compiled)
    val newPost = registryPostings(newCompiled)
    val clash = newPost.select("query_id").distinct()
      .join(oldPost.select("query_id").distinct(), Seq("query_id"),
        "left_semi")
      .limit(1).count()
    require(clash == 0L,
      "appendToContainmentRegistry: new query ids collide with compiled " +
      "ids — duplicate-qid postings would silently merge in the probe " +
      "fold; re-id the batch or recompile")
    val union = oldPost.unionByName(newPost)
    val stats = union.agg(
      countDistinct(col("query_id")).as("nq"),
      count(lit(1)).as("np")).head()
    require(stats.getLong(0) <= maxQueries,
      s"appendToContainmentRegistry: union has ${stats.getLong(0)} " +
      s"queries > $maxQueries — shrink the registry or raise the cap " +
      "knowingly")
    require(stats.getLong(1) <= maxPostings,
      s"appendToContainmentRegistry: union has ${stats.getLong(1)} " +
      s"postings > $maxPostings — shrink the registry or raise the cap " +
      "knowingly")
    foldRegistry(union)
  }

  /** Remove queries from a COMPILED containment registry by id — the
    * retraction half of the registry lifecycle. Unknown ids are a loud
    * error (the [[removeSets]] takedown-typo argument); removing every
    * query is too (an empty registry cannot alert — and
    * [[compileContainmentRegistry]] would refuse to build it). remove ==
    * recompile-over-difference (spec-pinned); removed ids stop alerting.
    *
    * @param removeIds one column of long-castable ids (any name).
    */
  def removeFromContainmentRegistry(compiled: DataFrame,
                                    removeIds: DataFrame): DataFrame = {
    val ids = removeIds.select(removeIds.columns.head).toDF("raw")
      .select(col("raw").cast("long").as("query_id"))
    require(ids.filter(col("query_id").isNull).limit(1).count() == 0L,
      "removeFromContainmentRegistry: removal list contains null or " +
      "non-numeric ids")
    val post = registryPostings(compiled)
    val missing = ids.join(post.select("query_id").distinct(),
        Seq("query_id"), "left_anti")
      .limit(1).collect()
    require(missing.isEmpty,
      s"removeFromContainmentRegistry: id " +
      s"'${missing.headOption.map(_.get(0)).orNull}' is not in the " +
      "registry — a typo'd retraction must fail loudly")
    val remaining = post.join(ids, Seq("query_id"), "left_anti")
    require(remaining.limit(1).count() == 1L,
      "removeFromContainmentRegistry: removal would empty the registry " +
      "— an empty registry cannot alert; recompile instead")
    foldRegistry(remaining)
  }

  /** Containment percolation: every (query_id, doc_id, inter,
    * containment = |A∩D|/|A| ≥ threshold) where A is a compiled
    * registry set and D an arriving doc's distinct-token set — "the
    * benchmark leaked into this training document", evaluated fully
    * IN-ROW against the ×1-row broadcast registry:
    *
    *  - the doc's distinct tokens probe the radix-bucketed map (one
    *    lookup per distinct token);
    *  - matched postings sort qid-major and ONE segment fold counts
    *    |A∩D| per query (the Bm25.percolateJoin fold with an integer
    *    accumulator — no float ever enters the fold, so there is no
    *    summation-order question at all);
    *  - alerts explode from the per-query array and threshold on
    *    inter/nq.
    *
    * The plan below the broadcast is scan → project → generate →
    * filter: stateless, so `docs` may be a Structured Streaming frame
    * (stream-static join + stateless rows = append-mode legal), the
    * [[graft.operators.Bm25.percolate]] convention for the exact-set
    * member of the decontamination family.
    */
  def containmentProbe(docs: DataFrame, compiled: DataFrame,
                       threshold: Double,
                       idCol: String = "doc_id",
                       toksCol: String = "toks"): DataFrame = {
    require(threshold > 0.0 && threshold <= 1.0,
      s"containmentProbe: threshold must be in (0,1], got $threshold")
    probeCounts(docs, compiled, idCol, toksCol)
      .select(col("query_id"), col("doc_id"), col("inter"),
        round(col("inter") / col("nq").cast("double"), 6).as("containment"))
      .filter(col("containment") >= threshold)
  }

  /** The SYMMETRIC member of the percolated family: every
    * (query_id, doc_id, inter, jaccard = |A∩D|/(|A|+|D|−|A∩D|) ≥
    * threshold) between a compiled registry set and an arriving doc —
    * streaming near-duplicate alerts against a frozen catalogue
    * (takedown lists, canonical-document registries), where
    * [[containmentProbe]] is the leak detector. Shares the in-row
    * machinery verbatim: |D| is the doc's own distinct-token count
    * (computed in the same row), |A| rides each posting, the
    * intersection count comes from the one integer segment fold —
    * still no float anywhere before the final division, so the SQL
    * oracle replays it exactly. Same stateless plan ⇒ same
    * stream-static append-mode legality.
    */
  def jaccardProbe(docs: DataFrame, compiled: DataFrame,
                   threshold: Double,
                   idCol: String = "doc_id",
                   toksCol: String = "toks"): DataFrame = {
    require(threshold > 0.0 && threshold <= 1.0,
      s"jaccardProbe: threshold must be in (0,1], got $threshold")
    probeCounts(docs, compiled, idCol, toksCol)
      .select(col("query_id"), col("doc_id"), col("inter"),
        round(col("inter") /
          (col("nq") + col("ndoc") - col("inter")).cast("double"), 6)
          .as("jaccard"))
      .filter(col("jaccard") >= threshold)
  }

  /** The REVERSE containment direction: every (query_id, doc_id,
    * inter, containment = |A∩D|/|D| ≥ threshold) — "the arriving doc
    * is mostly made of registry item A" (boilerplate/template/quote
    * reuse detection against a frozen catalogue), where
    * [[containmentProbe]]'s |A∩D|/|A| is the leak detector. Same
    * machinery, the division runs over the doc's own distinct count.
    */
  def docContainmentProbe(docs: DataFrame, compiled: DataFrame,
                          threshold: Double,
                          idCol: String = "doc_id",
                          toksCol: String = "toks"): DataFrame = {
    require(threshold > 0.0 && threshold <= 1.0,
      s"docContainmentProbe: threshold must be in (0,1], got $threshold")
    probeCounts(docs, compiled, idCol, toksCol)
      .select(col("query_id"), col("doc_id"), col("inter"),
        round(col("inter") / col("ndoc").cast("double"), 6)
          .as("containment"))
      .filter(col("containment") >= threshold)
  }

  /** Shared probe core: (query_id, doc_id, inter, nq, ndoc) rows for
    * every registry set with a nonzero intersection against each doc —
    * one radix-map lookup per distinct doc token, one qid-major
    * integer segment fold, stateless below the ×1-row broadcast.
    */
  private def probeCounts(docs: DataFrame, compiled: DataFrame,
                          idCol: String, toksCol: String): DataFrame = {
    val noEntries = array().cast(
      "array<struct<query_id:bigint,nq:int>>")
    // try_element_at, not element_at: almost every probed doc token is
    // ABSENT from the registry map, and under spark.sql.ansi.enabled
    // element_at raises MAP_KEY_DOES_NOT_EXIST on a miss — the probe
    // must not depend on the session pinning ansi=false. try_element_at
    // yields null on a miss under both regimes; the coalesce handles it.
    val matches = flatten(transform(col("dtoks"), t =>
      coalesce(try_element_at(
        try_element_at(col("qmap"),
          pmod(xxhash64(t), lit(ProbeBuckets.toLong)).cast("int")), t),
        noEntries)))
    // qid-major segment fold, integer count accumulator
    val noPairs =
      array().cast("array<struct<query_id:bigint,inter:bigint,nq:int>>")
    def closed(acc: Column) = concat(acc.getField("res"),
      array(struct(acc.getField("cq").as("query_id"),
        acc.getField("cn").as("inter"), acc.getField("cnq").as("nq"))))
    val folded = aggregate(
      array_sort(col("m")),
      struct(noPairs.as("res"), lit(null).cast("bigint").as("cq"),
        lit(0L).as("cn"), lit(0).as("cnq")),
      (acc, e) =>
        when(acc.getField("cq").isNull,
          struct(acc.getField("res").as("res"),
            e.getField("query_id").as("cq"), lit(1L).as("cn"),
            e.getField("nq").as("cnq")))
        .when(e.getField("query_id") === acc.getField("cq"),
          struct(acc.getField("res").as("res"),
            acc.getField("cq").as("cq"),
            (acc.getField("cn") + 1L).as("cn"),
            acc.getField("cnq").as("cnq")))
        .otherwise(
          struct(closed(acc).as("res"), e.getField("query_id").as("cq"),
            lit(1L).as("cn"), e.getField("nq").as("cnq"))),
      acc => when(acc.getField("cq").isNull, acc.getField("res"))
        .otherwise(closed(acc)))
    docs.filter(size(col(toksCol)) >= 1)
      .select(col(idCol).as("doc_id"),
        array_distinct(col(toksCol)).as("dtoks"))
      .crossJoin(broadcast(compiled))
      .select(col("doc_id"), size(col("dtoks")).as("ndoc"), matches.as("m"))
      .select(col("doc_id"), col("ndoc"), explode(folded).as("p"))
      .select(col("p.query_id").as("query_id"), col("doc_id"),
        col("p.inter").as("inter"), col("p.nq").as("nq"), col("ndoc"))
  }

  /** Every DIRECTED pair (a, b, inter, containment = |A∩B|/|A| ≥ t)
    * the BATCH introduces against a stored corpus — the
    * DECONTAMINATION AUDIT shape: a frozen registry's sets live under
    * `path` ([[saveSets]]) and each arriving crawl batch is checked
    * both ways (a registry item contained in an arriving doc = the
    * benchmark leaked into training data; an arriving doc contained in
    * a stored doc = boilerplate/quote reuse), recall 1.0, exact.
    * Pairs wholly inside the stored corpus are prior audits' output
    * and are not re-emitted: incremental ∪ prior == rebuild over
    * stored ∪ batch (spec-pinned — containment values are
    * set-intersection facts, independent of the value-vs-rarity sort
    * order the two paths use for candidate generation).
    *
    * Candidate generation is the [[containmentPairs]] mathematics on
    * value-order prefixes (any fixed total order supports the prefix +
    * positional argument; a doc's value-order prefix depends only on
    * the doc itself, so stored prefixes never go stale), restricted to
    * pairs touching the batch:
    *
    *  - contained ∈ union × container ∈ BATCH (everything an arriving
    *    doc newly contains, incl. batch-internal pairs);
    *  - contained ∈ BATCH × container ∈ STORED (arriving docs inside
    *    prior corpus members).
    *
    * Both container sides are Bloom-pruned against the matching
    * contained-side prefix tokens before their exchange — the second
    * branch is the scale story: the STORED corpus' instance rows are
    * pruned by the (small) batch's prefix-token Bloom, so each audit
    * touches the store in proportion to the batch, not the archive.
    * A batch within the broadcast bound takes the batch-probe route
    * instead, as [[incrementalJaccardPairs]] does.
    */
  def incrementalContainmentPairs(spark: org.apache.spark.sql.SparkSession,
                                  path: String, newDocs: DataFrame,
                                  idCol: String, toksCol: String,
                                  threshold: Double,
                                  maxBucket: Int = 10000,
                                  hotBucketSalt: Int = -1,
                                  observeSalt: Option[String] = None): DataFrame = {
    require(threshold > 0.0 && threshold <= 1.0,
      s"incrementalContainmentPairs: threshold must be in (0,1], got " +
        s"$threshold")
    val m = setsManifest(spark, path)
    collectSetsBatch(m, newDocs, idCol, toksCol, threshold) match {
      case Some(b) =>
        containmentBatchProbe(spark, path, m, b, threshold, maxBucket,
          hotBucketSalt, observeSalt)
      case None =>
        incrementalContainmentExchange(spark, path, newDocs, idCol, toksCol,
          threshold, maxBucket, hotBucketSalt, observeSalt)
    }
  }

  /** [[incrementalContainmentPairs]] above the broadcast bound: both
    * candidate branches meet the batch in exchanges. */
  private def incrementalContainmentExchange(
      spark: org.apache.spark.sql.SparkSession, path: String,
      newDocs: DataFrame, idCol: String, toksCol: String, threshold: Double,
      maxBucket: Int, hotBucketSalt: Int,
      observeSalt: Option[String]): DataFrame = {
    val batchCut = graft.plans.Lineage.cut(
      orderedSetsRaw(newDocs, idCol, toksCol))
    val (stored0, bRows, bToks) = loadSetsWithBatchStats(spark, path,
      batchCut, "incrementalContainmentPairs")
    // the stored side IS lineage-cut here (measured r19: warm gate
    // 3.9-4.4 s with the cut vs 4.9-5.4 without — union, branch 2's
    // full-instance side, and the fetch all re-read it, and the block
    // reads beat three more parquet scans of the archive)
    val stored = graft.plans.Lineage.cut(stored0)
    val batch = batchCut.filter(col("n") >= 1)
    val union = graft.plans.Lineage.cut(stored.unionByName(batch))
    def prefixes(ranked: DataFrame) = ranked.select(col("sid"), col("n"),
      posexplode(slice(col("stoks"), lit(1), prefixLen(col("n"), threshold)))
        .as(Seq("pos", "tok")))
    def fullInst(ranked: DataFrame) = ranked.select(col("sid"), col("n"),
      posexplode(col("stoks")).as(Seq("pos", "tok")))
    // value-order prefixes are per-doc facts, so prefixes(union) ⊇
    // prefixes(batch) exactly — one frame serves both the candidate
    // branches and the skew guard
    val prefAll = prefixes(union)
    val prefBatch = prefixes(batch)
    // skew guard on prefix-token corpus df (the containmentPairs
    // contract): per-token candidate volume is the token's df in the
    // container corpus. The guard join is exact (a Bloom's false
    // positives must not raise the loud cap) — but the df count and
    // the prefix-token distinct are restricted to BATCH-relevant
    // tokens via a broadcast semi-join (VERDICT r16 #2, measured: the
    // unrestricted full-instance explode + groupBy shuffled 167 MB at
    // a 32× archive for a 500-row batch; every candidate join here
    // keys on a token the batch carries, so only those buckets need
    // counting, and surviving tokens keep their full union df — the
    // semi-join drops whole buckets, never rows within one). Same
    // documented relaxation as incrementalJaccardPairs: a hot token
    // the batch never touches no longer trips the salt-off abort.
    val batchTokSet = batch.select(explode(col("stoks")).as("tok"))
      .distinct()
    val dfreq = union.select(col("sid"), explode(col("stoks")).as("tok"))
      .join(broadcast(batchTokSet), Seq("tok"), "left_semi")
      .groupBy("tok").agg(count(lit(1)).as("df"))
    val prefDf = prefAll
      .join(broadcast(batchTokSet), Seq("tok"), "left_semi")
      .select(col("tok")).distinct()
      .join(dfreq, Seq("tok"))
    val guardCap = saltedGuardCap(maxBucket, hotBucketSalt)
    val chk = observeSaltEvents(prefDf, "df", maxBucket, observeSalt)
      .agg(max_by(struct(col("tok"), col("df")), col("df")).as("w"))
      .select(
        when(coalesce(col("w.df"), lit(0L)) > guardCap,
          raise_error(concat(lit("incrementalContainmentPairs: prefix " +
            "token '"), col("w.tok"), lit("' has corpus df "), col("w.df"),
            lit(" " + guardAdvice(hotBucketSalt, guardCap)))))
          .otherwise(lit(1)).as("guard_ok"))
    // hot set for the salted split: prefix tokens whose UNION-corpus df
    // exceeds maxBucket — the same measure the guard caps (per-token
    // candidate volume ≤ prefix-rows × df ≤ df²), vocab-derived and
    // broadcast-tiny by construction
    val hot =
      if (hotBucketSalt == 0) None
      else Some(prefDf.filter(col("df") > maxBucket).select(col("tok"),
        saltFor(col("df"), maxBucket, hotBucketSalt).as("s")))
    // Each branch Bloom-prunes BOTH inputs before their exchange (no
    // false negatives; survivors die in the equi-join / exact verify):
    // the container side against the contained side's prefix tokens
    // (the containmentPairs treatment), and an archive-sized contained
    // side against the BATCH's tokens — so branch 1's union-wide
    // prefix exchange ships only rows that can meet an arriving doc.
    // Branch 2's contained side is already batch-sized (no prune).
    // ADAPTIVE on batch stats (the incrementalJaccardPairs rule): when
    // the batch's slim instance rows fit the broadcast threshold, both
    // branches broadcast their batch-sized input, no archive exchange
    // exists, and every Bloom is measured pure overhead (+1.5–2 s on
    // the gate corpus, BASELINE.md *Adaptive Bloom pruning across the
    // set-similarity family*) — engage only above it. The
    // batch stats came from the fused disjoint-check job above, which
    // also materialized the batch checkpoint the main query reuses.
    val batchSlimBytes = 24L * (bRows + bToks)
    val bThr = spark.sessionState.conf.autoBroadcastJoinThreshold
    val fitsBroadcast = bThr >= 0 && batchSlimBytes <= bThr
    def bloomPrune(df: DataFrame, tokens: DataFrame): DataFrame =
      if (!fitsBroadcast)
        df.where(BloomJoin.mightContain(
          BloomJoin.bloomOf(tokens.select(col("tok")), "tok", BloomItems),
          col("tok")))
      else df
    // Below the threshold the batch-derived join input must BROADCAST
    // — the checkpointed batch has no Catalyst stats, so the planner
    // can't see that it is small (measured: without the hint the
    // candidate join degraded to a shuffle join and the gate read ~2×
    // its floor). We just computed the true size; the hint is stated
    // inside [[saltedTokenJoin]] on the COLD branch only (a replicated
    // hot side is exactly what must not broadcast).
    def candBranch(a: DataFrame, b: DataFrame,
                   hintA: Boolean, hintB: Boolean): DataFrame = {
      val alpha = ceil(lit(threshold) * col("na") - lit(1e-9))
      saltedTokenJoin(a, b, hot, hintA, hintB)
        .filter(col("a") =!= col("b"))
        .groupBy(col("a"), col("b"), col("na"), col("nb"))
        .agg(min(col("pa")).as("pa"), min(col("pb")).as("pb"))
        .filter(col("nb") >= alpha &&
          least(col("na") - col("pa"), col("nb") - col("pb")) >= alpha)
        // nb rides along solely for the fetch's measured array-volume
        // bound (the containment score needs only na)
        .select(col("a"), col("b"), col("na"), col("nb"))
    }
    def aSide(pref: DataFrame) = pref.select(col("tok"),
      col("sid").as("a"), col("n").as("na"), col("pos").as("pa"))
    def bSide(full: DataFrame) = full.select(col("tok"),
      col("sid").as("b"), col("n").as("nb"), col("pos").as("pb"))
    val batchToks = batch.select(explode(col("stoks")).as("tok"))
    val branch1 = candBranch(
      aSide(bloomPrune(prefAll, batchToks)),
      bSide(bloomPrune(fullInst(batch), prefAll)),
      hintA = false, hintB = fitsBroadcast)
    val branch2 = candBranch(
      aSide(prefBatch),
      bSide(bloomPrune(fullInst(stored), prefBatch)),
      hintA = fitsBroadcast, hintB = false)
    val candIds = branch1.unionByName(branch2)
      .dropDuplicates("a", "b")
    // size-conditioned tiny-side hints at both fetch joins — the
    // [[fetchCandidateArrays]] contract (unhinted = archive shuffle;
    // unconditional hint = driver hazard on large batches)
    val cand = fetchCandidateArrays(spark, candIds, union,
        "incrementalContainmentPairs")
      .crossJoin(broadcast(chk))
    cand.select(col("a"), col("b"), col("na"),
        (size(array_intersect(col("ta"), col("tb"))).cast("long") *
          col("guard_ok").cast("long")).as("inter"))
      .select(col("a"), col("b"), col("inter"),
        round(col("inter") / col("na").cast("double"), 6).as("containment"))
      .filter(col("containment") >= threshold)
  }
}
