package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.store.{Manifest, Store}

/** Mergeable cardinality sketches for incremental corpus statistics —
  * the shard-resumable counterpart of `COUNT(DISTINCT …)`. At 100 TB a
  * corpus-wide distinct count is a full-scan shuffle every time it is
  * asked; the sketch shape computes one KB-sized HLL state PER SHARD
  * once (map-side partial agg, one row per shard), stores it next to
  * the shard, and answers corpus-wide (or any shard-subset) questions
  * later by UNIONING states — no rescan, associative, idempotent, the
  * same pattern as [[Dedup.saveSignatureStore]]'s stored signatures.
  *
  * Built on Spark's native Apache DataSketches HLL functions
  * (`hll_sketch_agg` / `hll_union_agg` / `hll_sketch_estimate`,
  * Spark 3.5+) — codegen'd aggregates, not UDFs. Error at the default
  * lgConfigK=12 is ~1.6% RSE; both the per-shard estimates and the
  * merged estimate are deterministic for a fixed input (the sketch is
  * content-hashed, not sampled).
  */
object SketchStats {

  // ---- stored-state lifecycle ----------------------------------------
  // The whole point of a mergeable sketch is that the state OUTLIVES the
  // pass that built it: per-shard rows land in a manifest-committed
  // store ([[graft.store.Store]]) next to the shard, and every later
  // question is answered from that store — never by rescanning the
  // corpus. saveStates/appendStates/loadStates make the lifecycle
  // literal; the q_*_stored gates drive it end-to-end (build → write →
  // read → answer, with the answer oracled).

  /** Serialized-layout version of the binary state columns this file
    * writes (DataSketches theta/KLL/FI images, Spark HLL/CMS states,
    * the KMV row shape). States are only mergeable WITHIN one format:
    * a stored table re-read by a build whose sketch layout changed
    * would mis-merge silently, so the version rides in the store's
    * format stamp and a load refuses any other. Bump whenever any
    * `shard*` builder's serialization, seed, or library layout
    * changes, and rebuild stored tables through [[saveStates]].
    */
  val sketchFormatVersion: Int = 1

  private val statesStamp = s"graft-sketch-v$sketchFormatVersion"
  private val States = "states"

  /** Persist a shard-states frame (any of this file's `shard*` shapes —
    * the binary state column round-trips through parquet unchanged) as
    * a store stamped with [[sketchFormatVersion]], replacing whatever
    * `path` held. The first column is the shard key.
    */
  def saveStates(states: DataFrame, path: String): Unit =
    Store.save(states.sparkSession, path, statesStamp,
      Seq((States, states, Some(states.columns.head))))

  /** Append new shard states to an existing [[saveStates]] store — the
    * incremental half of the lifecycle (yesterday's states untouched,
    * today's shard added as a new file-set in one commit). A shard key
    * that is already stored is refused: merging would count that shard
    * twice.
    */
  def appendStates(states: DataFrame, path: String): Unit = {
    val spark = states.sparkSession
    val m = statesManifest(spark, path)
    Store.append(spark, path, m, States, states, m.schemas(States).fieldNames.head,
      s"appendStates: new shard keys collide with stored shards at $path — " +
        "a merge would count them twice; append only new shards or rebuild " +
        "with SketchStats.saveStates")
  }

  private def statesManifest(spark: org.apache.spark.sql.SparkSession,
                             path: String): Manifest =
    Store.live(spark, path, s"stored sketch-state table at $path has no " +
      "manifest — it was not written by SketchStats.saveStates (or by a " +
      "pre-manifest build); rebuild it with SketchStats.saveStates")(
      _ == statesStamp,
      f => s"stored sketch-state table at $path has format '$f', but this " +
        s"build reads '$statesStamp' — binary states are not mergeable " +
        "across formats (a stale table mis-merges silently); rebuild it " +
        "with SketchStats.saveStates")

  /** Read back a shard-states store written by [[saveStates]] /
    * [[appendStates]]: the format is checked from the manifest (no
    * job), so a missing or foreign stamp is refused before any state
    * is merged.
    */
  def loadStates(spark: org.apache.spark.sql.SparkSession,
                 path: String): DataFrame =
    Store.table(spark, path, statesManifest(spark, path), States)

  /** One row per shard: `shardCol, n_rows, sketch` (binary HLL state of
    * the key column). The ONE corpus-sized pass; everything after works
    * on |shards| rows.
    */
  def shardSketches(df: DataFrame, shardCol: String, keyCol: String,
                    lgConfigK: Int = 12): DataFrame =
    df.groupBy(col(shardCol))
      .agg(count(lit(1)).as("n_rows"),
           hll_sketch_agg(col(keyCol), lit(lgConfigK)).as("sketch"))

  /** Distinct-count estimate per shard from stored sketches. */
  def shardEstimates(sketches: DataFrame, shardCol: String): DataFrame =
    sketches.select(col(shardCol), col("n_rows"),
      hll_sketch_estimate(col("sketch")).as("est_distinct"))

  /** Corpus-wide estimate by MERGING stored shard states — no rescan.
    * Returns one row: `est_distinct`.
    */
  def mergedEstimate(sketches: DataFrame): DataFrame =
    sketches.agg(
      hll_sketch_estimate(hll_union_agg(col("sketch"))).as("est_distinct"))

  // ---- Count-Min heavy hitters (frequency, not cardinality) ----------

  /** One row per shard: `shardCol, n_items, cms` — a Count-Min sketch
    * (binary) of the value column at (eps, confidence), FIXED seed so
    * the state is content-determined. Same store-and-merge lifecycle as
    * the HLL sketches: per-shard pass once, frequency questions later.
    */
  def shardCms(df: DataFrame, shardCol: String, valueCol: String,
               eps: Double = 0.001, confidence: Double = 0.99,
               seed: Int = 42): DataFrame =
    df.groupBy(col(shardCol))
      .agg(count(lit(1)).as("n_items"),
           count_min_sketch(col(valueCol), lit(eps), lit(confidence),
             lit(seed)).as("cms"))

  /** Merge stored shard CMS states on the driver (the artifact is KBs
    * per shard and the shard count is operator-bounded — the same
    * driver-side-is-scale-safe argument as [[Bpe.trainFast]]'s vocab
    * table) and return the merged sketch for point queries.
    */
  def mergedCms(sketches: DataFrame,
                maxShards: Int = 100000): org.apache.spark.util.sketch.CountMinSketch = {
    val rows = sketches.select(col("cms")).limit(maxShards + 1).collect()
    require(rows.length <= maxShards,
      s"mergedCms: more than $maxShards shard sketches — merge in stages")
    require(rows.nonEmpty, "mergedCms: no shard sketches")
    val first = org.apache.spark.util.sketch.CountMinSketch.readFrom(
      new java.io.ByteArrayInputStream(rows.head.getAs[Array[Byte]](0)))
    rows.tail.foldLeft(first) { (acc, r) =>
      acc.mergeInPlace(org.apache.spark.util.sketch.CountMinSketch.readFrom(
        new java.io.ByteArrayInputStream(r.getAs[Array[Byte]](0))))
    }
  }

  // ---- Theta sketches (set ALGEBRA, not just cardinality) ------------
  // HLL answers |A|; theta states additionally support |A ∩ B| and
  // |A \ B| across independently-built shard sketches — "how much does
  // this crawl snapshot overlap last month's" without ever joining the
  // two corpora. Built on the DataSketches theta library Spark already
  // bundles for its HLL functions. Below `nominalEntries` distinct keys
  // a theta sketch is in EXACT mode (no sampling — the estimate IS the
  // count, deterministically); beyond it the same code degrades to
  // ~1/√k error estimates.

  import org.apache.datasketches.theta.{SetOperation, Sketch, Sketches, UpdateSketch}
  import org.apache.datasketches.memory.Memory

  /** One (shardCol, theta) row per shard: per-PARTITION sketches built
    * imperatively (the one mapPartitions in this file — the sketch is
    * external mutable state no expression can host), then per-shard
    * union via a bounded typed mapGroups (rows per group ≤ input
    * partitions).
    */
  def shardThetaSketches(df: DataFrame, shardCol: String, valueCol: String,
                         nominalEntries: Int = 1 << 14): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    val parts = df.select(col(shardCol).cast("string"),
        col(valueCol).cast("string"))
      .as[(String, String)]
      .mapPartitions { it =>
        val sketches = scala.collection.mutable.HashMap
          .empty[String, UpdateSketch]
        it.foreach { case (s, v) =>
          if (v != null) sketches.getOrElseUpdate(s, UpdateSketch.builder()
            .setNominalEntries(nominalEntries).build()).update(v)
        }
        sketches.iterator.map { case (s, sk) =>
          (s, sk.compact().toByteArray)
        }
      }
    parts.groupByKey(_._1)
      .mapGroups { (shard, it) =>
        val u = SetOperation.builder()
          .setNominalEntries(nominalEntries).buildUnion()
        it.foreach { case (_, bytes) =>
          u.union(Sketches.wrapSketch(Memory.wrap(bytes)))
        }
        (shard, u.getResult.toByteArray)
      }
      .toDF(shardCol, "theta")
  }

  /** Estimate from one stored theta image (exact below the sketch's
    * nominal entries — the estimate IS the distinct count).
    */
  def thetaEstimate(bytes: Array[Byte]): Double =
    Sketches.wrapSketch(Memory.wrap(bytes)).getEstimate

  /** Driver-side set algebra over two stored theta states. */
  def thetaSetOps(a: Array[Byte], b: Array[Byte],
                  nominalEntries: Int = 1 << 14): ThetaSetOps = {
    val sa = Sketches.wrapSketch(Memory.wrap(a))
    val sb = Sketches.wrapSketch(Memory.wrap(b))
    val u = SetOperation.builder().setNominalEntries(nominalEntries)
      .buildUnion()
    u.union(sa); u.union(sb)
    val i = SetOperation.builder().setNominalEntries(nominalEntries)
      .buildIntersection()
    i.intersect(sa); i.intersect(sb)
    val d = SetOperation.builder().buildANotB()
      .aNotB(sa, sb)
    ThetaSetOps(sa.getEstimate, sb.getEstimate,
      u.getResult.getEstimate, i.getResult.getEstimate, d.getEstimate)
  }

  final case class ThetaSetOps(estA: Double, estB: Double, estUnion: Double,
                               estIntersect: Double, estANotB: Double)

  // ---- KLL quantile sketches (rank statistics, mergeable) ------------
  // The fourth member of the mergeable-sketch family: HLL answers
  // "how many distinct", CMS "how often", theta "how much overlap" —
  // KLL answers "what does the DISTRIBUTION look like" (medians, tail
  // percentiles of doc length / token count / quality score) from the
  // same store-per-shard-once, merge-states-later lifecycle. Below k
  // retained values a KLL sketch has never compacted
  // (`isEstimationMode == false`): quantile queries are EXACT and
  // deterministic, and merging exact sketches whose combined n ≤ k
  // stays exact — the q_theta_setops pattern. Beyond k the same code
  // degrades to ~1.65%-rank-error estimates (k=200, 99% conf; error
  // ∝ 1/k^0.93, Karnin-Lang-Liberty 2016) — spec-pinned, since the
  // compaction coin-flips make estimating-mode output nondeterministic
  // (why the GATE stays in exact mode: cross-engine hash compares need
  // determinism; at 100 TB the estimate envelope is what you use).

  import org.apache.datasketches.kll.KllDoublesSketch

  /** One row per shard: `shardCol, n_values, kll` (binary KLL state of
    * the value column at parameter k). Per-partition sketches built
    * imperatively (mutable external state, the theta shape), then
    * per-shard merge via bounded typed mapGroups.
    */
  def shardKll(df: DataFrame, shardCol: String, valueCol: String,
               k: Int = 200): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    val parts = df.select(col(shardCol).cast("string"),
        col(valueCol).cast("double"))
      .as[(String, Option[Double])]
      .mapPartitions { it =>
        val sketches = scala.collection.mutable.HashMap
          .empty[String, KllDoublesSketch]
        it.foreach { case (s, v) =>
          v.foreach(sketches.getOrElseUpdate(s,
            KllDoublesSketch.newHeapInstance(k)).update(_))
        }
        sketches.iterator.map { case (s, sk) => (s, sk.getN, sk.toByteArray) }
      }
    parts.groupByKey(_._1)
      .mapGroups { (shard, it) =>
        val m = KllDoublesSketch.newHeapInstance(k)
        var n = 0L
        it.foreach { case (_, pn, bytes) =>
          n += pn
          m.merge(KllDoublesSketch.heapify(Memory.wrap(bytes)))
        }
        (shard, n, m.toByteArray)
      }
      .toDF(shardCol, "n_values", "kll")
  }

  /** Quantiles at `ranks` from one stored KLL state (INCLUSIVE search:
    * smallest value whose cumulative weight fraction ≥ rank — the
    * `percentile_disc` definition, so exact-mode results match SQL
    * byte-for-byte).
    */
  def kllQuantiles(bytes: Array[Byte], ranks: Seq[Double]): Seq[Double] = {
    val sk = KllDoublesSketch.heapify(Memory.wrap(bytes))
    ranks.map(sk.getQuantile)
  }

  /** Driver-side merge of stored shard KLL states (KBs per shard,
    * shard count operator-bounded — the [[mergedCms]] argument).
    */
  def mergedKll(sketches: DataFrame, k: Int = 200,
                maxShards: Int = 100000): KllDoublesSketch = {
    val rows = sketches.select(col("kll")).limit(maxShards + 1).collect()
    require(rows.length <= maxShards,
      s"mergedKll: more than $maxShards shard sketches — merge in stages")
    require(rows.nonEmpty, "mergedKll: no shard sketches")
    val m = KllDoublesSketch.newHeapInstance(k)
    rows.foreach { r =>
      m.merge(KllDoublesSketch.heapify(
        Memory.wrap(r.getAs[Array[Byte]](0))))
    }
    m
  }

  // ---- Bottom-k (KMV) sketches — DETERMINISTIC mergeable sampling ----
  // The fifth member of the mergeable-sketch family answers "show me a
  // REPRESENTATIVE HANDFUL" (and, for free, "how many distinct" — the
  // k-minimum-values estimator, Bar-Yossef et al. 2002). Unlike
  // reservoir sampling (per-task RNG ⇒ retry/order-dependent) the
  // bottom-k of a content hash is a PURE FUNCTION of the key set:
  // retry-stable, repartition-stable, and — unique among this file's
  // sketches — EXACTLY replayable in the SQL oracle, estimation mode
  // included (HLL/CMS/theta/KLL gates must pin envelopes or stay in
  // exact mode; KMV's "estimate" is deterministic md5 arithmetic).
  // Merge = union of shard states → re-take bottom k; the merged state
  // equals the direct global sketch by construction (the k smallest of
  // a union are among the k smallest of each part).
  //
  // 100 TB shape: one (shard,key)-distinct shuffle, then a per-shard
  // top-k window that Spark 3.5+ rewrites to WindowGroupLimit
  // (per-partition bottom-k BEFORE the sort boundary — no full shard
  // sort materializes). Merging consumes |shards|·k rows, driver-scale.

  /** Uniform-in-(0,1) content hash: first 8 md5 hex digits (the
    * [[Sampling.weightedKey]] primitive — replays exactly in DuckDB as
    * `(('0x' || substr(md5(key || ':salt'), 1, 8))::BIGINT + 0.5) /
    * 4294967296.0`).
    */
  def uniformHash(key: Column, salt: String): Column = {
    val hex8 = substring(md5(concat(key.cast("string"), lit(":" + salt))), 1, 8)
    (conv(hex8, 16, 10).cast("double") + 0.5) / 4294967296.0
  }

  /** One bottom-k state per shard: `(shardCol, rk, hk, key)`, rk in
    * [1, k] ascending by hash. k rows per shard — the stored artifact.
    */
  def shardBottomK(df: DataFrame, shardCol: String, keyCol: String,
                   k: Int, salt: String = "kmv"): DataFrame = {
    require(k >= 2, s"shardBottomK: k=$k (KMV needs k ≥ 2)")
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col(shardCol)).orderBy(asc("hk"), asc("key"))
    df.select(col(shardCol), col(keyCol).cast("string").as("key"))
      .distinct()
      .withColumn("hk", uniformHash(col("key"), salt))
      .withColumn("rk", row_number().over(w))
      .filter(col("rk") <= k)
      .select(col(shardCol), col("rk"), col("hk"), col("key"))
  }

  /** Global bottom-k from stored shard states — no corpus rescan. The
    * unpartitioned window consumes the |shards|·k-row states frame
    * (the Packing-totals argument), never the corpus. Keys are
    * re-distincted first: shards that are not a partition of the key
    * space may retain the same key twice.
    */
  def mergedBottomK(states: DataFrame, k: Int): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .orderBy(asc("hk"), asc("key"))
    states.select(col("hk"), col("key")).distinct()
      .withColumn("rk", row_number().over(w))
      .filter(col("rk") <= k)
  }

  /** KMV distinct estimate from a bottom-k state (one already-grouped
    * row set): exact count when the state holds < k values (nothing
    * was discarded), else (k-1) / h_k. Returns `(n_state, est)` as a
    * one-row frame.
    */
  def kmvEstimate(state: DataFrame, k: Int): DataFrame =
    state.agg(count(lit(1)).as("n_state"), max(col("hk")).as("hk_max"))
      .select(col("n_state"),
        when(col("n_state") < k, col("n_state").cast("double"))
          .otherwise(lit((k - 1).toDouble) / col("hk_max")).as("est"))

  // ---- frequent-items sketches (WHICH items are heavy) ---------------
  // The sixth family member closes the frequency story: CMS
  // ([[shardCms]]) answers "how often is THIS key" but needs the key
  // list from somewhere; a frequent-items sketch (DataSketches
  // ItemsSketch, the Misra-Gries/Space-Saving lineage) surfaces the
  // heavy hitters FROM THE STATE ALONE — per-shard KB states once,
  // "top tokens corpus-wide" later with no rescan and no candidate
  // list. Below ~0.75·maxMapSize distinct items the sketch never
  // purges: counts are EXACT and insertion-order independent (the
  // gate's mode — cross-engine hash compares need determinism); beyond
  // that, purges subtract medians and per-item error is bounded by
  // `getMaximumError` with [lb, ub] brackets (spec-pinned — purge
  // timing makes estimating-mode output order-dependent, exactly the
  // theta/KLL contract split).

  import org.apache.datasketches.frequencies.{ErrorType, ItemsSketch}
  import org.apache.datasketches.common.ArrayOfStringsSerDe

  private val stringSerDe = new ArrayOfStringsSerDe

  /** One `(shardCol, n_items, fi)` row per shard: binary ItemsSketch
    * state of the value column. Per-partition sketches imperatively
    * (mutable external state — the theta shape), then per-shard merge
    * in bounded typed mapGroups.
    */
  def shardFreqItems(df: DataFrame, shardCol: String, valueCol: String,
                     maxMapSize: Int = 1024): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    val parts = df.select(col(shardCol).cast("string"),
        col(valueCol).cast("string"))
      .as[(String, String)]
      .mapPartitions { it =>
        val sketches = scala.collection.mutable.HashMap
          .empty[String, ItemsSketch[String]]
        val counts = scala.collection.mutable.HashMap.empty[String, Long]
        it.foreach { case (s, v) =>
          if (v != null) {
            sketches.getOrElseUpdate(s,
              new ItemsSketch[String](maxMapSize)).update(v)
            counts.update(s, counts.getOrElse(s, 0L) + 1L)
          }
        }
        sketches.iterator.map { case (s, sk) =>
          (s, counts(s), sk.toByteArray(stringSerDe))
        }
      }
    parts.groupByKey(_._1)
      .mapGroups { (shard, it) =>
        val m = new ItemsSketch[String](maxMapSize)
        var n = 0L
        it.foreach { case (_, pn, bytes) =>
          n += pn
          m.merge(ItemsSketch.getInstance(Memory.wrap(bytes), stringSerDe))
        }
        (shard, n, m.toByteArray(stringSerDe))
      }
      .toDF(shardCol, "n_items", "fi")
  }

  /** Driver-side merge of stored shard states (KBs per shard, shard
    * count operator-bounded — the [[mergedCms]] argument).
    */
  def mergedFreqItems(sketches: DataFrame, maxMapSize: Int = 1024,
                      maxShards: Int = 100000): ItemsSketch[String] = {
    val rows = sketches.select(col("fi")).limit(maxShards + 1).collect()
    require(rows.length <= maxShards,
      s"mergedFreqItems: more than $maxShards shard sketches — merge in stages")
    require(rows.nonEmpty, "mergedFreqItems: no shard sketches")
    val m = new ItemsSketch[String](maxMapSize)
    rows.foreach { r =>
      m.merge(ItemsSketch.getInstance(
        Memory.wrap(r.getAs[Array[Byte]](0)), stringSerDe))
    }
    m
  }

  /** Heavy hitters from a (possibly merged) state: `(item, est, lb,
    * ub)` descending by estimate, then item — deterministic ONLY in
    * exact mode (`getMaximumError == 0`), which callers that feed hash
    * gates must require.
    */
  def frequentItems(sk: ItemsSketch[String]): Seq[(String, Long, Long, Long)] =
    sk.getFrequentItems(ErrorType.NO_FALSE_NEGATIVES).toSeq
      .map(r => (r.getItem, r.getEstimate, r.getLowerBound, r.getUpperBound))
      .sortBy { case (item, est, _, _) => (-est, item) }
}
