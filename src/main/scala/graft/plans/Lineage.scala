package graft.plans

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.storage.StorageLevel

/** Bytes-targeted widths for materialization (lineage-cut) boundaries.
  *
  * Checkpoint/persist boundaries FREEZE their partition count: the
  * materialized RDD keeps whatever width the plan above produced —
  * usually `spark.sql.shuffle.partitions` — and every post-checkpoint
  * stage inherits it, BELOW the reach of AQE's shuffle coalescing
  * (measured: `coalescePartitions.parallelismFirst=false` does NOT
  * recover it — BASELINE.md round-10 shuffle-tax adjudication, A/C =
  * 1.66× at shuffle=128 on `q_llm_data_pipeline`). A pipeline run under
  * a mis-sized cluster config pays per-task scheduling floors on every
  * small post-checkpoint stage, silently.
  *
  * The fix is to make the boundary SELF-SIZING: repartition to
  * `clamp(ceil(bytes / targetPartitionBytes), defaultParallelism,
  * maxPartitions)` before materializing, so post-checkpoint width
  * tracks DATA VOLUME, not the shuffle config — the same shape Spark's
  * own file-scan split sizing uses (`maxPartitionBytes` with a
  * `defaultParallelism` floor). At 100 TB the bytes term dominates
  * (~1.6M partitions at the 64 MB default); at test scale the
  * `defaultParallelism` floor keeps CPU-dense post-checkpoint stages at
  * full thread-count parallelism. Either way the width is independent
  * of `spark.sql.shuffle.partitions` (pinned in LineageSpec).
  *
  * Bytes come from Catalyst plan statistics (`optimizedPlan.stats`) —
  * free, no job. Cut points should sit at scan-derived map/filter/join
  * boundaries where those stats are meaningful; `maxPartitions` is the
  * loud backstop against a degenerate estimate (a LogicalRDD leaf or a
  * product-join default can report `Long.MaxValue`-ish sizes). Callers
  * that KNOW their cardinality (e.g. connected-components rounds, which
  * hold the participant count) should use [[widthForBytes]] directly
  * instead of trusting stats on a stats-less leaf.
  *
  * Lifetime rule for every frame an operator materializes:
  *  - a frame that DIES inside the call (loop rounds, an input shared
  *    by jobs the call itself runs) goes through [[scoped]], which
  *    unpersists it when the body returns or throws.
  *  - a frame that OUTLIVES the call (it is returned, or the returned
  *    lazy plan reads it) is a `localCheckpoint`, as [[cut]] takes. It
  *    adds no CacheManager entry: its blocks are an RDD-level persist
  *    that Spark's ContextCleaner frees once no caller can reach the
  *    frame, so two callers sharing a session never evict each other's
  *    frames and repeated calls accumulate nothing. Taken from a
  *    scope's frames it is eager (`localCheckpoint(true)`), or its
  *    first read recomputes the released rounds.
  *  - a frame a CALLER keeps across many calls (the dashboard's
  *    interactive snapshot, `graft.operators.Dashboard.cached`) is a
  *    CacheManager entry the caller owns and unpersists. It is the one
  *    cache under graft/operators and graft/queries (EntryPointsSpec).
  * Lazy `localCheckpoint(false)` runs no job when called, unless its
  * plan holds an exchange: AQE then materializes that stage at call
  * time (the same work, run earlier). Its jobs never appear in the
  * consumer's final plan; tests read them with `graft.plans.CutPlan`.
  */
object Lineage {

  /** 64 MB — parquet-row-group-sized partitions, Spark's own
    * `files.maxPartitionBytes` shape. */
  val DefaultTargetPartitionBytes: Long = 64L << 20

  /** clamp(ceil(bytes/target), 2·defaultParallelism, maxPartitions).
    * The floor is 2× the slot count, not 1×: post-boundary stages are
    * CPU-dense per-row work (signatures, HOF token programs) whose
    * per-partition cost is uneven — exactly one task per core leaves
    * zero slack for stragglers (measured: a 32-task coalesce at 32
    * cores trailed the un-coalesced 128-task plan on the llm
    * pipeline). 2–3 tasks per slot is the standard balance rule; the
    * bytes term still dominates at real scale.
    */
  def widthForBytes(spark: SparkSession, bytes: BigInt,
                    targetPartitionBytes: Long = DefaultTargetPartitionBytes,
                    maxPartitions: Int = 1 << 20): Int = {
    require(targetPartitionBytes > 0, "targetPartitionBytes must be positive")
    val byBytes = (bytes.max(0) + targetPartitionBytes - 1) / targetPartitionBytes
    val minW = BigInt(math.max(1, 2 * spark.sparkContext.defaultParallelism))
    byBytes.max(minW).min(BigInt(maxPartitions)).toInt
  }

  /** Bytes estimate for a cut point. Catalyst's top-level
    * `stats.sizeInBytes` is a PRODUCT across join children — after two
    * joins it exceeds any real size by orders of magnitude, and a
    * stats-less leaf (LogicalRDD without origin stats) reports
    * `defaultSizeInBytes` ≈ Long.Max. Both failure modes would widen
    * the boundary to `maxPartitions` and materialize a MILLION-task
    * stage (measured: the first wiring of `cut` did exactly that on the
    * post-join pipeline boundaries — a 2^20-partition repartition spent
    * 30+ minutes deserializing task closures at test scale). A cut
    * point in a curation pipeline is a row-subset of its inputs, so
    * the SUM OF KNOWN LEAF SIZES bounds it: the estimate is
    * min(topStats, Σ known leaves), and None when no leaf size is
    * known — callers with a real cardinality use [[widthForBytes]]
    * directly (the connectedComponents pattern).
    */
  def estimateBytes(df: DataFrame): Option[BigInt] = {
    val plan = df.queryExecution.optimizedPlan
    val unknown = BigInt(df.sparkSession.sessionState.conf.defaultSizeInBytes)
    val knownLeaves = plan.collectLeaves()
      .map(_.stats.sizeInBytes).filter(_ < unknown)
    if (knownLeaves.isEmpty) None
    else Some(plan.stats.sizeInBytes.min(knownLeaves.sum))
  }

  /** Leaf-clamped plan-stats width for `df`; the defaultParallelism
    * floor when no input size is known. */
  def targetWidth(df: DataFrame,
                  targetPartitionBytes: Long = DefaultTargetPartitionBytes,
                  maxPartitions: Int = 1 << 20): Int =
    estimateBytes(df) match {
      case Some(bytes) =>
        widthForBytes(df.sparkSession, bytes, targetPartitionBytes,
          maxPartitions)
      case None =>
        math.max(1, 2 * df.sparkSession.sparkContext.defaultParallelism)
    }

  /** The self-sizing lineage cut: bytes-targeted `coalesce`, then lazy
    * `localCheckpoint` — the drop-in for the bare
    * `.localCheckpoint(false)` boundary.
    *
    * COALESCE, not repartition (measured): an over-wide upstream
    * (shuffle=128 on a 32-core box) is merged down to the target with
    * a NARROW dependency — no exchange. The first implementation used
    * `repartition`, and the extra full-data exchange of heavy rows
    * (text + token arrays) at the boundary cost ~3.4 s on the sf0.1
    * llm pipeline at shuffle=128 — interleaved-A/B'd against the
    * pre-cut binary (BASELINE round 11). Coalesce cannot GROW a
    * too-narrow upstream; that direction doesn't arise at a cut point
    * (the width below a shuffle is the configured/AQE width, and at
    * real scale inputs set it high) — so the guarantee is width ≤
    * target, with the upstream width as the floor. (On a real cluster,
    * substitute reliable `checkpoint()` for fault tolerance; the width
    * logic is the part that transfers.)
    */
  def cut(df: DataFrame,
          targetPartitionBytes: Long = DefaultTargetPartitionBytes,
          maxPartitions: Int = 1 << 20): DataFrame =
    df.coalesce(targetWidth(df, targetPartitionBytes, maxPartitions))
      .localCheckpoint(false)

  /** The frames one [[scoped]] call materializes; each is
    * `MEMORY_AND_DISK` and lazy (the first action fills its cache). */
  final class Scope private[Lineage] () {
    private[Lineage] val held =
      scala.collection.mutable.ArrayBuffer.empty[DataFrame]

    /** `df`'s rows under a single LogicalRDD leaf, persisted: an
      * iterated frame's plan stays O(1) per round instead of embedding
      * every earlier round. The rows lose their partitioning. */
    def round(df: DataFrame): DataFrame =
      persist(df.sparkSession.createDataFrame(df.rdd, df.schema))

    /** `df` persisted as is, partitioning kept. */
    def persist(df: DataFrame): DataFrame = {
      held += df
      df.persist(StorageLevel.MEMORY_AND_DISK)
    }

    /** Unpersists one frame before the scope closes. */
    def release(df: DataFrame): Unit = {
      held -= df
      df.unpersist(blocking = false)
    }
  }

  /** Runs `body` with a [[Scope]] and unpersists every frame the scope
    * still holds when `body` returns or throws. */
  def scoped[T](body: Scope => T): T = {
    val scope = new Scope
    try body(scope) finally scope.held.foreach(_.unpersist(blocking = false))
  }
}
