package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.functions.TextFunctions

/** Token-budget corpus packing: chunk an id-ordered corpus into
  * consecutive PACKS of ≈`budget` tokens — the sharding step that turns
  * a tokenized corpus into trainer work units (sequence-packing shards,
  * per-worker files, curriculum windows).
  *
  * Semantics (deterministic, SQL-oracle-checkable): pack_id =
  * ⌊exclusive-prefix-sum(n_tokens, ordered by id) / budget⌋ — docs are
  * never split, consecutive ids share a pack, and a pack overflows the
  * budget by at most one document's tokens (the standard streaming-fill
  * contract; a doc larger than the budget gets a pack of its own).
  *
  * Scale shape — the whole point of this implementation: the naive form
  * is `sum(n_tokens) over (order by id)`, a GLOBAL window that plans as
  * a single-partition sort — one executor owns 100 TB. Here the prefix
  * sum is distributed two-pass:
  *
  *  1. range-repartition by id (ascending ranges ⇔ ascending partition
  *     ids, the RangePartitioner contract), local exclusive cumsum via a
  *     window PARTITIONED by `spark_partition_id()` — every partition
  *     sorts only its own slice;
  *  2. per-partition token totals (one row per partition) get their own
  *     exclusive prefix on the tiny totals frame, then broadcast-join
  *     back: global_prefix = partition_prefix + local_cum.
  *
  * No driver-side collect, no global sort; the only single-partition
  * work is the window over ≤`shuffle.partitions` total rows.
  */
object Packing {

  /** Shared two-pass distributed prefix sum: `id, n_tokens, prefix,
    * local_cum` with global exclusive prefix = prefix + local_cum.
    * The partitioned counted frame feeds BOTH the local-cumsum window
    * and the per-partition totals — checkpointed (narrow: id, tokens,
    * part) so the range exchange runs once, not once per consumer
    * (plans are trees; an unmaterialized shared subtree recomputes).
    * It outlives the call, so it is GC-owned like the counted cut
    * below (the [[graft.plans.Lineage]] lifetime rule); the range
    * exchange runs when this is called, not when the result is read.
    */
  private def withGlobalPrefix(docs: DataFrame, idCol: String,
                               textCol: String): DataFrame = {
    // Lineage-cut the narrow (id, n_tokens) frame BEFORE the range
    // exchange (r19): repartitionByRange's RangePartitioner SAMPLES its
    // child for range bounds — a full pass — and the real exchange then
    // recomputes it, so without the boundary every caller tokenizes its
    // whole corpus twice (plus whatever subtree sits under `docs`). The
    // checkpoint is 16 bytes/row regardless of document size; the
    // sampler and the exchange both read it instead of re-deriving.
    val counted = graft.plans.Lineage.cut(docs.select(
        col(idCol).as("id"),
        size(TextFunctions.tokens(col(textCol))).cast("long").as("n_tokens")))
    val parted = counted
      .repartitionByRange(col("id"))
      .withColumn("part", spark_partition_id())
      .localCheckpoint(false)
    val localW = Window.partitionBy("part").orderBy("id")
    val local = parted.withColumn("local_cum",
      sum(col("n_tokens")).over(localW) - col("n_tokens"))
    // This unpartitioned window is what logs `WindowExec: No Partition
    // Defined ... may cause serious performance degradation` in every
    // bench run. It is INTENTIONAL and scale-safe: its input is the
    // per-partition TOTALS frame — one row per shuffle partition, i.e.
    // ≤ spark.sql.shuffle.partitions rows regardless of corpus size —
    // which is exactly the tiny serial step of a two-pass distributed
    // prefix sum. PackingSpec pins this shape (the unpartitioned window
    // must sit over the aggregated totals, never over doc rows).
    val totalsW = Window.orderBy("part")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val prefixes = parted.groupBy("part")
      .agg(sum(col("n_tokens")).as("ptotal"))
      .withColumn("prefix", sum(col("ptotal")).over(totalsW) - col("ptotal"))
      .select("part", "prefix")
    local.join(broadcast(prefixes), "part")
  }

  def packByTokenBudget(docs: DataFrame, budget: Long,
                        idCol: String = "doc_id",
                        textCol: String = "text"): DataFrame = {
    require(budget > 0, "budget must be positive")
    // integer `div`, not `/`: the double division would lose exactness
    // past 2^53 total tokens — a realistic corpus size
    withGlobalPrefix(docs, idCol, textCol)
      .select(col("id").as(idCol), col("n_tokens"),
        expr(s"(prefix + local_cum) div ${budget}L").as("pack_id"))
  }

  /** Incremental pack maintenance: pack NEWLY ARRIVED docs as a
    * continuation of an already-packed corpus WITHOUT touching it —
    * the refresh shape of a production training pipeline (yesterday's
    * shards are immutable and shipped; today's crawl appends). The
    * only state the prior run must persist is its total token count
    * (the last [[q_pack_manifest]] row carries it): each new doc's
    * global prefix is `priorTokens + prefix-within-new`, so
    * `pack_id = (priorTokens + prefix) div budget` — same two-pass
    * distributed prefix sum, zero recomputation over the packed
    * corpus.
    *
    * CONTRACT (the gate's oracle is a full recompute): provided every
    * new id sorts after every packed id, the prior packing ∪ this
    * continuation is IDENTICAL to packing the whole corpus in one
    * pass — pinned for arbitrary split points in PackingSpec.
    * Callers holding the manifest should pass its max packed id as
    * `maxPackedId`: the boundary is then ASSERTED (one column-pruned
    * map-side `min` over the new batch) instead of trusted — an
    * overlapping id range would otherwise silently produce pack
    * assignments that disagree with the full recompute.
    */
  def packIncremental(newDocs: DataFrame, priorTokens: Long, budget: Long,
                      idCol: String = "doc_id",
                      textCol: String = "text",
                      maxPackedId: Option[Long] = None): DataFrame = {
    require(budget > 0, "budget must be positive")
    require(priorTokens >= 0, "priorTokens must be non-negative")
    maxPackedId.foreach { maxId =>
      val minNew = newDocs.agg(min(col(idCol).cast("long"))).head()
      if (!minNew.isNullAt(0))
        require(minNew.getLong(0) > maxId,
          s"packIncremental: new batch min($idCol)=${minNew.getLong(0)} " +
          s"does not sort after maxPackedId=$maxId — an overlapping id " +
          "range breaks the append-only continuation contract (the " +
          "result would disagree with a full recompute); repack from " +
          "scratch or fix the id assignment")
    }
    withGlobalPrefix(newDocs, idCol, textCol)
      .select(col("id").as(idCol), col("n_tokens"),
        expr(s"(${priorTokens}L + prefix + local_cum) div ${budget}L")
          .as("pack_id"))
  }

  /** Concat-and-split sequence forming — the GPT-style packing dual of
    * [[packByTokenBudget]]: the id-ordered corpus is one virtual token
    * stream cut every `seqLen` tokens, and docs DO span sequence
    * boundaries (no padding waste; the trainer's causal mask handles
    * doc joins). Per doc: the global token offset and the sequence
    * range it lands in — `idCol, n_tokens, g_start, first_seq,
    * last_seq, n_seqs`. Zero-token docs occupy no stream position and
    * are excluded (the caller's filter contract).
    *
    * Same two-pass distributed prefix sum as [[packByTokenBudget]] —
    * no global sort, no corpus-sized window; all sequence arithmetic
    * is exact integer `div` on the prefix.
    */
  def packFixedLength(docs: DataFrame, seqLen: Long,
                      idCol: String = "doc_id",
                      textCol: String = "text"): DataFrame = {
    require(seqLen > 0, "seqLen must be positive")
    withGlobalPrefix(docs, idCol, textCol)
      .filter(col("n_tokens") >= 1)
      .select(col("id").as(idCol), col("n_tokens"),
        expr("prefix + local_cum").as("g_start"),
        expr(s"(prefix + local_cum) div ${seqLen}L").as("first_seq"),
        expr(s"(prefix + local_cum + n_tokens - 1) div ${seqLen}L")
          .as("last_seq"))
      .withColumn("n_seqs", col("last_seq") - col("first_seq") + 1)
  }
}
