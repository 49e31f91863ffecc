package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** The sequential BPE trainer: one Spark argmax job per merge. */
object BpeReference {

  /** Train `numMerges` BPE merges: returns the ordered merge list.
    * Driver work per iteration is ONE two-column row (the argmax) —
    * never a table collect; the vocab-bounded symbol table is
    * persisted per iteration with the previous one released.
    *
    * LATENCY NOTE: each merge is a separate Spark job (argmax collect +
    * merged-table materialization), so at real tokenizer scale
    * (30k–50k merges) the per-job scheduling floor dominates the
    * vocab-bounded compute. [[Bpe.trainFast]] is the production path —
    * identical merge list (parity property in BpeSpec), one corpus
    * pass, wall ∝ corpus instead of ∝ numMerges. This sequential
    * variant is the distributed reference implementation the parity
    * property checks against.
    */
  def train(docs: DataFrame, toksCol: String, numMerges: Int,
            endMark: String = "</w>"): Seq[(String, String)] = {
    require(numMerges >= 0, "numMerges must be >= 0")
    var cur = Bpe.wordSymbolCounts(docs, toksCol, endMark)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val merges = Seq.newBuilder[(String, String)]
    var i = 0
    var done = false
    // the merge list is eager, so the last table is dead on return:
    // release it here, on failure too, rather than leave it cached
    try {
      while (i < numMerges && !done) {
        // deterministic argmax: count desc, then lexicographic (a, b)
        val top = Bpe.pairCounts(cur)
          .orderBy(desc("cnt"), asc("a"), asc("b")).limit(1)
          .collect()
        if (top.isEmpty) done = true
        else {
          val (a, b) = (top(0).getString(0), top(0).getString(1))
          merges += ((a, b))
          val next = cur.select(col("word"), col("freq"),
              Bpe.mergeOnce(col("syms"), a, b).as("syms"))
            .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
          // materialize the new table BEFORE releasing the old one so
          // the fold runs once, not once per downstream consumer
          next.count()
          cur.unpersist(blocking = false)
          cur = next
        }
        i += 1
      }
    } finally cur.unpersist(blocking = false)
    merges.result()
  }
}

/** The sequential WordPiece trainer: one Spark argmax job per merge. */
object WordPieceReference {

  /** Train `numMerges` WordPiece merges: the ordered merge list, as the
    * DISTRIBUTED REFERENCE implementation (one Spark argmax job per
    * merge — the parity anchor for [[WordPiece.trainFast]], not the production
    * path; see [[BpeReference.train]]'s latency note, which applies verbatim).
    *
    * Per-iteration plan: pair counts and symbol counts are two
    * alphabet-bounded aggregations of the persisted symbol table; the
    * score join touches only those tiny tables (broadcast by AQE); the
    * argmax is a 1-row sort-limit.
    */
  def train(docs: DataFrame, toksCol: String, numMerges: Int,
            contPrefix: String = "##"): Seq[(String, String)] = {
    require(numMerges >= 0, "numMerges must be >= 0")
    var cur = WordPiece.wordSymbolCounts(docs, toksCol, contPrefix)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val merges = Seq.newBuilder[(String, String)]
    var i = 0
    var done = false
    // the merge list is eager, so the last table is dead on return:
    // release it here, on failure too, rather than leave it cached
    try {
      while (i < numMerges && !done) {
        val syms = WordPiece.symbolCounts(cur)
        // the ONE pinned score expression: double division of double
        // product — trainLocal computes the same three casts in the same
        // order, so double rounding cannot flip the argmax between engines
        val top = WordPiece.pairCounts(cur)
          .join(syms.select(col("sym").as("a"), col("cnt").as("ca")), "a")
          .join(syms.select(col("sym").as("b"), col("cnt").as("cb")), "b")
          .select(col("a"), col("b"),
            (col("cnt").cast("double") /
              (col("ca").cast("double") * col("cb").cast("double")))
              .as("score"))
          .orderBy(desc("score"), asc("a"), asc("b")).limit(1)
          .collect()
        if (top.isEmpty) done = true
        else {
          val (a, b) = (top(0).getString(0), top(0).getString(1))
          merges += ((a, b))
          val next = cur.select(col("word"), col("freq"),
              WordPiece.mergeOnce(col("syms"), a, b, contPrefix).as("syms"))
            .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
          next.count()
          cur.unpersist(blocking = false)
          cur = next
        }
        i += 1
      }
    } finally cur.unpersist(blocking = false)
    merges.result()
  }
}
