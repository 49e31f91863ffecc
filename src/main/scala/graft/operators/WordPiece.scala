package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** WordPiece tokenizer TRAINING over a distributed corpus (Schuster &
  * Nakajima 2012; the BERT tokenizer family) — the third major subword
  * lineage next to BPE ([[Bpe]]) and unigram-LM ([[Unigram]]). Like BPE
  * it merges adjacent symbol pairs greedily, but the priority is the
  * likelihood-gain score `count(ab) / (count(a) · count(b))` instead of
  * raw pair count, and word-internal continuation symbols carry a `##`
  * prefix instead of a word-final `</w>` mark.
  *
  * Scale shape (100 TB): identical to [[Bpe]] — the corpus is scanned
  * EXACTLY ONCE to build the word-frequency table (map-side partial
  * agg, output bounded by |vocab|); every merge iteration runs over
  * that vocab-bounded table. [[trainFast]] is the production path
  * (driver loop in fastBPE shape over the collected table, extended
  * with a symbol-count index because WordPiece scores depend on the
  * UNARY symbol counts, which change even for pairs whose own count
  * did not); the sequential one-job-per-merge trainer in the specs'
  * scope is the distributed reference implementation the parity
  * property in WordPieceSpec checks against.
  *
  * Score arithmetic is pinned to ONE double expression —
  * `cnt / (cntA · cntB)` with each count cast to double first — in both
  * engines, so the argmax cannot diverge on rounding; ties break
  * deterministically by lexicographic (a, b) in binary collation, the
  * [[Bpe]] convention.
  */
object WordPiece {

  /** Character symbols of a word with the WordPiece continuation
    * prefix: "scan" → ["s", "##c", "##a", "##n"]. In-row codegen HOFs
    * only (the [[Bpe.symbols]] pattern with a positional prefix instead
    * of a terminal mark).
    */
  def symbols(word: Column, contPrefix: String = "##"): Column =
    when(length(word) >= 1,
      transform(sequence(lit(1), length(word)),
        i => when(i === 1, substring(word, i, lit(1)).cast("string"))
          .otherwise(concat(lit(contPrefix),
            substring(word, i, lit(1)).cast("string")))))
      .otherwise(array().cast("array<string>"))

  /** Word-frequency/symbol table `word, freq, syms` — the ONE
    * corpus-sized pass; everything downstream is vocab-bounded.
    */
  def wordSymbolCounts(docs: DataFrame, toksCol: String,
                       contPrefix: String = "##"): DataFrame =
    docs.select(explode(col(toksCol)).as("word"))
      .groupBy("word").agg(count(lit(1)).as("freq"))
      .select(col("word"), col("freq"),
        symbols(col("word"), contPrefix).as("syms"))

  /** Adjacent-symbol pair counts weighted by word frequency — identical
    * to [[Bpe.pairCounts]] (the symbol REPRESENTATION differs, the pair
    * census does not).
    */
  def pairCounts(wordSyms: DataFrame): DataFrame =
    Bpe.pairCounts(wordSyms)

  /** Per-symbol occurrence counts weighted by word frequency (the unary
    * denominators of the WordPiece score): `sym, cnt`. Output bounded
    * by the live symbol alphabet.
    */
  def symbolCounts(wordSyms: DataFrame): DataFrame =
    wordSyms
      .select(col("freq"), explode(col("syms")).as("sym"))
      .groupBy("sym").agg(sum(col("freq")).as("cnt"))

  /** The merged token of pair (a, b): b's continuation prefix is
    * absorbed ("s" + "##c" → "sc"; "##c" + "##a" → "##ca") — the merged
    * symbol keeps a's word-position status.
    */
  def mergedToken(a: String, b: String, contPrefix: String = "##"): String =
    a + (if (b.startsWith(contPrefix)) b.substring(contPrefix.length) else b)

  /** One greedy left-to-right merge pass — [[Bpe.mergeOnce]] with the
    * prefix-absorbing merged token.
    */
  def mergeOnce(syms: Column, a: String, b: String,
                contPrefix: String = "##"): Column = {
    val m = mergedToken(a, b, contPrefix)
    aggregate(syms, array().cast("array<string>"),
      (out, s) => when(
        size(out) >= 1 && element_at(out, -1) === lit(a) && s === lit(b),
        concat(slice(out, lit(1), size(out) - 1), array(lit(m))))
        .otherwise(concat(out, array(s))))
  }

  /** Production-path WordPiece training: identical merge list to the
    * sequential one-job-per-merge reference trainer (test scope;
    * WordPieceSpec pins the parity property). ONE
    * distributed corpus pass, then a driver loop over the
    * |vocab|-bounded word table. `minFreq` / `maxVocab` carry the
    * [[Bpe.trainFast]] contract: the collect is capped LOUDLY.
    */
  def trainFast(docs: DataFrame, toksCol: String, numMerges: Int,
                contPrefix: String = "##", minFreq: Long = 1L,
                maxVocab: Int = 1 << 24): Seq[(String, String)] = {
    require(numMerges >= 0, "numMerges must be >= 0")
    require(minFreq >= 1L, "minFreq must be >= 1")
    val rows = wordSymbolCounts(docs, toksCol, contPrefix)
      .filter(col("freq") >= minFreq)
      .select(col("freq"), col("syms"))
      .limit(maxVocab + 1)
      .collect()
    if (rows.length > maxVocab)
      throw new IllegalArgumentException(
        s"WordPiece.trainFast: word-frequency table exceeds " +
        s"maxVocab=$maxVocab at minFreq=$minFreq — raise minFreq " +
        "(silently truncating the vocab would change the merge list)")
    trainLocal(rows.toIndexedSeq.map(r =>
      (r.getLong(0), r.getSeq[String](1).toIndexedSeq)), numMerges,
      contPrefix)
  }

  private case class ScoredEntry(score: Double, a: String, b: String)

  /** Max-heap ordering = the sequential reference trainer's argmax: score desc, then
    * lexicographic (a, b) ascending in binary collation.
    */
  private val scoredOrd: Ordering[ScoredEntry] = new Ordering[ScoredEntry] {
    def compare(x: ScoredEntry, y: ScoredEntry): Int =
      if (x.score != y.score) java.lang.Double.compare(x.score, y.score)
      else if (x.a != y.a) { if (Bpe.utf8Less(x.a, y.a)) 1 else -1 }
      else if (x.b != y.b) { if (Bpe.utf8Less(x.b, y.b)) 1 else -1 }
      else 0
  }

  /** The driver-side merge loop over a (freq, symbols) table — shared by
    * [[trainFast]] and by gate registration code (the [[Bpe.trainLocal]]
    * contract). The fastBPE-shape occurrence index is extended with a
    * symbol→pairs index: a WordPiece merge changes the UNARY counts of
    * a, b, and the merged token, which silently re-scores every pair
    * touching those symbols even when the pair's own count is unchanged
    * — those pairs are re-enqueued explicitly, and heap entries
    * revalidate on pop against the CURRENT recomputed score (lazy
    * deletion keyed on score, not count).
    */
  def trainLocal(entries: Seq[(Long, IndexedSeq[String])], numMerges: Int,
                 contPrefix: String = "##"): Seq[(String, String)] = {
    require(numMerges >= 0, "numMerges must be >= 0")
    val freqs = entries.map(_._1).toArray
    val words = entries.map(_._2).toArray
    val pairCnt = scala.collection.mutable.HashMap.empty[(String, String), Long]
    val pairOcc = scala.collection.mutable
      .HashMap.empty[(String, String), scala.collection.mutable.HashSet[Int]]
    val symCnt = scala.collection.mutable.HashMap.empty[String, Long]
    val symPairs = scala.collection.mutable
      .HashMap.empty[String, scala.collection.mutable.HashSet[(String, String)]]

    def indexPair(p: (String, String), wi: Int, f: Long): Unit = {
      pairCnt.update(p, pairCnt.getOrElse(p, 0L) + f)
      pairOcc.getOrElseUpdate(
        p, scala.collection.mutable.HashSet.empty[Int]) += wi
      symPairs.getOrElseUpdate(
        p._1, scala.collection.mutable.HashSet.empty[(String, String)]) += p
      symPairs.getOrElseUpdate(
        p._2, scala.collection.mutable.HashSet.empty[(String, String)]) += p
    }

    var wi = 0
    while (wi < words.length) {
      val w = words(wi); val f = freqs(wi)
      var j = 0
      while (j < w.length) {
        symCnt.update(w(j), symCnt.getOrElse(w(j), 0L) + f)
        if (j < w.length - 1) indexPair((w(j), w(j + 1)), wi, f)
        j += 1
      }
      wi += 1
    }

    def scoreOf(p: (String, String)): Double = {
      val c = pairCnt.getOrElse(p, 0L)
      if (c <= 0L) Double.NegativeInfinity
      else c.toDouble / (symCnt(p._1).toDouble * symCnt(p._2).toDouble)
    }

    val heap =
      scala.collection.mutable.PriorityQueue.empty[ScoredEntry](scoredOrd)
    pairCnt.keysIterator.foreach { p =>
      heap.enqueue(ScoredEntry(scoreOf(p), p._1, p._2))
    }

    val merges = Seq.newBuilder[(String, String)]
    var made = 0
    while (made < numMerges && heap.nonEmpty) {
      val e = heap.dequeue()
      val p0 = (e.a, e.b)
      // lazy deletion: live iff the entry's score equals the score a
      // fresh argmax would compute right now
      if (pairCnt.getOrElse(p0, 0L) > 0L && scoreOf(p0) == e.score) {
        merges += p0
        made += 1
        val merged = mergedToken(e.a, e.b, contPrefix)
        val touchedPairs =
          scala.collection.mutable.HashSet.empty[(String, String)]
        val symDelta = scala.collection.mutable.HashMap.empty[String, Long]
        val hit = pairOcc.getOrElse(p0,
          scala.collection.mutable.HashSet.empty[Int]).toArray
        java.util.Arrays.sort(hit)
        for (w0 <- hit) {
          val old = words(w0); val f = freqs(w0)
          var j = 0
          while (j < old.length) {
            symDelta.update(old(j), symDelta.getOrElse(old(j), 0L) - f)
            if (j < old.length - 1) {
              val p = (old(j), old(j + 1))
              pairCnt.update(p, pairCnt(p) - f)
              pairOcc.get(p).foreach(_ -= w0)
              touchedPairs += p
            }
            j += 1
          }
          val nw = Bpe.applyGreedy(old, e.a, e.b, merged)
          words(w0) = nw
          j = 0
          while (j < nw.length) {
            symDelta.update(nw(j), symDelta.getOrElse(nw(j), 0L) + f)
            if (j < nw.length - 1) {
              val p = (nw(j), nw(j + 1))
              pairCnt.update(p, pairCnt.getOrElse(p, 0L) + f)
              pairOcc.getOrElseUpdate(
                p, scala.collection.mutable.HashSet.empty[Int]) += w0
              symPairs.getOrElseUpdate(p._1,
                scala.collection.mutable.HashSet.empty[(String, String)]) += p
              symPairs.getOrElseUpdate(p._2,
                scala.collection.mutable.HashSet.empty[(String, String)]) += p
              touchedPairs += p
            }
            j += 1
          }
        }
        // unary-count changes re-score every pair touching the changed
        // symbols — collect them BEFORE mutating symCnt so the dead-pair
        // sweep below sees consistent state
        val touchedSyms = symDelta.collect {
          case (s, d) if d != 0L => s
        }.toArray
        touchedSyms.foreach { s =>
          val c = symCnt.getOrElse(s, 0L) + symDelta(s)
          if (c <= 0L) symCnt.remove(s) else symCnt.update(s, c)
        }
        touchedSyms.foreach { s =>
          symPairs.get(s).foreach(_.foreach(touchedPairs.add))
        }
        touchedPairs.foreach { p =>
          val c = pairCnt.getOrElse(p, 0L)
          if (c <= 0L) {
            pairCnt.remove(p); pairOcc.remove(p)
            symPairs.get(p._1).foreach(_ -= p)
            symPairs.get(p._2).foreach(_ -= p)
          } else heap.enqueue(ScoredEntry(scoreOf(p), p._1, p._2))
        }
      }
    }
    merges.result()
  }

  /** The final WordPiece vocabulary: the initial symbol alphabet of the
    * word table (sorted, binary collation) followed by merge products
    * in merge order — the artifact [[graft.functions.WordPieceEncode]]
    * consumes. Duplicates keep their first position (two merge paths
    * can produce the same token string).
    */
  def buildVocab(entries: Seq[(Long, IndexedSeq[String])],
                 merges: Seq[(String, String)],
                 contPrefix: String = "##"): Seq[String] = {
    val alphabet = entries.flatMap(_._2).distinct
      .sortWith(Bpe.utf8Less)
    val out = scala.collection.mutable.LinkedHashSet.empty[String]
    alphabet.foreach(out.add)
    merges.foreach { case (a, b) => out.add(mergedToken(a, b, contPrefix)) }
    out.toSeq
  }

  /** Greedy longest-match-first segmentation against a vocabulary (the
    * BERT WordpieceTokenizer algorithm): take the longest vocab prefix
    * (continuation candidates probe with the `##` prefix), emit, repeat
    * on the remainder; any position with NO vocab match collapses the
    * WHOLE word to `unk` (the all-or-nothing BERT contract), as does a
    * word longer than `maxInputChars`. Positions are UTF-16 chars (the
    * reference algorithm's unit).
    *
    * This local form is the single source of segmentation truth: the
    * codegen expression forwards to it, and gate registration code
    * calls it to bake expected probe rows.
    */
  def encodeLocal(word: String, vocab: Set[String],
                  contPrefix: String = "##", unk: String = "[UNK]",
                  maxInputChars: Int = 200): Seq[String] = {
    if (word.isEmpty) return Seq.empty
    if (word.length > maxInputChars) return Seq(unk)
    val out = scala.collection.mutable.ArrayBuffer.empty[String]
    var start = 0
    while (start < word.length) {
      var end = word.length
      var cur: String = null
      while (cur == null && end > start) {
        val cand0 = word.substring(start, end)
        val cand = if (start > 0) contPrefix + cand0 else cand0
        if (vocab.contains(cand)) cur = cand else end -= 1
      }
      if (cur == null) return Seq(unk)
      out += cur
      start = end
    }
    out.toSeq
  }
}
