package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Byte-pair-encoding tokenizer TRAINING over a distributed corpus
  * (Sennrich et al. 2016) — the merge-table construction a large-scale
  * training-data pipeline runs before tokenizing: count adjacent-symbol
  * pairs weighted by word frequency, merge the most frequent pair into
  * one symbol, repeat.
  *
  * Scale shape (100 TB): the corpus is scanned EXACTLY ONCE — the
  * explode+groupBy that builds the word-frequency table (map-side
  * partial agg; output bounded by |vocab|, not corpus rows). Every
  * merge iteration after that runs over the vocab-bounded word/symbol
  * table: pair counting is an in-row HOF explode + partial agg, the
  * argmax is a 1-row sort-limit, and the merge application is an
  * in-row left-to-right fold — no corpus re-scan, no corpus shuffle,
  * ever. The driver loop is bounded by `numMerges` (a tokenizer
  * hyper-parameter, thousands at most), not by data; per-iteration
  * lineage is cut by persisting the new symbol table and releasing the
  * previous one.
  *
  * Symbols are the word's characters plus a terminal `endMark` symbol
  * (the classic `</w>` convention, so merges cannot cross word
  * boundaries and word-final units stay distinct from word-internal
  * ones). Ties in pair frequency break deterministically by
  * lexicographic (a, b) — both engines and both runs of this engine
  * pick the same merge.
  */
object Bpe {

  /** Character symbols of a word column plus the terminal `endMark`
    * (omitted when empty): in-row, codegen HOFs only.
    */
  def symbols(word: Column, endMark: String): Column = {
    // guard the empty word: sequence(1, 0) is DESCENDING in Spark
    // ([1, 0]), which would fabricate two empty symbols
    val chars = when(length(word) >= 1,
      transform(sequence(lit(1), length(word)),
        i => substring(word, i, lit(1)).cast("string")))
      .otherwise(array().cast("array<string>"))
    if (endMark.isEmpty) chars
    else concat(chars, array(lit(endMark)))
  }

  /** Word-frequency/symbol table `word, freq, syms` — the ONE
    * corpus-sized pass; everything downstream is vocab-bounded.
    */
  def wordSymbolCounts(docs: DataFrame, toksCol: String,
                       endMark: String = "</w>"): DataFrame =
    docs.select(explode(col(toksCol)).as("word"))
      .groupBy("word").agg(count(lit(1)).as("freq"))
      .select(col("word"), col("freq"),
        symbols(col("word"), endMark).as("syms"))

  /** Adjacent-symbol pair counts weighted by word frequency:
    * `a, b, cnt` over a `freq, syms` table. In-row pair explode +
    * partial-agg sum — distinct pairs are bounded by |symbol
    * alphabet|², tiny next to the corpus.
    */
  def pairCounts(wordSyms: DataFrame): DataFrame =
    wordSyms
      .filter(size(col("syms")) >= 2)
      .select(col("freq"), explode(transform(
        sequence(lit(1), size(col("syms")) - 1),
        i => struct(element_at(col("syms"), i).as("a"),
                    element_at(col("syms"), i + 1).as("b")))).as("p"))
      .groupBy(col("p.a").as("a"), col("p.b").as("b"))
      .agg(sum(col("freq")).as("cnt"))

  /** One greedy left-to-right merge pass over a symbol array: every
    * adjacent (a, b) becomes the single symbol a+b, never re-merging
    * the freshly made symbol with the next element ("aaa" under (a,a)
    * → ["aa", "a"]). A pure in-row fold — `aggregate` with the output
    * array as accumulator.
    */
  def mergeOnce(syms: Column, a: String, b: String): Column =
    // no-re-merge safety falls out of the fold: the freshly made
    // symbol a+b can never equal `a` (b is non-empty), so the next
    // element cannot see an already-consumed `a` as the tail
    aggregate(syms, array().cast("array<string>"),
      (out, s) => when(
        size(out) >= 1 && element_at(out, -1) === lit(a) && s === lit(b),
        concat(slice(out, lit(1), size(out) - 1), array(lit(a + b))))
        .otherwise(concat(out, array(s))))

  // ---- fast training: one corpus pass + driver-side merge loop ------

  /** Spark string ordering is binary (UTF8String byte compare); the
    * driver-side tie-break must match it exactly or trainFast could
    * diverge from the sequential reference trainer on non-ASCII symbols (Java's String
    * compareTo orders by UTF-16 code unit, which disagrees with code
    * points for supplementary characters).
    */
  private[operators] def utf8Less(x: String, y: String): Boolean = {
    val a = x.getBytes(java.nio.charset.StandardCharsets.UTF_8)
    val b = y.getBytes(java.nio.charset.StandardCharsets.UTF_8)
    val n = math.min(a.length, b.length)
    var i = 0
    while (i < n) {
      val ai = a(i) & 0xff; val bi = b(i) & 0xff
      if (ai != bi) return ai < bi
      i += 1
    }
    a.length < b.length
  }

  private case class PairEntry(cnt: Long, a: String, b: String)

  /** Max-heap ordering = the sequential reference trainer's argmax: count desc, then
    * lexicographic (a, b) ascending in binary collation.
    */
  private val entryOrd: Ordering[PairEntry] = new Ordering[PairEntry] {
    def compare(x: PairEntry, y: PairEntry): Int =
      if (x.cnt != y.cnt) java.lang.Long.compare(x.cnt, y.cnt)
      else if (x.a != y.a) { if (utf8Less(x.a, y.a)) 1 else -1 }
      else if (x.b != y.b) { if (utf8Less(x.b, y.b)) 1 else -1 }
      else 0
  }

  /** Greedy left-to-right merge pass — the driver-side twin of
    * [[mergeOnce]] (same no-re-merge semantics: a consumed element
    * never participates in the next match).
    */
  private[operators] def applyGreedy(syms: IndexedSeq[String], a: String,
                                     b: String,
                                     merged: String): IndexedSeq[String] = {
    val out = scala.collection.mutable.ArrayBuffer.empty[String]
    out.sizeHint(syms.length)
    var j = 0
    while (j < syms.length) {
      if (j < syms.length - 1 && syms(j) == a && syms(j + 1) == b) {
        out += merged; j += 2
      } else { out += syms(j); j += 1 }
    }
    out.toIndexedSeq
  }

  /** Production-path BPE training: identical merge list to the
    * sequential one-job-per-merge reference trainer (test scope)
    * (BpeSpec pins the parity property), but the merge loop runs on the
    * driver over the collected word-frequency table — the rare case
    * where driver-side IS the scale-safe shape, because that table is
    * |vocab|-bounded, not corpus-bounded, while the sequential
    * variant's per-merge Spark jobs put a ~50–100 ms scheduling floor
    * under every one of 30k–50k merges.
    *
    * Scale shape (100 TB): ONE distributed corpus pass
    * ([[wordSymbolCounts]]: explode + map-side partial agg), then a
    * driver loop in fastBPE shape — a pair→words occurrence index plus
    * a lazy-deletion max-heap, so each merge touches only the words
    * containing the merged pair (stale heap entries are discarded on
    * pop by revalidating against the live count). Web-scale long-tail
    * vocab is bounded by `minFreq` (hapax junk dominates distinct
    * words; a frequency floor is the standard lever) and the collect is
    * capped LOUDLY by `maxVocab` — raise `minFreq` rather than silently
    * truncating, which would change the merge list.
    */
  def trainFast(docs: DataFrame, toksCol: String, numMerges: Int,
                endMark: String = "</w>", minFreq: Long = 1L,
                maxVocab: Int = 1 << 24): Seq[(String, String)] = {
    require(numMerges >= 0, "numMerges must be >= 0")
    require(minFreq >= 1L, "minFreq must be >= 1")
    val rows = wordSymbolCounts(docs, toksCol, endMark)
      .filter(col("freq") >= minFreq)
      .select(col("freq"), col("syms"))
      .limit(maxVocab + 1)
      .collect()
    if (rows.length > maxVocab)
      throw new IllegalArgumentException(
        s"trainFast: word-frequency table exceeds maxVocab=$maxVocab at " +
        s"minFreq=$minFreq — raise minFreq (silently truncating the " +
        "vocab would change the merge list)")
    trainLocal(rows.toIndexedSeq.map(r =>
      (r.getLong(0), r.getSeq[String](1).toIndexedSeq)), numMerges)
  }

  /** The driver-side merge loop over a (freq, symbols) table — shared by
    * [[trainFast]] (which feeds it the collected distributed word table)
    * and by gate registration code (which feeds it a hand-computed
    * literal-corpus table, so the expected merge list can be baked into
    * static oracle SQL — cross-checking the distributed
    * [[wordSymbolCounts]] half end-to-end).
    */
  def trainLocal(entries: Seq[(Long, IndexedSeq[String])],
                 numMerges: Int): Seq[(String, String)] = {
    require(numMerges >= 0, "numMerges must be >= 0")
    val freqs = entries.map(_._1).toArray
    val words = entries.map(_._2).toArray
    val counts = scala.collection.mutable.HashMap.empty[(String, String), Long]
    val occ = scala.collection.mutable
      .HashMap.empty[(String, String), scala.collection.mutable.HashSet[Int]]
    var wi = 0
    while (wi < words.length) {
      val w = words(wi); val f = freqs(wi)
      var j = 0
      while (j < w.length - 1) {
        val p = (w(j), w(j + 1))
        counts.update(p, counts.getOrElse(p, 0L) + f)
        occ.getOrElseUpdate(
          p, scala.collection.mutable.HashSet.empty[Int]) += wi
        j += 1
      }
      wi += 1
    }
    val heap = scala.collection.mutable.PriorityQueue.empty[PairEntry](entryOrd)
    counts.foreach { case ((a, b), c) => heap.enqueue(PairEntry(c, a, b)) }
    val merges = Seq.newBuilder[(String, String)]
    var made = 0
    while (made < numMerges && heap.nonEmpty) {
      val e = heap.dequeue()
      // lazy deletion: an entry is live iff it matches the current count
      if (counts.getOrElse((e.a, e.b), 0L) == e.cnt && e.cnt > 0L) {
        merges += ((e.a, e.b))
        made += 1
        val merged = e.a + e.b
        val touched = scala.collection.mutable.HashSet.empty[(String, String)]
        val hit = occ.getOrElse((e.a, e.b),
          scala.collection.mutable.HashSet.empty[Int]).toArray
        java.util.Arrays.sort(hit)
        for (w0 <- hit) {
          val old = words(w0); val f = freqs(w0)
          var j = 0
          while (j < old.length - 1) {
            val p = (old(j), old(j + 1))
            counts.update(p, counts(p) - f)
            occ.get(p).foreach(_ -= w0)
            touched += p
            j += 1
          }
          val nw = applyGreedy(old, e.a, e.b, merged)
          words(w0) = nw
          j = 0
          while (j < nw.length - 1) {
            val p = (nw(j), nw(j + 1))
            counts.update(p, counts.getOrElse(p, 0L) + f)
            occ.getOrElseUpdate(
              p, scala.collection.mutable.HashSet.empty[Int]) += w0
            touched += p
            j += 1
          }
        }
        touched.foreach { p =>
          val c = counts.getOrElse(p, 0L)
          if (c <= 0L) { counts.remove(p); occ.remove(p) }
          else heap.enqueue(PairEntry(c, p._1, p._2))
        }
      }
    }
    merges.result()
  }

  /** Tokenize a token-array column with a trained merge list: each
    * word's symbols folded through the merges IN ORDER (merge rank =
    * priority), entirely in-row — the merge list is a literal array
    * baked into the plan (a tokenizer's merge table is KBs; at 100 TB
    * the per-row loop is the only cost and there is no shuffle).
    * Output: `idCol, word_pos (1-based), word, pieces`.
    */
  def applyMerges(docs: DataFrame, idCol: String, toksCol: String,
                  merges: Seq[(String, String)],
                  endMark: String = "</w>"): DataFrame = {
    val mergeLits = array(merges.map { case (a, b) =>
      struct(lit(a).as("a"), lit(b).as("b")) }: _*)
    val pieces = (word: Column) =>
      aggregate(mergeLits, symbols(word, endMark),
        (acc, m) => aggregate(acc, array().cast("array<string>"),
          (out, s) => when(
            size(out) >= 1 && element_at(out, -1) === m.getField("a") &&
              s === m.getField("b"),
            concat(slice(out, lit(1), size(out) - 1),
              array(concat(m.getField("a"), m.getField("b")))))
            .otherwise(concat(out, array(s)))))
    docs.select(col(idCol), posexplode(col(toksCol)).as(Seq("i", "word")))
      .select(col(idCol), (col("i") + 1).as("word_pos"), col("word"),
        pieces(col("word")).as("pieces"))
  }
}
