package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.SparkTestSession

/** BPE training on the classic Sennrich corpus — merges hand-computed.
  *
  * Corpus (word × freq): low×5, lower×2, newest×6, widest×3, end mark
  * `</w>`. Initial weighted pair counts include: (e,s)=9, (s,t)=9,
  * (t,</w>)=9, (w,e)=8 [lower 2 + newest 6], (l,o)=7, (o,w)=7, (e,w)=6,
  * (n,e)=6, (i,d)=3, (d,e)=3, (w,i)=3, (e,r)=2, (r,</w>)=2, (w,</w>)=5.
  * Top count 9 ties three ways; lexicographic (a,b) picks ("e","s").
  * After merge 1 the pair (es,t)=9 ties (t,</w>)=9 → ("es","t") wins
  * lexicographically ("es" < "t"). After merge 2, (est,</w>)=9 is the
  * unique max → merge 3 = ("est","</w>").
  */
class BpeSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark
  import spark.implicits._

  private def corpus: DataFrame = {
    val words =
      Seq.fill(5)("low") ++ Seq.fill(2)("lower") ++
        Seq.fill(6)("newest") ++ Seq.fill(3)("widest")
    Seq((1L, words)).toDF("doc_id", "toks")
  }

  test("wordSymbolCounts: one corpus scan to a vocab-bounded table") {
    val ws = Bpe.wordSymbolCounts(corpus, "toks")
    val got = ws.as[(String, Long, Seq[String])].collect()
      .map(r => r._1 -> ((r._2, r._3))).toMap
    assert(got.keySet == Set("low", "lower", "newest", "widest"))
    assert(got("low") == ((5L, Seq("l", "o", "w", "</w>"))))
    assert(got("newest")._1 == 6L)
    assert(got("newest")._2 == Seq("n", "e", "w", "e", "s", "t", "</w>"))
  }

  test("pairCounts: weighted adjacent pairs match hand computation") {
    val pc = Bpe.pairCounts(Bpe.wordSymbolCounts(corpus, "toks"))
      .as[(String, String, Long)].collect()
      .map(r => (r._1, r._2) -> r._3).toMap
    assert(pc(("e", "s")) == 9L)
    assert(pc(("s", "t")) == 9L)
    assert(pc(("t", "</w>")) == 9L)
    assert(pc(("w", "e")) == 8L)
    assert(pc(("l", "o")) == 7L)
    assert(pc(("o", "w")) == 7L)
    assert(pc(("w", "</w>")) == 5L)
    assert(pc(("e", "r")) == 2L)
  }

  test("mergeOnce: greedy left-to-right, no re-merge of fresh symbol") {
    val d = Seq(Tuple1(Seq("a", "a", "a"))).toDF("syms")
    val got = d.select(Bpe.mergeOnce(col("syms"), "a", "a").as("m"))
      .as[Seq[String]].head()
    assert(got == Seq("aa", "a"), "aaa under (a,a) folds to [aa, a]")
  }

  test("train: first three merges are es, es+t, est+</w>") {
    val merges = BpeReference.train(corpus, "toks", numMerges = 3)
    assert(merges == Seq(("e", "s"), ("es", "t"), ("est", "</w>")))
  }

  test("applyMerges: trained merges tokenize the corpus words") {
    val merges = BpeReference.train(corpus, "toks", numMerges = 3)
    val docs = Seq((1L, Seq("newest", "low"))).toDF("doc_id", "toks")
    val got = Bpe.applyMerges(docs, "doc_id", "toks", merges)
      .orderBy("word_pos")
      .as[(Long, Int, String, Seq[String])].collect().toSeq
    assert(got.map(_._3) == Seq("newest", "low"))
    assert(got.head._4 == Seq("n", "e", "w", "est</w>"))
    assert(got(1)._4 == Seq("l", "o", "w", "</w>"))
  }

  test("applyMerges: pure per-row plan — no exchange") {
    val docs = Seq((1L, Seq("low"))).toDF("doc_id", "toks")
    val plan = Bpe.applyMerges(docs, "doc_id", "toks",
      Seq(("l", "o"))).queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange"), s"unexpected shuffle in:\n$plan")
  }

  test("train: corpus scan count — word table built once, merges vocab-bounded") {
    // 0 merges still builds (and caches) the word table without error
    assert(BpeReference.train(corpus, "toks", numMerges = 0) == Seq.empty)
  }

  test("trainFast: identical merge list to train on the Sennrich corpus") {
    assert(Bpe.trainFast(corpus, "toks", numMerges = 3)
      == Seq(("e", "s"), ("es", "t"), ("est", "</w>")))
    // run both to exhaustion: every word collapses to one symbol
    val seq = BpeReference.train(corpus, "toks", numMerges = 50)
    val fast = Bpe.trainFast(corpus, "toks", numMerges = 50)
    assert(fast == seq, s"fast=$fast\nseq=$seq")
    assert(fast.size < 50, "corpus exhausts before 50 merges")
  }

  test("trainFast parity property: random corpora, ties and overlaps included") {
    // small alphabet forces heavy tie-breaking and overlapping pairs
    // (aaa-style runs) — the cases where a heap/greedy implementation
    // diverges from the distributed argmax if anything is off
    val rnd = new scala.util.Random(42)
    for (trial <- 1 to 4) {
      val words = Seq.fill(24)(
        (1 to (1 + rnd.nextInt(5))).map(_ => ('a' + rnd.nextInt(3)).toChar)
          .mkString)
      val docs = Seq((trial.toLong, words)).toDF("doc_id", "toks")
      val seq = BpeReference.train(docs, "toks", numMerges = 6)
      val fast = Bpe.trainFast(docs, "toks", numMerges = 6)
      assert(fast == seq,
        s"trial $trial diverged on $words:\nfast=$fast\nseq=$seq")
    }
  }

  test("trainFast: maxVocab cap fails loudly instead of truncating") {
    val e = intercept[IllegalArgumentException] {
      Bpe.trainFast(corpus, "toks", numMerges = 1, maxVocab = 2)
    }
    assert(e.getMessage.contains("minFreq"), e.getMessage)
    // raising minFreq under the same cap is the documented remedy:
    // only low(5) and newest(6) survive minFreq=4 → fits maxVocab=2
    assert(Bpe.trainFast(corpus, "toks", numMerges = 1, minFreq = 4L,
      maxVocab = 2).nonEmpty)
  }
}
