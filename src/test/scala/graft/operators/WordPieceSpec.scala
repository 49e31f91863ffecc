package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.SparkTestSession

/** WordPiece training + greedy longest-match encode.
  *
  * The score-vs-count discriminator corpus: ab×6, ac×6, dc×2.
  * Symbols: a=12, ##b=6, ##c=8, d=2. Pair scores:
  * (a,##b) = 6/(12·6) ≈ 0.083, (a,##c) = 6/(12·8) ≈ 0.063,
  * (d,##c) = 2/(2·8) = 0.125 — the HIGHEST-SCORE pair has the LOWEST
  * count, so a WordPiece trainer must pick ("d","##c") where a BPE
  * trainer would pick ("a","##b"): the test that separates the two
  * objectives.
  */
class WordPieceSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark
  import spark.implicits._

  private def docsOf(words: Seq[String], id: Long = 1L): DataFrame =
    Seq((id, words)).toDF("doc_id", "toks")

  private def discriminator: DataFrame = docsOf(
    Seq.fill(6)("ab") ++ Seq.fill(6)("ac") ++ Seq.fill(2)("dc"))

  private def sennrich: DataFrame = docsOf(
    Seq.fill(5)("low") ++ Seq.fill(2)("lower") ++
      Seq.fill(6)("newest") ++ Seq.fill(3)("widest"))

  test("symbols: continuation prefix on every non-initial char") {
    val got = spark.range(1).select(
      WordPiece.symbols(lit("scan")).as("s"))
      .as[Seq[String]].head()
    assert(got == Seq("s", "##c", "##a", "##n"))
    assert(spark.range(1).select(WordPiece.symbols(lit("")).as("s"))
      .as[Seq[String]].head().isEmpty)
  }

  test("symbolCounts: freq-weighted unary counts on the discriminator") {
    val sc = WordPiece.symbolCounts(
      WordPiece.wordSymbolCounts(discriminator, "toks"))
      .as[(String, Long)].collect().toMap
    assert(sc == Map("a" -> 12L, "##b" -> 6L, "##c" -> 8L, "d" -> 2L))
  }

  test("train: picks the highest-SCORE pair, not the highest-count one") {
    assert(WordPieceReference.train(discriminator, "toks", numMerges = 1)
      == Seq(("d", "##c")))
    // same corpus through BPE semantics picks the count argmax instead
    assert(Bpe.trainFast(discriminator, "toks", numMerges = 1,
      endMark = "").head != (("d", "c")))
  }

  test("mergedToken absorbs the continuation prefix of b only") {
    assert(WordPiece.mergedToken("s", "##c") == "sc")
    assert(WordPiece.mergedToken("##c", "##a") == "##ca")
    assert(WordPiece.mergedToken("s", "c") == "sc")
  }

  test("trainFast: identical merge list to train, run to exhaustion") {
    val seq = WordPieceReference.train(sennrich, "toks", numMerges = 50)
    val fast = WordPiece.trainFast(sennrich, "toks", numMerges = 50)
    assert(fast == seq, s"fast=$fast\nseq=$seq")
    assert(fast.size < 50, "corpus exhausts before 50 merges")
  }

  test("trainFast parity property: random corpora, ties and re-scoring") {
    // small alphabet forces heavy tie-breaking AND repeated unary-count
    // changes — the lazy-deletion-by-score path a count-keyed heap
    // (the BPE shape) would get wrong
    val rnd = new scala.util.Random(43)
    for (trial <- 1 to 4) {
      val words = Seq.fill(24)(
        (1 to (1 + rnd.nextInt(5))).map(_ => ('a' + rnd.nextInt(3)).toChar)
          .mkString)
      val docs = docsOf(words, trial.toLong)
      val seq = WordPieceReference.train(docs, "toks", numMerges = 6)
      val fast = WordPiece.trainFast(docs, "toks", numMerges = 6)
      assert(fast == seq,
        s"trial $trial diverged on $words:\nfast=$fast\nseq=$seq")
    }
  }

  test("trainFast: maxVocab cap fails loudly instead of truncating") {
    val e = intercept[IllegalArgumentException] {
      WordPiece.trainFast(sennrich, "toks", numMerges = 1, maxVocab = 2)
    }
    assert(e.getMessage.contains("minFreq"), e.getMessage)
    assert(WordPiece.trainFast(sennrich, "toks", numMerges = 1,
      minFreq = 4L, maxVocab = 2).nonEmpty)
  }

  test("buildVocab: sorted alphabet then merge products, first-wins dedup") {
    val entries = Seq(
      (4L, IndexedSeq("a", "##b")), (2L, IndexedSeq("b", "##a")))
    val merges = Seq(("a", "##b"), ("b", "##a"))
    val v = WordPiece.buildVocab(entries, merges)
    assert(v == Seq("##a", "##b", "a", "b", "ab", "ba"))
  }

  test("encodeLocal: greedy longest match with continuation probes") {
    val vocab = Set("s", "##c", "##a", "##n", "sc", "##an", "scan", "##s")
    assert(WordPiece.encodeLocal("scan", vocab) == Seq("scan"))
    assert(WordPiece.encodeLocal("scans", vocab) == Seq("scan", "##s"))
    // "scanc" → longest prefix "scan", then "##c"
    assert(WordPiece.encodeLocal("scanc", vocab) == Seq("scan", "##c"))
  }

  test("encodeLocal: all-or-nothing [UNK] collapse") {
    val vocab = Set("s", "##c", "sc")
    // missing continuation anywhere kills the WHOLE word
    assert(WordPiece.encodeLocal("scx", vocab) == Seq("[UNK]"))
    // missing word-INITIAL form: "c" exists only as ##c
    assert(WordPiece.encodeLocal("cs", vocab) == Seq("[UNK]"))
    // over-length words collapse without scanning
    assert(WordPiece.encodeLocal("sc" * 200, vocab, maxInputChars = 10)
      == Seq("[UNK]"))
    assert(WordPiece.encodeLocal("", vocab).isEmpty)
  }

  test("wordpiece_encode expression: parity with encodeLocal over corpus words") {
    graft.plans.GraftFunctions.register(spark)
    val merges = WordPiece.trainFast(sennrich, "toks", numMerges = 8)
    val ws = WordPiece.wordSymbolCounts(sennrich, "toks")
      .select(col("freq"), col("syms")).as[(Long, Seq[String])]
      .collect().map(r => (r._1, r._2.toIndexedSeq)).toSeq
    val vocab = WordPiece.buildVocab(ws, merges)
    val words = Seq("low", "lower", "newest", "widest", "lowest", "zzz")
    val got = words.toDF("w")
      .select(graft.functions.WordPieceEncode
        .wordpiece_encode(col("w"), vocab).as("p"))
      .as[Seq[String]].collect()
    words.zip(got).foreach { case (w, p) =>
      assert(p == WordPiece.encodeLocal(w, vocab.toSet),
        s"diverged on $w: got $p")
    }
  }

  test("wordpiece_encode: SQL registration, numeric-literal coercion, errors") {
    graft.plans.GraftFunctions.register(spark)
    Seq("scan").toDF("w").createOrReplaceTempView("wp_words")
    // bigint literal for maxInputChars must coerce (the UnigramEncode
    // registration-hygiene contract)
    val r = spark.sql(
      "SELECT wordpiece_encode(w, array('s', '##c', '##a', '##n', 'sc'), 100) AS p " +
      "FROM wp_words").as[Seq[String]].head()
    assert(r == Seq("sc", "##a", "##n"))
    val e = intercept[Exception] {
      spark.sql("SELECT wordpiece_encode(w, array('s'), 'x') FROM wp_words")
        .collect()
    }
    assert(e.getMessage.contains("numeric literal"), e.getMessage)
  }

  test("wordpiece_encode: null-safe and type-checked") {
    graft.plans.GraftFunctions.register(spark)
    val got = Seq(Some("low"), None).toDF("w")
      .select(graft.functions.WordPieceEncode
        .wordpiece_encode(col("w"), Seq("l", "##o", "##w")).as("p"))
      .collect()
    assert(got(0).getSeq[String](0) == Seq("l", "##o", "##w"))
    assert(got(1).isNullAt(0))
  }
}
