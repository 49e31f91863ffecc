package graft.operators

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.SparkTestSession

/** Versioned tokenizer artifacts: exact round-trip for all three
  * families (merge ORDER, logp bits, WordPiece params), and the loud
  * rejection contract for unstamped / foreign / wrong-kind stores
  * (the stamp lives in the store's manifest).
  */
class TokenizerStoreSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark
  import spark.implicits._

  private def freshPath(tag: String): String =
    java.nio.file.Files.createTempDirectory(s"tokstore_$tag").toString

  private def corpus = graft.Tables.documents(spark, "/root/testdata/sf0.001")
    .select(graft.functions.TextFunctions.tokens(col("text")).as("toks"))

  test("BPE merges round-trip in order, endMark in the stamp") {
    val merges = Bpe.trainFast(corpus, "toks", numMerges = 20)
    val path = freshPath("bpe")
    TokenizerStore.saveBpeMerges(spark, merges, path)
    val (loaded, endMark) = TokenizerStore.loadBpeMerges(spark, path)
    assert(loaded == merges)
    assert(endMark == "</w>")
    // encode with the LOADED list is identical to the original
    graft.plans.GraftFunctions.register(spark)
    val words = corpus.select(explode(col("toks")).as("w")).limit(200)
    val diff = words.select(
        graft.functions.BpeEncode.bpe_encode(col("w"), merges).as("a"),
        graft.functions.BpeEncode.bpe_encode(col("w"), loaded).as("b"))
      .filter(col("a") =!= col("b")).count()
    assert(diff == 0)
  }

  test("byte-level merges round-trip with the empty endMark preserved") {
    val merges = graft.functions.ByteBpe.trainFast(corpus, "toks", 10)
    val path = freshPath("bytebpe")
    TokenizerStore.saveBpeMerges(spark, merges, path, endMark = "")
    val (loaded, endMark) = TokenizerStore.loadBpeMerges(spark, path)
    assert(loaded == merges)
    assert(endMark == "")
  }

  test("unigram vocab round-trips logp bit-exactly") {
    val vocab = Unigram.trainFast(corpus, "toks", vocabSize = 30)
    val path = freshPath("uni")
    TokenizerStore.saveUnigramVocab(spark, vocab, path)
    val loaded = TokenizerStore.loadUnigramVocab(spark, path)
    assert(loaded.toMap.size == vocab.toMap.size)
    vocab.foreach { case (p, lp) =>
      val got = loaded.toMap.apply(p)
      assert(java.lang.Double.doubleToLongBits(got) ==
        java.lang.Double.doubleToLongBits(lp), s"piece $p logp bits")
    }
  }

  test("WordPiece vocab round-trips with params in the stamp") {
    val entries = Seq("cats" -> 5L, "caps" -> 3L, "cap" -> 4L).map {
      case (w, n) => (n, w.zipWithIndex.map { case (c, i) =>
        if (i == 0) c.toString else "##" + c }.toIndexedSeq)
    }
    val vocab = WordPiece.buildVocab(entries,
      WordPiece.trainLocal(entries, 4))
    val path = freshPath("wp")
    TokenizerStore.saveWordPieceVocab(spark, vocab, path,
      contPrefix = "##", unk = "[UNK]")
    val (loaded, cont, unk) = TokenizerStore.loadWordPieceVocab(spark, path)
    assert(loaded == vocab)
    assert(cont == "##" && unk == "[UNK]")
  }

  test("unstamped, foreign, and wrong-kind tables are rejected loudly") {
    val merges = Seq(("a", "b"), ("ab", "c"))
    val good = freshPath("good")
    TokenizerStore.saveBpeMerges(spark, merges, good)

    // unstamped: the artifact's rows as plain parquet, no manifest
    val bare = freshPath("bare")
    TokenizerStore.artifact(spark, good, "bpe-merges")._1
      .write.mode("overwrite").parquet(bare)
    val e1 = intercept[IllegalArgumentException] {
      TokenizerStore.loadBpeMerges(spark, bare)
    }
    assert(e1.getMessage.contains("no manifest"))

    // foreign layout in the manifest
    val foreign = freshPath("foreign")
    TokenizerStore.saveBpeMerges(spark, merges, foreign)
    graft.store.StoreTestKit.stampForeign(spark, foreign,
      "other-tool-v3;kind=bpe-merges")
    val e2 = intercept[IllegalArgumentException] {
      TokenizerStore.loadBpeMerges(spark, foreign)
    }
    assert(e2.getMessage.contains("layout"))
    Seq(e1, e2).foreach(e =>
      assert(e.getMessage.contains("re-save with TokenizerStore.saveBpeMerges")))

    // wrong kind: a merge table read as a unigram vocab
    val e3 = intercept[IllegalArgumentException] {
      TokenizerStore.loadUnigramVocab(spark, good)
    }
    assert(e3.getMessage.contains("kind"))
  }
}
