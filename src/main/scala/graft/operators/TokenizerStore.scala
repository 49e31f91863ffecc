package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import graft.store.Store

/** Versioned persistence for TRAINED tokenizer artifacts — BPE merge
  * lists, unigram-LM vocabularies, WordPiece vocabularies. A production
  * pipeline trains a tokenizer once and ships the artifact to every
  * later job; a stale, foreign, or wrong-kind table read back silently
  * would change the tokenization of the entire corpus.
  *
  * Layout: one manifest-committed store ([[graft.store.Store]]) per
  * artifact, one table of rows. The manifest's format stamp carries the
  * layout version + kind + the parameters that change encode semantics
  * (endMark for BPE; nothing for unigram — logp doubles round-trip
  * bit-exactly through parquet; contPrefix/unk for WordPiece), so the
  * stamp check reads the manifest and runs no job; a load runs one job,
  * the collect of the rows, and sorts them on the driver (artifacts are
  * KBs). Order-bearing artifacts (the BPE merge LIST, the WordPiece
  * vocab) carry an explicit `rank` column — parquet read order is not a
  * contract.
  */
object TokenizerStore {

  private[graft] val FormatPrefix = "graft-tokenizer-v1"
  private val Rows = "artifact"
  private val SaveCalls = Map("bpe-merges" -> "saveBpeMerges",
    "unigram-vocab" -> "saveUnigramVocab", "wordpiece-vocab" -> "saveWordPieceVocab")

  private def save(rows: DataFrame, path: String, kind: String,
                   params: Seq[(String, String)]): Unit =
    Store.save(rows.sparkSession, path,
      (s"$FormatPrefix;kind=$kind" +: params.map { case (k, v) => s"$k=$v" })
        .mkString(";"),
      Seq((Rows, rows.repartition(1), None)))

  /** The rows of the `kind` artifact stored at `path` with its stamp
    * parameters: a lazy frame, stamp and kind checked from the manifest
    * (no job). The `load*` calls below collect it.
    */
  def artifact(spark: SparkSession, path: String,
               kind: String): (DataFrame, Map[String, String]) = {
    val resave = "retrain and re-save with TokenizerStore." +
      SaveCalls.getOrElse(kind, "save*")
    val m = Store.live(spark, path, s"stored tokenizer artifact at $path " +
      "has no manifest — written by a pre-manifest build or not a " +
      s"tokenizer artifact; $resave")(
      _.startsWith(FormatPrefix + ";"),
      f => s"stored tokenizer artifact at $path has layout '$f', this " +
        s"build reads '$FormatPrefix' — $resave")
    val params = m.format.stripPrefix(FormatPrefix + ";").split(';')
      .map { kv =>
        val i = kv.indexOf('=')
        kv.substring(0, i) -> kv.substring(i + 1)
      }.toMap
    require(params.get("kind").contains(kind),
      s"stored tokenizer artifact at $path is kind '${params("kind")}', " +
      s"caller asked for '$kind' — wrong artifact for this encode path")
    (Store.table(spark, path, m, Rows), params)
  }

  // ---- BPE (and byte-level BPE) merge lists --------------------------

  /** Persist an ordered merge list. `endMark` is part of the stamp:
    * encoding with the wrong terminal convention is a semantic change,
    * not a soft default.
    */
  def saveBpeMerges(spark: SparkSession, merges: Seq[(String, String)],
                    path: String, endMark: String = "</w>"): Unit = {
    import spark.implicits._
    save(merges.zipWithIndex.map { case ((a, b), i) => (i, a, b) }
      .toDF("rank", "a", "b"), path, "bpe-merges", Seq("end_mark" -> endMark))
  }

  /** Load a merge list in rank order; returns (merges, endMark). */
  def loadBpeMerges(spark: SparkSession,
                    path: String): (Seq[(String, String)], String) = {
    val (df, params) = artifact(spark, path, "bpe-merges")
    val merges = df.collect().sortBy(_.getAs[Int]("rank"))
      .map(r => (r.getAs[String]("a"), r.getAs[String]("b"))).toSeq
    (merges, params.getOrElse("end_mark", "</w>"))
  }

  // ---- unigram-LM vocabularies ---------------------------------------

  def saveUnigramVocab(spark: SparkSession, vocab: Seq[(String, Double)],
                       path: String): Unit = {
    import spark.implicits._
    save(vocab.toDF("piece", "logp"), path, "unigram-vocab", Nil)
  }

  /** Load a unigram vocabulary. Order within the vocab is not
    * semantic (Viterbi scores decide); returned piece-sorted for
    * determinism.
    */
  def loadUnigramVocab(spark: SparkSession,
                       path: String): Seq[(String, Double)] = {
    val (df, _) = artifact(spark, path, "unigram-vocab")
    df.collect()
      .map(r => (r.getAs[String]("piece"), r.getAs[Double]("logp"))).toSeq
      .sortBy(_._1)
  }

  // ---- WordPiece vocabularies ----------------------------------------

  def saveWordPieceVocab(spark: SparkSession, vocab: Seq[String],
                         path: String, contPrefix: String = "##",
                         unk: String = "[UNK]"): Unit = {
    import spark.implicits._
    save(vocab.zipWithIndex.map { case (p, i) => (i, p) }.toDF("rank", "piece"),
      path, "wordpiece-vocab", Seq("cont_prefix" -> contPrefix, "unk" -> unk))
  }

  /** Load a WordPiece vocab in stored order; returns
    * (vocab, contPrefix, unk).
    */
  def loadWordPieceVocab(spark: SparkSession,
                         path: String): (Seq[String], String, String) = {
    val (df, params) = artifact(spark, path, "wordpiece-vocab")
    val vocab = df.collect().sortBy(_.getAs[Int]("rank"))
      .map(_.getAs[String]("piece")).toSeq
    (vocab, params.getOrElse("cont_prefix", "##"),
      params.getOrElse("unk", "[UNK]"))
  }
}
