package graft.store

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.operators.{Bm25, Dedup, LinearClassifier, Opq, Pq, SetSimJoin,
  SketchStats, TokenizerStore}

/** One stored-table family driven through its public lifecycle. A
  * store is built from a set of document ids; `snapshot` renders what
  * a load of it returns, so two versions compare as sets of rows. */
abstract class StoreCase(val name: String) {
  def save(path: String, ids: Seq[Long]): Unit
  def load(path: String): Unit
  def snapshot(path: String): Set[String]
  /** None for the stores whose only mutation is a save over the old
    * version (the compiled registries). */
  def append: Option[(String, Seq[Long]) => Unit] = None
  def compact: Option[String => Unit] = None
  def remove: Option[(String, Seq[Long]) => Unit] = None
  /** The stored row count of the id-keyed table, from the manifest. */
  def storedRows(spark: SparkSession, path: String): Long =
    Store.manifest(spark, path).get.fileSets.filter(_.minId.nonEmpty).map(_.rows).sum
}

object StoreCases {

  private def rowsOf(df: DataFrame): Set[String] =
    df.collect().map(_.toSeq.map {
      case a: scala.collection.Seq[_] => a.mkString("[", ",", "]")
      case m: scala.collection.Map[_, _] => m.toSeq.map(_.toString).sorted.mkString("{", ",", "}")
      case v => String.valueOf(v)
    }.mkString("|")).toSet

  def all(spark: SparkSession): Seq[StoreCase] = {
    import spark.implicits._

    def text(i: Long): String =
      (0 until 12).map(j => s"w${(i * 7 + j * 3) % 40}").mkString(" ") + s" u$i"
    def docs(ids: Seq[Long]): DataFrame = ids.map(i => (i, text(i))).toDF("doc_id", "text")
    def toks(ids: Seq[Long]): DataFrame =
      docs(ids).select(col("doc_id"), split(col("text"), " ").as("toks"))
    def idFrame(ids: Seq[Long]): DataFrame = ids.toDF("id")
    // deterministic 64-wide vectors; the PQ cases seed their centroids
    // and codebooks from the ids below nCells and ksub
    def vecs(ids: Seq[Long]): DataFrame =
      ids.map(i => (i, (0 until 64).map(j => math.sin(i * 0.7 + j * 1.3)))).toDF("vec_id", "embedding")
    def queries(ids: Seq[Long]): DataFrame =
      ids.map(i => (i, s"w${i % 40} w${(i + 3) % 40}")).toDF("query_id", "query_text")
    lazy val bm25Index: Bm25.Bm25Index = {
      val p = StoreTestKit.tempDir("store_case_idx")
      Bm25.saveIndex(docs(0L until 40L), p)
      Bm25.loadIndex(spark, p)
    }

    Seq(
      new StoreCase("signature store") {
        def save(path: String, ids: Seq[Long]): Unit =
          Dedup.saveSignatureStore(docs(ids), "doc_id", "text", path)
        def load(path: String): Unit = Dedup.loadSignatureStore(spark, path)
        def snapshot(path: String): Set[String] =
          rowsOf(Dedup.loadSignatureStore(spark, path).sigs)
        override def append = Some((p, ids) =>
          Dedup.appendSignatureStore(spark, p, docs(ids), "doc_id", "text"))
        override def compact = Some(p => Dedup.compactSignatureStore(spark, p))
        override def remove = Some((p, ids) =>
          Dedup.removeSignatureStore(spark, p, idFrame(ids)))
      },
      new StoreCase("set-sim sets") {
        def save(path: String, ids: Seq[Long]): Unit =
          SetSimJoin.saveSets(toks(ids), "doc_id", "toks", path)
        def load(path: String): Unit = SetSimJoin.loadSets(spark, path)
        def snapshot(path: String): Set[String] = rowsOf(SetSimJoin.loadSets(spark, path))
        override def append = Some((p, ids) =>
          SetSimJoin.appendSets(spark, p, toks(ids), "doc_id", "toks"))
        override def compact = Some(p => SetSimJoin.compactSets(spark, p))
        override def remove = Some((p, ids) => SetSimJoin.removeSets(spark, p, idFrame(ids)))
      },
      new StoreCase("BM25 index") {
        def save(path: String, ids: Seq[Long]): Unit = Bm25.saveIndex(docs(ids), path)
        def load(path: String): Unit = Bm25.loadIndex(spark, path)
        def snapshot(path: String): Set[String] = {
          val idx = Bm25.loadIndex(spark, path)
          rowsOf(idx.postings).map("p:" + _) ++ rowsOf(idx.dfreq).map("d:" + _) ++
            rowsOf(idx.stats).map("s:" + _)
        }
        override def append = Some((p, ids) => Bm25.appendDocs(spark, p, docs(ids)))
        override def compact = Some(p => Bm25.compactIndex(spark, p))
        override def remove = Some((p, ids) => Bm25.removeDocs(spark, p, idFrame(ids)))
      },
      new StoreCase("IVF-PQ index") {
        def save(path: String, ids: Seq[Long]): Unit =
          Pq.saveIndex(vecs(ids), path, nCells = 4, m = 8, ksub = 16)
        def load(path: String): Unit = Pq.loadIndex(spark, path)
        def snapshot(path: String): Set[String] = {
          val idx = Pq.loadIndex(spark, path)
          rowsOf(idx.codes).map("c:" + _) ++ rowsOf(idx.centroids).map("z:" + _) ++
            rowsOf(idx.codebooks).map("b:" + _)
        }
        override def append = Some((p, ids) => Pq.appendVectors(spark, p, vecs(ids)))
        override def compact = Some(p => Pq.compactCodes(spark, p))
        override def remove = Some((p, ids) => Pq.removeVectors(spark, p, idFrame(ids)))
      },
      new StoreCase("OPQ index") {
        def save(path: String, ids: Seq[Long]): Unit =
          Opq.saveIndex(vecs(ids), path, Opq.givensRotation(64), nCells = 4, m = 8,
            ksub = 16, chosen = s"ids${ids.size}")
        def load(path: String): Unit = Opq.loadIndex(spark, path)
        def snapshot(path: String): Set[String] = {
          val idx = Opq.loadIndex(spark, path)
          rowsOf(idx.pq.codes).map("c:" + _) + s"r:${idx.rotation}" + s"k:${idx.chosen}"
        }
        override def append = Some((p, ids) => Opq.appendVectors(spark, p, vecs(ids)))
        override def compact = Some(p => Opq.compactCodes(spark, p))
        override def remove = Some((p, ids) => Opq.removeVectors(spark, p, idFrame(ids)))
      },
      new StoreCase("percolate registry") {
        def save(path: String, ids: Seq[Long]): Unit =
          Bm25.savePercolateTable(Bm25.compilePercolateTable(bm25Index, queries(ids)), path)
        def load(path: String): Unit = Bm25.loadPercolateTable(spark, path)
        def snapshot(path: String): Set[String] =
          rowsOf(Bm25.percolatePostings(Bm25.loadPercolateTable(spark, path)))
      },
      new StoreCase("sharded percolate registry") {
        def save(path: String, ids: Seq[Long]): Unit =
          Bm25.saveShardedPercolateTable(
            Bm25.compileShardedPercolateTable(bm25Index, queries(ids), shards = 2), path)
        def load(path: String): Unit = Bm25.loadShardedPercolateTable(spark, path)
        def snapshot(path: String): Set[String] =
          rowsOf(Bm25.loadShardedPercolateTable(spark, path).select("shard", "qmap"))
      },
      new StoreCase("containment registry") {
        def save(path: String, ids: Seq[Long]): Unit =
          SetSimJoin.saveContainmentRegistry(
            SetSimJoin.compileContainmentRegistry(toks(ids), "doc_id", "toks"), path)
        def load(path: String): Unit = SetSimJoin.loadContainmentRegistry(spark, path)
        def snapshot(path: String): Set[String] = rowsOf(SetSimJoin.registryPostings(
          SetSimJoin.loadContainmentRegistry(spark, path)))
      },
      new StoreCase("linear model") {
        def save(path: String, ids: Seq[Long]): Unit =
          LinearClassifier.saveModel(spark, ids.map(i => (i, i * 0.25)).toDF("bucket", "wt"),
            path, numBuckets = 128 + ids.size)
        def load(path: String): Unit = LinearClassifier.loadModel(spark, path)
        def snapshot(path: String): Set[String] = {
          val (w, b) = LinearClassifier.loadModel(spark, path)
          rowsOf(w) + s"buckets:$b"
        }
      },
      // the tokenizer loads collect their rows into driver-side lists;
      // the load measured here is the stamp check and the lazy frame
      new StoreCase("BPE merges") {
        def save(path: String, ids: Seq[Long]): Unit =
          TokenizerStore.saveBpeMerges(spark, ids.map(i => (s"a$i", s"b$i")), path)
        def load(path: String): Unit = TokenizerStore.artifact(spark, path, "bpe-merges")
        def snapshot(path: String): Set[String] = {
          val (merges, endMark) = TokenizerStore.loadBpeMerges(spark, path)
          Set(merges.mkString(",") + s"|$endMark")
        }
      },
      new StoreCase("unigram vocab") {
        def save(path: String, ids: Seq[Long]): Unit =
          TokenizerStore.saveUnigramVocab(spark, ids.map(i => (s"p$i", -1.0 - i)), path)
        def load(path: String): Unit = TokenizerStore.artifact(spark, path, "unigram-vocab")
        def snapshot(path: String): Set[String] =
          TokenizerStore.loadUnigramVocab(spark, path).map(_.toString).toSet
      },
      new StoreCase("WordPiece vocab") {
        def save(path: String, ids: Seq[Long]): Unit =
          TokenizerStore.saveWordPieceVocab(spark, ids.map(i => s"w$i"), path)
        def load(path: String): Unit = TokenizerStore.artifact(spark, path, "wordpiece-vocab")
        def snapshot(path: String): Set[String] = {
          val (vocab, cont, unk) = TokenizerStore.loadWordPieceVocab(spark, path)
          Set(vocab.mkString(",") + s"|$cont|$unk")
        }
      },
      new StoreCase("sketch states") {
        // one HLL state per shard; the shard key (first column) is the id
        def states(ids: Seq[Long]): DataFrame = SketchStats.shardSketches(
          ids.flatMap(i => (0L until 3L).map(j => (i, i * 3 + j))).toDF("shard", "key"),
          "shard", "key")
        def save(path: String, ids: Seq[Long]): Unit = SketchStats.saveStates(states(ids), path)
        def load(path: String): Unit = SketchStats.loadStates(spark, path)
        def snapshot(path: String): Set[String] =
          rowsOf(SketchStats.shardEstimates(SketchStats.loadStates(spark, path), "shard"))
        override def append = Some((p, ids) => SketchStats.appendStates(states(ids), p))
      })
  }
}
