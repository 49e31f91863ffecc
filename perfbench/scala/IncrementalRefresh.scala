package perfbench

import java.nio.file.{Files, Path}

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

import graft.BenchAction
import graft.functions.{MinhashSig, PercolateAlerts, TextFunctions}
import graft.operators.{Bm25, Dedup, SetSimJoin}

/** Stored state under a stream of small batches: signature store, BM25
  * index with a percolate registry, and set-sim sets, each queried,
  * appended to and compacted per batch. */
final class IncrementalRefresh(spark: SparkSession) extends Workload {
  import spark.implicits._

  val BaseDocs = 1500
  val MaxBatches = 40
  val BatchDocs = 60
  val Queries = 100
  val MinJaccard = 0.8
  val AlertScore = 8.0
  val LshMarginTokens = 45

  val spanNames = Seq("operators.inc_neardup", "operators.sigstore_append",
    "operators.bm25_append", "operators.percolate", "operators.inc_setsim",
    "operators.sets_append", "operators.store_compact")

  private var gen: Gen.Refresh = _
  private var dir: Path = _
  private var inputFiles: Seq[Path] = Nil
  private def store(name: String) = dir.resolve(s"store/$name").toString
  private def sigPath = store("signatures")
  private def bm25Path = store("bm25")
  private def regPath = store("registry")
  private def setsPath = store("sets")
  private def basePath = dir.resolve("base.parquet").toString

  private var done = 0 // batches appended so far, warm-up included
  private val batchT = ArrayBuffer[Timing]()
  private val nearPairs = ArrayBuffer[(Long, Long)]()
  private val setPairs = ArrayBuffer[(Long, Long)]()
  private val alerts = ArrayBuffer[(Long, Long, Double)]()
  private var corpus: DataFrame = _

  private def frame(docs: Seq[Gen.Doc]): DataFrame =
    docs.map(d => (d.id, d.source, d.text)).toDF("doc_id", "source", "text")

  private def toks(df: DataFrame): DataFrame =
    df.select(col("doc_id"), TextFunctions.tokens(col("text")).as("toks"))

  def generate(d: Path, seed: Long): Seq[Path] = {
    dir = d
    Files.createDirectories(d)
    gen = Gen.refresh(seed, BaseDocs, MaxBatches, BatchDocs, Queries)
    inputFiles = Seq(d.resolve("base.tsv"), d.resolve("batches.tsv"))
    Gen.writeDocs(inputFiles(0), gen.base)
    Gen.writeDocs(inputFiles(1), gen.batches.flatten)
    inputFiles
  }

  def stage(): Unit = {
    frame(gen.base).write.mode("overwrite").parquet(basePath)
    val base = spark.read.parquet(basePath)
    Dedup.saveSignatureStore(base, "doc_id", "text", sigPath)
    Bm25.saveIndex(base, bm25Path)
    Bm25.savePercolateTable(Bm25.compilePercolateTable(Bm25.loadIndex(spark, bm25Path),
      gen.queries.toDF("query_id", "query_text")), regPath)
    SetSimJoin.saveSets(toks(base), "doc_id", "toks", setsPath)
    corpus = base
  }

  /** One batch: audit against the stores, append to them, compact them.
    * Compacting every batch keeps each timed batch the same shape, and a
    * run's window holds whole batches. */
  private def batch(rec: Recorder, compact: Boolean = true): Unit = {
    val b = frame(gen.batches(done))
    val bt = toks(b)
    rec.call("operators.inc_neardup")(Dedup.incrementalNearDupFromStore(
        spark, sigPath, b, corpus, minJaccard = MinJaccard)) { df =>
      nearPairs ++= df.select("a", "b").collect().map(r => Gen.ordered(r.getLong(0), r.getLong(1)))
    }
    rec.op("operators.sigstore_append")(
      Dedup.appendSignatureStore(spark, sigPath, b, "doc_id", "text"))
    rec.op("operators.bm25_append")(Bm25.appendDocs(spark, bm25Path, b))
    rec.call("operators.percolate")(Bm25.percolateJoin(b,
        Bm25.loadPercolateTable(spark, regPath), AlertScore)) { df =>
      alerts ++= df.collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    }
    rec.call("operators.inc_setsim")(SetSimJoin.incrementalJaccardPairs(
        spark, setsPath, bt, "doc_id", "toks", MinJaccard)) { df =>
      setPairs ++= df.select("a", "b").collect().map(r => Gen.ordered(r.getLong(0), r.getLong(1)))
    }
    rec.op("operators.sets_append")(SetSimJoin.appendSets(spark, setsPath, bt, "doc_id", "toks"))
    corpus = corpus.unionByName(b)
    done += 1
    if (compact) rec.op("operators.store_compact") {
      Dedup.compactSignatureStore(spark, sigPath)
      Bm25.compactIndex(spark, bm25Path)
      SetSimJoin.compactSets(spark, setsPath)
    }
  }

  /** Two batches, the first without compaction: after one batch, the
    * first timed batch took 10–25% more CPU than the batches after it. */
  def warmup(rec: Recorder): Unit = {
    batch(rec, compact = false)
    batch(rec)
  }

  /** Whole batches, at least one; another starts only if a batch as
    * long as the last would still end inside the window. */
  def timed(rec: Recorder, out: Outcome, deadlineNs: Long): Unit = {
    var lastNs = 0L
    do {
      require(done < MaxBatches, s"the window outlasted the $MaxBatches generated batches")
      var ok = false
      rec.settle()
      val t0 = System.nanoTime()
      val t = rec.pass { ok = out.attempt(batch(rec)) }
      lastNs = System.nanoTime() - t0
      if (ok) batchT += t
    } while (System.nanoTime() + lastNs <= deadlineNs)
  }

  /** ns per row of `project` over the persisted `input`, net of `bare`
    * (consuming the input columns alone); the median of three. */
  private def nsPerRow(input: DataFrame, project: DataFrame => DataFrame,
                       bare: DataFrame => DataFrame): Double = {
    val rows = BenchAction.consumeAll(input).toDouble
    def time(df: DataFrame) = {
      val t = System.nanoTime(); BenchAction.consumeAll(df); System.nanoTime() - t
    }
    val net = (0 until 3).map(_ => (time(project(input)) - time(bare(input))).toDouble)
    math.max(0.0, Stats.median(net)) / rows
  }

  def finish(out: Outcome, traced: Boolean): Unit = {
    val batches = gen.batches.take(done)
    val batchIds = batches.flatten.map(_.id).toSet
    val all = spark.read.parquet(basePath).unionByName(frame(batches.flatten))
      .persist(StorageLevel.MEMORY_AND_DISK)
    def touching(df: DataFrame): Set[(Long, Long)] =
      df.select("a", "b").collect().map(r => Gen.ordered(r.getLong(0), r.getLong(1)))
        .filter { case (a, b) => batchIds(a) || batchIds(b) }.toSet
    val planted = gen.planted.filter(p => batchIds(p._2)).map(p => Gen.ordered(p._1, p._2)).toSet
    val oneShotNear = touching(Dedup.nearDuplicatePairs(all, minJaccard = MinJaccard))
    out.check("inc_neardup_equals_oneshot", nearPairs.toSet == oneShotNear,
      s"incremental ${nearPairs.toSet.size} pairs vs one-shot ${oneShotNear.size}")
    // MinHash LSH recall is probabilistic: it is promised only for twins
    // of documents with at least LshMarginTokens tokens (the margin the
    // q_incremental_neardup gate plants with); recall over every twin is
    // recorded beside it
    val lshPlanted = planted.filter(p => gen.base(p._1.toInt).text.split("\\s+").length >= LshMarginTokens)
    out.check("inc_neardup_recall", lshPlanted.subsetOf(nearPairs.toSet),
      s"${(lshPlanted -- nearPairs).size} of ${lshPlanted.size} planted twins with " +
      s">= $LshMarginTokens tokens missed")
    out.meta("inc_neardup_twin_recall") = (planted & nearPairs.toSet).size.toDouble / planted.size
    val oneShotSets = touching(SetSimJoin.jaccardPairs(toks(all), "doc_id", "toks", MinJaccard))
    out.check("inc_setsim_equals_oneshot", setPairs.toSet == oneShotSets,
      s"incremental ${setPairs.toSet.size} pairs vs one-shot ${oneShotSets.size}")
    out.check("inc_setsim_recall", planted.subsetOf(setPairs.toSet),
      s"${(planted -- setPairs).size} of ${planted.size} planted twins missed")
    val compiled = Bm25.loadPercolateTable(spark, regPath)
    val oneShotAlerts = Bm25.percolateJoin(frame(batches.flatten), compiled, AlertScore)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    out.check("percolate_equals_oneshot", alerts.toSet == oneShotAlerts && alerts.nonEmpty,
      s"per-batch ${alerts.size} alerts vs one-shot ${oneShotAlerts.size}")
    val stored = SetSimJoin.loadSets(spark, setsPath).count()
    out.check("sets_rows", stored == BaseDocs + batchIds.size,
      s"stored sets $stored, expected ${BaseDocs + batchIds.size}")

    // outputs of the batches every run reaches: warm-up plus one timed
    val fixed = gen.batches.take(3).flatten.map(_.id).toSet
    out.meta("outputs_sha256") = Main.sha256(Json.render(Seq(
      nearPairs.filter(p => fixed(p._2)).sorted, setPairs.filter(p => fixed(p._2)).sorted,
      alerts.filter(a => fixed(a._2)).sorted)).getBytes("UTF-8"))
    val storeBytes = Seq("signatures", "bm25", "registry", "sets")
      .map(s => Main.du(dir.resolve(s"store/$s"))).sum
    val inputBytes = Files.size(inputFiles.head) +
      batches.flatten.map(d => s"${d.id}\t${d.source}\t${d.text}\n".length.toLong).sum
    out.e2e("rows_per_cpu_s") = batchT.length * BatchDocs / batchT.map(_.cpuS).sum
    out.e2e("op_cpu_ms") = batchT.map(_.cpuS).sum / batchT.length * 1e3
    out.wall("throughput_rows_s") = batchT.length * BatchDocs / batchT.map(_.wallS).sum
    out.wall("op_ms") = batchT.map(_.wallS).sum / batchT.length * 1e3
    out.e2e("store_bytes_per_input_byte") = storeBytes.toDouble / inputBytes
    out.meta("tail") = Stats.tail("refresh batch", batchT.map(_.wallS * 1e3).toSeq)
    out.meta("batches") = batchT.length
    out.meta("batch_cpu_s") = batchT.map(_.cpuS).toSeq
    out.meta("input_rows") = BaseDocs + batchIds.size
    out.meta("input_rows_generated") = BaseDocs + MaxBatches * BatchDocs
    out.meta("input_bytes") = inputBytes
    out.meta("alerts") = alerts.size
    if (traced) {
      val candidates = Dedup.lshCandidatePairs(all).count()
      out.layer("operators.minhash.verify_yield") =
        oneShotNear.size.toDouble / math.max(candidates, 1L)
      val docs = all.select(col("text"), TextFunctions.tokens(col("text")).as("tk"))
        .persist(StorageLevel.MEMORY_ONLY)
      out.layer("functions.minhash_sig.ns_row") = nsPerRow(docs,
        _.select(MinhashSig.minhash_sig(Dedup.tokenHashes(col("text"))).as("s")),
        _.select("text"))
      val reg = broadcast(compiled.select("qmap", "avgdl"))
      out.layer("functions.percolate_alerts.ns_row") = nsPerRow(docs,
        _.crossJoin(reg).select(PercolateAlerts.alerts(col("tk"), col("qmap"),
          col("avgdl"), 1.2, 0.75, AlertScore).as("al")),
        _.crossJoin(reg).select("tk"))
      docs.unpersist(blocking = true)
    }
    all.unpersist(blocking = true)
  }
}
