package graft.operators

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.SparkTestSession

/** The stored minhash-signature lifecycle (save / load / append /
  * compact / remove / audit-from-store): geometry is baked into the
  * store stamp so an incomparable append is unrepresentable, audits
  * answered from the store equal the recompute path exactly, and
  * every mutation follows the loud-guard conventions of the setsim
  * stored state.
  */
class SignatureStoreSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark
  import spark.implicits._

  // clones share all but one token with their source → near-dups at 0.8
  private def mkCorpus(ids: Range): Seq[(Long, String)] = {
    val rnd = new scala.util.Random(91)
    val vocab = (0 until 40).map(i => s"w$i")
    ids.map { id =>
      id.toLong -> rnd.shuffle(vocab).take(12).mkString(" ")
    }
  }

  private def df(rows: Seq[(Long, String)]) = rows.toDF("doc_id", "text")

  private def clonesOf(rows: Seq[(Long, String)], off: Long) =
    rows.map { case (id, t) => (id + off) -> (t + " zzextra") }

  private def pairs(p: org.apache.spark.sql.DataFrame) =
    p.select($"a", $"b").as[(Long, Long)].collect().toSet

  test("audit from the store equals the recompute path; append == rebuild") {
    val half1 = mkCorpus(0 until 25)
    val half2 = mkCorpus(100 until 120)
    val all = half1 ++ half2
    val batch = clonesOf(all, 10000L)
    val path =
      java.nio.file.Files.createTempDirectory("sigstore_rt").toString
    Dedup.saveSignatureStore(df(half1), "doc_id", "text", path)
    Dedup.appendSignatureStore(spark, path, df(half2), "doc_id", "text")
    val fromStore = pairs(Dedup.incrementalNearDupFromStore(spark, path,
      df(batch), df(all), minJaccard = 0.8))
    val recomputed = pairs(Dedup.incrementalNearDupPairs(df(batch),
      df(all), minJaccard = 0.8))
    assert(fromStore == recomputed)
    // every clone found its source (the planted guarantee)
    assert(fromStore.map(_._1) == batch.map(_._1).toSet)
    // colliding append is rejected eagerly
    val ex = intercept[IllegalArgumentException] {
      Dedup.appendSignatureStore(spark, path, df(half1.take(1)),
        "doc_id", "text")
    }
    assert(ex.getMessage.contains("collide"))
  }

  test("geometry rides the stamp: non-default store answers identically") {
    val corpus = mkCorpus(0 until 30)
    val batch = clonesOf(corpus, 10000L)
    val path =
      java.nio.file.Files.createTempDirectory("sigstore_geom").toString
    Dedup.saveSignatureStore(df(corpus), "doc_id", "text", path,
      shingleK = 4, numHashes = 32)
    val st = Dedup.loadSignatureStore(spark, path)
    assert((st.shingleK, st.numHashes) == (4, 32))
    // from-store derives k/h from the stamp — equality with an explicit
    // recompute at the SAME geometry proves nothing was defaulted
    val fromStore = pairs(Dedup.incrementalNearDupFromStore(spark, path,
      df(batch), df(corpus), minJaccard = 0.8))
    val recomputed = pairs(Dedup.incrementalNearDupPairs(df(batch),
      df(corpus), minJaccard = 0.8, shingleK = 4, numHashes = 32))
    assert(fromStore == recomputed)
    assert(fromStore.nonEmpty)
  }

  test("foreign or stale stamps are rejected loudly") {
    val corpus = mkCorpus(0 until 5)
    val bad =
      java.nio.file.Files.createTempDirectory("sigstore_bad").toString
    Dedup.saveSignatureStore(df(corpus), "doc_id", "text", bad,
      numHashes = 32)
    graft.store.StoreTestKit.stampForeign(spark, bad,
      "graft-minhashsig-v1;k=5;h=32")
    val ex = intercept[IllegalArgumentException] {
      Dedup.loadSignatureStore(spark, bad)
    }
    assert(ex.getMessage.contains("rebuild"))
    // a signature table written without a manifest at all
    val bare =
      java.nio.file.Files.createTempDirectory("sigstore_bare").toString
    Dedup.signatures(df(corpus), "doc_id", "text", 5, 32)
      .write.mode("overwrite").parquet(bare)
    val ex2 = intercept[IllegalArgumentException] {
      Dedup.loadSignatureStore(spark, bare)
    }
    assert(ex2.getMessage.contains("no manifest"))
  }

  test("a store of the per-row family-column layout is refused with the rebuild call") {
    // what earlier builds committed: the right stamp, but a sig_family
    // column on every stored row
    val corpus = mkCorpus(0 until 5)
    val old =
      java.nio.file.Files.createTempDirectory("sigstore_old").toString
    graft.store.Store.save(spark, old, Dedup.sigStoreStamp(5, 64),
      Seq(("sigs", Dedup.signatures(df(corpus), "doc_id", "text", 5, 64)
        .withColumn("sig_family", lit(Dedup.signatureFamilyVersion)), Some("id"))))
    val refusals = Seq[() => Unit](
      () => Dedup.loadSignatureStore(spark, old),
      () => Dedup.incrementalNearDupFromStore(spark, old,
        df(clonesOf(corpus, 100L)), df(corpus)),
      () => Dedup.appendSignatureStore(spark, old, df(mkCorpus(50 until 52)),
        "doc_id", "text"))
    refusals.foreach { call =>
      val ex = intercept[IllegalArgumentException](call())
      assert(ex.getMessage.contains("(id, sig, sig_family)"))
      assert(ex.getMessage.contains("rebuild with Dedup.saveSignatureStore"))
    }
  }

  test("remove: retracted ids stop pairing; loud guards; compact keeps rows") {
    val corpus = mkCorpus(0 until 30)
    val gone = Set(3L, 11L)
    val path =
      java.nio.file.Files.createTempDirectory("sigstore_rm").toString
    Dedup.saveSignatureStore(df(corpus), "doc_id", "text", path)
    Dedup.removeSignatureStore(spark, path, gone.toSeq.toDF("doc_id"))
    val batch = clonesOf(corpus, 10000L)
    val survivors = corpus.filterNot(r => gone(r._1))
    val got = pairs(Dedup.incrementalNearDupFromStore(spark, path,
      df(batch), df(survivors), minJaccard = 0.8))
    assert(!got.exists(p => gone(p._2)), "removed ids still answer")
    assert(got.map(_._2).intersect(survivors.map(_._1).toSet).nonEmpty)
    val e1 = intercept[IllegalArgumentException] {
      Dedup.removeSignatureStore(spark, path, Seq(424242L).toDF("doc_id"))
    }
    assert(e1.getMessage.contains("not in the store"))
    val e2 = intercept[IllegalArgumentException] {
      Dedup.removeSignatureStore(spark, path,
        survivors.map(_._1).toDF("doc_id"))
    }
    assert(e2.getMessage.contains("empty"))
    // compact: identical rows back, fewer files after appends
    (1 to 4).foreach { g =>
      Dedup.appendSignatureStore(spark, path,
        df(mkCorpus(1000 * g until 1000 * g + 8)), "doc_id", "text")
    }
    def rows() = Dedup.loadSignatureStore(spark, path).sigs
      .select($"id", $"sig").as[(Long, Seq[Long])].collect().toSet
    def nFiles(): Int = {
      val hp = new org.apache.hadoop.fs.Path(path)
      val fs = hp.getFileSystem(spark.sparkContext.hadoopConfiguration)
      val it = fs.listFiles(hp, true)
      var n = 0
      while (it.hasNext) {
        if (it.next().getPath.getName.endsWith(".parquet")) n += 1
      }
      n
    }
    val before = rows()
    val filesBefore = nFiles()
    Dedup.compactSignatureStore(spark, path)
    assert(rows() == before, "compaction changed the stored rows")
    assert(nFiles() < filesBefore)
  }
}
