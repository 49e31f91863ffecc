package graft.store

import org.scalatest.funsuite.AnyFunSuite

import graft.SparkTestSession
import graft.operators.{Dedup, TokenizerStore}
import StoreTestKit._

/** What a store call costs in Spark jobs, per store: a load reads the
  * manifest and runs no job; an append of ids above the stored range
  * runs its writes, no id check and no probe beyond the listed ones; an
  * append of fresh ids inside the stored range pays the semi-join and
  * succeeds; a colliding append is refused and leaves the old version
  * loadable with its old row count.
  */
class StoreJobsSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark

  private val base: Seq[Long] = (0L until 30L) ++ (60L until 90L)

  /** The probes an append above the stored range may run besides its
    * writes, by call site: the PQ append's one width probe over every
    * row, and the OPQ append's one probe, which checks the widths and
    * refuses an empty batch (its rotated batch then skips the PQ
    * probe). A filter-and-limit probe over a local batch runs on the
    * driver, with no job; the OPQ probe's sort runs one. */
  private val appendProbes = Map(
    "IVF-PQ index" -> Set("collect at Pq.scala"),
    "OPQ index" -> Set("collect at Opq.scala"))

  private def site(job: String): String = job.takeWhile(_ != ':')

  StoreCases.all(SparkTestSession.spark).foreach { c =>
    test(s"${c.name}: a load runs zero jobs") {
      val path = tempDir("store_jobs_load")
      c.save(path, base)
      val (_, jobs) = jobsOf(spark)(c.load(path))
      assert(jobs.isEmpty, s"load ran $jobs")
    }

    c.append.foreach { append =>
      test(s"${c.name}: appends check ids only when the ranges overlap") {
        val path = tempDir("store_jobs_append")
        c.save(path, base)
        val rows0 = c.storedRows(spark, path)

        val (_, above) = jobsOf(spark)(append(path, 100L until 105L))
        assert(above.exists(isWrite), s"no write job: $above")
        assert(!above.exists(isIdCheck), s"disjoint append ran an id check: $above")
        val probes = appendProbes.getOrElse(c.name, Set.empty[String])
        assert(above.filterNot(isWrite).map(site).forall(probes), s"non-write jobs: $above")
        val rows1 = c.storedRows(spark, path)
        assert(rows1 > rows0)

        val (_, inside) = jobsOf(spark)(append(path, 40L until 45L))
        assert(inside.exists(isIdCheck), s"overlapping append: $inside")
        val rows2 = c.storedRows(spark, path)
        assert(rows2 > rows1)

        val before = c.snapshot(path)
        val ex = intercept[IllegalArgumentException] {
          append(path, (200L until 203L) :+ 42L)
        }
        assert(ex.getMessage.contains("collide"))
        assert(c.storedRows(spark, path) == rows2)
        assert(c.snapshot(path) == before)
        assert(entries(path) == live(spark, path),
          "the refused file-set was left behind")
      }
    }
  }

  test("tokenizer loads run one job, the collect of the artifact's rows") {
    val kinds = Seq[(String => Unit, String => Any)](
      (TokenizerStore.saveBpeMerges(spark, Seq(("a", "b"), ("ab", "c")), _),
        TokenizerStore.loadBpeMerges(spark, _)),
      (TokenizerStore.saveUnigramVocab(spark, Seq(("a", -1.0), ("b", -2.0)), _),
        TokenizerStore.loadUnigramVocab(spark, _)),
      (TokenizerStore.saveWordPieceVocab(spark, Seq("a", "##b"), _),
        TokenizerStore.loadWordPieceVocab(spark, _)))
    kinds.foreach { case (save, load) =>
      val path = tempDir("store_jobs_tok")
      save(path)
      val (_, jobs) = jobsOf(spark)(load(path))
      assert(jobs.map(site) == Seq("collect at TokenizerStore.scala"), s"load ran $jobs")
    }
  }

  test("an audit from the signature store runs no signature-family probe") {
    import spark.implicits._
    val path = tempDir("store_jobs_audit")
    def docs(ids: Seq[Long]) =
      ids.map(i => (i, (0 until 12).map(j => s"w${(i * 7 + j * 3) % 40}").mkString(" ")))
        .toDF("doc_id", "text")
    Dedup.saveSignatureStore(docs(0L until 30L), "doc_id", "text", path)
    val (pairs, jobs) = jobsOf(spark)(Dedup.incrementalNearDupFromStore(spark, path,
      docs(100L until 105L), docs(0L until 30L)))
    assert(!jobs.exists(_.startsWith("take at Dedup.scala")), s"audit ran $jobs")
    assert(pairs.columns.toSeq == Seq("a", "b", "jaccard"))
  }
}
