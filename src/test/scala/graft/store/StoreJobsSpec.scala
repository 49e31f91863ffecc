package graft.store

import org.scalatest.funsuite.AnyFunSuite

import graft.SparkTestSession
import StoreTestKit._

/** What a store call costs in Spark jobs, per store: a load reads the
  * manifest and runs no job; an append of ids above the stored range
  * runs its writes and no id check; an append of fresh ids inside the
  * stored range pays the semi-join and succeeds; a colliding append is
  * refused and leaves the old version loadable with its old row count.
  */
class StoreJobsSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark

  private val base: Seq[Long] = (0L until 30L) ++ (60L until 90L)

  private val writesOnly = Set("signature store", "set-sim sets", "BM25 index")

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
        // the PQ appends also check the batch's vector width first
        if (writesOnly(c.name)) assert(above.forall(isWrite), s"non-write jobs: $above")
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
}
