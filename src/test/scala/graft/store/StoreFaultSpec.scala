package graft.store

import org.scalatest.funsuite.AnyFunSuite

import graft.SparkTestSession
import StoreTestKit._

/** Crash consistency, per store and per mutation: the mutation is run
  * once per step it takes (each file-set write, and the commit before
  * its sweep), failing at that step. After every failure a load
  * returns exactly the old version (failed before the commit) or
  * exactly the new one (failed after it), and the next commit sweeps
  * whatever the failure left behind.
  */
class StoreFaultSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark

  private final class InjectedFault extends RuntimeException("injected fault")

  private val base: Seq[Long] = 0L until 30L

  /** @param changesRows false for compaction, which only moves rows */
  private def crashEveryStep(c: StoreCase, prepare: String => Unit,
                             changesRows: Boolean = true)(
      op: String => Unit): Unit = {
    // an uninterrupted run: the old and new versions, and the steps
    val clean = tempDir("store_fault_clean")
    prepare(clean)
    val old = c.snapshot(clean)
    val seen = scala.collection.mutable.ArrayBuffer[String]()
    Store.withFaultHook(step => seen.synchronized(seen += step))(op(clean))
    val steps = seen.toList
    assert(steps.count(_ == Store.Committed) == 1, s"${c.name}: steps $steps")
    assert(steps.last == Store.Committed)
    val updated = c.snapshot(clean)
    assert(changesRows == (old != updated), s"${c.name}: rows changed: ${old != updated}")
    steps.indices.foreach { at =>
      val path = tempDir("store_fault")
      prepare(path)
      val version = Store.manifest(spark, path).get.version
      var hits = 0
      intercept[InjectedFault] {
        Store.withFaultHook { _ =>
          val n = synchronized { hits += 1; hits }
          if (n == at + 1) throw new InjectedFault
        }(op(path))
      }
      val committed = steps(at) == Store.Committed
      assert(c.snapshot(path) == (if (committed) updated else old),
        s"${c.name}: crash after step ${at + 1} of $steps")
      assert(Store.manifest(spark, path).get.version ==
        (if (committed) version + 1 else version))
      if (committed) c.save(path, base) else {
        op(path)
        assert(c.snapshot(path) == updated)
      }
      assert(entries(path) == live(spark, path),
        s"${c.name}: the next commit left ${entries(path) -- live(spark, path)}")
    }
  }

  StoreCases.all(SparkTestSession.spark).foreach { c =>
    test(s"${c.name}: a crash at any step of a save over the old version") {
      // the PQ cases seed centroids and codebooks from ids below 16
      crashEveryStep(c, c.save(_, base))(c.save(_, (0L until 16L) ++ (100L until 114L)))
    }
    c.append.foreach { append =>
      test(s"${c.name}: a crash at any step of an append") {
        crashEveryStep(c, c.save(_, base))(append(_, 100L until 105L))
      }
    }
    c.compact.foreach { compact =>
      test(s"${c.name}: a crash at any step of a compaction") {
        crashEveryStep(c, { p => c.save(p, base); c.append.get(p, 100L until 105L) },
          changesRows = false)(compact)
      }
    }
    c.remove.foreach { remove =>
      test(s"${c.name}: a crash at any step of a removal") {
        crashEveryStep(c, c.save(_, base))(remove(_, Seq(3L, 7L)))
      }
    }
  }
}
