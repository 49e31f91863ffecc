package graft.plans

import org.scalatest.funsuite.AnyFunSuite
import graft.SparkTestSession

/** Pins the side-thread contract the overlapped head jobs rely on:
  * results come back through the join, a failure reaches the caller
  * as itself (not wrapped), and the side thread inherits the caller's
  * Spark local properties.
  */
class SideJobsSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark

  test("fork returns the body's result on a different thread") {
    val caller = Thread.currentThread()
    val join = SideJobs.fork((Thread.currentThread() ne caller, 6 * 7))
    assert(join() == ((true, 42)))
  }

  test("a failing body rethrows its own exception at the join") {
    val join = SideJobs.fork(require(false, "side check failed"))
    val e = intercept[IllegalArgumentException](join())
    assert(e.getMessage.contains("side check failed"))
  }

  test("side threads inherit the caller's Spark local properties") {
    val sc = spark.sparkContext
    sc.setLocalProperty("graft.sidejobs.probe", "caller")
    try {
      val join = SideJobs.fork {
        sc.setLocalProperty("graft.sidejobs.probe.inner", "x")
        (sc.getLocalProperty("graft.sidejobs.probe"),
         sc.parallelize(1 to 10, 2).count())
      }
      assert(join() == (("caller", 10L)))
      assert(sc.getLocalProperty("graft.sidejobs.probe.inner") == null)
    } finally sc.setLocalProperty("graft.sidejobs.probe", null)
  }
}
