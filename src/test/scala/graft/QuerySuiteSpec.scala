package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

object SparkTestSession {
  lazy val spark: SparkSession = {
    val s = GraftSession.local(4).appName("graft-test").getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }
}

/** Smoke + semantic checks for every registered query on sf0.001.
  * Oracle-differential checking (vs DuckDB) is the driver's job; here we
  * pin schema/row invariants and a few hand-computed values.
  */
class QuerySuiteSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark
  private val sf = "/root/testdata/sf0.001"

  test("every registered query executes and is non-degenerate") {
    SparkEntry.queries.foreach { case (name, fn) =>
      val df = fn(spark, sf)
      assert(df.columns.nonEmpty, s"$name has no columns")
      val n = df.count()
      assert(n >= 0, s"$name failed to execute")
    }
  }

  test("gate names are globally unique across suites") {
    // queries is a toMap over all suites — a duplicate name would
    // silently DROP one of the two gates from the driver's view
    val names = SparkEntry.suites.flatMap(_.queries).map(_.name)
    val dups = names.groupBy(identity).filter(_._2.size > 1).keys.toSeq
    assert(dups.isEmpty, s"duplicate gate names: $dups")
  }

  test("every oracle key refers to a registered query") {
    val qs = SparkEntry.queries.keySet
    val orphans = SparkEntry.oracleSql.keySet.diff(qs)
    assert(orphans.isEmpty, s"oracles without queries: $orphans")
  }

  test("entry (flagship) returns rows") {
    assert(SparkEntry.entry(spark).count() > 0)
  }

  test("q_count_by_brand is ordered desc and bounded") {
    val rows = SparkEntry.queries("q_count_by_brand")(spark, sf).collect()
    assert(rows.length <= 20)
    val cnts = rows.map(_.getLong(1))
    assert(cnts.sameElements(cnts.sortBy(-_)), "counts not descending")
  }

  test("q_upsert: updated keys carry negated price, others original") {
    val out = SparkEntry.queries("q_upsert")(spark, sf)
    val neg = out.filter("o_orderkey % 10 = 0 AND o_totalprice >= 0").count()
    val pos = out.filter("o_orderkey % 10 <> 0 AND o_totalprice < 0").count()
    assert(neg == 0 && pos == 0)
  }

  test("q_crud_snapshot: insert/update/delete semantics") {
    val out = SparkEntry.queries("q_crud_snapshot")(spark, sf).collect()
    val byKey = out.map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(byKey.contains(-1L), "inserted row missing")
    assert(byKey(7L) == "X", "update by key not applied")
    assert(!byKey.contains(32L), "deleted key still present")
  }

  test("q_wkt_extract round-trips integer coordinates") {
    val out = SparkEntry.queries("q_wkt_extract")(spark, sf)
    val bad = out.filter("latitude IS NULL OR longitude IS NULL OR latitude <> c_custkey").count()
    assert(bad == 0)
  }

  test("q_incremental_* gates answer the same rows on both audit routes") {
    // the batch-probe route (a small batch, the session default) and the
    // exchange route (broadcasts off)
    def rows(q: String) =
      SparkEntry.queries(q)(spark, sf).collect().map(_.toString).toSeq.sorted
    for (q <- Seq("q_incremental_setsim", "q_incremental_neardup",
                  "q_incremental_containment")) {
      val probe = rows(q)
      assert(probe.nonEmpty, q)
      assert(probe == graft.operators.BatchProbeSpec.exchangeRoute(spark)(rows(q)), q)
    }
  }
}
