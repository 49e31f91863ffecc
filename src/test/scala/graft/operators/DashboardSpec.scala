package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.exchange.Exchange
import org.scalatest.funsuite.AnyFunSuite
import graft.SparkTestSession
import graft.store.StoreTestKit.jobsOf

class DashboardSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark
  import spark.implicits._

  private lazy val ev = Seq(
    ("V1", "Seattle", Some(2020), "TESLA", Some(250)),
    ("V2", "Seattle", Some(2019), "KIA", Some(300)),
    ("V3", "Tacoma", None, "TESLA", None),
    ("V4", "Olympia", Some(2021), "FORD", Some(150))
  ).toDF("vin", "city", "year", "make", "electric_range")

  test("filterDomain: distinct sorted non-null values") {
    assert(Dashboard.filterDomain(ev, "city") == Seq("Olympia", "Seattle", "Tacoma"))
    assert(Dashboard.filterDomain(ev, "year") == Seq("2019", "2020", "2021"))
  }

  test("filterDomain refuses high-cardinality columns instead of OOMing the driver") {
    val wide = spark.range(0, 5000).toDF("id")
      .selectExpr("cast(id as string) AS k")
    val e = intercept[IllegalArgumentException] {
      Dashboard.filterDomain(wide, "k", maxDomain = 100)
    }
    assert(e.getMessage.contains("k") && e.getMessage.contains("100"))
    // at exactly the cap it still works, and the order is the plan's
    // (sort-before-limit), not a driver-side re-sort
    val atCap = Dashboard.filterDomain(wide, "k", maxDomain = 5000)
    assert(atCap.length == 5000 && atCap == atCap.sorted)
  }

  test("filterDomain plans a top-k (TakeOrderedAndProject), not a full sort") {
    import org.apache.spark.sql.functions._
    // a distributed source (LocalRelation inputs special-case away the
    // top-k conversion, so a Seq-backed frame can't pin this invariant)
    val src = spark.range(0, 5000).selectExpr("cast(id % 37 as string) AS k")
    val df = src.select(col("k").cast("string")).na.drop()
      .distinct().orderBy(asc("k")).limit(101)
    df.collect() // AQE finalizes the physical plan on execution
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("TakeOrderedAndProject"), s"plan was:\n$plan")
  }

  test("selections: conjunctive isin, empty list means no constraint") {
    val sel = Map("city" -> Seq("Seattle"), "make" -> Seq[String]())
    val got = Dashboard.applySelections(ev, sel)
      .select("vin").as[String].collect().sorted.toSeq
    assert(got == Seq("V1", "V2"))
    val none = Dashboard.applySelections(ev,
      Map("city" -> Seq("Nowhere")))
    assert(Dashboard.isEmptySelection(none))
  }

  test("kpis: count + null-ignoring rounded means") {
    val row = Dashboard.kpis(ev, "vehicles", Seq("year", "electric_range"))
      .collect()(0)
    assert(row.getLong(0) == 4)
    assert(row.getDouble(1) == 2020.0)              // mean of 3 non-null years
    assert(math.abs(row.getDouble(2) - 233.3) < 1e-9)  // round(700/3, 1)
  }

  test("groupedCounts ordered desc with tiebreak, optional top-k") {
    val got = Dashboard.groupedCounts(ev, "make")
      .as[(String, Long)].collect().toSeq
    assert(got == Seq(("TESLA", 2L), ("FORD", 1L), ("KIA", 1L)))
    assert(Dashboard.groupedCounts(ev, "make", topK = 1).count() == 1)
  }

  private object Plans extends AdaptiveSparkPlanHelper

  /** The partitions `df` reads, without a job (its plan holds no
    * exchange). */
  private def width(df: DataFrame): Int =
    df.queryExecution.executedPlan.execute().getNumPartitions

  /** Collects `df` and returns the exchanges of its executed plan
    * (adaptive stages and subqueries included) and its job count. */
  private def run(df: DataFrame): (Seq[Exchange], Int) = {
    val (_, jobs) = jobsOf(spark)(df.collect())
    (Plans.collectWithSubqueries(df.queryExecution.executedPlan) {
      case e: Exchange => e }, jobs.size)
  }

  test("cached: a frame under the target is one partition; calls over it plan no exchange") {
    import org.apache.spark.sql.functions._
    val src = spark.range(0, 1000, 1, 4).select(
      concat(lit("V"), col("id")).as("vin"),
      element_at(array(lit("Seattle"), lit("Tacoma"), lit("Olympia")),
        (col("id") % 3 + 1).cast("int")).as("city"),
      element_at(array(lit("TESLA"), lit("KIA"), lit("FORD"), lit("BMW")),
        (col("id") % 4 + 1).cast("int")).as("make"),
      (col("id") % 300).as("electric_range"))
    assert(width(src) == 4)
    val cache = Dashboard.cached(src)
    try {
      assert(width(cache) == 1)
      assert(cache.count() == 1000)
      val f = Dashboard.applySelections(cache,
        Map("city" -> Seq("Seattle", "Tacoma"), "make" -> Seq[String]()))
      cache.createOrReplaceTempView("dashboard_cache")
      val calls = Seq(
        "kpis" -> Dashboard.kpis(f, "vin", Seq("electric_range")),
        "groupedCounts" -> Dashboard.groupedCounts(f, "make"),
        "aggregate and sort" -> spark.sql(
          """SELECT make, COUNT(*) AS cnt FROM dashboard_cache
             GROUP BY make HAVING COUNT(*) > 1 ORDER BY cnt DESC, make"""))
      calls.foreach { case (name, df) =>
        val (exchanges, jobs) = run(df)
        assert(exchanges.isEmpty, s"$name planned $exchanges")
        assert(jobs == 1, s"$name ran $jobs jobs")
      }
    } finally {
      spark.catalog.dropTempView("dashboard_cache")
      cache.unpersist(blocking = true)
    }
  }

  test("cached: a frame planned over the target keeps its width") {
    // about 16 GB planned: wider than 8 partitions at 64 MB each
    val src = spark.range(0, 2000000000L, 1, 8).toDF()
    val ((cache, w), jobs) = jobsOf(spark) {
      val c = Dashboard.cached(src)
      (c, width(c))
    }
    try {
      assert(w == 8)
      assert(jobs.isEmpty, s"sizing ran $jobs")
    } finally cache.unpersist(blocking = true)
  }

  test("cached: a frame with no size estimate keeps its width") {
    import org.apache.spark.sql.Row
    val rdd = spark.sparkContext.parallelize(Seq(Row("V1"), Row("V2"), Row("V3")), 3)
    val src = spark.createDataFrame(rdd, ev.select("vin").schema)
    assert(graft.plans.Lineage.estimateBytes(src).isEmpty)
    val cache = Dashboard.cached(src)
    try assert(width(cache) == 3)
    finally cache.unpersist(blocking = true)
  }
}
