package graft.queries

import org.scalatest.funsuite.AnyFunSuite
import graft.SparkTestSession
import graft.operators.Dashboard

/** The reference's SQL surface, its eleven SELECT statements, runs
  * end-to-end on an EV fixture through Catalyst (SURVEY.md §3 "fourth
  * surface").
  */
class MuseMotionSqlSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark
  import spark.implicits._

  private lazy val fixture = {
    val ev = Seq(
      ("SAMPLEVIN123", "Seattle", Some(2020), "TESLA", "Model 3", "BEV",
        "Eligible", Some(250), Some(1L), Some("PSE"), Some(47.6), Some(-122.3)),
      ("V2", "Tacoma", Some(2018), "TESLA", "Model Y", "BEV",
        "Eligible", Some(300), Some(2L), Some("PSE"), Some(47.2), Some(-122.4)),
      ("V3", "Olympia", None, "KIA", "EV6", "BEV",
        "Eligible", Some(280), Some(3L), Some("TACOMA POWER"), None, None),
      ("V4", "Spokane", Some(2021), "FORD", "F150", "PHEV",
        "Not Eligible", None, Some(4L), Some("AVISTA"), Some(47.7), Some(-117.4))
    ).toDF("vin", "city", "year", "make", "model", "vehicle_type",
      "eligibility", "electric_range", "vehicle_id", "utility",
      "latitude", "longitude")
    MuseMotionSql.register(ev, utilities)
    ev
  }

  private lazy val utilities = Seq(
    (1, "PSE", "West"), (2, "AVISTA", "East"), (3, "UNUSED", "North"))
    .toDF("utility_id", "utility_name", "region")

  test("all statements parse and execute through Catalyst") {
    fixture
    MuseMotionSql.runAll(spark).foreach { case (name, df) =>
      assert(df.columns.nonEmpty, s"$name produced no schema")
      df.collect()
    }
  }

  test("every statement returns the same rows over the dashboard cache") {
    val ev = fixture
    def results() = MuseMotionSql.runAll(spark).map { case (name, df) =>
      name -> df.collect().toSeq }
    val plain = results()
    val cache = Dashboard.cached(ev)
    try {
      MuseMotionSql.register(cache, utilities)
      results().zip(plain).foreach { case ((name, got), (_, want)) =>
        assert(got == want, s"$name over the cache")
      }
    } finally {
      MuseMotionSql.register(ev, utilities)
      cache.unpersist(blocking = true)
    }
  }

  test("vehicle_age uses the injected as-of year") {
    fixture
    val rows = MuseMotionSql.run(spark, "vehicle_age", asOfYear = 2030)
      .collect().map(r => r.getString(0) -> r.getInt(2)).toMap
    assert(rows("SAMPLEVIN123") == 10)
    assert(rows("V2") == 12)
  }

  test("count_by_make aggregates and orders correctly") {
    fixture
    val got = MuseMotionSql.run(spark, "count_by_make")
      .collect().map(r => (r.getString(0), r.getLong(1))).toSeq
    assert(got.head == ("TESLA", 2L))
    assert(got.toSet == Set(("TESLA", 2L), ("KIA", 1L), ("FORD", 1L)))
  }

  test("above_avg_subquery: only rows above the mean range survive") {
    fixture
    val vins = MuseMotionSql.run(spark, "above_avg_subquery")
      .select("vin").as[String].collect().toSet
    // avg(250,300,280) = 276.67 -> V2 and V3
    assert(vins == Set("V2", "V3"))
  }

  test("joins resolve against the utilities dim") {
    fixture
    val inner = MuseMotionSql.run(spark, "join_inner").collect()
    assert(inner.length == 3)       // PSE x2 + AVISTA
    val right = MuseMotionSql.run(spark, "join_right").collect()
    assert(right.length == 4)       // UNUSED survives with null vin
    assert(right.exists(r => r.getString(0) == "UNUSED" && r.isNullAt(2)))
  }

  test("read_by_vin point lookup") {
    fixture
    val row = MuseMotionSql.run(spark, "read_by_vin").collect()
    assert(row.length == 1 && row(0).getString(1) == "Seattle")
  }
}
