package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}

/** The reference's hand-SQL analytics suite
  * (/root/reference/musemotion-queries.sql) re-expressed as ANSI Spark
  * SQL over the canonical EV schema — the drop-in surface for a user of
  * the reference: register the cleaned EV frame (and the utilities dim)
  * as views, run its eleven SELECT statements through Catalyst.
  *
  * Dialect translation decisions (SURVEY.md §7.4):
  *  - backticks/MySQL quoting dropped; canonical column names
  *    (the Python side's, §1.2) replace the SQL dump's drift names
  *    (odometer→electric_range, some_id→vehicle_id, geom_wkt→location).
  *  - `YEAR(CURDATE())` is replay-hostile; the as-of year is a
  *    parameter (musemotion-queries.sql:34).
  *  - CRUD statements (INSERT/UPDATE/DELETE,
  *    musemotion-queries.sql:56-66) are immutable snapshot transforms in
  *    [[graft.etl]] / RelationalSuite's q_crud_snapshot; they have no
  *    SELECT-surface here.
  *  - every statement gains deterministic tiebreaker ordering.
  */
object MuseMotionSql {

  /** Register the EV frame + utilities dim for the SQL surface. */
  def register(ev: DataFrame, utilities: DataFrame): Unit = {
    ev.createOrReplaceTempView("musemotion")
    utilities.createOrReplaceTempView("utilities")
  }

  /** name → ANSI SQL (asOfYear parameterizes CURDATE()). */
  def statements(asOfYear: Int = 2026): Seq[(String, String)] = Seq(
    "read" ->
      """SELECT vin, city, year, make, model, vehicle_type, eligibility,
           electric_range, vehicle_id, utility
         FROM musemotion ORDER BY vin LIMIT 10""",
    "filter_sort" ->
      """SELECT vin, city, year, make, model
         FROM musemotion WHERE year IS NOT NULL
         ORDER BY year DESC, city ASC, vin LIMIT 100""",
    "vehicle_age" ->
      s"""SELECT vin, year, ($asOfYear - CAST(year AS INT)) AS vehicle_age
          FROM musemotion WHERE year IS NOT NULL
          ORDER BY vehicle_age ASC, vin LIMIT 50""",
    "count_by_make" ->
      """SELECT make, COUNT(*) AS cnt FROM musemotion
         GROUP BY make ORDER BY cnt DESC, make LIMIT 20""",
    "having_avg_range" ->
      """SELECT make, COUNT(*) AS cnt,
           ROUND(AVG(CAST(electric_range AS DOUBLE)), 2) AS avg_range
         FROM musemotion GROUP BY make HAVING COUNT(*) > 10
         ORDER BY avg_range DESC, make""",
    "read_by_vin" ->
      """SELECT * FROM musemotion WHERE vin = 'SAMPLEVIN123' LIMIT 1""",
    "above_avg_subquery" ->
      """SELECT t.* FROM musemotion t
         WHERE CAST(t.electric_range AS DOUBLE) > (
           SELECT AVG(CAST(x.electric_range AS DOUBLE)) FROM musemotion x
           WHERE x.electric_range IS NOT NULL)
         ORDER BY CAST(t.electric_range AS DOUBLE) DESC, t.vin LIMIT 50""",
    "top_makes_cte" ->
      """WITH top_makes AS (
           SELECT make, COUNT(*) AS cnt FROM musemotion
           GROUP BY make ORDER BY cnt DESC, make LIMIT 5)
         SELECT m.* FROM musemotion m
         JOIN top_makes t ON m.make = t.make
         ORDER BY t.cnt DESC, m.year DESC, m.vin LIMIT 200""",
    "join_inner" ->
      """SELECT v.vin, v.city, v.make, u.region
         FROM musemotion v
         INNER JOIN utilities u ON v.utility = u.utility_name
         ORDER BY v.vin LIMIT 50""",
    "join_left" ->
      """SELECT v.vin, v.city, v.make, u.region
         FROM musemotion v
         LEFT JOIN utilities u ON v.utility = u.utility_name
         ORDER BY v.year DESC, v.vin LIMIT 100""",
    "join_right" ->
      """SELECT u.utility_name, u.region, v.vin, v.make
         FROM musemotion v
         RIGHT JOIN utilities u ON v.utility = u.utility_name
         ORDER BY u.utility_name, v.vin NULLS FIRST""")

  /** Run one named statement through Catalyst. */
  def run(spark: SparkSession, name: String, asOfYear: Int = 2026): DataFrame =
    spark.sql(statements(asOfYear).toMap.apply(name))

  /** Run the whole suite, returning name → result. */
  def runAll(spark: SparkSession, asOfYear: Int = 2026): Seq[(String, DataFrame)] =
    statements(asOfYear).map { case (n, sql) => n -> spark.sql(sql) }
}
