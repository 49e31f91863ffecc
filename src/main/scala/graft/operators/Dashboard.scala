package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
import org.apache.spark.sql.functions._

import graft.plans.Lineage

/** The dashboard's analytics surface (SURVEY.md §3.3,
  * /root/reference/streamlit_app.py) as a parameterized query layer:
  * every widget interaction in the reference re-runs pandas over the
  * whole frame; here each interaction is plan-reuse with changed
  * literals over one cached DataFrame.
  *
  *  - filter domains: per-column distinct+sort (streamlit_app.py:144-151)
  *  - selection filter: conjunctive IN-lists (streamlit_app.py:166-170)
  *  - KPI row: count / null-safe means (streamlit_app.py:180-190)
  *  - grouped counts for the two bar charts (streamlit_app.py:205,215)
  *  - empty-selection guard (streamlit_app.py:172-174)
  *
  * `cached` is the reference's @st.cache_data (S8): call once per
  * session over the cleaned frame, reuse across interactions.
  */
object Dashboard {

  /** S8 — memoize the cleaned frame across interactions, at a width
    * sized from its planned bytes: `ceil(bytes /
    * Lineage.DefaultTargetPartitionBytes)`, at least 1. The bytes are
    * [[Lineage.estimateBytes]], so sizing runs no job. When there is no
    * estimate, or the width is not below the frame's own (or that is
    * not known without a job), the frame is cached as it is
    * (`coalesce` never grows a frame, and a plain cache keeps the
    * frame's partitioning).
    *
    * A snapshot that fits one partition is cached as one. The cached
    * relation then reports `SinglePartition`, which satisfies every
    * distribution Catalyst requires, so an aggregate, `ORDER BY`,
    * window or CTE over it plans no exchange and runs as one job.
    * [[Lineage.widthForBytes]] is not used: its floor of
    * 2 × defaultParallelism suits CPU-dense post-cut stages, while an
    * interactive call over a small cache costs job and exchange
    * floors, not per-row CPU.
    *
    * The caller owns the cache and unpersists the returned frame.
    */
  def cached(df: DataFrame): DataFrame = {
    val target = Lineage.DefaultTargetPartitionBytes
    Lineage.estimateBytes(df)
      .map(bytes => ((bytes + target - 1) / target).max(1))
      .filter(width => inputWidth(df).exists(width < _)) match {
      case Some(width) => df.coalesce(width.toInt).cache()
      case None => df.cache()
    }
  }

  /** `df`'s partition count, read without a job: an adaptive plan
    * settles its count only when its stages run, so it has none. */
  private def inputWidth(df: DataFrame): Option[Int] =
    df.queryExecution.executedPlan match {
      case _: AdaptiveSparkPlanExec => None
      case plan => Some(plan.execute().getNumPartitions)
    }

  /** A6 — the selectable value domain of one column, sorted, nulls out.
    *
    * The collect is bounded BY CONSTRUCTION: a filter widget is only
    * meaningful for low-cardinality columns (the reference's real
    * domains are 167 cities / 36 makes), but at 100 TB an unbounded
    * distinct-collect on the wrong column would OOM the driver, so the
    * plan fetches `maxDomain + 1` rows and raises — naming the column
    * and the cap — when the domain exceeds the cap. The sort sits
    * BETWEEN the distinct and the limit, so Catalyst plans a
    * TakeOrderedAndProject over the deduped domain (per-partition
    * top-k + merge, never a full sort materialization) and the capped
    * prefix is DETERMINISTIC — an unsorted distinct-limit would return
    * an arbitrary subset, breaking A6's sorted contract exactly when
    * the cap binds. The driver-side `.sorted` is gone: order is the
    * plan's (binary collation), not re-imposed post-collect.
    */
  def filterDomain(df: DataFrame, column: String,
                   maxDomain: Int = 10000): Seq[String] = {
    val domain = df.select(col(column).cast("string")).na.drop()
      .distinct().orderBy(asc(column)).limit(maxDomain + 1)
      .collect().map(_.getString(0)).toSeq
    if (domain.length > maxDomain)
      throw new IllegalArgumentException(
        s"filterDomain('$column') exceeds $maxDomain distinct values — " +
        "not a filter-widget column; raise maxDomain explicitly if intended")
    domain
  }

  /** F3 — conjunction of IN-list selections; empty selection for a
    * column means "no constraint" (multiselect default-all semantics).
    */
  def selectionFilter(selections: Map[String, Seq[String]]): Column =
    selections.filter(_._2.nonEmpty).foldLeft(lit(true)) {
      case (acc, (c, vals)) => acc && col(c).isin(vals: _*)
    }

  def applySelections(df: DataFrame,
                      selections: Map[String, Seq[String]]): DataFrame =
    df.filter(selectionFilter(selections))

  /** F6 — the empty-result guard. */
  def isEmptySelection(df: DataFrame): Boolean = df.isEmpty

  /** A4 — KPI row. Spark's avg is null-ignoring natively, which replaces
    * the reference's hand-rolled notna() guards; rounding matches its
    * display rounding (streamlit_app.py:181-189).
    */
  def kpis(df: DataFrame, countCol: String, avgCols: Seq[String]): DataFrame = {
    val aggs = count(lit(1)).as(s"total_$countCol") +:
      avgCols.map(c => round(avg(col(c)), 1).as(s"avg_$c"))
    df.agg(aggs.head, aggs.tail: _*)
  }

  /** A1/A2 — the chart feeds: count per group, ordered for display. */
  def groupedCounts(df: DataFrame, groupCol: String,
                    topK: Int = 0): DataFrame = {
    val counts = df.groupBy(groupCol).agg(count(lit(1)).as("cnt"))
      .orderBy(desc("cnt"), asc(groupCol))
    if (topK > 0) counts.limit(topK) else counts
  }
}
