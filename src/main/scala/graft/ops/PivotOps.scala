package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** A1/A2: the reference's single aggregation operator — pivot table.
  *
  * `pd.pivot_table(data, index=i, columns=c, values=v, aggfunc=f)` with
  * `f ∈ {mean, sum, count, max, min}` (v2 pyc@145,158-174); the result
  * replaces the current table (pyc@169). Plain `groupBy().agg()` is also
  * exposed (readme.md:9 implies it; A1 subsumes it).
  *
  * Scale: Spark plans this as partial (map-side) HashAggregate → shuffle on
  * the index key → final HashAggregate, spillable, AQE-coalesced. Passing
  * explicit pivot values skips the extra distinct-collect job Spark otherwise
  * runs to discover column labels — at 100 TB that discovery pass is a full
  * scan, so callers who know the label set should always supply it.
  */
object PivotOps {

  val aggFuncs: Map[String, Column => Column] = Map(
    "mean"  -> (c => avg(c)),
    "sum"   -> (c => sum(c)),
    "count" -> (c => count(c)),
    "max"   -> (c => max(c)),
    "min"   -> (c => min(c)))

  /** A1: pivot with label discovery (matches pandas finding labels in the
    * data; costs one extra distinct pass).
    */
  def pivotTable(df: DataFrame, index: String, columns: String,
                 values: String, aggfunc: String): DataFrame = {
    val f = aggFuncs.getOrElse(aggfunc.toLowerCase,
      throw new IllegalArgumentException(s"unknown aggfunc $aggfunc"))
    df.groupBy(col(index)).pivot(columns).agg(f(col(values)))
  }

  /** A1 at scale: explicit pivot values — no discovery scan. */
  def pivotTable(df: DataFrame, index: String, columns: String,
                 values: String, aggfunc: String, pivotValues: Seq[Any]): DataFrame = {
    val f = aggFuncs.getOrElse(aggfunc.toLowerCase,
      throw new IllegalArgumentException(s"unknown aggfunc $aggfunc"))
    df.groupBy(col(index)).pivot(columns, pivotValues).agg(f(col(values)))
  }

  /** A2: selection stats — the v1 status bar's `len(selected)` / distinct
    * rows / distinct cols (`main.py:116-123`), generalized to any frame.
    */
  def selectionStats(df: DataFrame, rowCol: String, colCol: String): DataFrame =
    df.agg(
      count(lit(1)).as("n_cells"),
      countDistinct(col(rowCol)).as("n_rows"),
      countDistinct(col(colCol)).as("n_cols"))
}
