package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** V1-V4: data-serving operators for the chart layer.
  *
  * The reference plots with matplotlib straight off the in-memory frame
  * (v2 pyc@363-416). The engine's job is to *serve* chart-ready data
  * without collecting the raw table: histograms as distributed bucketed
  * counts, scatter via sampling. Line series are position-bucketed
  * averages, a plain aggregate (the `v1_line_bucketed` query).
  */
object StatsOps {

  /** V3: fixed-bin histogram as a distributed `groupBy(bucket).count()` —
    * one partial+final aggregate, no collect of raw rows. Mirrors the
    * default-10-bin `data.hist()` (v2 pyc@381).
    */
  def histogram(df: DataFrame, column: String, bins: Int = 10): DataFrame = {
    val mm = df.agg(min(col(column)).cast("double"),
      max(col(column)).cast("double")).head()
    val (lo, hi) = (mm.getDouble(0), mm.getDouble(1))
    histogramFixed(df, column, lo, hi, bins)
  }

  /** V3 with known bounds (skips the min/max pass — at 100 TB bounds come
    * from table stats or are user-supplied).
    */
  def histogramFixed(df: DataFrame, column: String, lo: Double, hi: Double,
                     bins: Int): DataFrame = {
    val width = if (hi > lo) (hi - lo) / bins else 1.0
    df.select(
        least(floor((col(column).cast("double") - lit(lo)) / lit(width)),
          lit(bins - 1L)).cast("long").as("bucket"))
      .filter(col("bucket").isNotNull)
      .groupBy("bucket").agg(count(lit(1)).as("n"))
  }

  /** V2: scatter source — first two numeric columns, optionally sampled
    * (guard: requires >= 2 numeric columns, v2 pyc@409-411).
    */
  def scatterSource(df: DataFrame, sampleFraction: Option[Double] = None): DataFrame = {
    val nums = SchemaOps.numericProjection(df)
    require(nums.columns.length >= 2,
      "Scatter plot requires at least two numeric columns.")
    val pair = nums.select(nums.columns.take(2).map(col).toSeq: _*)
    sampleFraction.fold(pair)(f => pair.sample(withReplacement = false, f, 42L))
  }

  /** V4: empty-numeric guard ("No numeric data available to plot.",
    * v2 pyc@407,416) — schema check first (free), row check only if needed.
    */
  def hasNumericData(df: DataFrame): Boolean = {
    val nums = SchemaOps.numericProjection(df)
    nums.columns.nonEmpty && !nums.isEmpty
  }
}
