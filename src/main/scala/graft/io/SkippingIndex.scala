package graft.io

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Min/max file-skipping index — the Delta/Iceberg data-skipping pattern
  * as an explicit stats relation: one scan summarizes each parquet part
  * file's value range for a column; a range query then opens ONLY the
  * files whose [min, max] intersects the predicate.
  *
  * This is the pruning lever for predicates on NON-partition columns,
  * where directory-level partition pruning can't help. It pays off
  * exactly when the layout clusters the column (a range repartition, a
  * z-order, natural time ordering): clustered files have narrow ranges,
  * so most are skipped. The stats relation is file-count-sized (one row
  * per part file — control-plane data, like a lakehouse manifest), built
  * once and reusable across queries.
  *
  * The exact predicate is re-applied after pruning, so the result is
  * byte-identical to the full scan no matter how coarse the index is —
  * skipping is a performance contract, never a correctness one.
  */
object SkippingIndex {

  /** One row per part file: (file, min_v, max_v, n_rows) for `column`.
    * A single distributed scan; the aggregate is keyed on
    * `input_file_name()`, so state is bounded by the file count.
    */
  def build(spark: SparkSession, path: String, column: String): DataFrame =
    spark.read.parquet(path)
      .groupBy(input_file_name().as("file"))
      .agg(min(col(column)).as("min_v"), max(col(column)).as("max_v"),
        count(lit(1)).as("n_rows"))

  /** Two-column stats in ONE scan — the z-order companion: a Morton-
    * clustered file covers a small rectangle of (x, y) space, so per-file
    * min/max of BOTH columns prune on either dimension (where a plain
    * sort's stats only serve its leading column). One row per part file:
    * (file, min_x, max_x, min_y, max_y, n_rows).
    */
  def build2d(spark: SparkSession, path: String, colX: String,
              colY: String): DataFrame =
    spark.read.parquet(path)
      .groupBy(input_file_name().as("file"))
      .agg(min(col(colX)).as("min_x"), max(col(colX)).as("max_x"),
        min(col(colY)).as("min_y"), max(col(colY)).as("max_y"),
        count(lit(1)).as("n_rows"))

  /** Three-column stats in ONE scan — the 3-D z-order companion
    * (r11 verdict task #8). One row per part file:
    * (file, min_x, max_x, min_y, max_y, min_z, max_z, n_rows).
    */
  def build3d(spark: SparkSession, path: String, colX: String,
              colY: String, colZ: String): DataFrame =
    spark.read.parquet(path)
      .groupBy(input_file_name().as("file"))
      .agg(min(col(colX)).as("min_x"), max(col(colX)).as("max_x"),
        min(col(colY)).as("min_y"), max(col(colY)).as("max_y"),
        min(col(colZ)).as("min_z"), max(col(colZ)).as("max_z"),
        count(lit(1)).as("n_rows"))

  /** Files whose (x, y, z) box intersects the caller's box — typed,
    * optionally-open-sided on every face (same `lit`-comparison contract
    * as [[candidateFilesOpt]]); an open face prunes on the rest alone.
    */
  def candidateFiles3dOpt(stats: DataFrame,
                          loX: Option[Any], hiX: Option[Any],
                          loY: Option[Any], hiY: Option[Any],
                          loZ: Option[Any], hiZ: Option[Any]): Seq[String] = {
    val conds = loX.map(v => col("max_x") >= lit(v)).toSeq ++
      hiX.map(v => col("min_x") <= lit(v)) ++
      loY.map(v => col("max_y") >= lit(v)) ++
      hiY.map(v => col("min_y") <= lit(v)) ++
      loZ.map(v => col("max_z") >= lit(v)) ++
      hiZ.map(v => col("min_z") <= lit(v))
    conds.reduceOption(_ && _).fold(stats)(stats.filter)
      .select("file").collect().map(_.getString(0)).toSeq
  }

  /** Files whose (x, y) rectangle intersects [loX, hiX] × [loY, hiY]. */
  def candidateFiles2d(stats: DataFrame, loX: Any, hiX: Any,
                       loY: Any, hiY: Any): Seq[String] =
    candidateFiles2dOpt(stats, Some(loX), Some(hiX), Some(loY), Some(hiY))

  /** Typed, optionally-open-sided form: endpoints compare through `lit`
    * in the stats columns' OWN types (numerics, timestamps, dates,
    * strings — the same contract as [[candidateFilesOpt]]), and an open
    * side prunes on the remaining bounds alone — so a one-sided time
    * window still skips files on the other dimension.
    */
  def candidateFiles2dOpt(stats: DataFrame,
                          loX: Option[Any], hiX: Option[Any],
                          loY: Option[Any], hiY: Option[Any]): Seq[String] = {
    val conds = loX.map(v => col("max_x") >= lit(v)).toSeq ++
      hiX.map(v => col("min_x") <= lit(v)) ++
      loY.map(v => col("max_y") >= lit(v)) ++
      hiY.map(v => col("min_y") <= lit(v))
    conds.reduceOption(_ && _).fold(stats)(stats.filter)
      .select("file").collect().map(_.getString(0)).toSeq
  }

  /** Files whose [min_v, max_v] intersects [lo, hi] — the candidate set a
    * range predicate must read. Driver-side list, bounded by file count
    * (a manifest read, not a data read). Endpoints are `Any` so every
    * ORDERED type the stats can hold prunes — numerics, timestamps,
    * dates, strings — through `lit`'s literal coercion and Spark's
    * comparison rules (a string endpoint against a timestamp stats
    * column casts exactly as it would in the exact predicate).
    */
  def candidateFiles(stats: DataFrame, lo: Any, hi: Any): Seq[String] =
    candidateFilesOpt(stats, Some(lo), Some(hi))

  /** One-sided form: an open side prunes on the other alone. */
  def candidateFilesOpt(stats: DataFrame, lo: Option[Any],
                        hi: Option[Any]): Seq[String] = {
    val conds = lo.map(v => col("max_v") >= lit(v)).toSeq ++
      hi.map(v => col("min_v") <= lit(v))
    conds.reduceOption(_ && _).fold(stats)(stats.filter)
      .select("file").collect().map(_.getString(0)).toSeq
  }

  /** Range scan through the index: open only candidate files, then apply
    * the exact predicate (files straddling the bounds contribute their
    * in-range rows only). Empty candidate set ⇒ empty relation of the
    * right schema, zero file I/O.
    */
  def prunedRead(spark: SparkSession, stats: DataFrame, path: String,
                 column: String, lo: Any, hi: Any): DataFrame = {
    val files = candidateFiles(stats, lo, hi)
    val base =
      if (files.isEmpty) spark.read.parquet(path).limit(0)
      else spark.read.parquet(files: _*)
    base.filter(col(column) >= lit(lo) && col(column) <= lit(hi))
  }
}
