package graft.io

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Min/max file-skipping index — the Delta/Iceberg data-skipping pattern
  * as an explicit stats relation: one scan summarizes each parquet part
  * file's value range per column; a box query then opens ONLY the files
  * whose per-file box intersects the predicate.
  *
  * This is the pruning lever for predicates on NON-partition columns,
  * where directory-level partition pruning can't help. It pays off
  * exactly when the layout clusters the columns (a range repartition, a
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

  /** The (min, max) stats column names of an index over `n` columns:
    * `min_v`/`max_v` for one, `min_x`/`max_x`, `min_y`/`max_y`(,
    * `min_z`/`max_z`) for two or three. Stored stats sidecars carry
    * these names, so they are fixed.
    */
  def statsCols(n: Int): Seq[(String, String)] = {
    require(n >= 1 && n <= 3, s"skipping index over 1 to 3 columns, got $n")
    if (n == 1) Seq(("min_v", "max_v"))
    else Seq("x", "y", "z").take(n).map(a => (s"min_$a", s"max_$a"))
  }

  /** The column names the parquet files under `dir` store, from one part
    * file's footer read on the driver: no Spark job (schema inference by
    * `spark.read.parquet` runs one).
    */
  def storedColumns(spark: SparkSession, dir: String): Seq[String] = {
    import scala.jdk.CollectionConverters._
    import org.apache.hadoop.fs.Path
    import org.apache.parquet.hadoop.ParquetFileReader
    import org.apache.parquet.hadoop.util.HadoopInputFile
    val conf = spark.sparkContext.hadoopConfiguration
    val p = new Path(dir)
    val part = p.getFileSystem(conf).listStatus(p).map(_.getPath)
      .filter(_.getName.endsWith(".parquet")).sortBy(_.getName).headOption
      .getOrElse(throw new IllegalStateException(s"no parquet file in $dir"))
    val r = ParquetFileReader.open(HadoopInputFile.fromPath(part, conf))
    try r.getFileMetaData.getSchema.getFields.asScala.map(_.getName).toSeq
    finally r.close()
  }

  /** One row per part file: (file, the min/max pair of [[statsCols]] per
    * column of `cols`, n_rows). A single distributed scan; the aggregate
    * is keyed on `input_file_name()`, so state is bounded by the file
    * count.
    */
  def build(spark: SparkSession, path: String, cols: Seq[String]): DataFrame = {
    val aggs = cols.zip(statsCols(cols.length)).flatMap { case (c, (lo, hi)) =>
      Seq(min(col(c)).as(lo), max(col(c)).as(hi))
    } :+ count(lit(1)).as("n_rows")
    spark.read.parquet(path)
      .groupBy(input_file_name().as("file"))
      .agg(aggs.head, aggs.tail: _*)
  }

  /** Files whose per-file box intersects `bounds` — one optional
    * (lo, hi) per indexed column, in build order — the candidate set a
    * box predicate must read. Driver-side list, bounded by file count (a
    * manifest read, not a data read). Endpoints are `Any` so every
    * ORDERED type the stats can hold prunes — numerics, timestamps,
    * dates, strings — through `lit`'s literal coercion and Spark's
    * comparison rules (a string endpoint against a timestamp stats
    * column casts exactly as it would in the exact predicate). An open
    * side prunes on the remaining bounds alone.
    */
  def candidateFiles(stats: DataFrame,
                     bounds: Seq[(Option[Any], Option[Any])]): Seq[String] = {
    val conds = bounds.zip(statsCols(bounds.length)).flatMap {
      case ((lo, hi), (minC, maxC)) =>
        lo.map(v => col(maxC) >= lit(v)).toSeq ++ hi.map(v => col(minC) <= lit(v))
    }
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
    val files = candidateFiles(stats, Seq((Some(lo), Some(hi))))
    val base =
      if (files.isEmpty) spark.read.parquet(path).limit(0)
      else spark.read.parquet(files: _*)
    base.filter(col(column) >= lit(lo) && col(column) <= lit(hi))
  }
}
