package graft.operators

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Z-order (Morton) clustering keys: interleave the bits of two or three
  * dimension columns so that sorting by the single z-value keeps rows
  * close in EVERY dimension. Written out range-partitioned by z (e.g. via
  * [[graft.io.Compaction.compact]] with `clusterBy = Seq("__z")`), every
  * file then covers a small box of the dimension space and carries tight
  * min/max stats for each column — predicates on any dimension prune
  * files, where a plain sort only serves its leading column. This is the
  * layout trick behind Delta/Iceberg `OPTIMIZE ZORDER BY`.
  *
  * The interleave is unrolled over literal shift amounts, so the whole
  * expression stays in whole-stage codegen (no interpreted lambda folds).
  * Inputs must be non-negative and below 2^bitsPer (pre-bucket wider
  * domains with `pmod` or range-rank them first).
  */
object ZOrder {

  /** n-D Morton code over n = `dims.length` columns: bit b of dimension
    * d lands at position n·b + d (2-D: x at 2b, y at 2b+1; 3-D: x at 3b,
    * y at 3b+1, z at 3b+2). The code must fit a non-negative long, so
    * n·bitsPer ≤ 63; the default 21 bits per dimension gives a 42-bit
    * code in 2-D and a 63-bit one in 3-D.
    */
  def zValue(dims: Seq[Column], bitsPer: Int = 21): Column = {
    val n = dims.length
    require(n >= 2, s"z-order interleaves two or more columns, got $n")
    require(bitsPer >= 1 && n * bitsPer <= 63,
      s"bitsPer in [1, ${63 / n}] for $n dimensions, got $bitsPer")
    (0 until bitsPer).flatMap { b =>
      dims.zipWithIndex.map { case (d, i) =>
        shiftleft(shiftright(d, b).bitwiseAND(lit(1L)), n * b + i)
      }
    }.reduce((a, c) => a.bitwiseOR(c))
  }

  /** The matching SQL-text form (same unrolled arithmetic), for oracles and
    * engines that speak SQL only.
    */
  def zValueSql(dims: Seq[String], bitsPer: Int = 21): String = {
    val n = dims.length
    (0 until bitsPer).flatMap { b =>
      dims.zipWithIndex.map { case (d, i) =>
        s"((($d >> $b) & 1) << ${n * b + i})"
      }
    }.mkString(" | ")
  }
}
