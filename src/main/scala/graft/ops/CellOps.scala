package graft.ops

import scala.util.{Failure, Success, Try}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.core.Positional.POS

/** R1-R3 / F3, F5: typed cell mutation and the scalar-function surface.
  * The display renderings (F1, F2) are plain casts, inline where a query
  * needs them (`f1_render_string`).
  *
  * The reference's hot path is `PandasModel.setData` (v2 pyc@68-79): look up
  * the column dtype, cast the incoming string with `dtype.type(value)`,
  * reject the edit on `ValueError`, else assign `iloc[r,c]` in place. Spark
  * has no in-place mutation, so an edit becomes a transformation
  * `CASE WHEN __pos = r THEN cast(v) ELSE col END`; stacked edits are
  * compacted by [[graft.core.EditorSession]] into one projection per column.
  */
object CellOps {

  /** F3/R1 validation: strict driver-side cast of one literal against the
    * column's type — the engine's equivalent of pandas' `ValueError` being
    * caught and the edit refused (v2 pyc@72-77). Returns the casted value or
    * a failure; table state is never touched on failure.
    */
  def castStrict(raw: String, dt: DataType): Try[Any] = Try {
    dt match {
      case BooleanType => raw.trim.toLowerCase match {
        case "true" | "1" | "t" | "yes" => true
        case "false" | "0" | "f" | "no" => false
        case other => throw new IllegalArgumentException(s"not a boolean: $other")
      }
      case ByteType    => raw.trim.toByte
      case ShortType   => raw.trim.toShort
      case IntegerType => raw.trim.toInt
      case LongType    => raw.trim.toLong
      case FloatType   => raw.trim.toFloat
      case DoubleType  => raw.trim.toDouble
      case _: DecimalType => new java.math.BigDecimal(raw.trim)
      case StringType  => raw
      case DateType    => java.sql.Date.valueOf(raw.trim)
      case TimestampType => java.sql.Timestamp.valueOf(raw.trim)
      case other => throw new IllegalArgumentException(s"uneditable type $other")
    }
  }

  /** R1 as a pure transformation: set cell (pos, colName) := casted literal.
    * One `CASE WHEN` on `__pos`; Catalyst constant-folds the literal and the
    * projection stays inside whole-stage codegen.
    */
  def setCell(df: DataFrame, pos: Long, colName: String, raw: String): Try[DataFrame] = {
    val field = df.schema.fields.find(_.name == colName)
      .getOrElse(return Failure(new IllegalArgumentException(s"no column $colName")))
    castStrict(raw, field.dataType).map { v =>
      df.withColumn(colName,
        when(col(POS) === pos, lit(v).cast(field.dataType)).otherwise(col(colName)))
    }
  }

  /** R3: boolean toggle (checkbox edit path, v2 pyc@39-42). */
  def setBool(df: DataFrame, pos: Long, colName: String, value: Boolean): DataFrame =
    df.withColumn(colName,
      when(col(POS) === pos, lit(value)).otherwise(col(colName)))

  /** F5: `"name dtype"` whitespace-split parse — the *intended* semantics of
    * the reference's broken `add_column` input handling (v2 pyc@292 calls
    * `.split()` on a tuple; we implement what was meant).
    */
  def parseNameDtype(s: String): (String, DataType) = {
    val parts = s.trim.split("\\s+")
    val name = parts(0)
    val dt = if (parts.length < 2) StringType else parts(1).toLowerCase match {
      case "bool" | "boolean"        => BooleanType
      case "int" | "int32" | "integer" => IntegerType
      case "long" | "int64" | "bigint" => LongType
      case "float" | "float32"       => FloatType
      case "double" | "float64"      => DoubleType
      case "str" | "string" | "object" => StringType
      case "date"                    => DateType
      case "timestamp" | "datetime64" => TimestampType
      case other => throw new IllegalArgumentException(s"unknown dtype $other")
    }
    (name, dt)
  }

  /** Typed default per dtype, matching `insert_column` (v2 pyc@104-111):
    * bool→false, int→0, float→0.0, else null.
    */
  def defaultFor(dt: DataType): Any = dt match {
    case BooleanType => false
    case ByteType | ShortType | IntegerType | LongType => 0
    case FloatType | DoubleType | _: DecimalType => 0.0
    case _ => null
  }
}
