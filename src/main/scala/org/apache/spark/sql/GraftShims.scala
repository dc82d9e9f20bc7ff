package org.apache.spark.sql

import org.apache.spark.sql.catalyst.expressions.Expression

/** Same-package accessor for the `private[sql]` Column ↔ Expression
  * converters Spark 4 moved behind `org.apache.spark.sql.classic`.
  *
  * The engine's native Catalyst expressions (CosineSim, PqEncode, …) reach
  * the Column API through the function registry, which works when every
  * non-column argument can ride as a foldable literal child. The range-
  * partition token expression ([[graft.functions.RangeToken]]) instead
  * carries driver-computed bounds of mixed runtime types, which have no
  * literal encoding the registry path could express — so it needs direct
  * Column construction. Public-knowledge technique (the Spark source and
  * every extension project use the same seam); no behavior is modified.
  */
object GraftShims {
  /** Wrap a Catalyst expression as a public Column. */
  def column(e: Expression): Column = classic.ExpressionUtils.column(e)

  /** The Catalyst expression behind a (classic) Column. */
  def expression(c: Column): Expression = classic.ExpressionUtils.expression(c)

  /** The column's name when it is a BARE single-part attribute reference
    * (no sort direction, no expression, no nested path) — else None.
    * Matched on the ColumnNode, because `expression(c)` wraps the node in
    * a lazy `ColumnNodeExpression` that hides the attribute shape.
    */
  def simpleAttributeName(c: Column): Option[String] = c.node match {
    case a: internal.UnresolvedAttribute
        if !a.isMetadataColumn && a.nameParts.length == 1 =>
      Some(a.nameParts.head)
    case classic.ExpressionColumnNode(
        a: org.apache.spark.sql.catalyst.expressions.AttributeReference, _) =>
      Some(a.name)
    case _ => None
  }

  /** A DataFrame over rows a plan has already produced, without planning
    * them again: the editor's pruned page wraps a partition subset of its
    * range-filter plan's RDD (see `EditorSession.page`). `rows` must match
    * `schema` field for field.
    */
  def internalCreateDataFrame(spark: SparkSession,
      rows: org.apache.spark.rdd.RDD[catalyst.InternalRow],
      schema: types.StructType): DataFrame =
    spark.asInstanceOf[classic.SparkSession]
      .internalCreateDataFrame(rows, schema)

  /** Block until the listener bus has delivered every queued event (or
    * the timeout elapses). Test instrumentation that counts records via a
    * SparkListener must drain the ASYNC bus before sampling — a fixed
    * sleep undercounts under load (r14 ADVICE #3).
    */
  def waitListenerBus(spark: SparkSession, timeoutMs: Long): Unit =
    spark.sparkContext.listenerBus.waitUntilEmpty(timeoutMs)
}
