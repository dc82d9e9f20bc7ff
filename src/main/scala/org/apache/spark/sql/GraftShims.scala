package org.apache.spark.sql

/** Same-package accessors for the `private[sql]` Spark internals the
  * engine reaches: building a DataFrame over an already-planned RDD, and
  * draining the listener bus. Public-knowledge technique (the Spark source
  * and every extension project use the same seam); no behavior is
  * modified.
  */
object GraftShims {
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
