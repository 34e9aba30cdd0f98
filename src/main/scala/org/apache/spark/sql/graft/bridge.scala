package org.apache.spark.sql.graft

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.classic
import org.apache.spark.sql.classic.ExpressionUtils
import org.apache.spark.sql.execution.LogicalRDD

/** Column ↔ Expression bridge, plus the RDD-buffer hooks of
  * `graft.core.Buffers`. Spark 4 keeps `ExpressionUtils` (and the
  * `AbstractDataType` hierarchy) `private[sql]`, so a library shipping
  * custom Catalyst expressions needs this one-file shim inside the
  * `org.apache.spark.sql` namespace — the same pattern every Spark
  * extension library uses. Nothing else in this repo lives outside
  * `graft.*`.
  */
object bridge {
  def column(e: Expression): Column = ExpressionUtils.column(e)
  def expression(c: Column): Expression = ExpressionUtils.expression(c)

  /** The rows `df`'s physical plan computes (copied: the plan reuses
    * its row objects).
    */
  def rows(df: DataFrame): RDD[InternalRow] =
    df.asInstanceOf[classic.Dataset[Row]].queryExecution.toRdd
      .map(_.copy())

  /** Drop `rdd`'s blocks now, as the ContextCleaner does once `rdd` is
    * unreferenced. `RDD.unpersist` would do the same but warns on every
    * locally checkpointed RDD that its lineage is gone — expected here,
    * where the buffer is being thrown away; `unpersistRDD` is
    * `private[spark]`.
    */
  def release(rdd: RDD[_]): Unit =
    rdd.sparkContext.unpersistRDD(rdd.id, blocking = false)

  /** A DataFrame over `rows` (of `origin`'s schema) — what
    * `localCheckpoint` returns, over any RDD. `Dataset.ofRows` is
    * `private[sql]`, hence the shim.
    */
  def ofRows(rows: RDD[InternalRow], origin: DataFrame): DataFrame = {
    val ds = origin.asInstanceOf[classic.Dataset[Row]]
    classic.Dataset.ofRows(ds.sparkSession,
      LogicalRDD.fromDataset(rows, ds, ds.isStreaming))
  }
}
