package org.apache.spark.sql

import org.apache.spark.sql.catalyst.expressions.Expression

/** Bridge to Spark internals: the private[sql] Column↔Expression
  * conversions, needed to expose custom Catalyst expressions (e.g.
  * graft.functions.MinHashSig) as user-facing Columns on Spark 4's
  * ColumnNode API, and the private[spark] block release
  * [[graft.Scratch.releaseNow]] uses. */
object GraftGlue {
  def toExpr(c: Column): Expression = classic.ExpressionUtils.expression(c)
  def toCol(e: Expression): Column = classic.ExpressionUtils.column(e)

  /** `rdd.unpersist(blocking = true)` without its WARN for a locally
    * checkpointed RDD: the same blocking block removal, unregistration
    * and unpersist event. */
  def dropBlocks(rdd: org.apache.spark.rdd.RDD[_]): Unit =
    rdd.sparkContext.unpersistRDD(rdd.id, blocking = true)
}
