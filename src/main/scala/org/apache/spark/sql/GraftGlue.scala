package org.apache.spark.sql

import org.apache.spark.sql.catalyst.expressions.Expression

/** Bridge to Spark internals: the private[sql] Column↔Expression
  * conversions, needed to expose custom Catalyst expressions (e.g.
  * graft.functions.MinHashSig) as user-facing Columns on Spark 4's
  * ColumnNode API, the private[spark] block release
  * [[graft.Scratch.releaseNow]] uses, and the hidden-name rule of
  * Spark's file listing that [[graft.operators.IndexStore.readLane]]
  * applies. */
object GraftGlue {
  def toExpr(c: Column): Expression = classic.ExpressionUtils.expression(c)
  def toCol(e: Expression): Column = classic.ExpressionUtils.column(e)

  /** `rdd.unpersist(blocking = true)` without its WARN for a locally
    * checkpointed RDD: the same blocking block removal, unregistration
    * and unpersist event. */
  def dropBlocks(rdd: org.apache.spark.rdd.RDD[_]): Unit =
    rdd.sparkContext.unpersistRDD(rdd.id, blocking = true)

  /** Whether Spark's file listing skips a file or directory of this
    * name: `_`- and `.`-prefixed names (but not `_`-prefixed partition
    * directories or parquet summary files) and in-flight `._COPYING_`. */
  def hiddenName(name: String): Boolean =
    org.apache.spark.util.HadoopFSUtils.shouldFilterOutPathName(name)
}
