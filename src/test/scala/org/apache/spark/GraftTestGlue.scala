package org.apache.spark

/** Test-only access to SparkContext internals: the live conf
  * (spark.sql.extensions is a static conf resolved from it at session
  * construction, and the shared test JVM's context may have been
  * created by another suite) and the listener bus. */
object GraftTestGlue {
  def setContextConf(sc: SparkContext, key: String, value: String): Unit =
    sc.conf.set(key, value)

  /** Block until every event posted so far reached every listener. */
  def drainListeners(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
