package org.apache.spark.sql.graftbridge

import org.apache.spark.SparkContext
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.classic.{SparkSession => ClassicSession}

/** Bridge to the `private[spark]` listener bus and the `private[sql]`
  * session clone. Lives under `org.apache.spark.sql` for the access
  * modifiers, like [[ColumnBridge]].
  */
object SessionBridge {

  /** Block until the listener bus has delivered every event posted so
    * far: task-end events reach listeners asynchronously, after the
    * action that ran the tasks has already returned. */
  def waitUntilEmpty(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()

  /** A new session sharing `spark`'s context and catalog, starting from
    * a copy of its runtime conf: conf set on the clone stays there. */
  def cloneSession(spark: SparkSession): SparkSession =
    spark.asInstanceOf[ClassicSession].cloneSession()
}
