package org.apache.spark.sql.perfbenchbridge

import org.apache.spark.SparkContext
import org.apache.spark.sql.SparkSession

/** The two Spark internals the harness needs: waiting until the listener bus
  * has delivered every event posted so far, and cloning a session the way
  * graft's streaming and iterative code does. */
object Bridge {
  def drainListenerBus(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()

  def cloneSession(s: SparkSession): SparkSession =
    s.asInstanceOf[org.apache.spark.sql.classic.SparkSession].cloneSession()
}
