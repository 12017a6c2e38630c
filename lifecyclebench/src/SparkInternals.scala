package org.apache.spark.lifecyclebench

import org.apache.spark.SparkContext
import org.apache.spark.storage.RDDInfo

/** The two Spark-internal reads the tracer needs, kept in one place:
  * draining the listener bus (so a request's job, stage and task
  * events are all in before its spans are read) and the RDD operation
  * scope names that say which physical operators a stage ran. */
object SparkInternals {
  def drainListeners(sc: SparkContext): Unit =
    sc.listenerBus.waitUntilEmpty()

  def scopeNames(rdd: RDDInfo): Seq[String] = rdd.scope.map(_.name).toSeq
}
