package org.apache.spark

import scala.reflect.ClassTag

import org.apache.spark.scheduler.SparkListenerInterface

/** Test-only accessor for the private[spark] listener bus: job-counting
  * assertions must drain in-flight events before reading their counters,
  * and a tool that attaches a listener must be seen to detach it.
  */
object ListenerBusTestHook {
  def waitUntilEmpty(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()

  def listenersOf[T <: SparkListenerInterface: ClassTag](sc: SparkContext): Seq[T] =
    sc.listenerBus.findListenersByClass[T]()
}
