package org.apache.spark

import scala.reflect.ClassTag

import org.apache.spark.scheduler.SparkListenerInterface

/** Access to a SparkContext's package-private LiveListenerBus. */
object ListenerBuses {

  /** The listeners of class `L` registered on `sc`'s bus. */
  def of[L <: SparkListenerInterface : ClassTag](sc: SparkContext): Seq[L] =
    sc.listenerBus.findListenersByClass[L]()

  /** The number of listeners of class `L` registered on `sc`'s bus. */
  def count[L <: SparkListenerInterface : ClassTag](sc: SparkContext): Int =
    of[L](sc).size
}
