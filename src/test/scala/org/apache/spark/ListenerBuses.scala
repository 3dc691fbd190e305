package org.apache.spark

import scala.reflect.ClassTag

import org.apache.spark.scheduler.SparkListenerInterface

/** Spec access to a SparkContext's package-private LiveListenerBus. */
object ListenerBuses {

  /** The number of listeners of class `L` registered on `sc`'s bus. */
  def count[L <: SparkListenerInterface : ClassTag](sc: SparkContext): Int =
    sc.listenerBus.findListenersByClass[L]().size
}
