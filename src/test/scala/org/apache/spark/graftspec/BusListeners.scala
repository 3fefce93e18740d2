package org.apache.spark.graftspec

import scala.jdk.CollectionConverters._

import org.apache.spark.SparkContext

/** Class names of the listeners on a SparkContext's listener bus
  * (`listenerBus` is `private[spark]`, hence the package). */
object BusListeners {
  def names(sc: SparkContext): Seq[String] =
    sc.listenerBus.listeners.asScala.toSeq.map(_.getClass.getName)
}
