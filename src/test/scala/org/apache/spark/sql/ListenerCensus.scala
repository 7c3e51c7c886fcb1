package org.apache.spark.sql

import scala.jdk.CollectionConverters._

import org.apache.spark.util.ListenerBus

/** The listeners registered on a session's context, each with the
  * listeners registered on it when it is itself a bus (a session's
  * query-execution and streaming query listeners sit one level down).
  * Test-only: lets a suite check that a run left the context as it
  * found it. */
object ListenerCensus {
  def of(spark: SparkSession): Map[AnyRef, Set[AnyRef]] =
    spark.sparkContext.listenerBus.listeners.asScala.map {
      case b: ListenerBus[_, _] => (b: AnyRef) -> b.listeners.asScala.map(_.asInstanceOf[AnyRef]).toSet
      case l => (l: AnyRef) -> Set.empty[AnyRef]
    }.toMap
}
