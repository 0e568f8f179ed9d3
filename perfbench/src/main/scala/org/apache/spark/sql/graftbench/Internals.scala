package org.apache.spark.sql.graftbench

import org.apache.spark.SparkContext
import org.apache.spark.sql.SparkSession

/** The two listener-bus calls the benchmark needs that Spark keeps
  * package-private: waiting for queued events, and listing what is
  * registered (a timed run must have none of the benchmark's listeners). */
object Internals {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()

  def registeredCount(spark: SparkSession, isOurs: AnyRef => Boolean): Int =
    spark.sparkContext.listenerBus.listeners.toArray.count(isOurs) +
      spark.listenerManager.listListeners().count(isOurs) +
      spark.streams.listListeners().count(isOurs)
}
