package org.apache.spark.sql.graft

import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.SparkSession

/** Counts the Spark jobs a block starts. Lives under org.apache.spark
  * to drain the listener bus, so no job event is still in flight when
  * the count is read. */
object JobCounter {
  def apply(spark: SparkSession)(body: => Unit): Int = {
    val sc = spark.sparkContext
    sc.listenerBus.waitUntilEmpty()
    val jobs = new AtomicInteger
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = jobs.incrementAndGet()
    }
    sc.addSparkListener(listener)
    try {
      body
      sc.listenerBus.waitUntilEmpty()
      jobs.get
    } finally sc.removeSparkListener(listener)
  }
}
