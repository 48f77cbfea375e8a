package graft

import org.apache.spark.sql.SparkSession

/** Spark jobs started while a block runs: listener events arrive
  * asynchronously, so the bus is drained before and after the block. */
object JobCount {
  def apply(spark: SparkSession)(run: => Unit): Int = {
    val started = new java.util.concurrent.atomic.AtomicInteger(0)
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(
          js: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        started.incrementAndGet()
    }
    org.apache.spark.ListenerDrain(spark.sparkContext)
    spark.sparkContext.addSparkListener(listener)
    try {
      run
      org.apache.spark.ListenerDrain(spark.sparkContext)
    } finally spark.sparkContext.removeSparkListener(listener)
    started.get()
  }
}
