package graft

import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.{GraftColumnBridge, SparkSession}

/** Counts the Spark jobs a block of work submits — the counter behind the
  * specs' job-count gates. */
object SparkJobs {

  /** `body`'s result and the number of Spark jobs it started. The listener
    * bus drains before the listener is added, so events still queued from
    * earlier work do not count, and again before the count is read, so
    * every job `body` started has been delivered. */
  def counted[A](spark: SparkSession)(body: => A): (A, Int) = {
    val jobs = new AtomicInteger()
    val listener = new SparkListener {
      override def onJobStart(js: SparkListenerJobStart): Unit = { jobs.incrementAndGet(); () }
    }
    GraftColumnBridge.waitListenerBus(spark, 10000)
    spark.sparkContext.addSparkListener(listener)
    try {
      val out = body
      GraftColumnBridge.waitListenerBus(spark, 10000)
      (out, jobs.get())
    } finally spark.sparkContext.removeSparkListener(listener)
  }
}
