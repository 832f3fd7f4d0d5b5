package graft

import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.TestBus
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.SparkSession

/** The Spark jobs a block of code starts, as a `SparkListener` sees
  * them — the counter behind specs that pin how many jobs a verb runs,
  * planning included (a schema inference job has no SQL action). */
object SparkJobs {

  /** Runs `body` and returns what it returned with the number of jobs
    * started between the bus drains before and after it. */
  def during[T](spark: SparkSession)(body: => T): (T, Int) = {
    val started = new AtomicInteger()
    val listener = new SparkListener {
      override def onJobStart(jobStart: SparkListenerJobStart): Unit =
        started.incrementAndGet()
    }
    val sc = spark.sparkContext
    TestBus.drain(sc)
    sc.addSparkListener(listener)
    try {
      val out = body
      TestBus.drain(sc)
      (out, started.get)
    } finally sc.removeSparkListener(listener)
  }
}
