package graft

import java.util.concurrent.{CountDownLatch, TimeUnit}
import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.SparkSession

/** Counts the Spark jobs a block launches. Listener events are
  * delivered asynchronously but in order, so a one-task sentinel job
  * run after the block marks the end of its events: once the
  * sentinel's start arrives, every earlier job has been counted. */
object SparkJobs {
  private val Sentinel = "graft-job-count-sentinel"

  def launchedBy[T](spark: SparkSession)(body: => T): (T, Int) = {
    val sc = spark.sparkContext
    val jobs = new AtomicInteger(0)
    val done = new CountDownLatch(1)
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (Option(e.properties).exists(p =>
            p.getProperty("spark.job.description") == Sentinel)) done.countDown()
        else { jobs.incrementAndGet(); () }
    }
    sc.addSparkListener(listener)
    try {
      val out = body
      sc.setJobDescription(Sentinel)
      try sc.parallelize(Seq(1), 1).count()
      finally sc.setJobDescription(null)
      assert(done.await(30, TimeUnit.SECONDS), "sentinel job start never delivered")
      (out, jobs.get())
    } finally sc.removeSparkListener(listener)
  }
}
