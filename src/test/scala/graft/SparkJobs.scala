package graft

import java.util.concurrent.atomic.AtomicInteger
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.SparkSession

/** Spark job counts for the job-budget tests. */
object SparkJobs {
  /** Spark jobs `f` starts, counted by a listener on a private job group. */
  def count(spark: SparkSession)(f: => Unit): Int = {
    val sc = spark.sparkContext
    val tag = s"job-budget-${System.nanoTime}"
    val jobs = new AtomicInteger
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (e.properties != null &&
            e.properties.getProperty("spark.jobGroup.id") == tag)
          jobs.incrementAndGet()
    }
    sc.addSparkListener(listener)
    try {
      sc.setJobGroup(tag, "job budget")
      try f finally sc.clearJobGroup()
      org.apache.spark.sql.graft.ListenerDrain(sc)
    } finally sc.removeSparkListener(listener)
    assert(jobs.get > 0, "listener saw no jobs")
    jobs.get
  }
}
