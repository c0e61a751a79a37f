package graft.spark

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Shared local SparkSession for all Spark-backed suites: the session users
  * get, at 4 cores. */
object SharedSpark {
  lazy val spark: SparkSession = graft.GraftSession("graft-test", cores = Some(4))
}

abstract class SparkSpecBase extends AnyFunSuite {
  lazy val spark: SparkSession = SharedSpark.spark

  /** Runs `body` under a fresh job group and returns its result with the
    * number of Spark jobs it started. */
  protected def jobsOf[T](body: => T): (T, Int) = {
    val group = s"graft-jobs-${System.nanoTime()}"
    val jobs = new java.util.concurrent.atomic.AtomicInteger
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(js: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        if (Option(js.properties).exists(_.getProperty("spark.jobGroup.id") == group))
          jobs.incrementAndGet()
    }
    spark.sparkContext.addSparkListener(listener)
    try {
      spark.sparkContext.setJobGroup(group, "counted")
      val r = body
      org.apache.spark.ListenerBusDrain(spark.sparkContext)
      (r, jobs.get())
    } finally {
      spark.sparkContext.clearJobGroup()
      spark.sparkContext.removeSparkListener(listener)
    }
  }
}
