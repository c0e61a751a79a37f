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
}
