package graft.spark

import java.util.TimeZone

import org.apache.spark.SparkConf
import org.scalatest.funsuite.AnyFunSuite

import graft.GraftSession

/** The session rules, checked on the pure resolution over a `SparkConf` —
  * no second SparkContext. `new SparkConf(false)` keeps the test JVM's own
  * `spark.*` system properties out of the input. */
class GraftSessionSpec extends AnyFunSuite {
  private val Tz = "spark.sql.session.timeZone"
  private def conf = new SparkConf(false)

  test("a master set by spark-submit wins over the local default") {
    val c = GraftSession.resolve(conf.set("spark.master", "spark://h:7077"))
    assert(c.get("spark.master") == "spark://h:7077")
    assert(!c.contains("spark.local.dir"), "tmpfs scratch is for local masters only")
  }

  test("no master resolves to local[SPARK_GRAFT_CPUS or nproc]") {
    val c = GraftSession.resolve(conf)
    assert(c.get("spark.master") == s"local[${GraftSession.defaultCores}]")
    assert(c.get("spark.sql.shuffle.partitions") == (2 * GraftSession.defaultCores).toString)
  }

  test("explicit cores pin local[cores] whatever the launcher's master") {
    val c = GraftSession.resolve(conf.set("spark.master", "spark://h:7077"), cores = Some(2))
    assert(c.get("spark.master") == "local[2]")
    assert(c.get("spark.sql.shuffle.partitions") == "4")
  }

  test("the time zone is UTC even when the conf or the JVM default says otherwise") {
    val prev = TimeZone.getDefault
    try {
      TimeZone.setDefault(TimeZone.getTimeZone("Asia/Kolkata"))
      for (c <- Seq(conf.set("spark.master", "spark://h:7077"), conf,
                    conf.set(Tz, "America/Los_Angeles")))
        assert(GraftSession.resolve(c).get(Tz) == "UTC")
    } finally TimeZone.setDefault(prev)
  }

  test("cluster cores come from spark.cores.max; a value set on the command line wins") {
    val c = GraftSession.resolve(conf.set("spark.master", "spark://h:7077")
      .set("spark.cores.max", "8").set("spark.sql.adaptive.enabled", "false"))
    assert(GraftSession.coresOf(c) == 8)
    assert(c.get("spark.sql.shuffle.partitions") == "16")
    assert(c.get("spark.sql.adaptive.enabled") == "false")
    assert(GraftSession.coresOf(conf.set("spark.master", "local[3,2]")) == 3)
    assert(GraftSession.coresOf(conf.set("spark.master", "local")) == 1)
  }
}
