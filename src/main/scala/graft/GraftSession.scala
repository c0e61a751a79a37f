package graft

import org.apache.spark.SparkConf
import org.apache.spark.sql.SparkSession

/**
 * The one way graft builds a Spark session: every CLI, the MCP server,
 * `Verify`, `Bench`, the tools and the test suites come through here.
 *
 * Rules, all in [[resolve]] (a function of a `SparkConf`; no SparkContext):
 *  - master: an explicit `cores` argument pins `local[cores]` (Bench's two
 *    scaling legs); otherwise a master that is already set — by
 *    `spark-submit --master` or `-Dspark.master` — wins; otherwise
 *    `local[SPARK_GRAFT_CPUS or nproc]`.
 *  - time zone: always UTC, so timestamp literals in KQL and SQL mean the
 *    same instant on every host.
 *  - tuning: the local-scale settings table measured by `graft.Bench`
 *    (BENCH/BASELINE.md), sized by the session's core count. A value the
 *    command line already set wins over the table.
 */
object GraftSession {

  /** Cores of a local session when neither the caller nor the master says. */
  def defaultCores: Int =
    sys.env.get("SPARK_GRAFT_CPUS").map(_.toInt)
      .getOrElse(Runtime.getRuntime.availableProcessors)

  private val LocalMaster = """local\[(\d+|\*)(?:,\d+)?\]""".r

  /** Core count a master stands for: its thread count on a local master,
    * `spark.cores.max` on a cluster (the size a standalone submission is
    * granted — executors have not registered yet when the session starts,
    * so `defaultParallelism` would still read its floor), else the local
    * default. */
  def coresOf(conf: SparkConf): Int = conf.get("spark.master", "") match {
    case "local" => 1
    case LocalMaster("*") => Runtime.getRuntime.availableProcessors
    case LocalMaster(n) => n.toInt
    case _ => conf.getOption("spark.cores.max").map(_.toInt).getOrElse(defaultCores)
  }

  /** `conf` with master, time zone and tuning settled; `conf` is not
    * modified. */
  def resolve(conf: SparkConf, cores: Option[Int] = None): SparkConf = {
    val c = conf.clone()
    cores match {
      case Some(n) => c.setMaster(s"local[$n]")
      case None => c.setIfMissing("spark.master", s"local[$defaultCores]")
    }
    val n = coresOf(c)
    c.set("spark.sql.session.timeZone", "UTC")
      .set("spark.ui.enabled", "false")
    Seq(
      "spark.sql.shuffle.partitions" -> (2 * n).toString,
      "spark.sql.adaptive.enabled" -> "true",
      "spark.sql.autoBroadcastJoinThreshold" -> (64L << 20).toString,
      // local-scale IO: the corpora here compress to a few hundred MB, so
      // the cluster defaults (128 MB splits, 4 MB open cost, 64 MB AQE
      // advisory) would collapse reads and shuffles to a handful of tasks
      "spark.sql.files.maxPartitionBytes" -> (16L << 20).toString,
      "spark.sql.files.openCostInBytes" -> (512L << 10).toString,
      "spark.sql.adaptive.advisoryPartitionSizeInBytes" -> (8L << 20).toString,
      // task-side commit (v2): v1 renames every task file on the driver
      // serially — seconds per stage at hundreds of files
      "spark.hadoop.mapreduce.fileoutputcommitter.algorithm.version" -> "2"
    ).foreach { case (k, v) => c.setIfMissing(k, v) }
    // shuffle and spill files on tmpfs when there is one: the local stand-in
    // for a cluster's NVMe shuffle volumes (measured work is identical)
    if (c.get("spark.master").startsWith("local"))
      c.setIfMissing("spark.local.dir",
        if (new java.io.File("/dev/shm").canWrite) "/dev/shm/graft-spark"
        else System.getProperty("java.io.tmpdir"))
    c
  }

  /** A session under [[resolve]]'s rules, WARN logging, graft functions
    * registered. */
  def apply(appName: String, cores: Option[Int] = None): SparkSession = {
    val s = SparkSession.builder()
      .config(resolve(new SparkConf(), cores))
      .appName(appName)
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    graft.functions.ClpFunctions.register(s)
    s
  }
}
