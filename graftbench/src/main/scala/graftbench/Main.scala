package graftbench

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths}

import scala.collection.mutable
import scala.util.control.NonFatal

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.{bit_xor, col, count, lit, xxhash64}

/**
 * Benchmark entry point: one process, one closed-loop client, `local[nproc]`.
 *
 *   Main --workload <ingest_text|search_text|json> --seed <n> --seconds <s>
 *        --trace <0|1> --work <dir> --results <dir>
 *
 * The last stdout line is the result object. `--trace 0` reports the
 * end-to-end metrics; `--trace 1` reports the per-layer metrics and writes
 * the spans and stage records to the results directory.
 */
object Main {

  def main(args: Array[String]): Unit = {
    val opts = args.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    def need(k: String) = opts.getOrElse(k, sys.error(s"missing --$k"))
    val workload = need("workload")
    val seed = need("seed").toLong
    val seconds = need("seconds").toDouble
    val trace = need("trace") == "1"
    val work = need("work")
    val results = need("results")
    require(Set("ingest_text", "search_text", "json")(workload), s"unknown workload $workload")

    val cores = Runtime.getRuntime.availableProcessors
    val spark = session(cores, work)
    val ctx = new Ctx(spark, cores, work, seed, seconds, trace)
    ctx.log(s"session up at local[$cores], " +
      s"${System.currentTimeMillis() - java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime} ms after JVM start")
    val ok =
      try {
        workload match {
          case "ingest_text" => TextWorkloads.ingest(ctx)
          case "search_text" => TextWorkloads.search(ctx)
          case "json" => JsonWorkload.run(ctx)
        }
        if (trace) {
          Kernels.run(ctx)
          ctx.jvmMetrics()
        }
        true
      } catch {
        case NonFatal(e) =>
          System.err.println(s"benchmark aborted: $e")
          e.printStackTrace()
          false
      } finally {
        spark.stop()
        ctx.log("session stopped")
      }
    if (!ok) sys.exit(2)

    Files.createDirectories(Paths.get(results))
    val tag = s"${workload}_seed${seed}_trace${if (trace) 1 else 0}"
    Files.write(Paths.get(results, s"$tag.json"), ctx.recordJson(workload).getBytes(UTF_8))
    ctx.log("stopped; writing result")
    ctx.note(f"error_rate = ${ctx.failed}/${ctx.attempted} operations = " +
      f"${ctx.failed.toDouble / math.max(ctx.attempted, 1L)}%.4f; correct = ${ctx.failed == 0}")
    ctx.notes.foreach(println)
    println(ctx.resultLine(if (trace) Metrics.PerLayer else Metrics.EndToEnd))
  }

  private def session(cores: Int, work: String): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("graftbench")
      .config("spark.sql.shuffle.partitions", (cores * 2).toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.files.maxPartitionBytes", (16 * 1024 * 1024).toString)
      .config("spark.sql.files.openCostInBytes", (512 * 1024).toString)
      .config("spark.hadoop.mapreduce.fileoutputcommitter.algorithm.version", "2")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    graft.functions.ClpFunctions.register(s)
    s
  }
}

/** Shared run state: session, tracer, listener, metrics and the op tally. */
final class Ctx(val spark: SparkSession, val cores: Int, val work: String, val seed: Long,
                val seconds: Double, val trace: Boolean) {
  val sc = spark.sparkContext
  val tracer = new Tracer(sc)
  val listener = new JobListener
  private val metrics = mutable.LinkedHashMap.empty[String, (Double, String)]
  val notes = mutable.ArrayBuffer.empty[String]
  private val facts = mutable.LinkedHashMap.empty[String, String]
  var attempted = 0L
  var failed = 0L
  private val gc0 = gcMs()

  def metric(name: String, value: Double, unit: String): Unit = metrics(name) = (value, unit)
  def metricOf(name: String): Double = metrics(name)._1
  def fact(k: String, v: String): Unit = facts(k) = v
  def note(line: String): Unit = notes += line

  private val t0 = System.nanoTime()
  /** Progress on stderr, stamped with seconds since the run started. */
  def log(msg: String): Unit = System.err.println(f"[graftbench ${(System.nanoTime() - t0) / 1e9}%6.1fs] $msg")

  /** One counted operation; an exception is reported and counted, never
    * swallowed. */
  def attempt[T](what: String)(body: => T): Option[T] = {
    attempted += 1
    try Some(body)
    catch { case NonFatal(e) => failed += 1; System.err.println(s"FAILED $what: $e"); None }
  }

  /** A wrong answer for an already-counted operation. */
  def wrong(what: String, detail: String): Unit = {
    failed += 1
    System.err.println(s"WRONG $what: $detail")
  }

  /** Records the input fingerprint: rows plus an order-independent hash of
    * their content. */
  def fingerprint(input: DataFrame, what: String): Unit = {
    val r = input.agg(count(lit(1)), bit_xor(xxhash64(input.columns.map(col).toIndexedSeq: _*))).head()
    fact("input_rows", r.getLong(0).toString)
    fact("input_hash", f"${r.getLong(1)}%016x")
    note(s"input: ${r.getLong(0)} $what, fingerprint ${facts("input_hash")}")
  }

  /** Median and tail of one sample set of operation latencies. */
  def latency(what: String, ms: Seq[Double]): Unit = {
    metric("p50_ms", Stats.median(ms), "ms")
    val tail = Stats.tail(ms).getOrElse((ms.max, 100.0, ms.length))
    metric("tail_ms", tail._1, "ms")
    note(f"$what: n=${ms.length} p50=${Stats.median(ms)}%.1f ms " +
      f"tail(p${tail._2}%.1f, n=${tail._3})=${tail._1}%.1f ms")
  }

  def path(name: String): String = s"$work/$name"

  def rmrf(p: String): Unit = org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(p))

  /** Size and count of the regular files under `dir`. */
  def dirBytes(dir: String): (Long, Long) = {
    val it = Files.walk(Paths.get(dir)).filter(Files.isRegularFile(_)).iterator()
    var n = 0L
    var b = 0L
    while (it.hasNext) { b += Files.size(it.next()); n += 1 }
    (n, b)
  }

  def drain(): Unit = org.apache.spark.BenchBus.drain(sc)

  def startTracing(): Unit = { sc.addSparkListener(listener); tracer.enabled = true }
  def stopTracing(): Unit = { drain(); sc.removeSparkListener(listener); tracer.enabled = false }

  private def gcMs(): Long = {
    import scala.jdk.CollectionConverters._
    java.lang.management.ManagementFactory.getGarbageCollectorMXBeans.asScala
      .map(b => math.max(0L, b.getCollectionTime)).sum
  }

  def jvmMetrics(): Unit = {
    metric("jvm.gc_ms", (gcMs() - gc0).toDouble, "ms")
    val hwm = scala.util.Try {
      scala.io.Source.fromFile("/proc/self/status").getLines()
        .find(_.startsWith("VmHWM:")).map(_.replaceAll("[^0-9]", "").toDouble / 1024)
    }.toOption.flatten
    metric("jvm.peak_rss_mb", hwm.getOrElse(
      java.lang.management.ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getCommitted / 1048576.0),
      "MB")
  }

  def resultLine(names: Seq[(String, String)]): String = {
    val missing = names.map(_._1).filterNot(metrics.contains)
    if (missing.nonEmpty) throw new IllegalStateException(s"metrics not measured: $missing")
    val ms = names.map { case (n, u) =>
      s"${Json.str(n)}: {\"value\": ${Json.num(metrics(n)._1)}, \"unit\": ${Json.str(u)}}"
    }.mkString("{", ", ", "}")
    val correct = failed == 0 && attempted > 0
    s"""{"correct": $correct, "attempted": ${math.max(attempted, 1L)}, "failed": $failed, "metrics": $ms}"""
  }

  /** Everything a run measured, for the results directory. */
  def recordJson(workload: String): String = {
    val ms = metrics.map { case (n, (v, u)) =>
      s"${Json.str(n)}: {\"value\": ${Json.num(v)}, \"unit\": ${Json.str(u)}}"
    }.mkString("{", ",\n", "}")
    val fs = facts.map { case (k, v) => s"${Json.str(k)}: ${Json.str(v)}" }.mkString("{", ", ", "}")
    val stages = listener.stages.map { s =>
      s"""{"job":${s.jobId},"req":${s.req},"call_site":${Json.str(s.callSite)},""" +
        s""""submit_ms":${s.submitMs},"done_ms":${s.doneMs},"tasks":${s.tasks},"run_ms":${s.runMs},""" +
        s""""records_read":${s.recordsRead},"bytes_read":${s.bytesRead},""" +
        s""""bytes_written":${s.bytesWritten},"shuffle_write":${s.shuffleWrite},"spill":${s.spill}}"""
    }.mkString("[", ",\n", "]")
    s"""{"workload": ${Json.str(workload)}, "seed": $seed, "cores": $cores, "trace": $trace,
       |"attempted": $attempted, "failed": $failed, "facts": $fs,
       |"metrics": $ms,
       |"spans": ${tracer.toJson},
       |"stages": $stages}
       |""".stripMargin
  }
}
