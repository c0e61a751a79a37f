package graftbench

import scala.collection.mutable

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._

/** One timed call: name, [start, end) in epoch-relative nanos, the span that
  * caused it (-1 for a root) and the request it belongs to. */
final case class Span(id: Int, parent: Int, name: String, req: Int, startNs: Long, endNs: Long) {
  def ms: Double = (endNs - startNs) / 1e6
}

/**
 * Spans around the benchmark's calls into the engine. Kept in memory and
 * written out once, at the end. While a span is open every Spark job the
 * driver thread submits carries its request id as a local property, so
 * [[JobListener]] can attribute task metrics to it.
 */
final class Tracer(sc: SparkContext) {
  val spans = mutable.ArrayBuffer.empty[Span]
  private val open = mutable.Stack.empty[(Int, String, Int, Long)]
  private var nextId = 0
  var enabled = false

  def span[T](name: String, req: Int = -1)(body: => T): T =
    if (!enabled) body
    else {
      val id = nextId; nextId += 1
      val parent = if (open.isEmpty) -1 else open.top._1
      val r = if (req >= 0) req else if (open.isEmpty) -1 else open.top._3
      val prevReq = sc.getLocalProperty(Tracer.ReqKey)
      sc.setLocalProperty(Tracer.ReqKey, r.toString)
      open.push((id, name, r, System.nanoTime()))
      try body
      finally {
        val (_, _, _, t0) = open.pop()
        spans += Span(id, parent, name, r, t0, System.nanoTime())
        sc.setLocalProperty(Tracer.ReqKey, prevReq)
      }
    }

  def named(prefix: String): Seq[Span] = spans.filter(_.name.startsWith(prefix)).toSeq

  def toJson: String = spans.map { s =>
    s"""{"id":${s.id},"parent":${s.parent},"name":${Json.str(s.name)},"req":${s.req},""" +
      s""""start_ns":${s.startNs},"end_ns":${s.endNs}}"""
  }.mkString("[", ",\n", "]")
}

object Tracer { val ReqKey = "graftbench.req" }

/** Task metrics of one finished stage, plus the job's call site and request. */
final case class StageRec(jobId: Int, req: Int, callSite: String, submitMs: Long, doneMs: Long,
                          tasks: Int, runMs: Long, recordsRead: Long, bytesRead: Long,
                          bytesWritten: Long, shuffleWrite: Long, spill: Long)

final case class JobRec(id: Int, req: Int, callSite: String, startMs: Long, var endMs: Long)

/** Job, stage and task metrics from the scheduler's event bus. */
final class JobListener extends SparkListener {
  val jobs = mutable.ArrayBuffer.empty[JobRec]
  val stages = mutable.ArrayBuffer.empty[StageRec]
  /** (launch, finish) epoch millis of every finished task. */
  val tasks = mutable.ArrayBuffer.empty[(Long, Long)]
  private val stageJob = mutable.Map.empty[Int, JobRec]

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val p = Option(e.properties)
    val req = p.flatMap(x => Option(x.getProperty(Tracer.ReqKey))).map(_.toInt).getOrElse(-1)
    // the result stage is named after the job's call site
    val site = p.flatMap(x => Option(x.getProperty("callSite.short")))
      .getOrElse(if (e.stageInfos.isEmpty) "" else e.stageInfos.maxBy(_.stageId).name)
    val j = JobRec(e.jobId, req, site, e.time, -1L)
    jobs += j
    e.stageIds.foreach(stageJob(_) = j)
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobs.find(_.id == e.jobId).foreach(_.endMs = e.time)
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    tasks += ((e.taskInfo.launchTime, e.taskInfo.finishTime))
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    val si = e.stageInfo
    val m = si.taskMetrics
    val j = stageJob.get(si.stageId)
    stages += StageRec(j.map(_.id).getOrElse(-1), j.map(_.req).getOrElse(-1),
      j.map(_.callSite).getOrElse(si.name),
      si.submissionTime.getOrElse(0L), si.completionTime.getOrElse(0L), si.numTasks,
      if (m == null) 0L else m.executorRunTime,
      if (m == null) 0L else m.inputMetrics.recordsRead,
      if (m == null) 0L else m.inputMetrics.bytesRead,
      if (m == null) 0L else m.outputMetrics.bytesWritten,
      if (m == null) 0L else m.shuffleWriteMetrics.bytesWritten,
      if (m == null) 0L else m.diskBytesSpilled + m.memoryBytesSpilled)
  }

  def forReq(req: Int): Seq[StageRec] = synchronized(stages.filter(_.req == req).toSeq)

  /** Stages that completed inside the wall-clock window [fromMs, toMs]. */
  def within(fromMs: Long, toMs: Long): Seq[StageRec] =
    synchronized(stages.filter(s => s.doneMs >= fromMs && s.doneMs <= toMs).toSeq)

  /** Milliseconds of [fromMs, toMs] during which no task was running. */
  def idleMs(fromMs: Long, toMs: Long): Long = synchronized {
    val iv = tasks.iterator
      .map { case (a, b) => (math.max(a, fromMs), math.min(b, toMs)) }
      .filter { case (a, b) => b > a }.toArray.sortBy(_._1)
    var busy = 0L
    var curA = -1L
    var curB = -1L
    iv.foreach { case (a, b) =>
      if (a > curB) { busy += curB - curA; curA = a; curB = b }
      else curB = math.max(curB, b)
    }
    busy += curB - curA
    (toMs - fromMs) - busy
  }

  /** Task-milliseconds run inside [fromMs, toMs]. */
  def taskMs(fromMs: Long, toMs: Long): Long = synchronized {
    tasks.iterator.map { case (a, b) => math.max(0L, math.min(b, toMs) - math.max(a, fromMs)) }.sum
  }

  def jobsWithin(fromMs: Long, toMs: Long): Seq[JobRec] =
    synchronized(jobs.filter(j => j.startMs >= fromMs && j.startMs <= toMs).toSeq)
}

object Stats {
  /** Runs `op(i)` for i = 0, 1, ... while the next op, at the mean length
    * so far, ends within `seconds`, and at least `minOps` times; returns the
    * count. */
  def loop(seconds: Double, minOps: Int = 1)(op: Int => Unit): Int = {
    val t0 = System.nanoTime()
    def elapsed = (System.nanoTime() - t0) / 1e9
    var i = 0
    while (i < minOps || elapsed * (i + 1) / i <= seconds) { op(i); i += 1 }
    i
  }

  def timeMs[T](body: => T): (T, Double) = {
    val t0 = System.nanoTime()
    val r = body
    (r, (System.nanoTime() - t0) / 1e6)
  }

  def median(xs: Seq[Double]): Double = {
    require(xs.nonEmpty, "median of no samples")
    val s = xs.sorted
    val n = s.length
    if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
  }

  /** The highest percentile with at least ten samples beyond it, as
    * (value, percentile, samples); None below 21 samples, where that
    * percentile would not lie above the median. */
  def tail(xs: Seq[Double]): Option[(Double, Double, Int)] =
    if (xs.length < 21) None
    else {
      val s = xs.sorted
      val n = s.length
      Some((s(n - 11), 100.0 * (n - 10) / n, n))
    }
}

/** Minimal JSON rendering for the result line and the trace file. */
object Json {
  def str(s: String): String =
    "\"" + s.flatMap {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""

  def num(d: Double): String =
    if (d.isNaN || d.isInfinite) throw new IllegalStateException(s"non-finite metric $d")
    else java.math.BigDecimal.valueOf(d).toPlainString
}
