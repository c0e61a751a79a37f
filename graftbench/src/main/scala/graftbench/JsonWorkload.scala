package graftbench

import java.nio.charset.StandardCharsets.UTF_8

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.pipeline.JsonPipeline

/** The `json` workload: heterogeneous JSONL through JsonPipeline.route with
  * a timestamp key, then the KQL set through JsonPipeline.kqlSearch. */
object JsonWorkload {

  val Records = 40000
  val SetupReps = 3
  /** Routes per run, at least, so the median is not a single sample. */
  val RouteCalls = 3
  import Stats.{loop, timeMs}

  /** Generates records [0, n) of the seeded set in parallel as JSONL. */
  private def writeJsonl(ctx: Ctx, seed: Long, n: Int, dir: String): Unit = {
    val lines = ctx.sc.range(0, n, 1, ctx.cores * 2).map(i => Row(Gen.recordAt(seed, i).line))
    ctx.spark.createDataFrame(lines, StructType(Seq(StructField("line", StringType))))
      .write.mode("overwrite").text(dir)
  }

  private def route(ctx: Ctx, jsonlDir: String, outDir: String): JsonPipeline.Result =
    JsonPipeline.route(ctx.spark,
      ctx.spark.read.text(jsonlDir).withColumnRenamed("value", "line"), "line", outDir,
      options = JsonPipeline.Options(timestampKey = Some("ts")))

  /** (matching records, sum of their ids). */
  private def runKql(ctx: Ctx, dir: String, k: Gen.Kql): (Long, Long) = {
    val df = ctx.tracer.span("kql.compile")(
      JsonPipeline.kqlSearch(ctx.spark, dir, k.text, Seq("id"), k.tsLo, k.tsHi))
    val r = ctx.tracer.span("kql.scan")(df.agg(count(lit(1)), sum(col("id"))).head())
    (r.getLong(0), if (r.isNullAt(1)) 0L else r.getAs[Number](1).longValue)
  }

  /** Expected answer from the generator's own record model. */
  private def oracle(recs: Array[Gen.Rec], k: Gen.Kql): (Long, Long) = {
    val hits = recs.filter(r => k.paths.forall(r.fields.contains) &&
      k.tsLo.forall(r.tsMs >= _) && k.tsHi.forall(r.tsMs <= _) && k.pred(r.fields))
    (hits.length.toLong, hits.map(_.id).sum)
  }

  final case class KOp(ix: Int, ms: Double, ans: (Long, Long), req: Int)
  final case class RouteRun(ms: Double, dir: String, res: JsonPipeline.Result, t0Ms: Long, t1Ms: Long)

  def run(ctx: Ctx): Unit = {
    val jsonlDir = ctx.path("jsonl")
    val recs = Gen.records(ctx.seed, Records) // the oracle's copy, outside setup
    val rawBytes = recs.iterator.map(_.line.getBytes(UTF_8).length + 1L).sum
    val kqls = Gen.kqls(ctx.seed, recs.head.tsMs, recs.last.tsMs)
    ctx.fact("kql", kqls.map(_.text).mkString(" | "))

    val routes = ArrayBuffer.empty[RouteRun]
    val ops = ArrayBuffer.empty[KOp]
    var reqs = 0
    def routeOnce(): String = {
      val dir = ctx.path(s"archive_${routes.length}")
      val req = reqs; reqs += 1
      val t0 = System.currentTimeMillis()
      val (r, ms) = timeMs(ctx.attempt(s"route #${routes.length}")(
        ctx.tracer.span("json.route", req)(route(ctx, jsonlDir, dir))))
      routes ++= r.map(RouteRun(ms, dir, _, t0, System.currentTimeMillis()))
      if (r.isEmpty) sys.error("route failed")
      dir
    }
    def kqlOnce(dir: String, i: Int): Unit = {
      val ix = i % kqls.length
      val req = reqs; reqs += 1
      val (a, ms) = timeMs(ctx.attempt(s"kql ${kqls(ix).text}")(
        ctx.tracer.span("kql.op", req)(runKql(ctx, dir, kqls(ix)))))
      ops ++= a.map(KOp(ix, ms, _, req))
    }

    // set-up: writing the input (the median of several writes), then the
    // session's first, cold route and KQL pass, which pay for class
    // loading and code generation that later calls are spared
    val writeS = (1 to SetupReps).map(_ =>
      timeMs(writeJsonl(ctx, ctx.seed, Records, jsonlDir))._2 / 1000)
    ctx.fingerprint(ctx.spark.read.text(jsonlDir), "records")
    val (_, coldMs) = timeMs {
      val dir = routeOnce()
      kqls.indices.foreach(kqlOnce(dir, _))
    }
    ctx.metric("setup_s", Stats.median(writeS) + coldMs / 1000, "s")
    ctx.note(f"setup: input write ${Stats.median(writeS)}%.2f s + cold route and KQL pass ${coldMs / 1000}%.2f s")
    val cold = (routes.length, ops.length)
    ctx.log("setup done")

    if (!ctx.trace) {
      // routes for half the time, then whole passes over the KQL set on
      // the last archive for the other half
      loop(ctx.seconds / 2, minOps = RouteCalls)(_ => routeOnce())
      val dir = routes.last.dir
      loop(ctx.seconds / 2)(_ => kqls.indices.foreach(kqlOnce(dir, _)))
      ctx.latency("kql query", ops.drop(cold._2).map(_.ms).toSeq)
      // the throughput this workload's users see is ingest: records routed per second
      val routeMs = routes.drop(cold._1).map(_.ms).toSeq
      ctx.metric("throughput_per_s", Records / Stats.median(routeMs) * 1000, "1/s")
      ctx.note(f"json_records_per_s = ${ctx.metricOf("throughput_per_s")}%.0f records/s " +
        f"(route n=${routeMs.length}); kql_p50_ms = ${ctx.metricOf("p50_ms")}%.2f ms")
    } else {
      // one route and one pass over the KQL set untraced, then the same
      // traced: the ratio is the tracing cost
      val plainDir = routeOnce()
      kqls.indices.foreach(kqlOnce(plainDir, _))
      val plainMs = routes.last.ms + ops.drop(cold._2).map(_.ms).sum
      ctx.startTracing()
      val dir = routeOnce()
      kqls.indices.foreach(kqlOnce(dir, _))
      ctx.stopTracing()
      val traced = ops.takeRight(kqls.length)
      ctx.metric("trace.overhead_ratio", (routes.last.ms + traced.map(_.ms).sum) / plainMs, "ratio")
      routeLayers(ctx, routes.last)
      val spanMs = (name: String) => Stats.median(ctx.tracer.named(name).map(_.ms))
      ctx.metric("kql.compile_ms", spanMs("kql.compile"), "ms")
      ctx.metric("kql.scan_ms", spanMs("kql.scan"), "ms")
      val io = traced.flatMap(o => ctx.listener.forReq(o.req))
      ctx.metric("kql.rows_scanned", io.map(_.recordsRead).sum.toDouble, "count")
      ctx.metric("kql.bytes_read", io.map(_.bytesRead).sum.toDouble, "bytes")
      ctx.metric("kql.rows_returned", traced.map(_.ans._1).sum.toDouble, "count")
      Metrics.idle(ctx, "pipeline.", "search.", "baseline.")
    }

    ctx.log(s"measured ${routes.length} routes, ${ops.length} queries")
    // correctness, outside the timed region
    routes.foreach { r =>
      if (r.res.nRecords != recs.length) ctx.wrong(s"route ${r.dir}", s"${r.res.nRecords} records, want ${recs.length}")
    }
    val schemas = routes.map(_.res.nSchemas).distinct
    if (schemas.length != 1) ctx.wrong("route", s"schema counts differ between runs: $schemas")
    val expected = kqls.map(oracle(recs, _))
    ops.foreach(o => if (o.ans != expected(o.ix))
      ctx.wrong(s"kql ${kqls(o.ix).text}", s"got ${o.ans}, oracle ${expected(o.ix)}"))
    val (files, bytes) = ctx.dirBytes(routes.head.dir)
    ctx.metric("archive_bytes_per_raw_byte", bytes.toDouble / rawBytes, "ratio")
    ctx.metric("archive.files", files.toDouble, "count")
    ctx.metric("archive.bytes", bytes.toDouble, "bytes")
    ctx.metric("json.n_schemas", schemas.head.toDouble, "count")
  }

  /** Stage windows of one traced route: up to the end of the zipWithIndex
    * job(s) that assign log_event_idx, then up to the end of the job that
    * writes the records store (the most bytes written), then the catalog. */
  private def routeLayers(ctx: Ctx, r: RouteRun): Unit = {
    val jobs = ctx.listener.jobsWithin(r.t0Ms, r.t1Ms)
    // an engine that assigns the index without a job of its own reads 0
    val indexEnd = jobs.filter(_.callSite.startsWith("zipWithIndex")).map(_.endMs)
      .maxOption.getOrElse(r.t0Ms)
    val writer = ctx.listener.within(r.t0Ms, r.t1Ms).maxByOption(_.bytesWritten).map(_.jobId)
    val catalogStart = jobs.find(j => writer.contains(j.id)).map(_.endMs).getOrElse(indexEnd)
    ctx.metric("json.index_ms", (indexEnd - r.t0Ms).toDouble, "ms")
    ctx.metric("json.shape_write_ms", (catalogStart - indexEnd).toDouble, "ms")
    ctx.metric("json.catalog_ms", (r.t1Ms - catalogStart).toDouble, "ms")
  }
}
