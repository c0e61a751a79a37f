package graft.tools

import java.nio.file.Files

import org.apache.spark.sql.functions._

import graft.pipeline.JsonPipeline

/** Dev-only: measures what the VARIANT-shredded record store actually buys
  * on the KQL read path vs the row-wise `_raw` layout — the trade the
  * reference makes with per-column typed streams (clp_s reads only the
  * schema columns a query touches, never the full record). Reports, for
  * the same selective query over the same corpus: wall time (best of N),
  * task-level input bytes read from disk, and the ingest-side costs
  * (route wall time, record-store size) the shredded twin pays for it.
  * Args: `[records] [repeats]` — defaults 2,000,000 and 3. */
object ShredProbe {
  /** Cumulative bytes read by THIS JVM (all read syscalls, page-cached or
    * not). In local mode every executor is a thread here, so the delta
    * across a query is the query's real read traffic — Spark's task-level
    * inputMetrics.bytesRead reports 0 for local parquet scans (verified),
    * so the OS counter is the honest one. */
  private def jvmReadBytes(): Long =
    scala.io.Source.fromFile("/proc/self/io").getLines()
      .collectFirst { case l if l.startsWith("rchar:") =>
        l.split(":")(1).trim.toLong }.get

  def main(args: Array[String]): Unit = {
    val n = if (args.nonEmpty) args(0).toLong else 2000000L
    val repeats = if (args.length > 1) args(1).toInt else 3
    val spark = graft.GraftSession("graft-shred-probe")

    // one fat homogeneous schema: a ~300 B message body the query never
    // touches, a nested meta.lang the query filters on, and small scalars —
    // the shape where column pruning matters (and the common log shape)
    val words = array(Seq("alpha", "bravo", "charlie", "delta", "echo",
      "foxtrot", "golf", "hotel", "india", "juliet").map(lit): _*)
    val corpus = spark.range(0, n, 1, 32)
      .withColumn("lang", element_at(array(lit("en"), lit("de"), lit("fr"),
        lit("zh")), (col("id") % 4 + 1).cast("int")))
      .withColumn("msg", concat_ws(" ", transform(sequence(lit(0), lit(39)),
        i => element_at(words, pmod(col("id") * 7 + i * 13, lit(10)).cast("int") + 1))))
      .select(col("id"), to_json(struct(
        col("id"),
        (lit(1700000000L) + col("id") % 86400).as("ts"),
        col("msg"),
        struct(col("lang"), (col("id") % 10).cast("double").as("score")).as("meta"),
        (col("id") % 100).as("k"))).as("json"))

    val rowDir = Files.createTempDirectory("graft-shred-row").toString
    val varDir = Files.createTempDirectory("graft-shred-var").toString
    def route(dir: String, shred: Boolean): Double = {
      val t0 = System.nanoTime()
      JsonPipeline.route(spark, corpus, "json", dir,
        options = JsonPipeline.Options(timestampKey = Some("ts"),
          orderCol = Some("id"), filesPerSchema = 8, shredRecords = shred))
      (System.nanoTime() - t0) / 1e9
    }
    val tRow = route(rowDir, shred = false)
    val tVar = route(varDir, shred = true)

    def query(dir: String): (Double, Long, Long) = {
      var best = Double.MaxValue; var rows = 0L; var bytes = 0L
      (1 to repeats).foreach { _ =>
        val b0 = jvmReadBytes()
        val t0 = System.nanoTime()
        rows = JsonPipeline.kqlSearch(spark, dir,
          "meta.lang : en AND k >= 50", Seq("id")).count()
        val dt = (System.nanoTime() - t0) / 1e9
        val b = jvmReadBytes() - b0
        if (dt < best) { best = dt; bytes = b }
      }
      (best, rows, bytes)
    }
    val (qRow, rowsRow, bRow) = query(rowDir)
    val (qVar, rowsVar, bVar) = query(varDir)
    require(rowsRow == rowsVar, s"layouts disagree: $rowsRow vs $rowsVar")

    def dirBytes(d: String): Long =
      org.apache.commons.io.FileUtils.sizeOf(new java.io.File(d, "records"))
    println(f"records=$n rows_out=$rowsRow query='meta.lang : en AND k >= 50' proj=[id]")
    println(f"row-wise : query=$qRow%6.2f s  read=${bRow / 1e6}%8.1f MB  " +
      f"store=${dirBytes(rowDir) / 1e6}%8.1f MB  route=$tRow%6.1f s")
    println(f"shredded : query=$qVar%6.2f s  read=${bVar / 1e6}%8.1f MB  " +
      f"store=${dirBytes(varDir) / 1e6}%8.1f MB  route=$tVar%6.1f s")
    println(f"speedup=${qRow / qVar}%.2fx  bytes-cut=${bRow.toDouble / bVar.max(1)}%.2fx")
    if (!sys.env.contains("GRAFT_PROBE_KEEP")) {
      org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(rowDir))
      org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(varDir))
    }
    spark.stop()
  }
}
