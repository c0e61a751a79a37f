package graft.tools

import java.nio.file.{Files, Paths}
import graft.pipeline.{ClpPipeline, TranscriptGen}

/** Dev-only: per-stage wall times of the pipeline at a given core count
  * (read back from the lineage manifests). The benchmark times the
  * driver-map dictionary mode; this is the tool that times the distributed
  * mode at scale (third argument `0`).
  *
  * Usage: ProfilePipeline [cores] [turns] [driverDictThreshold] */
object ProfilePipeline {
  def main(args: Array[String]): Unit = {
    val cores = if (args.nonEmpty) args(0).toInt else graft.GraftSession.defaultCores
    val n = if (args.length > 1) args(1).toLong else 1000000L
    // optional third arg: driverDictThreshold (0 forces the fully
    // distributed no-driver-map dictionary mode end-to-end)
    val dictThreshold =
      if (args.length > 2) args(2).toLong else ClpPipeline.DriverDictThreshold
    val spark = graft.GraftSession("graft-profile-pipeline", cores = Some(cores))
    @volatile var lastEnd = System.nanoTime()
    spark.sparkContext.addSparkListener(new org.apache.spark.scheduler.SparkListener {
      val starts = new java.util.concurrent.ConcurrentHashMap[Int, Long]()
      override def onJobStart(js: org.apache.spark.scheduler.SparkListenerJobStart): Unit = {
        val now = System.nanoTime()
        println(f"[job ${js.jobId}%3d] gap ${(now - lastEnd) / 1e9}%6.2f s before start")
        starts.put(js.jobId, now)
      }
      override def onJobEnd(je: org.apache.spark.scheduler.SparkListenerJobEnd): Unit = {
        val now = System.nanoTime()
        lastEnd = now
        val st = Option(starts.get(je.jobId)).getOrElse(now)
        println(f"[job ${je.jobId}%3d] ran ${(now - st) / 1e9}%6.2f s")
      }
    })
    val work = { val d = new java.io.File("/dev/shm/prof-work"); org.apache.commons.io.FileUtils.deleteQuietly(d); d.mkdirs(); d.toString }
    var t0 = System.nanoTime()
    TranscriptGen.turns(spark, n, partitions = cores * 2)
      .write.mode("overwrite").parquet(s"$work/turns")
    println(f"[prof $cores] gen: ${(System.nanoTime() - t0) / 1e9}%.2f s")
    val turns = spark.read.parquet(s"$work/turns")
    t0 = System.nanoTime()
    val res = ClpPipeline.run(spark, turns,
      ClpPipeline.Config(s"$work/out", maxSinks = 64, saltParts = 64, filesPerSink = 4,
        driverDictThreshold = dictThreshold))
    // timing window closes BEFORE the verification pass — `total` measures
    // the pipeline only
    val total = (System.nanoTime() - t0) / 1e9
    val violations = ClpPipeline.roundTripViolations(spark, turns, s"$work/out",
      driverDictThreshold = dictThreshold).count()
    println(s"[prof $cores] round-trip violations: $violations")
    for (stage <- Seq("parse", "dicts", "route", "stats")) {
      val m = new String(Files.readAllBytes(Paths.get(s"$work/out/_lineage/$stage.json")))
      println(s"[prof $cores] $m")
    }
    println(f"[prof $cores] total: $total%.2f s  thr: ${res.turnsIn / total}%.0f turns/s  nVars: ${res.nVars}")
    spark.stop()
  }
}
