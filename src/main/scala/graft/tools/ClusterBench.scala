package graft.tools

import org.apache.spark.sql.SparkSession

import graft.pipeline.{ClpPipeline, TranscriptGen}

/**
 * Multi-executor scaling evidence, submitted via `spark-submit` against a
 * real standalone cluster (see `tools/cluster_bench.sh`). The BASELINE.json
 * rule asks for the pipeline "run via spark-submit on a multi-executor
 * cluster at two cluster sizes (N and 4N executors)"; `graft.Bench` evidences
 * the ratio with local[N] threads inside one JVM, this main evidences it with
 * separate executor PROCESSES — real netty shuffle, real serialization, real
 * per-executor heaps — at `spark.cores.max`-controlled cluster sizes
 * (2-core executors: cores.max=2 → 1 executor, cores.max=8 → 4 executors;
 * the script takes its hi leg from the host's cores, at most 8).
 *
 * Modes (the master URL comes from spark-submit; `graft.GraftSession` sizes
 * the shuffle by `spark.cores.max`, the cluster size the submission is granted):
 *   gen <turnsDir> <nTurns>            — write the deterministic corpus once
 *   run <turnsDir> <workDir> [burnMs]  — warm-up run + calibration burn +
 *                                        ONE timed pipeline rep; prints one
 *                                        JSON line with cores/executors/sec
 *
 * One rep per submission keeps the legs interleavable from the driver script
 * (hi,lo,hi,lo,… across fresh JVMs) so both cluster sizes sample the same
 * hypervisor noise windows, exactly like Bench's interleaved legs.
 */
object ClusterBench {

  /** Block until `want` executor processes have registered (driver row
   *  excluded), so the timed rep never starts on a partially-up cluster and
   *  the reported executor count is the real one. */
  private def awaitExecutors(s: SparkSession, want: Int, timeoutMs: Long = 90000L): Int = {
    val deadline = System.nanoTime() + timeoutMs * 1000000L
    var n = 0
    while ({
      n = s.sparkContext.statusTracker.getExecutorInfos.length - 1
      n < want && System.nanoTime() < deadline
    }) Thread.sleep(200)
    n
  }

  private def runPipeline(spark: SparkSession, turnsDir: String, outDir: String,
                          limit: Long = 0L): Double = {
    val t0 = System.nanoTime()
    var turns = spark.read.parquet(turnsDir)
    if (limit > 0) turns = turns.limit(limit.toInt)
    ClpPipeline.run(spark, turns,
      ClpPipeline.Config(outDir, maxSinks = 64, saltParts = 64,
        filesPerSink = math.max(spark.sparkContext.defaultParallelism / 4, 4)))
    (System.nanoTime() - t0) / 1e9
  }

  def main(args: Array[String]): Unit = args.toList match {
    case "gen" :: turnsDir :: nTurns :: Nil =>
      val spark = graft.GraftSession("graft-cluster-bench")
      TranscriptGen.turns(spark, nTurns.toLong, seed = 42L, partitions = 32)
        .write.mode("overwrite").parquet(turnsDir)
      println(s"""{"cluster_gen":{"turns":${spark.read.parquet(turnsDir).count()}}}""")
      spark.stop()

    case "run" :: turnsDir :: workDir :: rest =>
      val burnMs = rest.headOption.map(_.toLong).getOrElse(8000L)
      val spark = graft.GraftSession("graft-cluster-bench")
      val cores = graft.GraftSession.coresOf(spark.sparkContext.getConf)
      // tools/cluster_bench.sh fixes spark.executor.cores, so the expected
      // executor count is cores.max / executor.cores (2-core executors pair
      // 1-vs-4 executors; 1-core executors pair 2-vs-8 — the literal
      // N-vs-4N-executors reading, with cross-process shuffle on BOTH legs)
      val perExec = spark.conf.getOption("spark.executor.cores").map(_.toInt).getOrElse(2)
      // local masters have no separate executor processes — getExecutorInfos
      // holds only the driver row, so waiting would burn the whole timeout
      val executors =
        if (spark.sparkContext.master.startsWith("local")) 0
        else awaitExecutors(spark, want = cores / perExec)
      val nTurns = spark.read.parquet(turnsDir).count()
      runPipeline(spark, turnsDir, s"$workDir/warmup", limit = 200000L) // JIT
      // Hardware-health calibration on the (otherwise idle) driver JVM.
      // Fixed 4 threads regardless of leg size so hi and lo burn samples are
      // directly comparable — the burn measures the box, not the cluster.
      graft.Bench.burn(2, 1000) // burn JIT warm-up, discarded
      val burnIps = graft.Bench.burn(4, burnMs)
      val sec = runPipeline(spark, turnsDir, s"$workDir/out")
      println(f"""{"cluster_run":{"total_cores":$cores,"executors":$executors,"turns":$nTurns,"sec":$sec%.2f,"thr":${nTurns / sec}%.1f,"burn_miters_per_sec":${burnIps / 1e6}%.1f}}""")
      spark.stop()

    case other =>
      System.err.println(s"usage: gen <turnsDir> <nTurns> | run <turnsDir> <workDir> [burnMs]; got: $other")
      sys.exit(2)
  }
}
