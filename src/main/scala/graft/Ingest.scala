package graft

/**
 * spark-submit entry for compression — the `clp c` surface: a transcript
 * table (parquet of conv_id, turn_idx, role, text, tool, ts), raw log
 * files/dirs, or log archives in, a routed CLP archive out.
 *
 * {{{
 *   spark-submit --class graft.Ingest <jar> <input> <outDir>
 *     [--raw | --archives]       input is raw log files / zip|tar containers
 *     [--jsonl <col>]            clp_s mode: route JSONL column per schema
 *     [--schema <file>]          grok/schema tokenizer mode (P6)
 *     [--max-sinks N] [--salt N] [--files-per-sink N] [--resume]
 *     [--archival]               storage profile: parquet zstd level 9 +
 *                                v2 delta pages (default: session codec —
 *                                the throughput profile)
 * }}}
 */
object Ingest {

  def main(args: Array[String]): Unit = {
    require(args.length >= 2, "usage: Ingest <input> <outDir> [flags]")
    val input = args(0)
    val outDir = args(1)
    val flags = args.drop(2)
    def flagVal(name: String): Option[String] =
      flags.sliding(2).collectFirst { case Array(`name`, v) => v }
    val spark = GraftSession("graft-ingest")

    // the measured archival storage profile (BENCH/BASELINE.md):
    // smallest archive, ~same read path; ingest pays the zstd-9 CPU
    val pqOpts: Map[String, String] =
      if (flags.contains("--archival"))
        Map("compression" -> "zstd",
          "parquet.compression.codec.zstd.level" -> "9",
          "parquet.writer.version" -> "v2")
      else Map.empty

    if (flags.contains("--jsonl")) {
      val col = flagVal("--jsonl").getOrElse("json")
      val res = graft.pipeline.JsonPipeline.route(
        spark, spark.read.parquet(input), col, outDir,
        options = graft.pipeline.JsonPipeline.Options(parquetOptions = pqOpts))
      println(s"ingest(jsonl): ${res.nRecords} records into ${res.nSchemas} schema tables at $outDir")
    } else {
      val turns =
        if (flags.contains("--raw"))
          graft.pipeline.RawLogIngest.asTurns(graft.pipeline.RawLogIngest.read(spark, input))
        else if (flags.contains("--archives"))
          graft.pipeline.RawLogIngest.asTurns(
            graft.pipeline.ArchiveIngest.read(spark, input).drop("archive"))
        else spark.read.parquet(input)
      val cfg = graft.pipeline.ClpPipeline.Config(
        outDir,
        maxSinks = flagVal("--max-sinks").map(_.toInt).getOrElse(64),
        saltParts = flagVal("--salt").map(_.toInt).getOrElse(64),
        filesPerSink = flagVal("--files-per-sink").map(_.toInt).getOrElse(8),
        resume = flags.contains("--resume"),
        tokenizerSchema = flagVal("--schema").map(f =>
          graft.core.TokenizerSchema.parse(
            new String(java.nio.file.Files.readAllBytes(java.nio.file.Paths.get(f)),
              java.nio.charset.StandardCharsets.UTF_8))),
        parquetOptions = pqOpts)
      val res = graft.pipeline.ClpPipeline.run(spark, turns, cfg)
      println(s"ingest: ${res.turnsIn} turns -> ${res.rowsRouted} routed rows, " +
        s"${res.nLogtypes} logtypes, ${res.nVars} vars at $outDir")
    }
    spark.stop()
  }
}
