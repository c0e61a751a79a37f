package graftbench

/** Metric names and units; `BENCHMARK.json` lists the same ones. A layer a
  * workload does not run reports 0 for that workload's traced run. */
object Metrics {

  val EndToEnd: Seq[(String, String)] = Seq(
    "setup_s" -> "s",
    "throughput_per_s" -> "1/s",
    "p50_ms" -> "ms",
    "tail_ms" -> "ms",
    "archive_bytes_per_raw_byte" -> "ratio")

  val SearchClassMetrics: Seq[(String, String)] = Gen.QueryClasses.flatMap { c =>
    Seq(s"search.class.$c.p50_ms" -> "ms",
      s"search.class.$c.speedup_vs_raw" -> "ratio",
      s"search.class.$c.speedup_vs_decode_all" -> "ratio")
  }

  val PerLayer: Seq[(String, String)] = Seq(
    "core.encode_msgs_per_s" -> "1/s",
    "core.decode_msgs_per_s" -> "1/s",
    "core.wildcard_matches_per_s" -> "1/s",
    "core.json_leaves_records_per_s" -> "1/s",
    "functions.clp_encode_rows_per_s" -> "1/s",
    "functions.clp_decode_rows_per_s" -> "1/s",
    "pipeline.parse_ms" -> "ms",
    "pipeline.dicts_ms" -> "ms",
    "pipeline.route_ms" -> "ms",
    "pipeline.stats_ms" -> "ms",
    "pipeline.driver_only_ms" -> "ms",
    "pipeline.task_busy_share" -> "ratio",
    "pipeline.shuffle_write_bytes" -> "bytes",
    "pipeline.spill_bytes" -> "bytes",
    "pipeline.parsed_checkpoint_bytes" -> "bytes",
    "pipeline.n_logtypes" -> "count",
    "pipeline.n_vars" -> "count",
    "pipeline.dict_mode" -> "code",
    "archive.files" -> "count",
    "archive.bytes" -> "bytes",
    "search.engine_open_ms" -> "ms",
    "search.compile_ms" -> "ms",
    "search.scan_ms" -> "ms",
    "search.decode_verify_ms" -> "ms",
    "search.rows_scanned" -> "count",
    "search.bytes_read" -> "bytes",
    "search.rows_candidate" -> "count",
    "search.rows_returned" -> "count",
    "search.verify_precision" -> "ratio",
    "search.queries" -> "count",
    "search.pruned_queries" -> "count",
    "baseline.raw_like_ms" -> "ms",
    "baseline.decode_all_ms" -> "ms") ++
    SearchClassMetrics ++ Seq(
    "json.index_ms" -> "ms",
    "json.shape_write_ms" -> "ms",
    "json.catalog_ms" -> "ms",
    "json.n_schemas" -> "count",
    "kql.compile_ms" -> "ms",
    "kql.scan_ms" -> "ms",
    "kql.rows_scanned" -> "count",
    "kql.bytes_read" -> "bytes",
    "kql.rows_returned" -> "count",
    "jvm.gc_ms" -> "ms",
    "jvm.peak_rss_mb" -> "MB",
    "trace.overhead_ratio" -> "ratio")

  def unitOf(name: String): String = PerLayer.find(_._1 == name).get._2

  /** Zeros for every per-layer metric of a layer the workload leaves idle. */
  def idle(ctx: Ctx, prefixes: String*): Unit =
    PerLayer.foreach { case (n, u) => if (prefixes.exists(n.startsWith)) ctx.metric(n, 0.0, u) }
}
