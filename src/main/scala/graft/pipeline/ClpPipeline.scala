package graft.pipeline

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.functions.ClpFunctions._

/**
 * The CLP-style parse → dict → enrich → route → aggregate pipeline
 * (SURVEY §7 stage plan), re-expressed as DataFrame transformers:
 *
 *   parse      text → (logtype, dict_vars, encoded_vars)   [clp_encode expression]
 *   dict       salted two-phase global ID assignment; deterministic dense IDs
 *              (rank-by-value) — the distributed twin of the reference's
 *              single-writer sequential dictionaries
 *              (components/core/src/clp/VariableDictionaryWriter.cpp:11-41)
 *   enrich     broadcast join of the (role, tool) lookup
 *   route      GLT-style fan-out: hot logtypes get their own sink, the long
 *              tail goes to the combined sink 0
 *              (components/core/src/glt/streaming_archive/writer/GLTSegment.cpp)
 *   aggregate  per-sink counts / min-max ts / bytes — partial/final agg is
 *              Spark's HashAggregate, the reference's inter/intra-stage
 *              reducer protocol (components/core/src/reducer/CountOperator.cpp)
 *
 * Scale notes (100 TB / 1000 executors): the only global structures are the
 * two dictionaries. [[Dictionaries]] builds and resolves them: broadcast
 * driver maps while both together hold at most [[DriverDictThreshold]]
 * entries (CLP's memory-resident dictionaries), distributed joins above it.
 * Everything else is a single hash-partitioned pass over the input with
 * map-side combine; the hot-logtype skew is defeated by the explicit dict
 * salt and by routing with (sink_id, hash(conv_id)) compound keys.
 */
object ClpPipeline {

  final case class Config(
      outDir: String,
      maxSinks: Int = 64,
      saltParts: Int = 64,
      filesPerSink: Int = 8,
      resume: Boolean = false,
      /** Keep the `parsed` stage checkpoint after a fully-successful run.
        * Default false: it is a second full copy of the corpus, needed only
        * while downstream stages may still resume from it. */
      keepParsed: Boolean = false,
      /** grok/regex schema mode (P6); None = CLP heuristic tokenizer. */
      tokenizerSchema: Option[graft.core.TokenizerSchema] = None,
      /** While both dictionaries together hold at most this many entries
        * they resolve through driver-built broadcast maps (the CLP
        * memory-resident-dict shape); above it every dict touch is
        * distributed and nothing dict-sized ever lands on the driver
        * ([[Dictionaries.driverMode]]). */
      driverDictThreshold: Long = DriverDictThreshold,
      /** Distributed mode only: the N hottest dictionary entries (by count)
        * broadcast-joined before the shuffle-join tail — the Zipf head that
        * covers most row-side references without shuffling them. */
      hotHeadSize: Int = Dictionaries.HotHeadSize,
      /** Parquet writer options applied to the PERSISTENT archive outputs
        * (routed segments, dictionaries, stats/lineage) — not the transient
        * `parsed` checkpoint, which stays on the fast session codec. The
        * archival profile the reference's storage-cost story corresponds to:
        * `Map("compression" -> "zstd",
        *      "parquet.compression.codec.zstd.level" -> "9",
        *      "parquet.writer.version" -> "v2")`
        * — measured 4.54x vs raw (vs 2.98x for the snappy throughput
        * profile, and past the 4.27x gzip baseline) at ~flat ingest wall
        * time; zstd level 19 WITHOUT v2 is the measured max (5.00x, 2.4x
        * the write cost — at high levels plain pages beat delta pages).
        * Full grid in BENCH/BASELINE.md. */
      parquetOptions: Map[String, String] = Map.empty)

  final case class Result(
      turnsIn: Long,
      rowsRouted: Long,
      nLogtypes: Long,
      nVars: Long)

  /** Stage 1: one-pass tokenize+encode of every turn (heuristic or schema mode). */
  def parse(turns: DataFrame, schema: Option[graft.core.TokenizerSchema] = None): DataFrame = {
    implicit val spark: SparkSession = turns.sparkSession
    val enc = schema match {
      case Some(s) => graft.functions.ClpFunctions.clp_encode_schema(col("text"), s)
      case None => clp_encode(col("text"))
    }
    turns
      .withColumn("enc", enc)
      .select(
        col("conv_id"), col("turn_idx"), col("role"), col("tool"), col("ts"),
        octet_length(col("text")).as("n_bytes"),
        col("enc.logtype").as("logtype"),
        col("enc.dict_vars").as("dict_vars"),
        col("enc.encoded_vars").as("encoded_vars"))
  }

  /** Above this many dictionary entries (both dictionaries together) every
    * dictionary touch is distributed — the one rule is
    * [[Dictionaries.driverMode]]. */
  val DriverDictThreshold: Long = 2000000L

  /** J4 enrichment: broadcast (role, tool) lookup join, shared by both modes. */
  private def enrich(lookup: DataFrame)(resolved: DataFrame): DataFrame = {
    val lkp = lookup
      .withColumn("tool_key", coalesce(col("tool"), lit("")))
      .drop("tool")
    resolved
      .withColumn("tool_key", coalesce(col("tool"), lit("")))
      .join(broadcast(lkp), Seq("role", "tool_key"), "left") // J4 enrichment join
      .select(
        col("conv_id"), col("turn_idx"), col("role"), col("tool"), col("ts"),
        col("team"), col("cost_class"), col("n_bytes"),
        col("logtype_id"), col("sink_id"), col("vars"))
  }

  /** Stage 5: fan-out write, by the one [[fanOutWrite]] rule: rows go to
    * (sink_id, hash(conv_id) % filesPerSink), so the hottest sink still
    * spreads over `filesPerSink` files, and rows inside each file keep the
    * stable (conv_id, turn_idx) order. */
  def route(encoded: DataFrame, cfg: Config): Unit =
    fanOutWrite(encoded, "sink_id", "conv_id", cfg.filesPerSink,
      Seq("sink_id", "conv_id", "turn_idx"), cfg.parquetOptions, s"${cfg.outDir}/routed")

  /** The one fan-out write of both pipelines (text sinks, JSON schemas):
    * partition directories by `key`, each spread over `files` buckets of
    * hash(`spread`), rows sorted by `order` (which leads with `key`). The
    * explicit partition count pins full parallelism (AQE would coalesce a
    * small shuffle below the core count, down to one task writing every
    * directory serially), and the leading `key` sort makes the
    * dynamic-partition writer's required ordering already satisfied — no
    * second sort before the parquet write. */
  def fanOutWrite(rows: DataFrame, key: String, spread: String, files: Int,
                  order: Seq[String], options: Map[String, String], path: String): Unit = {
    val spark = rows.sparkSession
    val parts = math.max(spark.sparkContext.defaultParallelism * 2,
      spark.sessionState.conf.numShufflePartitions)
    rows
      .repartition(parts, col(key), pmod(xxhash64(col(spread)), lit(files.max(1))))
      .sortWithinPartitions(order.map(col): _*)
      .write.mode("overwrite")
      .options(options)
      .partitionBy(key)
      .parquet(path)
  }

  /** Full run with per-stage lineage manifests and exact resume.
    *
    * The parsed form is a columnar parquet intermediate rather than a cached
    * Dataset: the dictionary builds then scan ONLY their own columns (logtype
    * resp. dict_vars — Parquet column pruning), the route pass streams all of
    * them once, memory stays flat at any scale, and every stage boundary is a
    * durable resume point.
    *
    * `lookup` is the J4 enrichment dimension — a small (role, tool) →
    * (team, cost_class) table broadcast-joined onto every encoded row;
    * defaults to the synthetic transcript mapping. */
  def run(spark: SparkSession, turns: DataFrame, cfg: Config,
          lookup: Option[DataFrame] = None): Result = {
    // Spark's session default writes TIMESTAMP as parquet INT96 — 12 bytes
    // per value of a non-standard type (measured: the ts column was 13.5 B/row
    // raw, the single biggest routed column after vars). TIMESTAMP_MICROS is
    // the standard type at Spark's OWN internal precision — always lossless —
    // and 8 bytes before encoding. Set for the duration of the run, restored
    // after (the archive owns its storage format; the caller's session conf
    // is not ours to keep).
    val tsTypeKey = "spark.sql.parquet.outputTimestampType"
    val prevTsType = spark.conf.getOption(tsTypeKey)
    spark.conf.set(tsTypeKey, "TIMESTAMP_MICROS")
    try runInner(spark, turns, cfg, lookup)
    finally prevTsType match {
      case Some(v) => spark.conf.set(tsTypeKey, v)
      case None => spark.conf.unset(tsTypeKey)
    }
  }

  private def runInner(spark: SparkSession, turns: DataFrame, cfg: Config,
                       lookup: Option[DataFrame]): Result = {
    val lineage = new Lineage(cfg.outDir)

    if (!(cfg.resume && lineage.isComplete("parse"))) {
      val t0 = System.nanoTime()
      parse(turns, cfg.tokenizerSchema).write.mode("overwrite").parquet(s"${cfg.outDir}/parsed")
      lineage.complete("parse",
        Map("duration_ms" -> (System.nanoTime() - t0) / 1000000,
          // recorded so a finished archive can drop the parsed checkpoint
          // (it is a full second copy of the corpus) and still answer
          // turnsIn on resume without any data read
          "input_rows" -> spark.read.parquet(s"${cfg.outDir}/parsed").count()))
    }
    // lazy: a fully-complete resumed run never touches the parsed checkpoint
    // (which run() deletes at success unless cfg.keepParsed)
    lazy val parsed = spark.read.parquet(s"${cfg.outDir}/parsed")
    val turnsIn = lineage.metric("parse", "input_rows")
      .getOrElse(parsed.count()) // metadata-only count on parquet

    // the mode the dicts stage picked in this call; in driver mode it holds
    // the encode maps built from the same collect, so route needs no re-read
    val built: Option[Dictionaries.Mode] =
      if (cfg.resume && lineage.isComplete("dicts")) None
      else {
        val t0 = System.nanoTime()
        val dicts = Dictionaries.build(parsed, cfg.saltParts, cfg.maxSinks, cfg.driverDictThreshold)
        dicts.logtypes.write.mode("overwrite").options(cfg.parquetOptions).parquet(s"${cfg.outDir}/logtype_dict")
        dicts.vars.write.mode("overwrite").options(cfg.parquetOptions).parquet(s"${cfg.outDir}/var_dict")
        dicts.release()
        lineage.complete("dicts", Map("input_rows" -> turnsIn,
          "duration_ms" -> (System.nanoTime() - t0) / 1000000))
        Some(dicts.mode)
      }
    lazy val logtypeDict = spark.read.parquet(s"${cfg.outDir}/logtype_dict")
    lazy val varDict = spark.read.parquet(s"${cfg.outDir}/var_dict")

    val routeDone = cfg.resume && lineage.isComplete("route")
    if (!routeDone) {
      val t0 = System.nanoTime()
      val lkp = lookup.getOrElse(TranscriptGen.roleToolLookup(spark))
      val resolved = built.getOrElse(
          Dictionaries.mode(logtypeDict, varDict, cfg.driverDictThreshold)) match {
        case maps: Dictionaries.DriverMaps => maps.resolve(parsed)
        case Dictionaries.Distributed =>
          Dictionaries.resolveDistributed(parsed, logtypeDict, varDict, cfg.hotHeadSize)
      }
      route(resolved.transform(enrich(lkp)), cfg)
      lineage.complete("route", Map("input_rows" -> turnsIn,
        "duration_ms" -> (System.nanoTime() - t0) / 1000000))
    }

    val routed = spark.read.parquet(s"${cfg.outDir}/routed")
    val statsDone = cfg.resume && lineage.isComplete("stats")
    if (!statsDone) {
      val t0 = System.nanoTime()
      // one scan for both granularities: aggregate at (sink_id, bucket) once
      // with MERGEABLE sketches, then roll the bucket rows (sink-count-sized)
      // up to the per-sink stats — unlike rollup(), whose Expand duplicates
      // every input row per grouping set, the data is scanned exactly once
      val bucketed = routed
        .withColumn("bucket", pmod(xxhash64(col("conv_id")), lit(cfg.filesPerSink)))
        .groupBy(col("sink_id"), col("bucket"))
        .agg(count(lit(1)).as("n_rows"),
          hll_sketch_agg(col("conv_id")).as("_conv_sk"),
          min(col("ts")).as("min_ts"), max(col("ts")).as("max_ts"),
          sum(col("n_bytes")).as("n_bytes"),
          hll_sketch_agg(col("logtype_id")).as("_lt_sk"))
        .cache()
      bucketed.groupBy(col("sink_id"))
        .agg(sum(col("n_rows")).as("n_rows"),
          hll_sketch_estimate(hll_union_agg(col("_conv_sk"))).as("n_convs_approx"),
          min(col("min_ts")).as("min_ts"), max(col("max_ts")).as("max_ts"),
          sum(col("n_bytes")).as("n_bytes"),
          hll_sketch_estimate(hll_union_agg(col("_lt_sk"))).as("n_logtypes_approx"))
        .select("sink_id", "n_rows", "n_convs_approx", "min_ts", "max_ts",
          "n_bytes", "n_logtypes_approx")
        .write.mode("overwrite").options(cfg.parquetOptions).parquet(s"${cfg.outDir}/sink_stats")
      bucketed.select("sink_id", "bucket", "n_rows", "n_bytes")
        .write.mode("overwrite").options(cfg.parquetOptions).parquet(s"${cfg.outDir}/lineage_partitions")
      bucketed.unpersist()
      lineage.complete("stats", Map("duration_ms" -> (System.nanoTime() - t0) / 1000000))
    }

    // every stage is durably complete past this point: drop the parsed
    // checkpoint (a full second copy of the corpus — at the 10^12-turn
    // target it would double archive storage). A failed run never reaches
    // here, so mid-run resume always still finds it; a resumed complete run
    // answers turnsIn from the parse manifest instead. Archives written
    // before input_rows was recorded get the metric backfilled FIRST —
    // deleting their checkpoint without it would leave turnsIn unanswerable
    // forever.
    if (!cfg.keepParsed) {
      if (lineage.metric("parse", "input_rows").isEmpty)
        lineage.complete("parse",
          lineage.metrics("parse") + ("input_rows" -> turnsIn))
      val p = new org.apache.hadoop.fs.Path(s"${cfg.outDir}/parsed")
      val fs = p.getFileSystem(spark.sessionState.newHadoopConf())
      if (fs.exists(p)) fs.delete(p, true)
    }

    Result(
      turnsIn = turnsIn,
      // routed cardinality comes from the already-computed stats table (one
      // tiny read) instead of re-listing + counting the routed tree; sum
      // over an empty stats table is NULL → 0 (empty input corpus)
      rowsRouted = Option(spark.read.parquet(s"${cfg.outDir}/sink_stats")
        .agg(sum(col("n_rows"))).head.get(0)).map(_.asInstanceOf[Long]).getOrElse(0L),
      nLogtypes = logtypeDict.count(),
      nVars = varDict.count())
  }

  /**
   * The round-trip gate: decode every routed row back to text from the
   * dictionaries only, join the original turns on the stable key, and return
   * rows whose decode is NOT byte-identical (must be empty).
   */
  def roundTripViolations(spark: SparkSession, turns: DataFrame, outDir: String,
                          driverDictThreshold: Long = DriverDictThreshold): DataFrame = {
    val engine = new graft.search.ClpSearch(spark, outDir, driverDictThreshold)
    engine.withDecodedText(spark.read.parquet(s"$outDir/routed"))
      .withColumnRenamed("text", "decoded")
      .join(turns.select(col("conv_id"), col("turn_idx"), col("text")), Seq("conv_id", "turn_idx"))
      .filter(col("decoded") =!= col("text"))
      .select("conv_id", "turn_idx", "text", "decoded")
  }

  /** Placeholder kind per variable position: 'i' int, 'f' float, 'd' dict. */
  def placeholderKinds(logtype: String): Array[Char] =
    graft.core.ClpEncoding.placeholderKinds(logtype)
}
