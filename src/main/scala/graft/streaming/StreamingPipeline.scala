package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

import graft.pipeline.{ClpPipeline, Dictionaries, TranscriptGen}

/**
 * Structured-Streaming ingestion — the reference's real-time IR path
 * (components/core/src/clp/ffi/ir_stream/Serializer.cpp; SURVEY §2.7 W3/W5)
 * re-expressed as readStream → clp_encode → foreachBatch {append dictionary
 * delta, route append}.
 *
 * Dictionary state grows monotonically across batches exactly like the
 * reference's single-writer in-memory dicts: within a batch, new values are
 * sorted before ID assignment (deterministic); across batches, IDs continue
 * from the current max, and each batch APPENDS only its delta (new values) —
 * never a rewrite of the accumulated dictionary. So replaying the same batch
 * sequence reproduces the same dictionary (the streaming twin of the batch
 * determinism rule) and per-batch dictionary I/O is O(delta), not O(dict).
 *
 * The dictionary mode follows the batch pipeline's one rule
 * ([[Dictionaries.driverMode]]: both dictionaries together within the
 * threshold): in driver mode, maps mirror CLP's memory-resident writer dicts
 * (hydrated once per engine instance, extended incrementally); above it
 * NOTHING dict-sized touches the driver — new values are discovered by a
 * distributed anti-join against the dict parquet. Either way new values get
 * [[Dictionaries.rankIds]] from the current max + 1, and rows resolve through
 * the module's broadcast maps or its hot-head + shuffle-tail join.
 */
final class StreamingPipeline(spark: SparkSession, outDir: String,
                              driverDictThreshold: Long = ClpPipeline.DriverDictThreshold) {

  /** Driver-mode dictionary state cached across micro-batches in this engine
    * instance — the streaming twin of the reference's memory-resident writer
    * dicts; re-hydrated from parquet once on the first batch (and after
    * restart), extended per batch, never used above the threshold. */
  private var dictState: Option[(Map[String, Long], Map[String, Long])] = None

  private val varDictPath = s"$outDir/var_dict"
  private val ltDictPath = s"$outDir/logtype_dict"

  /** Merges a micro-batch of turns.
    *
    * Idempotent under foreachBatch's at-least-once replay: a committed batch
    * leaves a `_batches/<id>` marker (written only after the routed append
    * succeeds), and a replayed id returns early instead of appending
    * duplicates — the micro-batch twin of the batch pipeline's per-stage
    * lineage manifests. A crash in the window between the append and the
    * marker replays the batch and CAN leave a duplicate copy of its rows;
    * because the dict merge is monotone (a replay's values already exist, so
    * its delta is empty) and the batch content identical, the duplicates are
    * byte-identical rows under the same (conv_id, turn_idx) key —
    * [[readRouted]] collapses them exactly-once. */
  def processBatch(turns: DataFrame, batchId: Long): Unit = {
    val marker = new java.io.File(s"$outDir/_batches/$batchId")
    if (marker.exists()) return
    // same archive storage type as the batch pipeline: standard 8-byte
    // TIMESTAMP_MICROS, not 12-byte INT96 — and the appended batches stay
    // homogeneous with a batch-built archive's files
    ClpPipeline.withArchiveTimestamps(spark) {
      val parsed = ClpPipeline.parse(turns)
        // a batch is small: localCheckpoint would pin executors in streaming;
        // just materialize via cache for the two passes below
        .cache()

      // BOTH markers must exist: a first-batch crash between the var-dict
      // commit and the logtype-dict write would otherwise replay with
      // haveDicts=true and hydrate a nonexistent lt-dict path forever; a
      // half-committed first batch instead recomputes and overwrite-heals both
      val haveDicts = new java.io.File(s"$varDictPath/_SUCCESS").exists() &&
        new java.io.File(s"$ltDictPath/_SUCCESS").exists()
      // cheap cardinality gate BEFORE anything dict-sized is materialized —
      // parquet row counts come from footers, no scan
      val dictEntries: Long = dictState match {
        case Some((v, l)) => v.size.toLong + l.size.toLong
        case None if haveDicts =>
          spark.read.parquet(varDictPath).count() +
            spark.read.parquet(ltDictPath).count()
        case None => 0L
      }

      val routed =
        if (Dictionaries.driverMode(dictEntries, driverDictThreshold))
          processDriverMode(parsed, haveDicts)
        else { dictState = None; processDistributedMode(parsed, haveDicts) }

      routed
        .withColumn("batch_id", lit(batchId))
        .write.mode("append").partitionBy("sink_id").parquet(s"$outDir/routed")
      parsed.unpersist()
      marker.mkdirs()
    }
  }

  /** CLP's memory-resident-dict shape: driver maps + broadcast resolution;
    * dictionary writes are still delta APPENDS (new values only). */
  private def processDriverMode(parsed: DataFrame, haveDicts: Boolean): DataFrame = {
    import spark.implicits._
    val (oldVars, oldLts) = dictState.getOrElse {
      if (haveDicts)
        (spark.read.parquet(varDictPath).select("value", "var_id")
           .as[(String, Long)].collect().toMap,
         spark.read.parquet(ltDictPath).select("logtype", "logtype_id")
           .as[(String, Long)].collect().toMap)
      else (Map.empty[String, Long], Map.empty[String, Long])
    }

    def delta(values: DataFrame, old: Map[String, Long]): Array[(Long, String)] =
      Dictionaries.rankIds(values.distinct().as[String].collect().filterNot(old.contains),
        if (old.isEmpty) 0L else old.values.max + 1)(identity)
    val newVars = delta(parsed.select(explode(col("dict_vars"))), oldVars)
    val newLts = delta(parsed.select(col("logtype")), oldLts)
    val vars = oldVars ++ newVars.map(_.swap)
    val lts = oldLts ++ newLts.map(_.swap)

    // the FIRST write per dict is an overwrite: a crash between a prior
    // attempt's task commits and its _SUCCESS marker can leave orphan part
    // files that an append would duplicate (same values, different ids);
    // overwrite clears the remnants. Committed dicts (_SUCCESS present)
    // only ever receive true deltas.
    val firstWriteMode = if (haveDicts) "append" else "overwrite"
    if (newVars.nonEmpty || !haveDicts)
      newVars.toSeq.toDF("var_id", "value")
        .coalesce(1).write.mode(firstWriteMode).parquet(varDictPath)
    if (newLts.nonEmpty || !haveDicts)
      newLts.toSeq.toDF("logtype_id", "logtype")
        .coalesce(1).write.mode(firstWriteMode).parquet(ltDictPath)
    dictState = Some((vars, lts))

    // the stream's sink rule (logtype_id % 16) is folded into the maps
    Dictionaries.driverMaps(spark,
      lts.view.map { case (v, id) => (v, id, (id % 16).toInt) }, vars)
      .resolve(parsed)
  }

  /** Above the threshold nothing dict-sized lands on the driver: anti-join
    * delta discovery, distributed rank-by-value ids from the stored max + 1,
    * delta append, and the hot-head + shuffle-tail resolution. A first batch
    * at threshold 0 produces EXACTLY the batch pipeline's dictionary (same
    * sort, same dense ids from 0). */
  private def processDistributedMode(parsed: DataFrame, haveDicts: Boolean): DataFrame = {
    val (varDict0, ltDict0) =
      if (haveDicts) (spark.read.parquet(varDictPath), spark.read.parquet(ltDictPath))
      else {
        import org.apache.spark.sql.types._
        val emptyOf = (s: StructType) =>
          spark.createDataFrame(spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], s)
        (emptyOf(StructType(Seq(StructField("var_id", LongType, nullable = false),
           StructField("value", StringType)))),
         emptyOf(StructType(Seq(StructField("logtype_id", LongType, nullable = false),
           StructField("logtype", StringType)))))
      }

    def appendDelta(newVals: DataFrame, idCol: String, existing: DataFrame, path: String): Unit = {
      val base = existing.agg(coalesce(max(col(idCol)) + 1L, lit(0L))).collect()(0).getLong(0)
      Dictionaries.rankIds(newVals, idCol, base)
        // same partial-commit healing as the driver mode: the first write
        // overwrites any orphan part files a crashed attempt left without
        // its _SUCCESS marker; committed dicts only receive deltas
        .write.mode(if (haveDicts) "append" else "overwrite").parquet(path)
    }

    appendDelta(
      parsed.select(explode(col("dict_vars")).as("value")).distinct()
        .join(varDict0.select("value"), Seq("value"), "left_anti"),
      "var_id", varDict0, varDictPath)
    appendDelta(
      parsed.select(col("logtype")).distinct()
        .join(ltDict0.select("logtype"), Seq("logtype"), "left_anti"),
      "logtype_id", ltDict0, ltDictPath)

    // re-read the now-complete dicts; hot-head ordering proxies count by
    // insertion age (earliest ids ≈ values present since the first batches —
    // the Zipf head of a stream shows up immediately); streaming sinks are
    // logtype_id % 16 like the driver mode
    val varDict = spark.read.parquet(varDictPath)
      .withColumn("cnt", -col("var_id"))
    val ltDict = spark.read.parquet(ltDictPath)
      .withColumn("sink_id", pmod(col("logtype_id"), lit(16)).cast("int"))
    Dictionaries.resolveDistributed(parsed, ltDict, varDict, Dictionaries.HotHeadSize)
  }

  /** Exactly-once view of the routed stream: collapses the byte-identical
    * duplicates a crash-between-append-and-marker replay can leave (the
    * stable key is unique per turn; replayed rows are identical copies). */
  def readRouted(): DataFrame =
    spark.read.parquet(s"$outDir/routed")
      .dropDuplicates("conv_id", "turn_idx")

  /** Wires a streaming source of turns into the pipeline. */
  def start(turnsStream: DataFrame, checkpointDir: String): StreamingQuery =
    turnsStream.writeStream
      .outputMode("append")
      .option("checkpointLocation", checkpointDir)
      .trigger(Trigger.AvailableNow())
      .foreachBatch((batch: DataFrame, id: Long) => processBatch(batch, id))
      .start()
}

object StreamingPipeline {

  /** W1+W4: streaming count-by-time with BOUNDED state. The watermark evicts
    * window state once event time passes `delay`, so aggregation state is
    * O(active windows), never O(stream length) — the property that keeps a
    * 10^12-turn continuous ingest from accumulating unbounded executor
    * state. Rows arriving later than the watermark (window already
    * finalized) are dropped, and append mode emits each window exactly once
    * when it finalizes. */
  def countsByWindow(turnsStream: org.apache.spark.sql.DataFrame,
      windowDur: String, delay: String): org.apache.spark.sql.DataFrame = {
    import org.apache.spark.sql.functions._
    turnsStream
      .withWatermark("ts", delay)
      .groupBy(window(col("ts"), windowDur).as("w"), col("role"))
      .agg(count(lit(1)).as("n"))
      .select(col("w.start").as("w_start"), col("role"), col("n"))
  }

  /** The reference's real-time ingestion source: logging libraries emit CLP
    * IR streams as files/objects; this reads them with the binary-file
    * streaming source and deserializes each stream back into turn rows
    * (SURVEY §2.1 S5). One file = one producer's stream; the file stem is
    * its conversation id, event order its turn index — decode happens here
    * so the downstream pipeline re-encodes, proving the wire format carries
    * everything the engine needs. */
  def irFileSource(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    spark.readStream.format("binaryFile")
      .option("pathGlobFilter", "*.gir")
      .schema("path STRING, modificationTime TIMESTAMP, length LONG, content BINARY")
      .load(dir)
      .select("path", "content")
      .as[(String, Array[Byte])]
      .flatMap { case (path, bytes) =>
        val convId = path.substring(path.lastIndexOf('/') + 1).stripSuffix(".gir")
        graft.core.IrStream.deserialize(bytes).zipWithIndex.map { case (ev, ix) =>
          graft.pipeline.Turn(convId, ix, "log",
            graft.core.ClpEncoding.decode(
              ev.encoded.logtype, ev.encoded.encodedVars, ev.encoded.dictVars),
            "ir", new java.sql.Timestamp(ev.tsMs))
        }
      }
      .toDF
  }
}
