package graft.pipeline

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.core.JsonShape
import graft.functions.ClpFunctions.json_shape
import graft.search.JsonSearch
import graft.search.KqlCompiler.quoteName

/**
 * The clp_s structured-JSON pipeline slice (SURVEY §1.2 / §2.1 S4+S7):
 * heterogeneous JSONL records are shape-discovered per record
 * ([[JsonShape]]), deduplicated into a schema catalog + merged leaf tree
 * (the MPT re-expressed as data), and routed into per-schema partitions —
 * records with the same schema stored together, each schema's typed Spark
 * StructType DERIVED from its descriptor + element shapes, never inferred
 * by a data pass (components/core/src/clp_s/JsonParser.cpp,
 * SchemaMap/ArchiveWriter, ColumnWriter.hpp:50-173).
 *
 * Archive layout under `outDir` (every read of it is [[JsonSearch]]'s):
 *   records/schema_id=<id>/  raw records + log_event_idx + $_ts + metadata
 *   schemas/       (schema_id, descriptor, n_records, min_ts, max_ts)
 *   schema_tree/   (node_id, path, node_type)                — MPT leaves
 *   table_schemas/ (schema_id, spark_schema)      — derived StructType json
 *   range_index/   (start_idx, end_idx, fields)   — iff `$` metadata
 *
 * First-class timestamps (the reference's `--timestamp-key`,
 * CommandLineArguments.cpp:233-235): the designated leaf is typed
 * `DateString` (JsonParser.cpp:558-574), its parsed epoch lands in the
 * `$_ts` metadata column, and per-schema min/max epoch in the catalog is
 * the timestamp index (TimestampEntry.hpp:30-51) search prunes by.
 *
 * Scale notes: route is a FIXED number of Spark jobs regardless of schema
 * count — one shaping pass that lands the records store (shuffled once on
 * schema_id so each schema gets contiguous files), one catalog aggregation,
 * and driver-side writes of the catalog/tree/table-schema tables. The only
 * driver-side structure is the schema catalog itself, which the reference
 * also keeps memory-resident (SchemaMap) — real-world schema counts are
 * 10²-10⁴, never row-scale. Array element types are canonicalized into
 * mergeable shape strings at parse time ([[JsonShape.shapeOf]]) and merged
 * in the catalog aggregation — the information the reference's MPT child
 * nodes carry — so no schema needs an inference job.
 */
object JsonPipeline {

  /** Ingest options — the clp_s command-line surface re-expressed
    * (CommandLineArguments.cpp: `--timestamp-key`, `--structurize-arrays`).
    *
    * @param timestampKey dotted path of the timestamp column
    * @param structurizeArrays type arrays as StructuredArray with element
    *        child nodes (finer-grained schema identity, like the reference)
    * @param orderCol existing total-order column to use as log_event_idx
    *        (archive_constants.hpp:31); None ⇒ a deterministic zipWithIndex
    *        pass assigns contiguous input-order indices
    * @param filesPerSchema fan-out within one schema's partition — bound on
    *        file count for hot schemas (the one [[ClpPipeline.fanOutWrite]]
    *        rule the text route uses too)
    */
  final case class Options(
      timestampKey: Option[String] = None,
      structurizeArrays: Boolean = false,
      /** The clp_s `--retain-float-format` mode (JsonParser.cpp:255-283):
        * float leaves type as `FormattedFloat` (compact (double, word)
        * encoding, byte-exact restore) when [[graft.core.FloatFormat]] can
        * reproduce the literal, else `DictionaryFloat` — the node type (and
        * so the schema identity) changes exactly like the reference's MPT
        * does under the flag. Off ⇒ plain `Float` (the clp_s default). */
      retainFloatFormat: Boolean = false,
      /** The clp_s `--max-document-size` ingest guard
        * (JsonFileIterator.cpp:77-81, default 512 MiB): a single record
        * larger than this many UTF-8 bytes refuses loudly instead of
        * ballooning executor memory — the reference errors the parse the
        * same way when its document buffer would exceed the cap. */
      maxDocumentSize: Long = 512L * 1024 * 1024,
      orderCol: Option[String] = None,
      filesPerSchema: Int = 1,
      /** Parquet writer options for the archive outputs — same knob as
        * [[ClpPipeline.Config.parquetOptions]] (archival profile: zstd +
        * level 9 + v2 delta pages; see BENCH/BASELINE.md measurements). */
      parquetOptions: Map[String, String] = Map.empty)

  final case class Result(nRecords: Long, nSchemas: Long)

  // ---- descriptor + shapes → Spark StructType (no inference pass) --------

  private def scalarDataType(nodeType: String): DataType = nodeType match {
    case "Integer" => LongType
    case "Float" | "FormattedFloat" | "DictionaryFloat" => DoubleType
    case "Boolean" => BooleanType
    // null-only and string-family leaves land as strings (what inference
    // would pick); DateString stays the raw string — $_ts carries the epoch
    case "NullValue" | "ClpString" | "VarString" | "DateString" => StringType
    case "Object" => StructType(Nil)
    case other => throw new IllegalArgumentException(s"not a scalar node type: $other")
  }

  private[pipeline] def shapeToDataType(shape: String): DataType = shape match {
    case "L" => LongType
    case "D" => DoubleType
    case "B" => BooleanType
    case "S" | "N" | "E" => StringType
    // irreconcilable element mix: fall back to the raw JSON text (Spark's
    // Jackson parser captures any value as its text for StringType fields)
    case "X" => StringType
    case s if s.startsWith("[") => ArrayType(shapeToDataType(s.substring(1, s.length - 1)))
    case s if s.startsWith("{") =>
      StructType(JsonShape.shapeFields(s).toSeq.sortBy(_._1).map { case (k, sub) =>
        StructField(k, shapeToDataType(sub))
      })
    case other => throw new IllegalArgumentException(s"bad shape: $other")
  }

  /** Derives the per-schema Spark StructType from the canonical descriptor
    * plus the merged array-element shapes — the reference reads exactly this
    * off its MPT nodes; no data pass. */
  private[pipeline] def deriveStructType(
      descriptor: String, arrShapes: Map[String, String]): StructType = {
    val ls = descriptor.split(';').iterator.filter(_.nonEmpty)
      .map { leaf =>
        val c = leaf.lastIndexOf(':')
        (leaf.substring(0, c), leaf.substring(c + 1))
      }
      // structurize child leaves carry element typing, already merged into
      // the shape entries of their array node
      .filterNot(_._1.contains("[]"))
      .toSeq
    def build(entries: Seq[(List[String], String, String)]): StructType = {
      val groups = entries.groupBy(_._1.head).toSeq.sortBy(_._1)
      StructType(groups.map { case (seg, sub) =>
        val (leavesHere, deeper) = sub.partition(_._1.length == 1)
        if (deeper.isEmpty) {
          val (_, t, full) = leavesHere.head
          val dt =
            if (t == "UnstructuredArray" || t == "StructuredArray")
              arrShapes.get(full).map(shapeToDataType).getOrElse(StringType)
            else scalarDataType(t)
          // the timestamp-key marker survives into the search frame: a
          // numeric KQL compare on a DateString leaf evaluates the row's
          // encoded epoch, not the raw string (QueryRunner.cpp
          // evaluate_epoch_date_filter — see KqlCompiler.leafPredicate)
          val md =
            if (t == "DateString")
              new MetadataBuilder().putBoolean("graftDateEpoch", true).build()
            else Metadata.empty
          StructField(seg, dt, nullable = true, metadata = md)
        } else
          // a path is never both leaf and prefix within one record's shape
          StructField(seg, build(deeper.map { case (p, t, f) => (p.tail, t, f) }))
      })
    }
    build(ls.map { case (p, t) => (p.split('.').toList, t, p) })
  }

  /**
   * Full route: discover shapes, land the per-schema records store, write
   * the schema catalog (+ timestamp range index) + merged leaf tree +
   * derived per-schema Spark schemas. O(1) Spark jobs at any schema count.
   *
   * @param metadata extra per-record metadata columns stored alongside the
   *        raw records and exposed to [[JsonSearch.kql]] — the clp_s range-index
   *        idea (`$_filename`, `$_file_split_number`,
   *        `$_archive_creator_id`; RangeIndexWriter.hpp:17-38,
   *        archive_constants.hpp:41-45)
   */
  def route(spark: SparkSession, jsonl: DataFrame, jsonCol: String, outDir: String,
            metadata: Seq[(String, Column)] = Nil,
            options: Options = Options()): Result = {
    // log_event_idx: the reference's per-record sequential index
    // (archive_constants.hpp:31). An existing total-order column is the
    // zero-cost path; otherwise zipWithIndex assigns contiguous input-order
    // ids (one extra count job — still O(1) jobs).
    val indexed = options.orderCol match {
      case Some(c) => jsonl.withColumn("log_event_idx", col(c).cast(LongType))
      case None =>
        val base = jsonl
        val rdd = base.rdd.zipWithIndex.map { case (r, ix) =>
          org.apache.spark.sql.Row.fromSeq(r.toSeq :+ ix)
        }
        spark.createDataFrame(rdd, base.schema.add("log_event_idx", LongType))
    }

    // ONE shaping pass (the codegen'd json_shape) lands the records store
    // partitioned by schema_id — shuffled once on (schema_id, bounded salt)
    // so every schema gets contiguous, boundedly-many files, ordered by
    // log_event_idx within
    val shaped0 = indexed
      .withColumn("_shape", json_shape(col(jsonCol), options))
      .select(Seq(
        md5(col("_shape.descriptor")).as("schema_id"),
        col("_shape.descriptor").as("descriptor"),
        col("_shape.ts").as("$_ts"),
        col("_shape.arr_shapes").as("_arr_shapes"),
        col("log_event_idx"),
        col(jsonCol).as("_raw")) ++
        metadata.map { case (nm, c) => c.as(nm) }: _*)
    ClpPipeline.fanOutWrite(shaped0, "schema_id", "log_event_idx", options.filesPerSchema,
      Seq("schema_id", "log_event_idx"), options.parquetOptions, s"$outDir/records")
    // read back with the KNOWN schema: an empty corpus writes no part files,
    // and schema inference over zero files would crash; everything downstream
    // then flows through to an empty (but valid) archive
    val shaped = spark.read.schema(shaped0.schema).parquet(s"$outDir/records")

    // ONE aggregation builds the whole catalog: SchemaMap counts, the
    // TimestampEntry min/max range index, and the merged element shapes
    import spark.implicits._
    val catalog = shaped
      .groupBy("schema_id", "descriptor")
      .agg(
        count(lit(1)).as("n_records"),
        min(col("`$_ts`")).as("min_ts"),
        max(col("`$_ts`")).as("max_ts"),
        collect_set(col("_arr_shapes")).as("shape_sets"))
      .as[(String, String, Long, Option[Long], Option[Long], Seq[String])]
      .collect()
      .sortBy(_._1)

    catalog.toSeq.map(c => (c._1, c._2, c._3, c._4, c._5))
      .toDF("schema_id", "descriptor", "n_records", "min_ts", "max_ts")
      .coalesce(1).write.options(options.parquetOptions).mode("overwrite").parquet(s"$outDir/schemas")

    // Range index (RangeIndexWriter.hpp:17-38): one [s,e) log_event_idx span
    // per distinct metadata tuple — the per-ingest-file metadata the
    // reference records at compression time. Entry count is ingest-source
    // scale (catalog-like), never row scale; values stored as strings, the
    // typed row columns stay alongside the records for exact filtering.
    val rangeCols = shaped.columns.filter(c => c.startsWith("$") && c != "$_ts").toSeq
    if (rangeCols.nonEmpty) {
      val entries = shaped
        .groupBy(rangeCols.map(c => col(quoteName(c))): _*)
        .agg(min(col("log_event_idx")).as("_s"), max(col("log_event_idx")).as("_e"))
        .collect()
        .map { r =>
          val fields = rangeCols.flatMap(c =>
            Option(r.getAs[Any](c)).map(v => (c, v.toString))).toMap
          (r.getAs[Long]("_s"), r.getAs[Long]("_e") + 1L, fields)
        }
        .sortBy(_._1).toSeq
      entries.toDF("start_idx", "end_idx", "fields")
        .coalesce(1).write.options(options.parquetOptions).mode("overwrite").parquet(s"$outDir/range_index")
    } else {
      // a metadata-free re-route over a dir that HAD metadata must not leave
      // the previous ingest's index describing the overwritten records —
      // through the Hadoop FS, same as JsonSearch's existence check (a
      // java.io.File would miss s3a:// and file:/ outDirs entirely)
      val riPath = new org.apache.hadoop.fs.Path(s"$outDir/range_index")
      val fs = riPath.getFileSystem(spark.sparkContext.hadoopConfiguration)
      if (fs.exists(riPath)) fs.delete(riPath, true)
    }

    // MPT leaves: union of every schema's leaf set; deterministic dense node
    // ids by (path, type) sort — the distributed twin of sequential node
    // insertion (SchemaTree.hpp:32-47)
    val tree = catalog.iterator.flatMap(_._2.split(';')).filter(_.nonEmpty).toSeq.distinct
      .map { leaf =>
        val c = leaf.lastIndexOf(':')
        (leaf.substring(0, c), leaf.substring(c + 1))
      }
      .sorted.zipWithIndex
      .map { case ((p, t), ix) => (ix, p, t) }
    tree.toDF("node_id", "path", "node_type")
      .coalesce(1).write.options(options.parquetOptions).mode("overwrite").parquet(s"$outDir/schema_tree")

    // derived per-schema Spark schema (so search re-parses records without
    // inference); merged across records via the shape-widening rules
    val tableSchemas = catalog.toSeq.map { case (id, descriptor, _, _, _, shapeSets) =>
      val merged = shapeSets.iterator.filter(_.nonEmpty)
        .flatMap(_.split('\u0001'))
        .map { e => val eq = e.indexOf('='); (e.substring(0, eq), e.substring(eq + 1)) }
        .foldLeft(Map.empty[String, String]) { case (m, (p, s)) =>
          m.updated(p, m.get(p).map(JsonShape.mergeShape(_, s)).getOrElse(s))
        }
      (id, deriveStructType(descriptor, merged).json)
    }
    tableSchemas.toDF("schema_id", "spark_schema")
      .coalesce(1).write.options(options.parquetOptions).mode("overwrite").parquet(s"$outDir/table_schemas")

    Result(catalog.iterator.map(_._3).sum, catalog.length.toLong)
  }

  /** One KQL query on a fresh [[JsonSearch]], which reads the archive's
    * metadata again on every call; a caller with more than one query holds
    * the engine instead. Kept as the entry graftbench's `json` workload
    * calls once per query. */
  def kqlSearch(spark: SparkSession, outDir: String, kql: String, selectCols: Seq[String],
                tsLo: Option[Long] = None, tsHi: Option[Long] = None): DataFrame =
    new JsonSearch(spark, outDir).kql(kql, selectCols, tsLo, tsHi)
}
