package graft.pipeline

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.core.JsonShape
import graft.functions.ClpFunctions.{json_reserialize, json_shape}
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
 * Archive layout under `outDir`:
 *   records/schema_id=<id>/  raw records + log_event_idx + $_ts + metadata
 *   schemas/       (schema_id, descriptor, n_records, min_ts, max_ts)
 *   schema_tree/   (node_id, path, node_type)                — MPT leaves
 *   table_schemas/ (schema_id, spark_schema)      — derived StructType json
 *
 * First-class timestamps (the reference's `--timestamp-key`,
 * CommandLineArguments.cpp:233-235): the designated leaf is typed
 * `DateString` (JsonParser.cpp:558-574), its parsed epoch lands in the
 * `$_ts` metadata column, and per-schema min/max epoch in the catalog is
 * the range index (TimestampEntry.hpp:30-51) consulted at plan time by
 * [[kqlSearch]] — an out-of-range query touches zero partitions
 * (search/EvaluateTimestampIndex.cpp), and in-range queries get the
 * tge/tle predicate injected (search/AddTimestampConditions.hpp:15-34).
 *
 * Scale notes: route is a FIXED number of Spark jobs regardless of schema
 * count — one shaping pass that lands the records store (shuffled once on
 * schema_id so each schema gets contiguous files), one catalog aggregation,
 * and driver-side writes of the catalog/tree/table-schema tables. The only
 * driver-side structure is the schema catalog itself, which the reference
 * also keeps memory-resident (SchemaMap) — real-world schema counts are
 * 10²-10⁴, never row-scale. Round 2's per-schema `spark.read.json`
 * inference loop (10⁴ sequential jobs at reference-realistic schema counts)
 * is gone: element types for array columns are canonicalized into mergeable
 * shape strings at parse time ([[JsonShape.shapeOf]]) and merged in the
 * catalog aggregation, exactly the information the reference's MPT child
 * nodes carry.
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
   *        raw records and exposed to [[kqlSearch]] — the clp_s range-index
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
      // through the Hadoop FS, same as kqlSearch's existence check (a
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

  /** One schema's typed columnar view: the partition-pruned records parsed
    * through the derived StructType (no inference). */
  def table(spark: SparkSession, outDir: String, schemaId: String): DataFrame = {
    val schemaJson = spark.read.parquet(s"$outDir/table_schemas")
      .filter(col("schema_id") === schemaId)
      .select("spark_schema").collect().headOption
      .getOrElse(throw new IllegalArgumentException(s"unknown schema $schemaId"))
      .getString(0)
    val recSchema = DataType.fromJson(schemaJson).asInstanceOf[StructType]
    spark.read.parquet(s"$outDir/records")
      .filter(col("schema_id") === schemaId)
      .withColumn("_rec", from_json(col("_raw"), recSchema))
      .select(col("_rec.*"))
  }

  /** Schema ids whose descriptor contains a leaf path matching `pathGlob`
    * (wildcard per segment) — SchemaMatch.cpp column-descriptor resolution
    * against the discovered tree (Q9). */
  def schemasWithPath(spark: SparkSession, outDir: String, pathGlob: String): Seq[String] = {
    val pat = graft.core.Wildcard.cleanUp(pathGlob)
    spark.read.parquet(s"$outDir/schemas").select("schema_id", "descriptor").collect()
      .filter(_.getString(1).split(";").exists { leaf =>
        val path = leaf.substring(0, leaf.lastIndexOf(':'))
        graft.core.Wildcard.matches(path, pat, caseSensitive = true)
      })
      .map(_.getString(0)).toSeq.sorted
  }

  private case class CatalogEntry(schemaId: String, descriptor: String,
                                  minTs: Option[Long], maxTs: Option[Long],
                                  sparkSchema: StructType)

  private def loadCatalog(spark: SparkSession, outDir: String): Seq[CatalogEntry] = {
    val schemaJsons = spark.read.parquet(s"$outDir/table_schemas")
      .collect().map(r => r.getString(0) -> r.getString(1)).toMap
    spark.read.parquet(s"$outDir/schemas")
      .select("schema_id", "descriptor", "min_ts", "max_ts").collect()
      .map { r =>
        CatalogEntry(r.getString(0), r.getString(1),
          if (r.isNullAt(2)) None else Some(r.getLong(2)),
          if (r.isNullAt(3)) None else Some(r.getLong(3)),
          DataType.fromJson(schemaJsons(r.getString(0))).asInstanceOf[StructType])
      }
      .sortBy(_.schemaId).toSeq
  }

  /**
   * KQL search across every discovered schema — the clp_s schema-pruned
   * search: each schema's records re-parse through the DERIVED Spark schema
   * (partition-pruned read, no re-inference) with the archive's range-index
   * metadata columns alongside, and the per-schema predicate runs over the
   * typed columns (search/SchemaMatch.cpp + Output.cpp:35-131, QueryRunner).
   * Filters whose columns a schema lacks fold to false for that schema —
   * negated ones included (SchemaMatch existence rule, see
   * [[graft.search.KqlCompiler]]).
   *
   * Timestamp range (`tsLo`/`tsHi`, epoch millis, inclusive): evaluated
   * against the per-schema min/max range index BEFORE any read — schemas
   * that cannot match (disjoint range, or no timestamp at all) are pruned at
   * plan time (EvaluateTimestampIndex.cpp) — and injected as a `$_ts`
   * predicate on the survivors (AddTimestampConditions.hpp:15-34).
   *
   * `selectCols` are resolved per schema as wildcard column paths
   * (search/Projection.cpp): each pattern binds to every matching column of
   * each schema; schemas lacking a projected column contribute null for it
   * (never silently dropped); name-sharing columns with irreconcilable types
   * across schemas widen (numeric→double, else string).
   */
  def kqlSearch(spark: SparkSession, outDir: String, kql: String,
                selectCols: Seq[String],
                tsLo: Option[Long] = None, tsHi: Option[Long] = None): DataFrame = {
    val ast = graft.search.Kql.parseOrThrow(kql)
    val fullCatalog = loadCatalog(spark, outDir)
    // an EMPTY archive wrote no record part files — nothing to read a schema
    // from; answer the typed empty result directly
    if (fullCatalog.isEmpty) return widen(spark, selectCols, Nil)
    val records = spark.read.parquet(s"$outDir/records")
    val metaCols = records.columns.filter(_.startsWith("$")).toSeq
    val metaFieldsOut = metaCols.map(records.schema(_))

    /** Each schema's projected (name, type) columns — they type both the
      * real union and an empty result (so a plan-time-pruned query still
      * returns the archive's column types). */
    def projected(entries: Seq[CatalogEntry]): Seq[Seq[(String, DataType)]] =
      entries.map(e => graft.search.KqlCompiler.resolveProjection(
        StructType(metaFieldsOut ++ e.sparkSchema.fields), selectCols))
    def emptyResult: DataFrame = widen(spark, selectCols, projected(fullCatalog))

    // plan-time timestamp-index pruning (EvaluateTimestampIndex) happens
    // BEFORE the records store is even opened — a fully-out-of-range query
    // (or a time-bounded query over an archive ingested without a timestamp
    // key, whose ranges are all null — AddTimestampConditions) compiles to
    // an empty local relation, no file scan at all
    val catalog = fullCatalog.filter(e =>
      ClpCatalog.tsOverlaps(e.minTs, e.maxTs, tsLo, tsHi, pruneNullBounds = true))
    if (catalog.isEmpty) return emptyResult
    if ((tsLo.isDefined || tsHi.isDefined) && !metaCols.contains("$_ts")) return emptyResult

    // range index, if the archive has one (metadata columns at ingest):
    // loaded driver-side (ingest-source scale) for plan-time `$`-filter
    // evaluation (EvaluateRangeIndexFilters.cpp)
    val riPath = new org.apache.hadoop.fs.Path(s"$outDir/range_index")
    val rangeIndex: Option[Seq[graft.search.RangeIndex.Entry]] =
      if (riPath.getFileSystem(spark.sparkContext.hadoopConfiguration).exists(riPath))
        Some(spark.read.parquet(riPath.toString).collect().toSeq.map(r =>
          graft.search.RangeIndex.Entry(r.getAs[Long]("start_idx"),
            r.getAs[Long]("end_idx"), r.getAs[Map[String, String]]("fields"))))
      else None

    // Per-schema typed frames + predicate. SchemaMatch prunes FIRST: the
    // predicate is compiled against each schema's derived StructType (no
    // DataFrame built yet), and a schema whose predicate folds to a constant
    // non-true is dropped on the driver — the union stays O(matching
    // schemas), not O(catalog), in both plan size and analysis time (the
    // reference computes the matching schema set from the MPT before any
    // table is opened — search/SchemaMatch.cpp).
    val metaFields = metaCols.map(records.schema(_)) :+
      StructField("log_event_idx", LongType)
    val frames = catalog.flatMap { e =>
      val fullSchema = StructType(metaFields ++ e.sparkSchema.fields)
      val kqlPred = graft.search.KqlCompiler.compile(ast, fullSchema, rangeIndex)
      // short-circuit boolean fold BEFORE any plan is built: `$`-filters
      // matching no index entry, or paths absent from this schema, fold the
      // whole predicate to a non-true constant and the scan is never
      // compiled (the reference's EmptyExpr / SchemaMatch prune)
      val cantMatch = org.apache.spark.sql.GraftInternals.foldedValue(kqlPred)
        .exists(_ != true)
      if (cantMatch) None
      else {
        val df = records.filter(col("schema_id") === e.schemaId) // partition-pruned
          .withColumn("_rec", from_json(col("_raw"), e.sparkSchema))
          .select(metaCols.map(m => col(quoteName(m))) ++
            Seq(col("log_event_idx")) :+ col("_rec.*"): _*)
        val tsPred = (tsLo.map(col("`$_ts`") >= _) ++ tsHi.map(col("`$_ts`") <= _))
          .reduceOption(_ && _).getOrElse(lit(true))
        Some((e, df.filter(kqlPred && tsPred).drop("log_event_idx")))
      }
    }
    if (frames.isEmpty) return emptyResult
    val types = projected(frames.map(_._1))
    if (types.forall(_.isEmpty)) return emptyResult
    // Projection.cpp: resolve each pattern against each schema's columns;
    // dotted names navigate into structs here (resolution source), and
    // after the alias the output column is literally named with dots
    widen(spark, selectCols, types,
      frames.map { case (_, df) =>
        df -> graft.search.KqlCompiler.resolveProjection(df.schema, selectCols) },
      nm => col(nm.split('.').map(quoteName).mkString(".")))
  }

  /** The one projection-widening rule, for schemas within an archive
    * ([[kqlSearch]]) and archives within a fleet
    * ([[ClpCatalog.searchKql]]): output columns in first-seen order over
    * `types` (one (name, type) list per part); a name seen with two types
    * widens to double when both are numeric, else to string. Each of
    * `parts` (a frame plus its (name, type) columns, read through `ref`) is
    * aligned to the output — struct/array values that widen to string
    * become their JSON text, other mismatches cast, absent columns
    * null-fill — and the parts union. With no parts the answer is the
    * typed empty frame; with no output column at all, the literal
    * `selectCols` typed as strings. */
  private[pipeline] def widen(spark: SparkSession, selectCols: Seq[String],
                              types: Seq[Seq[(String, DataType)]],
                              parts: Seq[(DataFrame, Seq[(String, DataType)])] = Nil,
                              ref: String => Column = nm => col(quoteName(nm))): DataFrame = {
    val out = scala.collection.mutable.LinkedHashMap.empty[String, DataType]
    types.flatten.foreach { case (nm, dt) =>
      out.get(nm) match {
        case None => out(nm) = dt
        case Some(prev) if prev == dt => ()
        case Some(prev) =>
          val bothNumeric = Seq(prev, dt).forall(t =>
            t == LongType || t == DoubleType || t.isInstanceOf[DecimalType])
          out(nm) = if (bothNumeric) DoubleType else StringType
      }
    }
    if (out.isEmpty || parts.isEmpty) {
      val fields =
        if (out.nonEmpty) out.toSeq.map { case (nm, dt) => StructField(nm, dt) }
        else selectCols.filterNot(_.contains("*")).map(c => StructField(c, StringType))
      return spark.createDataFrame(spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
        StructType(fields))
    }
    parts.map { case (df, have) =>
      df.select(out.toSeq.map { case (nm, dt) =>
        have.collectFirst { case (`nm`, src) => src } match {
          case None => lit(null).cast(dt).as(nm)
          case Some(src) =>
            val c = ref(nm)
            val cast =
              if (src == dt) c
              else if (dt == StringType && (src.isInstanceOf[StructType] ||
                src.isInstanceOf[ArrayType])) to_json(c)
              else c.cast(dt)
            cast.as(nm)
        }
      }: _*)
    }.reduce(_ unionAll _)
  }

  /**
   * Ordered reconstruction of the original JSONL — `clp-s x` with
   * `--ordered` (JsonConstructor.cpp:64-141 `construct_in_order`): every
   * record is re-serialized from its typed leaves (document order and exact
   * numeric literals preserved — the marshalling the reference's
   * SchemaReader does from its columns) and globally sorted by
   * log_event_idx; Spark's range-partitioned sort IS the distributed k-way
   * merge over the per-schema tables. Returns (log_event_idx, json).
   */
  def extract(spark: SparkSession, outDir: String, ordered: Boolean = true): DataFrame = {
    val recs = spark.read.parquet(s"$outDir/records")
      .select(col("log_event_idx"), json_reserialize(col("_raw")).as("json"))
    // callers that re-shuffle (e.g. JsonExtract's chunked writer) skip the
    // global range sort instead of paying for ordering they then destroy
    if (ordered) recs.orderBy("log_event_idx") else recs
  }
}
