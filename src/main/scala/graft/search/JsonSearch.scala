package graft.search

import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.core.Wildcard
import graft.functions.ClpFunctions.json_reserialize
import graft.pipeline.ClpCatalog
import KqlCompiler.quoteName

/**
 * The one reader of a JSON archive written by
 * [[graft.pipeline.JsonPipeline.route]] — the JSON counterpart of
 * [[ClpSearch]]. Like the reference, which answers SchemaMatch, the
 * timestamp index and the range index from small archive metadata (SURVEY
 * §3.2), it loads the catalog, the record schemas, the records frame with
 * its `$` metadata fields and the range index once, lazily, and holds them:
 * a warm non-aggregating KQL query is its scan job alone, and a query the
 * timestamp index prunes runs no job. A re-routed directory needs a new
 * engine.
 */
final class JsonSearch(spark: SparkSession, outDir: String) {
  import JsonSearch.{Entry, widen}

  /** The schema catalog (SchemaMap + TimestampEntry), by schema id. */
  lazy val catalog: Seq[Entry] =
    spark.read.parquet(s"$outDir/schemas")
      .select("schema_id", "descriptor", "min_ts", "max_ts").collect()
      .map(r => Entry(r.getString(0), r.getString(1),
        if (r.isNullAt(2)) None else Some(r.getLong(2)),
        if (r.isNullAt(3)) None else Some(r.getLong(3))))
      .sortBy(_.schemaId).toSeq

  /** schema_id → derived record StructType: the one place `table_schemas`
    * is parsed. */
  private lazy val recordSchemas: Map[String, StructType] =
    spark.read.parquet(s"$outDir/table_schemas").select("schema_id", "spark_schema")
      .collect()
      .map(r => r.getString(0) -> DataType.fromJson(r.getString(1)).asInstanceOf[StructType])
      .toMap

  private def recordSchema(schemaId: String): StructType =
    recordSchemas.getOrElse(schemaId,
      throw new IllegalArgumentException(s"unknown schema $schemaId"))

  // an EMPTY archive wrote no record part files: both are read only once the
  // catalog has an entry (or a caller asks for the records themselves)
  private lazy val records: DataFrame = spark.read.parquet(s"$outDir/records")
  private lazy val metaFields: Seq[StructField] =
    records.schema.fields.toSeq.filter(_.name.startsWith("$"))

  /** The range index, iff the archive has `$` metadata: ingest-source
    * scale, for plan-time `$`-filter evaluation (EvaluateRangeIndexFilters). */
  private lazy val rangeIndex: Option[Seq[RangeIndex.Entry]] = {
    val riPath = new org.apache.hadoop.fs.Path(s"$outDir/range_index")
    if (riPath.getFileSystem(spark.sparkContext.hadoopConfiguration).exists(riPath))
      Some(spark.read.parquet(riPath.toString).collect().toSeq.map(r =>
        RangeIndex.Entry(r.getAs[Long]("start_idx"),
          r.getAs[Long]("end_idx"), r.getAs[Map[String, String]]("fields"))))
    else None
  }

  /** The one search-frame rule: the StructType a schema's records are
    * searched as — the archive's `$` metadata fields, `log_event_idx`, then
    * the derived record schema. KQL compiles against it, projection
    * resolves against it less `log_event_idx` (results do not carry the
    * index; ingest reserves the name at top level), and the fleet catalog's
    * leaf summary ([[leafSummary]]) walks it. */
  def frameSchema(e: Entry): StructType =
    StructType(metaFields ++
      (StructField("log_event_idx", LongType) +: recordSchema(e.schemaId).fields))

  /** Leaves every schema's search frame can address
    * ([[KqlCompiler.leafSummary]]), for the fleet catalog's `columns` prune. */
  def leafSummary: Seq[String] =
    catalog.flatMap(e => KqlCompiler.leafSummary(frameSchema(e))).distinct.sorted

  /**
   * KQL across every discovered schema — the clp_s schema-pruned search
   * (SchemaMatch.cpp, Output.cpp:35-131): each schema's records re-parse
   * through its DERIVED Spark schema (partition-pruned, no inference) and
   * the per-schema predicate runs over the typed columns; filters on
   * columns a schema lacks fold to false for it, negated ones included.
   * `tsLo`/`tsHi` (epoch millis, inclusive) prune schemas by their min/max
   * at plan time (EvaluateTimestampIndex) and become a `$_ts` predicate on
   * the survivors (AddTimestampConditions). `selectCols` are wildcard
   * column paths resolved per schema (Projection.cpp), null-filled where a
   * schema lacks one and widened by [[JsonSearch.widen]].
   */
  def kql(kql: String, selectCols: Seq[String],
          tsLo: Option[Long] = None, tsHi: Option[Long] = None): DataFrame = {
    val ast = Kql.parseOrThrow(kql)
    /** Each schema's projected (name, type) columns: they type the union and
      * the empty result alike (an empty archive's is untyped, and never
      * opens the records store). */
    def projected(entries: Seq[Entry]): Seq[Seq[(String, DataType)]] =
      entries.map(e => KqlCompiler.resolveProjection(
        StructType(frameSchema(e).filterNot(_.name == "log_event_idx")), selectCols))
    def emptyResult: DataFrame = widen(spark, selectCols, projected(catalog))

    // timestamp-index pruning BEFORE any scan is built: a fully out-of-range
    // query (or a time-bounded one over an archive without a timestamp key)
    // answers a local relation; a schema admitted under a window has bounds,
    // so its records carry $_ts
    val admitted = catalog.filter(e =>
      ClpCatalog.tsOverlaps(e.minTs, e.maxTs, tsLo, tsHi, pruneNullBounds = true))
    if (admitted.isEmpty) return emptyResult

    // SchemaMatch prunes FIRST: the predicate compiles against each schema's
    // search frame before any DataFrame exists, so the union stays
    // O(matching schemas), not O(catalog), in plan size and analysis time
    val frames = admitted.flatMap { e =>
      val kqlPred = KqlCompiler.compile(ast, frameSchema(e), rangeIndex)
      // `$`-filters matching no index entry, or paths absent from this
      // schema, fold to a non-true constant (the reference's EmptyExpr)
      val cantMatch = org.apache.spark.sql.GraftInternals.foldedValue(kqlPred)
        .exists(_ != true)
      if (cantMatch) None
      else {
        val df = parsed(e.schemaId)
          .select(metaFields.map(f => col(quoteName(f.name))) ++
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
        df -> KqlCompiler.resolveProjection(df.schema, selectCols) },
      nm => col(nm.split('.').map(quoteName).mkString(".")))
  }

  /** One schema's partition-pruned records with `_rec`, the raw line parsed
    * through the derived StructType (no inference). */
  private def parsed(schemaId: String): DataFrame = {
    val st = recordSchema(schemaId)
    records.filter(col("schema_id") === schemaId).withColumn("_rec", from_json(col("_raw"), st))
  }

  /** One schema's typed columnar view. */
  def table(schemaId: String): DataFrame = parsed(schemaId).select(col("_rec.*"))

  /** Schema ids whose descriptor contains a leaf path matching `pathGlob`
    * (wildcard per segment) — SchemaMatch.cpp column-descriptor resolution
    * against the discovered tree (Q9). */
  def schemasWithPath(pathGlob: String): Seq[String] = {
    val pat = Wildcard.cleanUp(pathGlob)
    catalog.filter(_.descriptor.split(";").exists { leaf =>
      Wildcard.matches(leaf.substring(0, leaf.lastIndexOf(':')), pat, caseSensitive = true)
    }).map(_.schemaId)
  }

  /** Ordered reconstruction of the original JSONL — `clp-s x --ordered`
    * (JsonConstructor.cpp:64-141): each record re-serialized from its typed
    * leaves, globally sorted by log_event_idx (Spark's range-partitioned
    * sort is the k-way merge). Returns (log_event_idx, json). */
  def extract(ordered: Boolean = true): DataFrame = {
    val recs = records.select(col("log_event_idx"), json_reserialize(col("_raw")).as("json"))
    // callers that re-shuffle (e.g. JsonExtract's chunked writer) skip the
    // global range sort instead of paying for ordering they then destroy
    if (ordered) recs.orderBy("log_event_idx") else recs
  }
}

object JsonSearch {

  /** One catalog row: a schema and its timestamp range (None: no record of
    * the schema carries a parsed timestamp). */
  final case class Entry(schemaId: String, descriptor: String,
                         minTs: Option[Long], maxTs: Option[Long])

  /** The one projection-widening rule, for schemas within an archive
    * ([[JsonSearch.kql]]) and archives within a fleet
    * ([[ClpCatalog.searchKql]]): output columns in first-seen order over
    * `types`; a name seen with two types widens to double when both are
    * numeric, else to string. Each of `parts` (a frame and its columns, read
    * through `ref`) aligns to the output — struct/array to string becomes
    * JSON text, other mismatches cast, absent columns null-fill — and the
    * parts union. No parts: the typed empty frame, a local relation (collects
    * without a job); no output column at all: `selectCols` as strings. */
  private[graft] def widen(spark: SparkSession, selectCols: Seq[String],
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
      return spark.createDataFrame(java.util.Collections.emptyList[Row](), StructType(fields))
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
}
