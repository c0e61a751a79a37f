package graft
package gates

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.gates.Gate.{memo, t, withClp}

/** clp_s structured JSON (S4/S7, MPT schema discovery, Q9 SchemaMatch), KQL,
  * the kv-IR stream, the fleet's JSON column index, and the lake table. */
object JsonGates {

  // ---- clp_s structured-JSON slice: heterogeneous JSONL derived from
  // documents (4 record shapes incl. a nested object, an array, numeric and
  // boolean leaves) — the Spark side DISCOVERS shapes from the raw JSON text;
  // the oracle recomputes descriptors from the generator rule -------------
  private def jsonlDocs(s: SparkSession, d: String): DataFrame = {
    val did = col("doc_id").cast("string")
    val n = (col("doc_id") % 100).cast("string")
    // deterministic per-record timestamp: day/hour/minute derived from
    // doc_id (oracle recomputes the same arithmetic) — drives the
    // timestamp-key/range-index/count-by-time gates
    val ts = format_string("2024-01-%02d %02d:%02d:00",
      ((col("doc_id") / 1440).cast("long") % 28 + 1).cast("int"),
      ((col("doc_id") / 60).cast("long") % 24).cast("int"),
      (col("doc_id") % 60).cast("int"))
    t(s, d, "documents").select(
      col("source"), col("doc_id"),
      when(col("doc_id") % 4 === 0, concat(
        lit("{\"id\":"), did, lit(",\"ts\":\""), ts,
        lit("\",\"level\":\"info\",\"msg\":\""), col("text"),
        lit("\",\"k\":"), n, lit("}")))
      .when(col("doc_id") % 4 === 1, concat(
        lit("{\"id\":"), did, lit(",\"ts\":\""), ts,
        lit("\",\"level\":\"warn\",\"msg\":\""), col("text"),
        lit("\",\"k\":"), n, lit(",\"meta\":{\"lang\":\""), col("lang"),
        lit("\",\"score\":"), n, lit(".5}}")))
      .when(col("doc_id") % 4 === 2, concat(
        lit("{\"id\":"), did, lit(",\"ts\":\""), ts, lit("\",\"msg\":\""), col("text"),
        lit("\",\"tags\":[\"a\",\""), col("lang"), lit("\"]}")))
      .otherwise(concat(
        lit("{\"id\":"), did, lit(",\"ts\":\""), ts, lit("\",\"msg\":\""), col("text"),
        lit("\",\"ok\":"), (col("doc_id") % 2 === 0).cast("string"), lit("}")))
      .as("json"))
  }

  /** DuckDB twins of the generator's timestamp arithmetic (jsonlDocs). */
  private val sqlJsonTsText =
    "printf('2024-01-%02d %02d:%02d:00', (doc_id//1440)%28+1, (doc_id//60)%24, doc_id%60)"
  private val sqlJsonTsEpochMs =
    "(1704067200 + ((doc_id//1440)%28)*86400 + ((doc_id//60)%24)*3600 + (doc_id%60)*60)*1000"

  /** DuckDB twin of the generator's full JSON text (jsonlDocs) — feeds the
    * byte-exact extraction oracle. */
  private val sqlJsonText =
    s"""CASE CAST(doc_id % 4 AS INT)
       |  WHEN 0 THEN '{"id":' || doc_id || ',"ts":"' || $sqlJsonTsText ||
       |    '","level":"info","msg":"' || text || '","k":' || (doc_id%100) || '}'
       |  WHEN 1 THEN '{"id":' || doc_id || ',"ts":"' || $sqlJsonTsText ||
       |    '","level":"warn","msg":"' || text || '","k":' || (doc_id%100) ||
       |    ',"meta":{"lang":"' || lang || '","score":' || (doc_id%100) || '.5}}'
       |  WHEN 2 THEN '{"id":' || doc_id || ',"ts":"' || $sqlJsonTsText ||
       |    '","msg":"' || text || '","tags":["a","' || lang || '"]}'
       |  ELSE '{"id":' || doc_id || ',"ts":"' || $sqlJsonTsText ||
       |    '","msg":"' || text || '","ok":' || CASE WHEN doc_id%2=0 THEN 'true' ELSE 'false' END || '}'
       |END""".stripMargin

  /** DuckDB form of the 4 generator-rule shape descriptors. */
  private val sqlJsonDescriptor =
    """CASE CAST(doc_id % 4 AS INT)
      |  WHEN 0 THEN 'id:Integer;k:Integer;level:VarString;msg:ClpString;ts:DateString'
      |  WHEN 1 THEN 'id:Integer;k:Integer;level:VarString;meta.lang:VarString;meta.score:Float;msg:ClpString;ts:DateString'
      |  WHEN 2 THEN 'id:Integer;msg:ClpString;tags:UnstructuredArray;ts:DateString'
      |  ELSE 'id:Integer;msg:ClpString;ok:Boolean;ts:DateString' END""".stripMargin

  /** Structurize-arrays descriptors: only shape 2 carries an array (two
    * single-token strings → one VarString element node under the
    * StructuredArray node). Leaves sort as full "path:Type" strings, and
    * '.' < ':', so `tags.[]` precedes `tags:`. */
  private val sqlJsonDescriptorStruct = sqlJsonDescriptor.replace(
    "tags:UnstructuredArray",
    "tags.[]:VarString;tags:StructuredArray")

  private def jsonArchive(s: SparkSession, d: String): String =
    memo("json-archive", d) {
      val out = java.nio.file.Files.createTempDirectory("graft-json-arch").toString
      // per-source metadata recorded at ingest → the archive range index
      // (RangeIndexWriter): 20 records per synthetic source file, so the
      // index maps each filename to one contiguous [s,e) log_event_idx span
      graft.pipeline.JsonPipeline.route(s, jsonlDocs(s, d), "json", out,
        metadata = Seq(
          "$_filename" -> concat(lit("logs/"),
            (col("doc_id") / 20).cast("long").cast("string"), lit(".jsonl")),
          "$_archive_creator_id" -> lit("graft")),
        options = graft.pipeline.JsonPipeline.Options(
          timestampKey = Some("ts"), orderCol = Some("doc_id")))
      out
    }

  private def jsonStructArchive(s: SparkSession, d: String): String =
    memo("json-struct-archive", d) {
      val out = java.nio.file.Files.createTempDirectory("graft-json-struct").toString
      graft.pipeline.JsonPipeline.route(s, jsonlDocs(s, d), "json", out,
        options = graft.pipeline.JsonPipeline.Options(
          timestampKey = Some("ts"), structurizeArrays = true, orderCol = Some("doc_id")))
      out
    }

  /** Fleet of four JSON archives sliced by the generator's schema variant
    * (doc_id % 4) so each archive holds exactly one MPT shape — the
    * column-set prune ([[graft.pipeline.ClpCatalog.appendJsonEntry]]'s
    * `columns` summary) can then prove it opens only archives carrying the
    * queried column. */
  private def jsonFleet(s: SparkSession, d: String): String =
    memo("json-fleet", d) {
      val out = java.nio.file.Files.createTempDirectory("graft-json-fleet").toString
      graft.pipeline.ClpCatalog.ingestJson(s, jsonlDocs(s, d), "json",
        col("doc_id") % 4, out,
        options = graft.pipeline.JsonPipeline.Options(
          timestampKey = Some("ts"), orderCol = Some("doc_id")))
      out
    }

  /** The reference's clp-s formatted-float corpora (read in place, never
    * copied) and the node kind its end-to-end suite requires for every
    * scalar leaf of each (test-clp_s-end_to_end.cpp:214-292). */
  private val FixtureJsonDir =
    "/root/reference/components/core/tests/test_log_files"
  private val FloatFixtures = Seq(
    ("test_valid_formatted_float.jsonl", "FormattedFloat"),
    ("test_invalid_formatted_float.jsonl", "DictionaryFloat"))

  private def fixtureJsonLines(name: String): Seq[String] = {
    val bytes = java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(s"$FixtureJsonDir/$name"))
    new String(bytes, java.nio.charset.StandardCharsets.UTF_8)
      .split('\n').toSeq.filter(_.trim.nonEmpty)
  }

  /** One `--retain-float-format` archive per float corpus, built once per
    * Verify run (the corpora are tiny; the memo only avoids re-routing
    * across gates). */
  private def jsonFixtureArchive(s: SparkSession, name: String): String =
    memo("json-float-archive", s"$FixtureJsonDir/$name") {
      import s.implicits._
      val out =
        java.nio.file.Files.createTempDirectory("graft-ref-jsonfix").toString
      val df = fixtureJsonLines(name).zipWithIndex
        .map { case (l, i) => (i.toLong, l) }.toDF("line_idx", "json")
      graft.pipeline.JsonPipeline.route(s, df, "json", out,
        options = graft.pipeline.JsonPipeline.Options(
          orderCol = Some("line_idx"), retainFloatFormat = true))
      out
    }

  private def lakeDocsTable(s: SparkSession, d: String): String =
    memo("lake-docs", d) {
      val out = java.nio.file.Files.createTempDirectory("graft-lake-docs").toString
      val docs = t(s, d, "documents").select(col("doc_id"), col("text"))
      // two commits: evens land in snapshot 1, odds arrive in snapshot 2 —
      // the time-travel gate reads v1 and must not see the later commit
      graft.pipeline.LakeTable.append(s, out, docs.filter(col("doc_id") % 2 === 0))
      graft.pipeline.LakeTable.append(s, out, docs.filter(col("doc_id") % 2 === 1))
      out
    }

  val gates: Seq[Gate] = Seq(
    // ---- clp_s structured-JSON pipeline (S4/S7, MPT schema discovery) ----
    Gate("jsonl_structurize_route", (s, d) => {
      // --structurize-arrays mode: the array shape gains StructuredArray +
      // element child nodes, so schema identity is finer-grained
      // (JsonParser.cpp:477-495); the oracle recomputes the structurized
      // descriptors from the generator rule
      val out = jsonStructArchive(s, d)
      s.read.parquet(s"$out/schemas")
        .select(col("schema_id"), col("n_records")).orderBy("schema_id")
    },
      oracle = s"""SELECT md5($sqlJsonDescriptorStruct) AS schema_id, count(*) AS n_records
         |FROM documents GROUP BY 1 ORDER BY 1""".stripMargin),
    Gate("jsonl_schema_route", (s, d) => {
      // per-record shape discovery → schema_id dedup → per-schema routing;
      // the oracle recomputes each shape's canonical descriptor hash from
      // the generator rule, so ids AND counts must both match
      val out = jsonArchive(s, d)
      s.read.parquet(s"$out/schemas")
        .select(col("schema_id"), col("n_records")).orderBy("schema_id")
    },
      oracle = s"""SELECT md5($sqlJsonDescriptor) AS schema_id, count(*) AS n_records
         |FROM documents GROUP BY 1 ORDER BY 1""".stripMargin),
    Gate("jsonl_schema_tree", (s, d) => {
      // the merged parse tree (MPT): union of discovered typed leaves with
      // deterministic dense node ids
      val out = jsonArchive(s, d)
      s.read.parquet(s"$out/schema_tree")
        .select("node_id", "path", "node_type").orderBy("node_id")
    },
      oracle = s"""WITH leaves AS (
         |  SELECT DISTINCT unnest(string_split($sqlJsonDescriptor, ';')) AS leaf
         |  FROM documents),
         |sorted AS (
         |  SELECT leaf,
         |    string_split(leaf, ':')[1] AS path, string_split(leaf, ':')[2] AS node_type
         |  FROM leaves)
         |SELECT CAST(row_number() OVER (ORDER BY path, node_type) - 1 AS INT) AS node_id,
         |  path, node_type
         |FROM sorted ORDER BY node_id""".stripMargin),
    Gate("kvir_roundtrip", (s, d) => {
      // kv-IR (structured IR stream): per-source JSONL event streams are
      // serialized with schema-tree deltas + typed values (ClpStrings
      // CLP-encoded on the wire), shipped as opaque blobs, deserialized, and
      // checked: id value, md5 of the decoded ClpString msg, and the typed
      // leaf count per record must match the oracle recomputation
      import s.implicits._
      val recs = jsonlDocs(s, d).select(col("source"), col("doc_id"), col("json"))
        .as[(String, Long, String)]
      recs.repartition(col("source"))
        .sortWithinPartitions("source", "doc_id")
        .mapPartitions { rows =>
          val buf = rows.buffered
          new Iterator[Array[Byte]] {
            def hasNext: Boolean = buf.hasNext
            def next(): Array[Byte] = {
              val src = buf.head._1
              val evIt = new Iterator[List[graft.core.JsonShape.Leaf]] {
                def hasNext: Boolean = buf.hasNext && buf.head._1 == src
                def next(): List[graft.core.JsonShape.Leaf] =
                  graft.core.JsonShape.typedLeaves(buf.next()._3)
              }
              graft.core.KvIr.serialize(evIt)
            }
          }
        }
        .flatMap(bytes => graft.core.KvIr.deserialize(bytes).map { leaves =>
          val id = leaves.find(_.path == "id").map(_.value.toLong).getOrElse(-1L)
          val msg = leaves.find(_.path == "msg").map(_.value).getOrElse("")
          (id, msg, leaves.length)
        })
        .toDF("id", "msg", "n_leaves")
        .select(col("id"), md5(col("msg")).as("fp"), col("n_leaves"))
        .orderBy("id")
    },
      oracle = """SELECT doc_id AS id, md5(text) AS fp,
        |  CASE CAST(doc_id % 4 AS INT) WHEN 0 THEN 5 WHEN 1 THEN 7
        |       WHEN 2 THEN 4 ELSE 4 END AS n_leaves
        |FROM documents ORDER BY id""".stripMargin),

    // ---- KQL over the archive's discovered schemas, timestamps and range
    // index, and over a plain table ----
    Gate("jsonl_kql_nested", (s, d) => {
      // KQL with a wildcard column path resolved against DISCOVERED schemas
      // (Q9/SchemaMatch): `*.lang` binds to the nested meta.lang leaf of the
      // one schema that has it; schemas lacking the path contribute nothing
      val out = jsonArchive(s, d)
      graft.pipeline.JsonPipeline
        .kqlSearch(s, out, "*.lang : en AND k >= 50", Seq("id"))
        .orderBy("id")
    },
      oracle = """SELECT doc_id AS id FROM documents
        |WHERE doc_id % 4 = 1 AND lang = 'en' AND doc_id % 100 >= 50
        |ORDER BY id""".stripMargin),
    Gate("jsonl_ts_range", (s, d) => {
      // first-class timestamps: tge/tle injected from the API range
      // (AddTimestampConditions) + per-schema min/max range-index pruning
      // (EvaluateTimestampIndex); window = 2024-01-01 02:00-03:59 UTC
      val out = jsonArchive(s, d)
      graft.pipeline.JsonPipeline
        .kqlSearch(s, out, "msg: *", Seq("id"),
          tsLo = Some(1704074400000L), tsHi = Some(1704081540000L))
        .orderBy("id")
    },
      oracle = s"""SELECT doc_id AS id FROM documents
         |WHERE $sqlJsonTsEpochMs BETWEEN 1704074400000 AND 1704081540000
         |ORDER BY id""".stripMargin),
    Gate("jsonl_count_by_time", (s, d) => {
      // aggregation over the JSON search path: hourly count of `level:info`
      // records (the clp_s count-by-time output handler over KQL results)
      val out = jsonArchive(s, d)
      graft.pipeline.JsonPipeline
        .kqlSearch(s, out, "level: info", Seq("$_ts"))
        .groupBy((floor(col("`$_ts`") / 3600000L)).cast("long").as("bucket"))
        .agg(count(lit(1)).as("n"))
        .orderBy("bucket")
    },
      oracle = s"""SELECT ($sqlJsonTsEpochMs)//3600000 AS bucket, count(*) AS n
         |FROM documents WHERE doc_id % 4 = 0 GROUP BY 1 ORDER BY 1""".stripMargin),
    Gate("jsonl_extract_e2e", (s, d) => {
      // ordered reconstruction (`clp-s x` construct_in_order): re-serialize
      // every record from its typed leaves, globally sorted by
      // log_event_idx; md5 per record vs the oracle's recomputation of the
      // generator JSON proves byte-exactness
      val out = jsonArchive(s, d)
      new graft.search.JsonSearch(s, out).extract()
        .select(col("log_event_idx"), md5(col("json")).as("fp"))
        .orderBy("log_event_idx")
    },
      oracle = s"""SELECT doc_id AS log_event_idx, md5($sqlJsonText) AS fp
         |FROM documents ORDER BY 1""".stripMargin),
    Gate("jsonl_range_index", (s, d) => {
      // `$`-namespace filter evaluated against the archive range index at
      // PLAN time (EvaluateRangeIndexFilters): the filename wildcard selects
      // matching [s,e) log_event_idx spans, injected as a parquet-pushable
      // range predicate; the stored metadata column keeps it exact
      val out = jsonArchive(s, d)
      graft.pipeline.JsonPipeline
        .kqlSearch(s, out, """$_filename: "logs/*1.jsonl" AND level: info""",
          Seq("id", "$_filename"))
        .orderBy("id")
    },
      oracle = """SELECT doc_id AS id,
        |  'logs/' || CAST(doc_id // 20 AS VARCHAR) || '.jsonl' AS "$_filename"
        |FROM documents
        |WHERE doc_id % 4 = 0 AND CAST((doc_id // 20) % 10 AS INT) = 1
        |ORDER BY id""".stripMargin),
    Gate("jsonl_projection", (s, d) => {
      // wildcard projection (clp_s search/Projection.cpp): `meta.*` binds
      // per schema; schemas lacking the columns contribute nulls, never get
      // silently dropped
      val out = jsonArchive(s, d)
      graft.pipeline.JsonPipeline
        .kqlSearch(s, out, "k >= 50", Seq("id", "meta.*"))
        .orderBy("id")
    },
      oracle = """SELECT doc_id AS id,
        |  CASE WHEN doc_id%4=1 THEN lang END AS "meta.lang",
        |  CASE WHEN doc_id%4=1 THEN (doc_id%100)+0.5 END AS "meta.score"
        |FROM documents WHERE doc_id%4 IN (0,1) AND doc_id%100 >= 50
        |ORDER BY id""".stripMargin),
    Gate("clp_catalog_kql_fleet", (s, d) =>
      // fleet KQL over JSON archives with COLUMN-SET pruning (the
      // reference's external-SQL column index, clp_s/indexer/
      // IndexManager.cpp): only the one archive whose MPT carries a leaf
      // matching `*.lang` is opened (ClpCatalogSpec asserts the admissible
      // set); results must equal the single-archive jsonl_kql_nested search
      graft.pipeline.ClpCatalog.searchKql(s, jsonFleet(s, d),
          "*.lang : en AND k >= 50", Seq("id"))
        .orderBy("id"),
      oracle = """SELECT doc_id AS id FROM documents
        |WHERE doc_id % 4 = 1 AND lang = 'en' AND doc_id % 100 >= 50
        |ORDER BY id""".stripMargin),
    Gate("jsonl_float_fixture", (s, _) => {
      // clp-s `--retain-float-format` over the reference's OWN float
      // corpora (test-clp_s-end_to_end.cpp:214-292): each corpus ingests
      // through the structured pipeline with the flag on; `kind` is the
      // record's scalar-leaf typing (valid corpus ⇒ FormattedFloat, invalid
      // ⇒ DictionaryFloat, bare-array lines ⇒ ''), and `fp` certifies the
      // archive EXTRACTION equals the raw line under the reference's own
      // whitespace-stripped compare (literallyCompare) — the oracle
      // re-reads the same bytes independently with read_text.
      import s.implicits._
      val containers = Set("UnstructuredArray", "StructuredArray", "Object")
      FloatFixtures.map { case (name, _) =>
        val dir = jsonFixtureArchive(s, name)
        val kinds = fixtureJsonLines(name).zipWithIndex.map { case (l, i) =>
          (i.toLong, graft.core.JsonShape
            .typedLeaves(l, retainFloatFormat = true)
            .map(_.nodeType).filterNot(containers).distinct.mkString(","))
        }.toDF("line_idx", "kind")
        new graft.search.JsonSearch(s, dir).extract()
          .select(col("log_event_idx").as("line_idx"),
            md5(regexp_replace(col("json"), " ", "")).as("fp"))
          .join(kinds, Seq("line_idx"))
          .select(lit(name).as("file"), col("line_idx"), col("kind"), col("fp"))
      }.reduce(_.unionAll(_)).orderBy("file", "line_idx")
    },
      oracle = s"""WITH f AS (SELECT * FROM (VALUES
         |    ('test_valid_formatted_float.jsonl', 'FormattedFloat'),
         |    ('test_invalid_formatted_float.jsonl', 'DictionaryFloat')) v(file, want)),
         |r AS (SELECT f.file, f.want, string_split(t.content, chr(10)) AS a
         |  FROM f JOIN read_text('$FixtureJsonDir/test_*_formatted_float.jsonl') t
         |    ON ends_with(t.filename, f.file)),
         |l AS (SELECT file, want, unnest(a) AS line,
         |    unnest(generate_series(1, len(a))) AS i FROM r),
         |e AS (SELECT file, want, line,
         |    row_number() OVER (PARTITION BY file ORDER BY i) - 1 AS line_idx
         |  FROM l WHERE trim(line) <> '')
         |SELECT file, line_idx,
         |  CASE WHEN contains(line, '[') THEN '' ELSE want END AS kind,
         |  md5(replace(line, ' ', '')) AS fp
         |FROM e ORDER BY file, line_idx""".stripMargin),
    Gate("kql_search", (s, d) => {
      // Q7/P9 end-to-end: KQL text -> lexer/parser -> AST -> Catalyst
      // predicates (wildcard values via wildcard_match, NOT/OR/AND,
      // numeric ranges) pushed into one scan
      withClp(s)
      graft.search.KqlCompiler.filter(t(s, d, "documents"),
          """(lang: en OR lang: fr) AND NOT source: src3 AND n_chars >= 200 AND text: "*the*"""")
        .select("doc_id", "lang", "n_chars")
        .orderBy("doc_id")
    },
      oracle = """SELECT doc_id, lang, n_chars FROM documents
        |WHERE (lang='en' OR lang='fr') AND NOT source='src3'
        |  AND n_chars >= 200 AND text LIKE '%the%'
        |ORDER BY doc_id""".stripMargin),

    // ---- the lake shim ----
    Gate("lake_time_travel", (s, d) => {
      // the §7 lake shim (Iceberg write-API shape, no Iceberg jars): append
      // commits produce numbered snapshots; reading asOf the first snapshot
      // returns exactly its committed rows — the second commit, though
      // already durable, is invisible at v1 (snapshot isolation)
      val out = lakeDocsTable(s, d)
      val total = graft.pipeline.LakeTable.read(s, out).count()
      graft.pipeline.LakeTable.read(s, out, asOf = Some(1L))
        .select(col("doc_id").as("id"), md5(col("text")).as("fp"),
          lit(total).as("total_now"))
        .orderBy("id")
    },
      oracle = """SELECT doc_id AS id, md5(text) AS fp,
        |  (SELECT count(*) FROM documents) AS total_now
        |FROM documents WHERE doc_id % 2 = 0 ORDER BY id""".stripMargin),
  )
}
