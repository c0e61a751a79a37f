package graft
package gates

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.functions.ClpFunctions._
import graft.gates.Gate.{memo, t, withClp}

/** CLP text: the encode/decode round trip, the IR stream, the routed
  * pipeline, encoded-domain search over one archive, the fleet catalog, and
  * raw-log ingest (SURVEY §2 IDs noted per gate). */
object ClpTextGates {

  // ---- encoded-domain search lifecycle under the oracle gate --------------
  // documents-derived transcript turns with synthetic trailing variables
  // (an int status code and a `code=<lang>` dict token) so the archive's
  // encoded domain has both variable kinds to match against. The DuckDB
  // oracle recomputes the SAME derived text and answers with LIKE — the
  // reference's search-fidelity idea (test-clp_s-search.cpp:205-258).
  private def searchTurns(s: SparkSession, d: String): DataFrame =
    t(s, d, "documents").select(
      concat(lit("conv-"), (col("doc_id") % 50).cast("string")).as("conv_id"),
      (col("doc_id") / 50).cast("int").as("turn_idx"),
      col("lang").as("role"),
      concat(col("text"), lit(" status "),
        ((col("doc_id") % 7) * 100 + 3).cast("string"),
        lit(" code="), col("lang"), lit(" end")).as("text"),
      col("source").as("tool"),
      timestamp_millis(lit(1704067200000L) + col("doc_id") * 1000L).as("ts"))

  /** DuckDB twin of [[searchTurns]]'s derived columns. */
  private val sqlSearchText =
    "text || ' status ' || CAST((doc_id % 7) * 100 + 3 AS VARCHAR) || ' code=' || lang || ' end'"
  private val sqlSearchConv = "'conv-' || CAST(doc_id % 50 AS VARCHAR)"

  /** Shared SELECT head for the search-gate oracles. */
  private def sqlSearchSelect(where: String): String =
    s"""SELECT $sqlSearchConv AS conv_id, CAST(doc_id // 50 AS INT) AS turn_idx
       |FROM documents WHERE $where ORDER BY conv_id, turn_idx""".stripMargin

  /** One routed archive per input dir — shared by every search-gate query
    * in a Verify run. */
  private def searchArchive(s: SparkSession, d: String): String =
    memo("search-archive", d) {
      withClp(s)
      val out = java.nio.file.Files.createTempDirectory("graft-search-arch").toString
      val turns = searchTurns(s, d)
      // deterministic J4 enrichment dimension the DuckDB oracle can
      // recompute: team from the role, cost class from the tool's length
      val lookup = turns.select(col("role"), col("tool")).distinct()
        .withColumn("team", concat(lit("team-"), col("role")))
        .withColumn("cost_class",
          when(length(col("tool")) % 2 === 0, lit("premium")).otherwise(lit("standard")))
      graft.pipeline.ClpPipeline.run(s, turns,
        graft.pipeline.ClpPipeline.Config(out, maxSinks = 8, saltParts = 8),
        lookup = Some(lookup))
      out
    }

  /** Full lifecycle: compile → dict probe → sink/ts prune → encoded-domain
    * match (subseq/isin) → decode → verify-iff-imprecise → stable order. */
  private def searchGate(s: SparkSession, d: String, query: String,
                         tsLo: Option[java.sql.Timestamp] = None,
                         tsHi: Option[java.sql.Timestamp] = None,
                         caseSensitive: Boolean = true): DataFrame =
    new graft.search.ClpSearch(s, searchArchive(s, d))
      .search(query, caseSensitive, tsLo, tsHi)
      .select("conv_id", "turn_idx")
      .orderBy("conv_id", "turn_idx")

  /** The fleet fixtures' archive slice: ts quartiles of [[searchTurns]]
    * (doc_id ≡ seconds since the base epoch), so each archive owns a
    * contiguous 125 s span and the catalog can prune by time. */
  private val tsQuartile: Column =
    least(floor((unix_millis(col("ts")) - 1704067200000L) / 125000L), lit(3L))

  /** One 4-archive catalog per input dir — the fleet-metadata layer
    * ([[graft.pipeline.ClpCatalog]]), sliced on [[tsQuartile]]. */
  private def searchCatalog(s: SparkSession, d: String): String =
    memo("search-catalog", d) {
      withClp(s)
      val out = java.nio.file.Files.createTempDirectory("graft-catalog").toString
      // user tags per archive (the reference's archive_tags table): the two
      // older quartiles are "early", the newer two "late" — drives the
      // tag-scoped fleet search gate; untag-scoped searches ignore them
      graft.pipeline.ClpCatalog.ingest(s, searchTurns(s, d), tsQuartile, out,
        tagsFor = sl => Seq("all", if (sl.toInt < 2) "early" else "late"))
      out
    }

  /** Fleet fixture for the dictionary-Bloom catalog prune: the searchTurns
    * corpus with one slice-specific dictionary token appended ("job0".."job3"
    * — letter+digit, so it lands in each archive's var dictionary, never the
    * encoded-int stream), sliced into 4 archives exactly like
    * [[searchCatalog]]. A token query then distinguishes archives by
    * dictionary CONTENT, which the shared-vocabulary searchCatalog fixture
    * cannot (all 4 of its archives carry the same 5 lang tokens). */
  private def bloomCatalog(s: SparkSession, d: String): String =
    memo("bloom-catalog", d) {
      withClp(s)
      val out = java.nio.file.Files.createTempDirectory("graft-bloomcat").toString
      val turns = searchTurns(s, d)
        .withColumn("text",
          concat(col("text"), lit(" job"), tsQuartile.cast("string"), lit(" fin")))
      graft.pipeline.ClpCatalog.ingest(s, turns, tsQuartile, out)
      out
    }

  /** DuckDB twin of [[bloomCatalog]]'s text column. */
  private val sqlBloomText =
    s"($sqlSearchText) || ' job' || CAST(least(doc_id // 125, 3) AS VARCHAR) || ' fin'"

  /** Deployment root with TWO registered dataset namespaces ("early" =
    * ts-quartiles 0-1 of the corpus, "late" = quartiles 2-3), each its own
    * complete 2-archive catalog — the reference's per-dataset metadata
    * tables + per-dataset archive storage. */
  private def datasetRoot(s: SparkSession, d: String): String =
    memo("dataset-root", d) {
      withClp(s)
      val root = java.nio.file.Files.createTempDirectory("graft-datasets").toString
      val turns = searchTurns(s, d)
      graft.pipeline.ClpCatalog.ingest(s, turns.filter(tsQuartile < 2), tsQuartile,
        graft.pipeline.ClpCatalog.addDataset(s, root, "early"))
      graft.pipeline.ClpCatalog.ingest(s, turns.filter(tsQuartile >= 2), tsQuartile,
        graft.pipeline.ClpCatalog.addDataset(s, root, "late"))
      root
    }

  /** The reference's OWN unstructured parser fixture (read in place, never
    * copied): multiline event, static text, dict/int/float variables, a
    * backslashed path, and a relative (`%#3`) timestamp line — the exact
    * file its parser suite ingests (components/core/tests/test_log_files/
    * log.txt). The fixture gates split it with [[RawLogIngest]], route it
    * through the full [[ClpPipeline]], and archive it once per Verify run. */
  private val FixtureLogPath =
    "/root/reference/components/core/tests/test_log_files/log.txt"
  /** Wildcard queries for the fixture search gate — all pure-substring
    * (`*lit*`) shapes so the DuckDB oracle is an exact `contains()` with no
    * LIKE-metacharacter escaping concerns; `\\` is the wildcard language's
    * escaped literal backslash. */
  private val FixtureQueries = Seq(
    "*MyDog123*", "* 1.9 GB *", "*statictext123*", "*123.123*",
    "*Static Text*", "*APet4123\\\\test.txt*", "*no such token here*")

  private def fixtureArchive(s: SparkSession): String =
    memo("reference-log-archive", FixtureLogPath) {
      withClp(s)
      val out = java.nio.file.Files.createTempDirectory("graft-ref-fixture").toString
      val turns = graft.pipeline.RawLogIngest.asTurns(
        graft.pipeline.RawLogIngest.read(s, FixtureLogPath))
      graft.pipeline.ClpPipeline.run(s, turns,
        graft.pipeline.ClpPipeline.Config(out, maxSinks = 2, saltParts = 2))
      out
    }

  /** Independent SQL re-derivation of the reference fixture's event split:
    * read the raw file bytes (read_text), mark boundary lines with the
    * fixture's two pattern shapes (absolute `Y-m-d H:M:S.mmm` and the
    * reference's leading-digit-run relative `%#3` — no leading zero), group
    * continuations under the preceding boundary, excise the matched span,
    * and keep both the excised text and the verbatim original lines. */
  private val sqlFixtureEventsCte: String =
    s"""WITH raw AS (SELECT string_split(content, chr(10)) AS a
       |  FROM read_text('$FixtureLogPath')),
       |fl AS (SELECT unnest(generate_series(1, len(a))) AS i,
       |  unnest(a) AS line, len(a) AS n FROM raw),
       |fx AS (SELECT i, line,
       |  regexp_matches(line, '^[0-9]{4}-[0-9]{2}-[0-9]{2} [0-9]{2}:[0-9]{2}:[0-9]{2}\\.[0-9]{3}') AS abs_ts,
       |  (NOT regexp_matches(line, '^[0-9]{4}-[0-9]{2}-[0-9]{2} [0-9]{2}:[0-9]{2}:[0-9]{2}\\.[0-9]{3}')
       |    AND regexp_matches(line, '^[1-9][0-9]*')) AS rel_ts
       |  FROM fl WHERE NOT (line = '' AND i = n)),
       |fg AS (SELECT *, CAST(sum(CASE WHEN abs_ts OR rel_ts THEN 1 ELSE 0 END)
       |    OVER (ORDER BY i) - 1 AS INT) AS event_idx FROM fx),
       |fe AS (SELECT event_idx,
       |  max(CASE WHEN abs_ts THEN epoch_ms(strptime(regexp_extract(line,
       |        '^([0-9]{4}-[0-9]{2}-[0-9]{2} [0-9]{2}:[0-9]{2}:[0-9]{2}\\.[0-9]{3})', 1),
       |        '%Y-%m-%d %H:%M:%S.%g'))
       |      WHEN rel_ts THEN CAST(regexp_extract(line, '^([0-9]+)', 1) AS BIGINT) END) AS epoch_ms,
       |  string_agg(CASE
       |      WHEN abs_ts THEN regexp_replace(line, '^[0-9]{4}-[0-9]{2}-[0-9]{2} [0-9]{2}:[0-9]{2}:[0-9]{2}\\.[0-9]{3}', '')
       |      WHEN rel_ts THEN regexp_replace(line, '^[0-9]+', '')
       |      ELSE line END, chr(10) ORDER BY i) AS text,
       |  md5(string_agg(line, chr(10) ORDER BY i)) AS rt_fp
       |  FROM fg GROUP BY event_idx)""".stripMargin

  val gates: Seq[Gate] = Seq(
    // ---- CLP operators on real tables (P4/P5/P7, A5) ----
    Gate("clp_roundtrip", (s, d) => {
      // P4+P5 gate: decode(encode(text)) == text byte-for-byte — counts match
      // the plain per-lang counts iff every row round-trips
      withClp(s)
      t(s, d, "documents")
        .withColumn("enc", clp_encode(col("text")))
        .withColumn("rt", clp_decode(col("enc.logtype"), col("enc.encoded_vars"), col("enc.dict_vars")))
        .filter(col("rt") === col("text"))
        .groupBy("lang").agg(count(lit(1)).as("n"))
        .orderBy("lang")
    },
      oracle = "SELECT lang, count(*) AS n FROM documents GROUP BY 1 ORDER BY 1"),
    Gate("clp_roundtrip_props", (s, d) => {
      // same gate over JSON-ish text with numeric variables
      withClp(s)
      t(s, d, "events")
        .withColumn("enc", clp_encode(col("props")))
        .withColumn("rt", clp_decode(col("enc.logtype"), col("enc.encoded_vars"), col("enc.dict_vars")))
        .filter(col("rt") === col("props"))
        .groupBy("event_type").agg(count(lit(1)).as("n"))
        .orderBy("event_type")
    },
      oracle = "SELECT event_type, count(*) AS n FROM events GROUP BY 1 ORDER BY 1"),
    Gate("clp_int_vars", (s, d) => {
      // encoded numeric variables extracted without decode (R12): the sum of
      // all int vars in props equals the sum of the JSON field
      withClp(s)
      t(s, d, "events")
        .withColumn("enc", clp_encode(col("props")))
        .select(col("event_type"), explode(col("enc.encoded_vars")).as("v"))
        .groupBy("event_type").agg(sum(col("v")).as("sum_vars"))
        .orderBy("event_type")
    },
      oracle = """SELECT event_type, CAST(sum(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS BIGINT) AS sum_vars
        |FROM events GROUP BY 1 ORDER BY 1""".stripMargin),
    Gate("clp_wildcard_search", (s, d) => {
      // P7 wildcard scan over text
      withClp(s)
      t(s, d, "documents")
        .filter(wildcard_match(col("text"), lit("*spark*window*")))
        .select("doc_id", "lang").orderBy("doc_id")
    },
      oracle = """SELECT doc_id, lang FROM documents
        |WHERE text LIKE '%spark%window%' ORDER BY doc_id""".stripMargin),
    Gate("regex_search", (s, d) => {
      // regex input → RegexToWildcard translation (substring config) → the
      // standard wildcard-match path; refusal would throw, so this gate also
      // proves the translation accepts the supported subset
      withClp(s)
      val wc = graft.search.RegexToWildcard.translate("spark.*window",
        graft.search.RegexToWildcard.Config(addPrefixSuffixWildcards = true))
        .fold(e => throw new IllegalArgumentException(e), identity)
      t(s, d, "documents")
        .filter(wildcard_match(col("text"), lit(wc)))
        .select("doc_id", "lang").orderBy("doc_id")
    },
      oracle = """SELECT doc_id, lang FROM documents
        |WHERE text LIKE '%spark%window%' ORDER BY doc_id""".stripMargin),
    Gate("clp_dict_size", (s, d) => {
      // A5 dictionary build: every row lands in exactly one logtype group —
      // the dict's counts sum back to the table count
      withClp(s)
      t(s, d, "documents")
        .withColumn("enc", clp_encode(col("text")))
        .groupBy(col("enc.logtype")).agg(count(lit(1)).as("cnt"))
        .agg(sum(col("cnt")).as("n"))
    },
      oracle = "SELECT count(*) AS n FROM documents"),
    Gate("ir_roundtrip", (s, d) => {
      // S5 IR-stream source/sink: per-source event streams are CLP-encoded
      // and serialized to the tag-byte IR wire format (ts deltas,
      // stream-local logtype dictionary), shipped as opaque binary blobs,
      // then deserialized and decoded — md5(text) must equal the original.
      // At scale each blob is one producer's stream (a partition), not a
      // driver-side collect.
      import s.implicits._
      val base = 1600000000000L
      val docs = t(s, d, "documents").select(col("source"), col("doc_id"), col("text"))
        .as[(String, Long, String)]
      // per-producer streams WITHOUT materializing any stream in memory:
      // shuffle on source, sort within partitions, then stream consecutive
      // same-source rows straight into the incremental serializer — memory
      // is bounded by one output blob, never by the largest producer's rows
      docs.repartition(col("source"))
        .sortWithinPartitions("source", "doc_id")
        .mapPartitions { rows =>
          val buf = rows.buffered
          new Iterator[Array[Byte]] {
            def hasNext: Boolean = buf.hasNext
            def next(): Array[Byte] = {
              val src = buf.head._1
              val evIt: Iterator[graft.core.IrStream.IrEvent] =
                new Iterator[graft.core.IrStream.IrEvent] {
                  def hasNext: Boolean = buf.hasNext && buf.head._1 == src
                  def next(): graft.core.IrStream.IrEvent = {
                    val (_, id, text) = buf.next()
                    graft.core.IrStream.IrEvent(base + id, graft.core.ClpEncoding.encode(text))
                  }
                }
              graft.core.IrStream.serialize(evIt)
            }
          }
        }
        .flatMap { bytes =>
          graft.core.IrStream.deserialize(bytes).map { ev =>
            (ev.tsMs - base, graft.core.ClpEncoding.decode(
              ev.encoded.logtype, ev.encoded.encodedVars, ev.encoded.dictVars))
          }
        }
        .toDF("doc_id", "text")
        .select(col("doc_id"), md5(col("text")).as("fp"))
        .orderBy("doc_id")
    },
      oracle = "SELECT doc_id, md5(text) AS fp FROM documents ORDER BY 1"),

    // ---- the full CLP pipeline as one driver-checkable identity ----
    Gate("clp_pipeline_route", (s, d) => {
      // parse→dict→enrich→route→aggregate over transcript-shaped documents;
      // per-sink counts must sum back to the input cardinality
      withClp(s)
      val turns = t(s, d, "documents").select(
        concat(lit("conv-"), (col("doc_id") % 50).cast("string")).as("conv_id"),
        (col("doc_id") / 50).cast("int").as("turn_idx"),
        col("lang").as("role"),
        col("text"),
        col("source").as("tool"),
        timestamp_millis(lit(1704067200000L) + col("doc_id") * 1000L).as("ts"))
      val out = java.nio.file.Files.createTempDirectory("graft-route").toString
      graft.pipeline.ClpPipeline.run(s, turns,
        graft.pipeline.ClpPipeline.Config(out, maxSinks = 8, saltParts = 8))
      s.read.parquet(s"$out/sink_stats")
        .agg(sum(col("n_rows")).cast("long").as("n"))
    },
      oracle = "SELECT CAST(count(*) AS BIGINT) AS n FROM documents"),

    // ---- encoded-domain search e2e (Q1-Q6, P12, P13, J1, R12 under gate) ----
    Gate("clp_search_e2e_var", (s, d) =>
      // exact int-variable subquery: " 503 " must match via tryEncodeInt +
      // subseq_match in the encoded domain (no text verify pass)
      searchGate(s, d, "* 503 *"),
      oracle = sqlSearchSelect(s"($sqlSearchText) LIKE '% 503 %'")),
    Gate("clp_search_e2e_dict", (s, d) =>
      // exact dictionary-variable subquery: `code=es` is an =-preceded alpha
      // token → var-dict probe → ID subsequence match
      searchGate(s, d, "* code=es *"),
      oracle = sqlSearchSelect(s"($sqlSearchText) LIKE '% code=es %'")),
    Gate("clp_search_e2e_wild", (s, d) =>
      // greedy mid-token '*': literal pieces span multiple message tokens —
      // loose-template fallback + decode + wildcard verify
      searchGate(s, d, "*spark*window*"),
      oracle = sqlSearchSelect(s"($sqlSearchText) LIKE '%spark%window%'")),
    Gate("clp_search_e2e_multivar", (s, d) =>
      // TWO ordered variables in one subquery (int then dict): the encoded
      // subsequence must respect order — P12 under the gate
      searchGate(s, d, "* 503 code=es *"),
      oracle = sqlSearchSelect(s"($sqlSearchText) LIKE '% 503 code=es %'")),
    Gate("clp_search_e2e_nocase", (s, d) =>
      // case-insensitive: dict probes become wildcard scans (imprecise var
      // sets) and the decoded-text verify applies the final case fold
      searchGate(s, d, "*SPARK*WINDOW*", caseSensitive = false),
      oracle = sqlSearchSelect(s"lower($sqlSearchText) LIKE '%spark%window%'")),
    Gate("clp_search_e2e_prune", (s, d) =>
      // absent dict token ⇒ WontMatch before any scan (R1): empty result
      searchGate(s, d, "* code=zz *"),
      oracle = sqlSearchSelect(s"($sqlSearchText) LIKE '% code=zz %'")),
    Gate("clp_search_e2e_ts", (s, d) =>
      // ts-range search consults the per-sink min/max index (R3) and applies
      // the inclusive range in the encoded domain
      searchGate(s, d, "* end",
        tsLo = Some(new java.sql.Timestamp(1704067200000L + 10000L)),
        tsHi = Some(new java.sql.Timestamp(1704067200000L + 30000L))),
      oracle = sqlSearchSelect("doc_id BETWEEN 10 AND 30")),
    Gate("clp_search_e2e_dict_ts", (s, d) =>
      // J2 segment-set ops under the gate: the dict-probe sink set is
      // INTERSECTED with the ts-admissible sink set before any scan, then
      // both constraints apply in the encoded domain
      searchGate(s, d, "* code=es *",
        tsLo = Some(new java.sql.Timestamp(1704067200000L + 5000L)),
        tsHi = Some(new java.sql.Timestamp(1704067200000L + 250000L))),
      oracle = sqlSearchSelect(
        s"($sqlSearchText) LIKE '% code=es %' AND doc_id BETWEEN 5 AND 250")),
    Gate("clp_search_limit", (s, d) =>
      // O1 limit under the gate: LIMIT pushed into the search plan
      // (CollectLimit, no full materialization); the truncated cardinality
      // must be min(limit, true match count) at every scale
      new graft.search.ClpSearch(s, searchArchive(s, d))
        .search("* code=es *", limit = Some(40))
        .agg(count(lit(1)).cast("long").as("n")),
      oracle = s"""SELECT CAST(least(40, (SELECT count(*) FROM documents
         |  WHERE ($sqlSearchText) LIKE '% code=es %')) AS BIGINT) AS n""".stripMargin),
    Gate("clp_search_e2e_countbytime", (s, d) => {
      // A2 under the gate: count-by-time buckets through the full search
      // lifecycle (bucket = floor(ts_ms / size) * size)
      new graft.search.ClpSearch(s, searchArchive(s, d))
        .countByTime("* end", 10000L)
        .select(col("bucket"), col("cnt"))
        .orderBy("bucket")
    },
      oracle = """SELECT CAST(floor((1704067200000 + doc_id*1000) / 10000) * 10000 AS BIGINT) AS bucket,
        |  count(*) AS cnt
        |FROM documents GROUP BY 1 ORDER BY 1""".stripMargin),
    Gate("clp_encoded_agg", (s, d) => {
      // analytics pushed into the ENCODED domain — the query the GLT paper
      // motivates per-variable column groups with (glt/ArchiveReader
      // column-group scan), re-expressed on the routed columnar archive:
      // per-role count/avg/min/max of the 'status' variable, read straight
      // out of the merged var stream by PLACEHOLDER POSITION. No message
      // text is ever decoded: the logtype dictionary (archive-metadata-
      // sized) broadcast-joins onto the scan, the status slot index is a
      // per-logtype string computation (placeholders before "status <int>"),
      // and element_at picks the int64 var — int vars encode as their value
      // (ClpEncoding.tryEncodeInt), so the aggregate runs on raw encoded
      // longs. Scan reads (role, logtype_id, vars) only; one partial/final
      // aggregate; plan-asserted decode-free in PlanQualitySpec.
      val arch = searchArchive(s, d)
      val lt = s.read.parquet(s"$arch/logtype_dict").select("logtype_id", "logtype")
      val ph = "" + graft.core.ClpEncoding.IntPlaceholder +
        graft.core.ClpEncoding.DictPlaceholder + graft.core.ClpEncoding.FloatPlaceholder
      val pfx = substring_index(col("logtype"),
        "status " + graft.core.ClpEncoding.IntPlaceholder, 1)
      val idx = length(pfx) - length(translate(pfx, ph, "")) + 1
      s.read.parquet(s"$arch/routed")
        .join(broadcast(lt), "logtype_id")
        .withColumn("status", element_at(col("vars"), idx.cast("int")))
        .groupBy(col("role"))
        .agg(count(lit(1)).as("n"),
          round(avg(col("status")), 4).as("avg_status"),
          min(col("status")).as("min_status"),
          max(col("status")).as("max_status"))
        .orderBy("role")
    },
      oracle = """SELECT lang AS role, count(*) AS n,
        |  round(avg((doc_id % 7) * 100 + 3), 4) AS avg_status,
        |  CAST(min((doc_id % 7) * 100 + 3) AS BIGINT) AS min_status,
        |  CAST(max((doc_id % 7) * 100 + 3) AS BIGINT) AS max_status
        |FROM documents GROUP BY 1 ORDER BY role""".stripMargin),
    Gate("clp_enrich_join", (s, d) =>
      // J4 enrichment join under the gate: the routed archive carries the
      // broadcast-joined (team, cost_class) dimension columns; aggregating
      // them back must match DuckDB's recomputation of the lookup rule
      s.read.parquet(s"${searchArchive(s, d)}/routed")
        .groupBy("team", "cost_class")
        .agg(count(lit(1)).cast("long").as("n"))
        .orderBy("team", "cost_class"),
      oracle = """SELECT 'team-' || lang AS team,
        |  CASE WHEN length(source) % 2 = 0 THEN 'premium' ELSE 'standard' END AS cost_class,
        |  CAST(count(*) AS BIGINT) AS n
        |FROM documents GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin),
    Gate("clp_sink_stats", (s, d) => {
      // A6 segment stats + partition lineage under the gate: the per-sink
      // stats table and the per-(sink, bucket) lineage table must BOTH sum
      // back to the exact input totals (rows, bytes, inclusive ts span)
      val arch = searchArchive(s, d)
      s.read.parquet(s"$arch/sink_stats")
        .agg(sum("n_rows").cast("long").as("n_rows"),
          sum("n_bytes").cast("long").as("n_bytes"),
          unix_millis(min("min_ts")).as("min_ts"),
          unix_millis(max("max_ts")).as("max_ts"))
        .crossJoin(s.read.parquet(s"$arch/lineage_partitions")
          .agg(sum("n_rows").cast("long").as("lineage_rows")))
    },
      oracle = s"""SELECT CAST(count(*) AS BIGINT) AS n_rows,
         |  CAST(sum(strlen($sqlSearchText)) AS BIGINT) AS n_bytes,
         |  CAST(min(1704067200000 + doc_id*1000) AS BIGINT) AS min_ts,
         |  CAST(max(1704067200000 + doc_id*1000) AS BIGINT) AS max_ts,
         |  CAST(count(*) AS BIGINT) AS lineage_rows
         |FROM documents""".stripMargin),
    Gate("clp_results_cache", (s, d) => {
      // S9 results-cache PERSISTENCE + retention (the reference's MongoDB
      // results cache and its search-result garbage collector): two search
      // jobs' result sets are committed to the cache with finished
      // timestamps two days apart, the sweep horizon falls between them —
      // job 1 must be dropped (metadata first, then data) and job 2 must
      // re-read byte-identically from its own lake snapshot. The returned
      // frame proves all three: the survivor's rows, the post-sweep job
      // count, and exactly which job ids this sweep retired.
      val root = java.nio.file.Files.createTempDirectory("graft-results").toString
      val arch = searchArchive(s, d)
      def run(q: String) = new graft.search.ClpSearch(s, arch)
        .search(q).select("conv_id", "turn_idx")
      graft.pipeline.ResultsCache.put(s, root, "1", run("* code=de *"),
        new java.sql.Timestamp(1704067200000L))
      graft.pipeline.ResultsCache.put(s, root, "2", run("* code=es *"),
        new java.sql.Timestamp(1704067200000L + 2L * 86400000L))
      val swept = graft.pipeline.ResultsCache
        .sweep(s, root, new java.sql.Timestamp(1704067200000L + 86400000L))
      graft.pipeline.ResultsCache.get(s, root, "2")
        .withColumn("n_jobs", lit(graft.pipeline.ResultsCache.jobs(s, root).size))
        .withColumn("swept", lit(swept.mkString(",")))
        .orderBy("conv_id", "turn_idx")
    },
      oracle = s"""SELECT $sqlSearchConv AS conv_id, CAST(doc_id // 50 AS INT) AS turn_idx,
         |  CAST(1 AS INT) AS n_jobs, '1' AS swept
         |FROM documents WHERE ($sqlSearchText) LIKE '% code=es %'
         |ORDER BY conv_id, turn_idx""".stripMargin),
    Gate("clp_extract_schema_mode", (s, d) => {
      // P6 schema-DFA (grok) mode under the gate: the SAME derived turns
      // compressed with an explicit tokenizer schema (named regex vars +
      // delimiters), then fully reconstructed — fingerprints must still be
      // byte-exact, proving the schema tokenizer round-trips
      withClp(s)
      val schema = graft.core.TokenizerSchema.parse(
        """delimiters: \s\t\r\n
          |int:\-{0,1}[0-9]+
          |equals:[a-zA-Z]+=[a-zA-Z0-9_\-]+
          |""".stripMargin)
      val out = java.nio.file.Files.createTempDirectory("graft-schema-arch").toString
      graft.pipeline.ClpPipeline.run(s, searchTurns(s, d),
        graft.pipeline.ClpPipeline.Config(out, maxSinks = 8, saltParts = 8,
          tokenizerSchema = Some(schema)))
      graft.search.Extract(s, out)
        .select(col("conv_id"), col("turn_idx"), md5(col("text")).as("fp"))
        .orderBy("conv_id", "turn_idx")
    },
      oracle = s"""SELECT $sqlSearchConv AS conv_id, CAST(doc_id // 50 AS INT) AS turn_idx,
         |  md5($sqlSearchText) AS fp
         |FROM documents ORDER BY conv_id, turn_idx""".stripMargin),
    Gate("clp_extract_e2e", (s, d) => {
      // O3 ordered reconstruction (clp x) under the gate: decode the whole
      // archive, stable (conv_id, turn_idx) order, byte-exact fingerprints
      graft.search.Extract(s, searchArchive(s, d))
        .select(col("conv_id"), col("turn_idx"), md5(col("text")).as("fp"))
        .orderBy("conv_id", "turn_idx")
    },
      oracle = s"""SELECT $sqlSearchConv AS conv_id, CAST(doc_id // 50 AS INT) AS turn_idx,
         |  md5($sqlSearchText) AS fp
         |FROM documents ORDER BY conv_id, turn_idx""".stripMargin),

    // ---- fleet catalog: archive prune by ts, dictionary Bloom, tags and
    // dataset namespace before any archive dir opens ----
    Gate("clp_catalog_search", (s, d) =>
      // fleet-level search (the reference's archive metadata DB): the
      // catalog prunes archives by ts BEFORE any archive dir is opened —
      // [130 s, 260 s] admits archives 1 and 2 of 4 — then each admissible
      // archive runs the full encoded-domain lifecycle; one union
      graft.pipeline.ClpCatalog.search(s, searchCatalog(s, d), "* code=es *",
          tsLo = Some(new java.sql.Timestamp(1704067200000L + 130000L)),
          tsHi = Some(new java.sql.Timestamp(1704067200000L + 260000L)))
        .select("conv_id", "turn_idx")
        .orderBy("conv_id", "turn_idx"),
      oracle = sqlSearchSelect(
        s"($sqlSearchText) LIKE '% code=es %' AND doc_id BETWEEN 130 AND 260")),
    Gate("clp_catalog_bloom_prune", (s, d) =>
      // fleet-level token pruning: the per-archive dictionary Bloom summary
      // in the catalog admits only archives that can contain the query's
      // exact dictionary tokens — "* job2 *" opens ONE of the 4 archives
      // (ClpCatalogSpec asserts the prune; this gate checks the surviving
      // archive still answers exactly). A Bloom false positive only costs
      // an extra archive open; a miss is definitive by construction.
      graft.pipeline.ClpCatalog.search(s, bloomCatalog(s, d), "* job2 *")
        .select("conv_id", "turn_idx")
        .orderBy("conv_id", "turn_idx"),
      oracle = sqlSearchSelect(s"($sqlBloomText) LIKE '% job2 %'")),
    Gate("clp_catalog_tags", (s, d) =>
      // tag-scoped fleet search (the reference's tags/archive_tags filter
      // in the query scheduler): tags=["early"] admits ONLY the archives
      // tagged "early" at ingest — the two older ts-quartiles — before any
      // archive dir opens; no time window needed to scope the search
      graft.pipeline.ClpCatalog.search(s, searchCatalog(s, d), "* code=es *",
          tags = Some(Seq("early")))
        .select("conv_id", "turn_idx")
        .orderBy("conv_id", "turn_idx"),
      oracle = sqlSearchSelect(
        s"($sqlSearchText) LIKE '% code=es %' AND least(doc_id // 125, 3) < 2")),
    Gate("clp_catalog_dataset", (s, d) =>
      // dataset-namespaced fleet (the reference's per-dataset metadata
      // tables + storage dirs): the deployment root registers datasets
      // "early"/"late", each a complete independent catalog; a search
      // scoped to "late" runs only inside that dataset's archives
      graft.pipeline.ClpCatalog.searchDataset(s, datasetRoot(s, d), "late",
          "* code=es *")
        .select("conv_id", "turn_idx")
        .orderBy("conv_id", "turn_idx"),
      oracle = sqlSearchSelect(
        s"($sqlSearchText) LIKE '% code=es %' AND least(doc_id // 125, 3) >= 2")),
    Gate("clp_catalog_search_batched", (s, d) =>
      // BOUNDED-plan full-fleet search (the reference scheduler's per-
      // archive-batch dispatch): batchSize=1 forces one driver step per
      // admissible archive — each step a 1-branch plan, executed and
      // released, matches appended to the result dir — and the accumulated
      // result must equal the single-union search under the same oracle.
      // At 10^4-archive scale this is the path a match-all query takes;
      // ClpCatalogSpec asserts plan-fanout refusal + batch ≡ union at
      // every batch size.
      graft.pipeline.ClpCatalog.searchBatched(s, searchCatalog(s, d), "* code=es *",
          tsLo = Some(new java.sql.Timestamp(1704067200000L + 130000L)),
          tsHi = Some(new java.sql.Timestamp(1704067200000L + 260000L)),
          batchSize = 1)
        .select("conv_id", "turn_idx")
        .orderBy("conv_id", "turn_idx"),
      oracle = sqlSearchSelect(
        s"($sqlSearchText) LIKE '% code=es %' AND doc_id BETWEEN 130 AND 260")),

    // ---- raw log and archive-container ingest, and the reference's own
    // parser fixture ----
    Gate("archive_ingest_e2e", (s, d) => {
      // S2 archive input under the gate: the same per-source log files as
      // raw_ingest_e2e, but packed into a .zip and a .tar.gz container;
      // entries stream through the identical split path, so the oracle is
      // the same recomputation keyed by entry name
      val dir = java.nio.file.Files.createTempDirectory("graft-archives")
      val fmt = java.time.format.DateTimeFormatter.ofPattern("yyyy-MM-dd HH:mm:ss")
        .withZone(java.time.ZoneOffset.UTC)
      val bySource = t(s, d, "documents").select("source", "doc_id", "text").collect()
        .groupBy(_.getString(0)).toSeq.sortBy(_._1)
      def entryBytes(rows: Array[org.apache.spark.sql.Row]): Array[Byte] =
        rows.sortBy(_.getLong(1)).map { r =>
          fmt.format(java.time.Instant.ofEpochMilli(1704067200000L + r.getLong(1) * 1000L)) +
            " " + r.getString(2)
        }.mkString("\n").getBytes(java.nio.charset.StandardCharsets.UTF_8)
      val (zipHalf, tarHalf) = bySource.zipWithIndex.partition(_._2 % 2 == 0)
      val zout = new java.util.zip.ZipOutputStream(
        java.nio.file.Files.newOutputStream(dir.resolve("logs_a.zip")))
      zipHalf.foreach { case ((src, rows), _) =>
        zout.putNextEntry(new java.util.zip.ZipEntry(s"$src.log"))
        zout.write(entryBytes(rows)); zout.closeEntry()
      }
      zout.close()
      val tout = new org.apache.commons.compress.archivers.tar.TarArchiveOutputStream(
        new java.util.zip.GZIPOutputStream(
          java.nio.file.Files.newOutputStream(dir.resolve("logs_b.tar.gz"))))
      tarHalf.foreach { case ((src, rows), _) =>
        val b = entryBytes(rows)
        val e = new org.apache.commons.compress.archivers.tar.TarArchiveEntry(s"$src.log")
        e.setSize(b.length.toLong)
        tout.putArchiveEntry(e); tout.write(b); tout.closeArchiveEntry()
      }
      tout.close()
      graft.pipeline.ArchiveIngest.read(s, dir.toString)
        .select(col("file"), col("event_idx"), col("epoch_ms"), md5(col("text")).as("fp"))
        .orderBy("file", "event_idx")
    },
      oracle = """SELECT source || '.log' AS file,
        |  CAST(row_number() OVER (PARTITION BY source ORDER BY doc_id) - 1 AS INT) AS event_idx,
        |  1704067200000 + doc_id * 1000 AS epoch_ms,
        |  md5(' ' || text) AS fp
        |FROM documents ORDER BY file, event_idx""".stripMargin),
    Gate("raw_ingest_e2e", (s, d) => {
      // P1-P3 under the gate: deterministic raw log files (one per source,
      // lines = "<formatted ts> <text>") split on timestamp boundaries with
      // the ts excised and parsed to epoch ms; the oracle recomputes file,
      // event index, epoch, and the post-excision fingerprint from documents
      val logDir = java.nio.file.Files.createTempDirectory("graft-rawlogs")
      val fmt = java.time.format.DateTimeFormatter.ofPattern("yyyy-MM-dd HH:mm:ss")
        .withZone(java.time.ZoneOffset.UTC)
      t(s, d, "documents").select("source", "doc_id", "text").collect()
        .groupBy(_.getString(0))
        .foreach { case (src, rows) =>
          val lines = rows.sortBy(_.getLong(1)).map { r =>
            val epoch = 1704067200000L + r.getLong(1) * 1000L
            fmt.format(java.time.Instant.ofEpochMilli(epoch)) + " " + r.getString(2)
          }
          java.nio.file.Files.write(logDir.resolve(s"$src.log"),
            lines.mkString("\n").getBytes(java.nio.charset.StandardCharsets.UTF_8))
        }
      graft.pipeline.RawLogIngest.read(s, logDir.toString)
        .select(col("file"), col("event_idx"), col("epoch_ms"), md5(col("text")).as("fp"))
        .orderBy("file", "event_idx")
    },
      oracle = """SELECT source || '.log' AS file,
        |  CAST(row_number() OVER (PARTITION BY source ORDER BY doc_id) - 1 AS INT) AS event_idx,
        |  1704067200000 + doc_id * 1000 AS epoch_ms,
        |  md5(' ' || text) AS fp
        |FROM documents ORDER BY file, event_idx""".stripMargin),
    Gate("raw_ingest_reference_fixture", (s, _) => {
      // P1-P3 + P4/P5 + O3 on REFERENCE-AUTHORED text: split the parser
      // suite's own log.txt on the timestamp-boundary rule, encode through
      // the full pipeline, decode via Extract, and re-splice the formatted
      // timestamp (ts_pattern_format = P3, the byte-exact inverse). `fp`
      // proves the excised event text survives encode→decode byte-exact;
      // `rt_fp` proves the ORIGINAL file lines reconstruct byte-exact
      // through split→format. The oracle re-derives the boundary split
      // from the raw file bytes in SQL (read_text + the fixture's two
      // pattern shapes: absolute ms timestamps and the leading-digit-run
      // relative pattern), so no expected value is transcribed anywhere.
      withClp(s)
      val ing = graft.pipeline.RawLogIngest.read(s, FixtureLogPath)
      val ext = graft.search.Extract(s, fixtureArchive(s))
        .select(col("turn_idx"), col("text").as("dtext"))
      ing.join(ext, col("event_idx") === col("turn_idx"))
        .select(col("event_idx"), col("epoch_ms"),
          md5(col("dtext")).as("fp"),
          md5(concat(
            col("dtext").substr(lit(1), col("ts_begin")),
            when(col("pattern_id") >= 0,
              ts_pattern_format(col("pattern_id"), col("epoch_ms")))
              .otherwise(lit("")),
            col("dtext").substr(col("ts_begin") + 1, length(col("dtext")))))
            .as("rt_fp"))
        .orderBy("event_idx")
    },
      oracle = s"""$sqlFixtureEventsCte
         |SELECT event_idx, epoch_ms, md5(text) AS fp, rt_fp
         |FROM fe ORDER BY event_idx""".stripMargin),
    Gate("clp_search_reference_fixture", (s, _) => {
      // The full search lifecycle (Q1-Q5, P7, P12-P13, J1) over the
      // reference's own fixture: each wildcard query runs the real dict
      // probe → encoded-domain match → decode-verify path against the
      // archived fixture; the oracle is a substring scan over the
      // independently re-split events. Queries cover a dict var, a
      // float var inside static text, an int+unit span, pure static
      // text, a backslashed path token, and a guaranteed miss.
      withClp(s)
      val engine = new graft.search.ClpSearch(s, fixtureArchive(s))
      FixtureQueries.map { q =>
        engine.search(q).select(lit(q).as("q"), col("turn_idx").as("event_idx"))
      }.reduce(_.unionAll(_)).orderBy("q", "event_idx")
    },
      oracle = s"""$sqlFixtureEventsCte,
         |fq AS (SELECT * FROM (VALUES
         |  ('*MyDog123*', 'MyDog123'),
         |  ('* 1.9 GB *', ' 1.9 GB '),
         |  ('*statictext123*', 'statictext123'),
         |  ('*123.123*', '123.123'),
         |  ('*Static Text*', 'Static Text'),
         |  ('*APet4123\\\\test.txt*', 'APet4123\\test.txt'),
         |  ('*no such token here*', 'no such token here')) v(q, needle))
         |SELECT fq.q AS q, fe.event_idx
         |FROM fq JOIN fe ON contains(fe.text, fq.needle)
         |ORDER BY q, event_idx""".stripMargin),
  )
}
