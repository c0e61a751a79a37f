package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.functions.ClpFunctions
import graft.functions.ClpFunctions._

/**
 * Operator-coverage queries over the driver-generated test tables, each with
 * a DuckDB-expressible oracle (see [[SparkEntry.oracleSql]]). Names map to
 * SURVEY §2 operator IDs (noted per query).
 *
 * Numeric discipline for hash-exact oracle compare: money/metric sums go
 * through `cents()` (round → bigint) so both engines sum exact integers —
 * double summation order is not reproducible across engines.
 */
object GraftQueries {

  private def t(spark: SparkSession, dir: String, name: String): DataFrame =
    spark.read.parquet(s"$dir/$name.parquet")

  private def cents(c: Column): Column = round(c * 100).cast("long")

  private def withClp(spark: SparkSession): SparkSession = {
    ClpFunctions.register(spark); spark
  }

  /** Cross-engine token hash: first 15 hex chars of md5 as int64 (computable
    * identically in DuckDB: CAST('0x'||substr(md5(s),1,15) AS BIGINT)).
    * One fused expression (digest → 60-bit long, no hex-string round trip)
    * because the curation gates evaluate it inside interpreted HOF lambdas —
    * ClpExpressionsSpec pins it bit-equal to the 3-expression Spark chain. */
  private def mdHash(c: Column): Column = ClpFunctions.md5_prefix64(c)

  /** 3-gram word shingles (1-based element_at matches DuckDB list indexing).
    * Guarded for <3 tokens: sequence(1, 0) would auto-step -1 in Spark while
    * DuckDB's generate_series yields an empty list — match the empty-series
    * semantics (and avoid element_at index errors). */
  private[graft] def shingles(words: Column): Column =
    when(size(words) >= 3,
      transform(sequence(lit(1), size(words) - 2), i =>
        concat_ws(" ", element_at(words, i), element_at(words, i + 1), element_at(words, i + 2))))
      .otherwise(array().cast("array<string>"))

  private val MinhashFns: Seq[(Int, Int)] = Seq((7, 3), (11, 5), (13, 17), (19, 23))
  // ~2^40-scale primes: the band key IS the signature value (r=1 demo
  // bands), so the key domain must outgrow any corpus this family will
  // band — at a 10^6 domain the candidate-pair count grows as n^2/10^6
  // (the 10x scale probe measured the pair gate quadratic: 50k docs x 4
  // bands = 5M accidental bucket collisions before any true near-dup).
  // int64-safe: a <= 19, so a*(h%P1)+b < 2^45; both engines do exact
  // BIGINT arithmetic. The production 128-fn family (Dedup.minhashFamily)
  // bands r=2 rows, squaring its effective key domain instead.
  private val MinhashP1 = 999999999989L
  private val MinhashMod = 999999999961L

  /** The doc's distinct shingles as 60-bit mdHash values — md5 computed
    * ONCE per distinct shingle. Everything MinHash-shaped derives from
    * these 8-byte values: the signature fold is pure arithmetic, and the
    * pair-verify kernel intersects hashed arrays instead of shipping raw
    * 3-word shingle strings through a shuffle (cross-doc hash collisions
    * at 2^60 are ~1e-14; the DuckDB oracle computes the identical hashed
    * kernel). MinHash over a multiset equals MinHash over its distinct
    * set, so signatures are unchanged by the dedup. The 10× scale probe
    * motivated this shape: the previous per-function interpreted-HOF md5
    * made the pair gate the one superlinear entry (23× wall, 916 MB
    * spill from string arrays riding the verify shuffle). */
  private def hashedShingles(sh: Column): Column =
    transform(array_distinct(sh), s => mdHash(s))

  /** All demo-family signatures in ONE fold over the hashed shingles
    * (array accumulator — a per-function fold would re-evaluate the
    * interpreted HOF, and with it the md5 pass, once per function).
    * Element j is mh_j; an empty shingle set yields all-null elements,
    * matching the oracle's list_aggregate(…,'min') over an empty list
    * (a MaxValue sentinel would co-sign every short doc). */
  private def minhashFold(hd: Column): Column =
    aggregate(hd,
      array(MinhashFns.map(_ => lit(Long.MaxValue)): _*),
      (acc, h) => array(MinhashFns.zipWithIndex.map { case ((a, b), j) =>
        least(element_at(acc, j + 1),
          (lit(a.toLong) * (h % MinhashP1) + lit(b.toLong)) % MinhashMod)
      }: _*))

  private val minhashNulls: Column =
    array(MinhashFns.map(_ => lit(null).cast("bigint")): _*)

  private def minhashSigsFromHashed(hd: Column): Column =
    when(size(hd) > 0, minhashFold(hd)).otherwise(minhashNulls)

  private def minhashSigs(sh: Column): Column =
    // guard on the raw shingle count: size(hashedShingles(sh)) would pay
    // the md5 pass a second time just to decide emptiness
    when(size(sh) > 0, minhashFold(hashedShingles(sh))).otherwise(minhashNulls)

  /** Verified near-dup pairs: exact 3-gram Jaccard ≥ 0.2 over all doc pairs
    * — the shared kernel behind `dedup_ngram_jaccard` (the pair gate) and
    * `dedup_clusters` (components over the pair graph). */
  private def ngramJaccardPairs(s: SparkSession, d: String): DataFrame = {
    val docs = t(s, d, "documents")
      .select(col("doc_id"), array_distinct(shingles(split(col("text"), " "))).as("sh"))
    val a = docs.select(col("doc_id").as("a_id"), col("sh").as("a_sh"))
    val b = docs.select(col("doc_id").as("b_id"), col("sh").as("b_sh"))
    a.crossJoin(b).filter(col("a_id") < col("b_id"))
      .withColumn("j", round(
        size(array_intersect(col("a_sh"), col("b_sh"))).cast("double") /
          size(array_union(col("a_sh"), col("b_sh"))).cast("double"), 4))
      .filter(col("j") >= 0.2)
  }

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

  /** One routed archive per input dir per JVM — shared by every search-gate
    * query in a Verify run. */
  private val archiveCache = scala.collection.mutable.Map.empty[String, String]
  private def searchArchive(s: SparkSession, d: String): String = archiveCache.synchronized {
    archiveCache.getOrElseUpdate(d, {
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
    })
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
    * Verify run (the corpora are tiny; the cache only avoids re-routing
    * across gates). */
  private def jsonFixtureArchive(s: SparkSession, name: String): String =
    archiveCache.synchronized {
      archiveCache.getOrElseUpdate(s"__json_fixture_$name", {
        import s.implicits._
        val out =
          java.nio.file.Files.createTempDirectory("graft-ref-jsonfix").toString
        val df = fixtureJsonLines(name).zipWithIndex
          .map { case (l, i) => (i.toLong, l) }.toDF("line_idx", "json")
        graft.pipeline.JsonPipeline.route(s, df, "json", out,
          options = graft.pipeline.JsonPipeline.Options(
            orderCol = Some("line_idx"), retainFloatFormat = true))
        out
      })
    }

  private def fixtureArchive(s: SparkSession): String = archiveCache.synchronized {
    archiveCache.getOrElseUpdate("__reference_fixture__", {
      withClp(s)
      val out = java.nio.file.Files.createTempDirectory("graft-ref-fixture").toString
      val turns = graft.pipeline.RawLogIngest.asTurns(
        graft.pipeline.RawLogIngest.read(s, FixtureLogPath))
      graft.pipeline.ClpPipeline.run(s, turns,
        graft.pipeline.ClpPipeline.Config(out, maxSinks = 2, saltParts = 2))
      out
    })
  }

  /** The IVF train→index→probe→score pipeline shared by the `knn_ivf`
    * (nProbe=2, pruned) and `knn_ivf_all` (nProbe=nlist ≡ brute force)
    * entries — only the probed cell set differs. Both gates run `iters = 0`:
    * the centroids are the deterministic SEEDS (normalized embeddings of the
    * nlist lowest ids), so the whole index — assignment argmax, probe set,
    * pruned scan, exact re-rank — is recomputable by the DuckDB oracle
    * (Lloyd rounds are not SQL-expressible; the TRAINED path is covered by
    * KnnIvfSpec at iters = 3, which also asserts assignment ≡ local mirror
    * and recall monotonicity). */
  private def ivfTopK(s: SparkSession, d: String, nProbe: Int): DataFrame = {
    val e = t(s, d, "embeddings")
    val centroids = KnnIvf.trainCentroids(e, "vec_id", "embedding", nlist = 8, iters = 0)
    val qVec = e.filter(col("vec_id") === 0).select(col("embedding"))
      .head().getSeq[Float](0).map(_.toDouble).toArray
    val cells = KnnIvf.probeCells(qVec, centroids, nProbe)
    val idx = KnnIvf.index(e.filter(col("vec_id") =!= 0), "embedding", centroids)
    val q = e.filter(col("vec_id") === 0).select(col("embedding").as("q_emb"))
    idx.filter(col("cell").isin(cells.map(Int.box).toIndexedSeq: _*))
      .crossJoin(broadcast(q))
      .withColumn("score", round(
        vec_dot(col("embedding"), col("q_emb")) /
          (sqrt(vec_dot(col("embedding"), col("embedding"))) *
           sqrt(vec_dot(col("q_emb"), col("q_emb")))), 4))
      .select("vec_id", "score")
      .orderBy(desc("score"), asc("vec_id")).limit(5)
  }

  /** Streaming-gate scaffold shared by every stream_* query: expose the
    * single parquet file through a temp-dir symlink (the file-stream source
    * needs a directory), run `transform` on the stream, drain it into a
    * uniquely-named memory sink, and return the materialized table. */
  private def streamGate(s: SparkSession, d: String, table: String, mode: String)
                        (transform: DataFrame => DataFrame): DataFrame = {
    val schema = t(s, d, table).schema
    val streamDir = java.nio.file.Files.createTempDirectory("graft-stream")
    java.nio.file.Files.createSymbolicLink(
      streamDir.resolve(s"$table.parquet"),
      java.nio.file.Paths.get(s"$d/$table.parquet"))
    val sdf = s.readStream.schema(schema).parquet(streamDir.toString)
    val qname = "stream_" + java.util.UUID.randomUUID.toString.replace("-", "")
    val q = transform(sdf).writeStream
      .outputMode(mode).format("memory").queryName(qname).start()
    // materialize, then release the per-invocation resources — repeated
    // gate runs in one JVM must not accumulate memory-sink tables (which
    // pin every matched row) or graft-stream temp dirs; the cleanup runs
    // even when the stream itself fails
    try {
      try q.processAllAvailable() finally q.stop()
      val sink = s.table(qname)
      s.createDataFrame(java.util.Arrays.asList(sink.collect(): _*), sink.schema)
    } finally {
      s.catalog.dropTempView(qname)
      java.nio.file.Files.deleteIfExists(streamDir.resolve(s"$table.parquet"))
      java.nio.file.Files.deleteIfExists(streamDir)
    }
  }

  /** One 4-archive catalog per input dir per JVM — the fleet-metadata layer
    * ([[graft.pipeline.ClpCatalog]]): archives sliced on ts quartiles
    * (doc_id ≡ seconds since the base epoch), so each archive owns a
    * contiguous 125 s span and the catalog can prune by time. */
  private val catalogCache = scala.collection.mutable.Map.empty[String, String]
  private def searchCatalog(s: SparkSession, d: String): String = catalogCache.synchronized {
    catalogCache.getOrElseUpdate(d, {
      withClp(s)
      val out = java.nio.file.Files.createTempDirectory("graft-catalog").toString
      val slice = least(
        floor((unix_millis(col("ts")) - 1704067200000L) / 125000L), lit(3L))
      // user tags per archive (the reference's archive_tags table): the two
      // older quartiles are "early", the newer two "late" — drives the
      // tag-scoped fleet search gate; untag-scoped searches ignore them
      graft.pipeline.ClpCatalog.ingest(s, searchTurns(s, d), slice, out,
        tagsFor = sl => Seq("all", if (sl.toInt < 2) "early" else "late"))
      out
    })
  }

  /** Fleet fixture for the dictionary-Bloom catalog prune: the searchTurns
    * corpus with one slice-specific dictionary token appended ("job0".."job3"
    * — letter+digit, so it lands in each archive's var dictionary, never the
    * encoded-int stream), sliced into 4 archives exactly like
    * [[searchCatalog]]. A token query then distinguishes archives by
    * dictionary CONTENT, which the shared-vocabulary searchCatalog fixture
    * cannot (all 4 of its archives carry the same 5 lang tokens). */
  private val bloomCatalogCache = scala.collection.mutable.Map.empty[String, String]
  private def bloomCatalog(s: SparkSession, d: String): String = bloomCatalogCache.synchronized {
    bloomCatalogCache.getOrElseUpdate(d, {
      withClp(s)
      val out = java.nio.file.Files.createTempDirectory("graft-bloomcat").toString
      val slice = least(
        floor((unix_millis(col("ts")) - 1704067200000L) / 125000L), lit(3L))
      val turns = searchTurns(s, d)
        .withColumn("text",
          concat(col("text"), lit(" job"), slice.cast("string"), lit(" fin")))
      graft.pipeline.ClpCatalog.ingest(s, turns, slice, out)
      out
    })
  }

  /** Deployment root with TWO registered dataset namespaces ("early" =
    * ts-quartiles 0-1 of the corpus, "late" = quartiles 2-3), each its own
    * complete 2-archive catalog — the reference's per-dataset metadata
    * tables + per-dataset archive storage. */
  private val datasetRootCache = scala.collection.mutable.Map.empty[String, String]
  private def datasetRoot(s: SparkSession, d: String): String =
    datasetRootCache.synchronized {
      datasetRootCache.getOrElseUpdate(d, {
        withClp(s)
        val root = java.nio.file.Files.createTempDirectory("graft-datasets").toString
        val quart = least(
          floor((unix_millis(col("ts")) - 1704067200000L) / 125000L), lit(3L))
        val turns = searchTurns(s, d)
        graft.pipeline.ClpCatalog.ingest(s, turns.filter(quart < 2), quart,
          graft.pipeline.ClpCatalog.addDataset(s, root, "early"))
        graft.pipeline.ClpCatalog.ingest(s, turns.filter(quart >= 2), quart,
          graft.pipeline.ClpCatalog.addDataset(s, root, "late"))
        root
      })
    }

  /** Fleet of four JSON archives sliced by the generator's schema variant
    * (doc_id % 4) so each archive holds exactly one MPT shape — the
    * column-set prune ([[graft.pipeline.ClpCatalog.appendJsonEntry]]'s
    * `columns` summary) can then prove it opens only archives carrying the
    * queried column. */
  private val jsonFleetCache = scala.collection.mutable.Map.empty[String, String]
  private def jsonFleet(s: SparkSession, d: String): String =
    jsonFleetCache.synchronized {
      jsonFleetCache.getOrElseUpdate(d, {
        val out = java.nio.file.Files.createTempDirectory("graft-json-fleet").toString
        graft.pipeline.ClpCatalog.ingestJson(s, jsonlDocs(s, d), "json",
          col("doc_id") % 4, out,
          options = graft.pipeline.JsonPipeline.Options(
            timestampKey = Some("ts"), orderCol = Some("doc_id")))
        out
      })
    }

  /** DuckDB twin of [[bloomCatalog]]'s text column. */
  private val sqlBloomText =
    s"($sqlSearchText) || ' job' || CAST(least(doc_id // 125, 3) AS VARCHAR) || ' fin'"

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

  private val jsonArchiveCache = scala.collection.mutable.Map.empty[String, String]
  private def jsonArchive(s: SparkSession, d: String): String = jsonArchiveCache.synchronized {
    jsonArchiveCache.getOrElseUpdate(d, {
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
    })
  }

  private val lakeTableCache = scala.collection.mutable.Map.empty[String, String]
  private def lakeDocsTable(s: SparkSession, d: String): String =
    lakeTableCache.synchronized {
      lakeTableCache.getOrElseUpdate(d, {
        val out = java.nio.file.Files.createTempDirectory("graft-lake-docs").toString
        val docs = t(s, d, "documents").select(col("doc_id"), col("text"))
        // two commits: evens land in snapshot 1, odds arrive in snapshot 2 —
        // the time-travel gate reads v1 and must not see the later commit
        graft.pipeline.LakeTable.append(s, out, docs.filter(col("doc_id") % 2 === 0))
        graft.pipeline.LakeTable.append(s, out, docs.filter(col("doc_id") % 2 === 1))
        out
      })
    }

  private val jsonStructArchiveCache = scala.collection.mutable.Map.empty[String, String]
  private def jsonStructArchive(s: SparkSession, d: String): String =
    jsonStructArchiveCache.synchronized {
      jsonStructArchiveCache.getOrElseUpdate(d, {
        val out = java.nio.file.Files.createTempDirectory("graft-json-struct").toString
        graft.pipeline.JsonPipeline.route(s, jsonlDocs(s, d), "json", out,
          options = graft.pipeline.JsonPipeline.Options(
            timestampKey = Some("ts"), structurizeArrays = true, orderCol = Some("doc_id")))
        out
      })
    }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // ---- clp_s structured-JSON pipeline (S4/S7, MPT schema discovery) ----
    "jsonl_structurize_route" -> ((s, d) => {
      // --structurize-arrays mode: the array shape gains StructuredArray +
      // element child nodes, so schema identity is finer-grained
      // (JsonParser.cpp:477-495); the oracle recomputes the structurized
      // descriptors from the generator rule
      val out = jsonStructArchive(s, d)
      s.read.parquet(s"$out/schemas")
        .select(col("schema_id"), col("n_records")).orderBy("schema_id")
    }),
    "jsonl_schema_route" -> ((s, d) => {
      // per-record shape discovery → schema_id dedup → per-schema routing;
      // the oracle recomputes each shape's canonical descriptor hash from
      // the generator rule, so ids AND counts must both match
      val out = jsonArchive(s, d)
      s.read.parquet(s"$out/schemas")
        .select(col("schema_id"), col("n_records")).orderBy("schema_id")
    }),
    "jsonl_schema_tree" -> ((s, d) => {
      // the merged parse tree (MPT): union of discovered typed leaves with
      // deterministic dense node ids
      val out = jsonArchive(s, d)
      s.read.parquet(s"$out/schema_tree")
        .select("node_id", "path", "node_type").orderBy("node_id")
    }),
    "kvir_roundtrip" -> ((s, d) => {
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
    }),

    "jsonl_kql_nested" -> ((s, d) => {
      // KQL with a wildcard column path resolved against DISCOVERED schemas
      // (Q9/SchemaMatch): `*.lang` binds to the nested meta.lang leaf of the
      // one schema that has it; schemas lacking the path contribute nothing
      val out = jsonArchive(s, d)
      graft.pipeline.JsonPipeline
        .kqlSearch(s, out, "*.lang : en AND k >= 50", Seq("id"))
        .orderBy("id")
    }),
    "lake_time_travel" -> ((s, d) => {
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
    }),
    "jsonl_ts_range" -> ((s, d) => {
      // first-class timestamps: tge/tle injected from the API range
      // (AddTimestampConditions) + per-schema min/max range-index pruning
      // (EvaluateTimestampIndex); window = 2024-01-01 02:00-03:59 UTC
      val out = jsonArchive(s, d)
      graft.pipeline.JsonPipeline
        .kqlSearch(s, out, "msg: *", Seq("id"),
          tsLo = Some(1704074400000L), tsHi = Some(1704081540000L))
        .orderBy("id")
    }),
    "jsonl_count_by_time" -> ((s, d) => {
      // aggregation over the JSON search path: hourly count of `level:info`
      // records (the clp_s count-by-time output handler over KQL results)
      val out = jsonArchive(s, d)
      graft.pipeline.JsonPipeline
        .kqlSearch(s, out, "level: info", Seq("$_ts"))
        .groupBy((floor(col("`$_ts`") / 3600000L)).cast("long").as("bucket"))
        .agg(count(lit(1)).as("n"))
        .orderBy("bucket")
    }),
    "jsonl_extract_e2e" -> ((s, d) => {
      // ordered reconstruction (`clp-s x` construct_in_order): re-serialize
      // every record from its typed leaves, globally sorted by
      // log_event_idx; md5 per record vs the oracle's recomputation of the
      // generator JSON proves byte-exactness
      val out = jsonArchive(s, d)
      graft.pipeline.JsonPipeline.extract(s, out)
        .select(col("log_event_idx"), md5(col("json")).as("fp"))
        .orderBy("log_event_idx")
    }),
    "jsonl_range_index" -> ((s, d) => {
      // `$`-namespace filter evaluated against the archive range index at
      // PLAN time (EvaluateRangeIndexFilters): the filename wildcard selects
      // matching [s,e) log_event_idx spans, injected as a parquet-pushable
      // range predicate; the stored metadata column keeps it exact
      val out = jsonArchive(s, d)
      graft.pipeline.JsonPipeline
        .kqlSearch(s, out, """$_filename: "logs/*1.jsonl" AND level: info""",
          Seq("id", "$_filename"))
        .orderBy("id")
    }),
    "jsonl_projection" -> ((s, d) => {
      // wildcard projection (clp_s search/Projection.cpp): `meta.*` binds
      // per schema; schemas lacking the columns contribute nulls, never get
      // silently dropped
      val out = jsonArchive(s, d)
      graft.pipeline.JsonPipeline
        .kqlSearch(s, out, "k >= 50", Seq("id", "meta.*"))
        .orderBy("id")
    }),

    // ---- encoded-domain search e2e (Q1-Q6, P12, P13, J1, R12 under gate) ----
    "clp_search_e2e_var" -> ((s, d) =>
      // exact int-variable subquery: " 503 " must match via tryEncodeInt +
      // subseq_match in the encoded domain (no text verify pass)
      searchGate(s, d, "* 503 *")),
    "clp_search_e2e_dict" -> ((s, d) =>
      // exact dictionary-variable subquery: `code=es` is an =-preceded alpha
      // token → var-dict probe → ID subsequence match
      searchGate(s, d, "* code=es *")),
    "clp_search_e2e_wild" -> ((s, d) =>
      // greedy mid-token '*': literal pieces span multiple message tokens —
      // loose-template fallback + decode + wildcard verify
      searchGate(s, d, "*spark*window*")),
    "clp_search_e2e_multivar" -> ((s, d) =>
      // TWO ordered variables in one subquery (int then dict): the encoded
      // subsequence must respect order — P12 under the gate
      searchGate(s, d, "* 503 code=es *")),
    "clp_search_e2e_nocase" -> ((s, d) =>
      // case-insensitive: dict probes become wildcard scans (imprecise var
      // sets) and the decoded-text verify applies the final case fold
      searchGate(s, d, "*SPARK*WINDOW*", caseSensitive = false)),
    "clp_search_e2e_prune" -> ((s, d) =>
      // absent dict token ⇒ WontMatch before any scan (R1): empty result
      searchGate(s, d, "* code=zz *")),
    "clp_search_e2e_ts" -> ((s, d) =>
      // ts-range search consults the per-sink min/max index (R3) and applies
      // the inclusive range in the encoded domain
      searchGate(s, d, "* end",
        tsLo = Some(new java.sql.Timestamp(1704067200000L + 10000L)),
        tsHi = Some(new java.sql.Timestamp(1704067200000L + 30000L)))),
    "clp_search_e2e_dict_ts" -> ((s, d) =>
      // J2 segment-set ops under the gate: the dict-probe sink set is
      // INTERSECTED with the ts-admissible sink set before any scan, then
      // both constraints apply in the encoded domain
      searchGate(s, d, "* code=es *",
        tsLo = Some(new java.sql.Timestamp(1704067200000L + 5000L)),
        tsHi = Some(new java.sql.Timestamp(1704067200000L + 250000L)))),
    "clp_catalog_search" -> ((s, d) =>
      // fleet-level search (the reference's archive metadata DB): the
      // catalog prunes archives by ts BEFORE any archive dir is opened —
      // [130 s, 260 s] admits archives 1 and 2 of 4 — then each admissible
      // archive runs the full encoded-domain lifecycle; one union
      graft.pipeline.ClpCatalog.search(s, searchCatalog(s, d), "* code=es *",
          tsLo = Some(new java.sql.Timestamp(1704067200000L + 130000L)),
          tsHi = Some(new java.sql.Timestamp(1704067200000L + 260000L)))
        .select("conv_id", "turn_idx")
        .orderBy("conv_id", "turn_idx")),
    "clp_catalog_bloom_prune" -> ((s, d) =>
      // fleet-level token pruning: the per-archive dictionary Bloom summary
      // in the catalog admits only archives that can contain the query's
      // exact dictionary tokens — "* job2 *" opens ONE of the 4 archives
      // (ClpCatalogSpec asserts the prune; this gate checks the surviving
      // archive still answers exactly). A Bloom false positive only costs
      // an extra archive open; a miss is definitive by construction.
      graft.pipeline.ClpCatalog.search(s, bloomCatalog(s, d), "* job2 *")
        .select("conv_id", "turn_idx")
        .orderBy("conv_id", "turn_idx")),
    "clp_catalog_tags" -> ((s, d) =>
      // tag-scoped fleet search (the reference's tags/archive_tags filter
      // in the query scheduler): tags=["early"] admits ONLY the archives
      // tagged "early" at ingest — the two older ts-quartiles — before any
      // archive dir opens; no time window needed to scope the search
      graft.pipeline.ClpCatalog.search(s, searchCatalog(s, d), "* code=es *",
          tags = Some(Seq("early")))
        .select("conv_id", "turn_idx")
        .orderBy("conv_id", "turn_idx")),
    "clp_catalog_dataset" -> ((s, d) =>
      // dataset-namespaced fleet (the reference's per-dataset metadata
      // tables + storage dirs): the deployment root registers datasets
      // "early"/"late", each a complete independent catalog; a search
      // scoped to "late" runs only inside that dataset's archives
      graft.pipeline.ClpCatalog.searchDataset(s, datasetRoot(s, d), "late",
          "* code=es *")
        .select("conv_id", "turn_idx")
        .orderBy("conv_id", "turn_idx")),
    "clp_catalog_kql_fleet" -> ((s, d) =>
      // fleet KQL over JSON archives with COLUMN-SET pruning (the
      // reference's external-SQL column index, clp_s/indexer/
      // IndexManager.cpp): only the one archive whose MPT carries a leaf
      // matching `*.lang` is opened (ClpCatalogSpec asserts the admissible
      // set); results must equal the single-archive jsonl_kql_nested search
      graft.pipeline.ClpCatalog.searchKql(s, jsonFleet(s, d),
          "*.lang : en AND k >= 50", Seq("id"))
        .orderBy("id")),
    "clp_catalog_search_batched" -> ((s, d) =>
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
        .orderBy("conv_id", "turn_idx")),
    "clp_results_cache" -> ((s, d) => {
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
    }),
    "clp_encoded_agg" -> ((s, d) => {
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
    }),
    "clp_search_limit" -> ((s, d) =>
      // O1 limit under the gate: LIMIT pushed into the search plan
      // (CollectLimit, no full materialization); the truncated cardinality
      // must be min(limit, true match count) at every scale
      new graft.search.ClpSearch(s, searchArchive(s, d))
        .search("* code=es *", limit = Some(40))
        .agg(count(lit(1)).cast("long").as("n"))),
    "clp_enrich_join" -> ((s, d) =>
      // J4 enrichment join under the gate: the routed archive carries the
      // broadcast-joined (team, cost_class) dimension columns; aggregating
      // them back must match DuckDB's recomputation of the lookup rule
      s.read.parquet(s"${searchArchive(s, d)}/routed")
        .groupBy("team", "cost_class")
        .agg(count(lit(1)).cast("long").as("n"))
        .orderBy("team", "cost_class")),
    "clp_sink_stats" -> ((s, d) => {
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
    }),
    "clp_search_e2e_countbytime" -> ((s, d) => {
      // A2 under the gate: count-by-time buckets through the full search
      // lifecycle (bucket = floor(ts_ms / size) * size)
      new graft.search.ClpSearch(s, searchArchive(s, d))
        .countByTime("* end", 10000L)
        .select(col("bucket"), col("cnt"))
        .orderBy("bucket")
    }),
    "clp_extract_schema_mode" -> ((s, d) => {
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
    }),
    "clp_extract_e2e" -> ((s, d) => {
      // O3 ordered reconstruction (clp x) under the gate: decode the whole
      // archive, stable (conv_id, turn_idx) order, byte-exact fingerprints
      graft.search.Extract(s, searchArchive(s, d))
        .select(col("conv_id"), col("turn_idx"), md5(col("text")).as("fp"))
        .orderBy("conv_id", "turn_idx")
    }),
    "archive_ingest_e2e" -> ((s, d) => {
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
    }),
    "raw_ingest_e2e" -> ((s, d) => {
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
    }),
    "raw_ingest_reference_fixture" -> ((s, _) => {
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
    }),
    "clp_search_reference_fixture" -> ((s, _) => {
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
    }),
    "jsonl_float_fixture" -> ((s, _) => {
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
        graft.pipeline.JsonPipeline.extract(s, dir)
          .select(col("log_event_idx").as("line_idx"),
            md5(regexp_replace(col("json"), " ", "")).as("fp"))
          .join(kinds, Seq("line_idx"))
          .select(lit(name).as("file"), col("line_idx"), col("kind"), col("fp"))
      }.reduce(_.unionAll(_)).orderBy("file", "line_idx")
    }),
    // ---- relational core (A1/A4/P9/P10/P11, J5, O1-O3, W1-W2) ----
    "q1_agg" -> ((s, d) => {
      // A1 grouped aggregation with partial/final split (HashAggregate)
      t(s, d, "lineitem")
        .groupBy("l_returnflag", "l_linestatus")
        .agg(count(lit(1)).as("n"),
          sum(cents(col("l_quantity"))).as("qty_cents"),
          sum(cents(col("l_extendedprice"))).as("price_cents"),
          sum(cents(col("l_discount"))).as("disc_cents"))
        .orderBy("l_returnflag", "l_linestatus")
    }),
    "q2_filter_pushdown" -> ((s, d) => {
      // P9/P10/P11: typed filters + projection + ts-range, pushed to parquet
      t(s, d, "lineitem")
        .filter(col("l_shipdate") >= lit("1995-01-01").cast("timestamp") &&
          col("l_shipdate") < lit("1996-01-01").cast("timestamp") &&
          col("l_quantity") > 45)
        .select(col("l_orderkey"), col("l_linenumber"), cents(col("l_quantity")).as("qty_cents"))
        .orderBy("l_orderkey", "l_linenumber")
    }),
    "q3_join_broadcast" -> ((s, d) => {
      // J3/J4-style broadcast joins over the dim chain
      val o = t(s, d, "orders"); val c = t(s, d, "customer")
      val n = t(s, d, "nation"); val r = t(s, d, "region")
      o.join(broadcast(c), o("o_custkey") === c("c_custkey"))
        .join(broadcast(n), c("c_nationkey") === n("n_nationkey"))
        .join(broadcast(r), n("n_regionkey") === r("r_regionkey"))
        .groupBy(col("r_name"), col("n_name"))
        .agg(count(lit(1)).as("n_orders"), sum(cents(col("o_totalprice"))).as("price_cents"))
        .orderBy("r_name", "n_name")
    }),
    "q4_semi_join" -> ((s, d) => {
      // left-semi join (EXISTS)
      val c = t(s, d, "customer")
      val bigOrders = t(s, d, "orders").filter(col("o_totalprice") > 150000)
      c.join(bigOrders, c("c_custkey") === bigOrders("o_custkey"), "left_semi")
        .groupBy("c_mktsegment").agg(count(lit(1)).as("n"))
        .orderBy("c_mktsegment")
    }),
    "q5_anti_join" -> ((s, d) => {
      // left-anti join (NOT EXISTS)
      val c = t(s, d, "customer")
      val urgent = t(s, d, "orders").filter(col("o_orderpriority") === "1-URGENT" &&
        col("o_totalprice") > 100000)
      c.join(urgent, c("c_custkey") === urgent("o_custkey"), "left_anti")
        .select("c_custkey", "c_name").orderBy("c_custkey")
    }),
    "q6_window_rank" -> ((s, d) => {
      // W2 ranking window: top order per customer
      val w = Window.partitionBy("o_custkey").orderBy(desc("o_totalprice"), asc("o_orderkey"))
      t(s, d, "orders").withColumn("rn", row_number().over(w))
        .filter(col("rn") === 1)
        .select(col("o_custkey"), col("o_orderkey"), cents(col("o_totalprice")).as("price_cents"))
        .orderBy("o_custkey")
    }),
    "q7_topk" -> ((s, d) => {
      // O2 top-k (TakeOrderedAndProject)
      t(s, d, "events").orderBy(desc("value"), asc("event_id")).limit(20)
        .select("event_id", "event_type", "value")
    }),
    "q8_tumbling_window" -> ((s, d) => {
      // W1/A2: count-by-time bucket = ts/size*size (ms), per event type
      t(s, d, "events")
        .withColumn("bucket_ms",
          (floor(unix_millis(col("ts").cast("timestamp")) / lit(3600000L)) * 3600000L).cast("long"))
        .groupBy("bucket_ms", "event_type")
        .agg(count(lit(1)).as("n"), sum(cents(col("value"))).as("value_cents"))
        .orderBy("bucket_ms", "event_type")
    }),
    "q9_count_distinct" -> ((s, d) => {
      // A3 count-distinct
      t(s, d, "events").groupBy("event_type")
        .agg(countDistinct(col("user_id")).as("n_users"), count(lit(1)).as("n"))
        .orderBy("event_type")
    }),
    "q10_minmax_stats" -> ((s, d) => {
      // A4 min/max stats collection (per-sink stats analog)
      t(s, d, "events").groupBy("event_type")
        .agg(min(unix_millis(col("ts").cast("timestamp"))).as("min_ts_ms"),
          max(unix_millis(col("ts").cast("timestamp"))).as("max_ts_ms"),
          min(cents(col("value"))).as("min_cents"),
          max(cents(col("value"))).as("max_cents"))
        .orderBy("event_type")
    }),
    "q11_or_of_filters" -> ((s, d) => {
      // J1 OR-of-subqueries in one scan
      t(s, d, "events")
        .filter(col("event_type") === "error" || col("value") > 99.0)
        .groupBy("event_type").agg(count(lit(1)).as("n"))
        .orderBy("event_type")
    }),
    "q13_rollup" -> ((s, d) => {
      // grouping sets (ROLLUP) — multi-granularity aggregation in one pass
      // (partial/final HashAggregate with grouping-id expansion)
      t(s, d, "events")
        .withColumn("user_bucket", (col("user_id") % 10).cast("long"))
        .rollup("event_type", "user_bucket")
        .agg(count(lit(1)).as("n"), sum(cents(col("value"))).as("value_cents"))
        .select(
          coalesce(col("event_type"), lit("ALL")).as("event_type"),
          coalesce(col("user_bucket"), lit(-1L)).as("user_bucket"),
          col("n"), col("value_cents"))
        .orderBy("event_type", "user_bucket")
    }),
    "q14_session_window" -> ((s, d) => {
      // gap-based sessionization (the session-window analytic): a session
      // breaks when a user's inter-event gap exceeds 30 min; one
      // shuffle-per-user window pass (lag → gap flag → running session id)
      val byUser = Window.partitionBy("user_id").orderBy("ts", "event_id")
      t(s, d, "events")
        .withColumn("prev_ms", lag(unix_millis(col("ts").cast("timestamp")), 1).over(byUser))
        .withColumn("new_session",
          when(col("prev_ms").isNull ||
            unix_millis(col("ts").cast("timestamp")) - col("prev_ms") > 1800000L, 1L)
            .otherwise(0L))
        .withColumn("session_idx", sum(col("new_session")).over(
          byUser.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
        .groupBy("user_id", "session_idx")
        .agg(count(lit(1)).as("n_events"),
          min(unix_millis(col("ts").cast("timestamp"))).as("start_ms"),
          max(unix_millis(col("ts").cast("timestamp"))).as("end_ms"))
        .orderBy("user_id", "session_idx")
    }),
    "q12_json_extract" -> ((s, d) => {
      // S4 embedded-JSON ingestion: from_json over props
      t(s, d, "events")
        .withColumn("k", get_json_object(col("props"), "$.k").cast("long"))
        .groupBy("event_type").agg(sum(col("k")).as("sum_k"), count(lit(1)).as("n"))
        .orderBy("event_type")
    }),

    // ---- CLP operators on real tables (P4/P5/P7, A5) ----
    "clp_roundtrip" -> ((s, d) => {
      // P4+P5 gate: decode(encode(text)) == text byte-for-byte — counts match
      // the plain per-lang counts iff every row round-trips
      withClp(s)
      t(s, d, "documents")
        .withColumn("enc", clp_encode(col("text")))
        .withColumn("rt", clp_decode(col("enc.logtype"), col("enc.encoded_vars"), col("enc.dict_vars")))
        .filter(col("rt") === col("text"))
        .groupBy("lang").agg(count(lit(1)).as("n"))
        .orderBy("lang")
    }),
    "clp_roundtrip_props" -> ((s, d) => {
      // same gate over JSON-ish text with numeric variables
      withClp(s)
      t(s, d, "events")
        .withColumn("enc", clp_encode(col("props")))
        .withColumn("rt", clp_decode(col("enc.logtype"), col("enc.encoded_vars"), col("enc.dict_vars")))
        .filter(col("rt") === col("props"))
        .groupBy("event_type").agg(count(lit(1)).as("n"))
        .orderBy("event_type")
    }),
    "clp_int_vars" -> ((s, d) => {
      // encoded numeric variables extracted without decode (R12): the sum of
      // all int vars in props equals the sum of the JSON field
      withClp(s)
      t(s, d, "events")
        .withColumn("enc", clp_encode(col("props")))
        .select(col("event_type"), explode(col("enc.encoded_vars")).as("v"))
        .groupBy("event_type").agg(sum(col("v")).as("sum_vars"))
        .orderBy("event_type")
    }),
    "clp_wildcard_search" -> ((s, d) => {
      // P7 wildcard scan over text
      withClp(s)
      t(s, d, "documents")
        .filter(wildcard_match(col("text"), lit("*spark*window*")))
        .select("doc_id", "lang").orderBy("doc_id")
    }),
    "regex_search" -> ((s, d) => {
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
    }),
    "clp_dict_size" -> ((s, d) => {
      // A5 dictionary build: every row lands in exactly one logtype group —
      // the dict's counts sum back to the table count
      withClp(s)
      t(s, d, "documents")
        .withColumn("enc", clp_encode(col("text")))
        .groupBy(col("enc.logtype")).agg(count(lit(1)).as("cnt"))
        .agg(sum(col("cnt")).as("n"))
    }),

    // ---- dedup / text analysis (training-data ops) ----
    "dedup_exact" -> ((s, d) => {
      // exact dedup via hash-groupBy: keeper id + multiplicity per text
      t(s, d, "documents").groupBy("text")
        .agg(min(col("doc_id")).as("keep_id"), count(lit(1)).as("n_copies"))
        .select("keep_id", "n_copies").orderBy("keep_id")
    }),
    "text_tokens" -> ((s, d) => {
      // token counting (whitespace) + distinct tokens
      t(s, d, "documents")
        .select(col("doc_id"),
          size(split(col("text"), " ")).cast("long").as("n_tokens"),
          size(array_distinct(split(col("text"), " "))).cast("long").as("n_distinct"))
        .orderBy("doc_id")
    }),
    "text_quality" -> ((s, d) => {
      // quality scoring: length + mean token length (integer-exact)
      t(s, d, "documents")
        .select(col("doc_id"), col("n_chars"),
          (octet_length(col("text")) - (size(split(col("text"), " ")) - 1)).cast("long").as("alpha_chars"),
          size(split(col("text"), " ")).cast("long").as("n_tokens"))
        .orderBy("doc_id")
    }),
    "text_unigram_logprob" -> ((s, d) => {
      // CCNet-shape LM quality scoring: a model trained ON the corpus scores
      // each document's mean token log-probability; improbable token streams
      // (boilerplate, garbled text) score low and get filtered. CCNet's
      // KenLM 5-gram isn't in this container, so the model is the corpus
      // unigram LM — but the Spark shape is the production one: pass 1
      // aggregates the vocabulary distributed (map-side partial counts),
      // pass 2 joins the model back onto the token stream (AQE picks
      // broadcast vs shuffle by the REAL vocab size) and the corpus total
      // rides a one-row broadcast — no driver-side model, no collect.
      // score = sum(ln cnt)/n - ln(total); round(4) absorbs engine-order
      // FP noise in the sum, same contract as the cosine gates.
      val toks = t(s, d, "documents")
        .select(col("doc_id"), explode(split(col("text"), " ")).as("tok"))
        .filter(col("tok") =!= "")
      val vocab = toks.groupBy("tok").agg(count(lit(1)).as("cnt"))
      val total = vocab.agg(sum("cnt").as("total"))
      toks.join(vocab, "tok")
        .groupBy("doc_id").agg(
          count(lit(1)).as("n_tokens"),
          sum(log(col("cnt").cast("double"))).as("_sumlog"))
        .crossJoin(broadcast(total))
        .select(col("doc_id"), col("n_tokens"),
          round(col("_sumlog") / col("n_tokens")
            - log(col("total").cast("double")), 4).as("logprob"))
        .orderBy("doc_id")
    }),
    "logs_spike_detect" -> ((s, d) => {
      // count-by-time anomaly flagging (the alerting query every log
      // pipeline runs over its ingest counters): hourly per-type counts,
      // a bucket is a spike iff cnt > mean + 3σ over its type's buckets.
      // The 3σ rule is evaluated ENTIRELY in integer arithmetic —
      //   cnt > S/n + 3·sqrt(n·SS − S²)/n
      //   ⇔ (n·cnt − S) > 0 ∧ (n·cnt − S)² > 9·(n·SS − S²)
      // — so both engines compare exact int64s (an FP sqrt at the boundary
      // would flip rows engine-to-engine). Shape: one partial-aggregating
      // count pass, per-type moments (count/sum/sum-of-squares — mergeable,
      // bucket-count-sized) broadcast back; no window over the corpus.
      // int64 bounds: 9·n·SS must fit — holds through ~10^5 buckets/type
      // at ~10^6/bucket; past that, scale the counts or go approximate.
      val buckets = t(s, d, "events")
        .groupBy(col("event_type"),
          (floor(unix_millis(col("ts").cast("timestamp")) / 3600000L) * 3600000L)
            .cast("long").as("bucket_ms"))
        .agg(count(lit(1)).as("cnt"))
      val stats = buckets.groupBy("event_type")
        .agg(count(lit(1)).as("nb"), sum("cnt").as("s1"),
          sum(col("cnt") * col("cnt")).as("s2"))
      buckets.join(broadcast(stats), "event_type")
        .withColumn("dev", col("nb") * col("cnt") - col("s1"))
        .withColumn("flag_spike",
          (col("dev") > 0 &&
            col("dev") * col("dev") > lit(9L) * (col("nb") * col("s2") - col("s1") * col("s1")))
            .cast("long"))
        .select("event_type", "bucket_ms", "cnt", "flag_spike")
        .orderBy("event_type", "bucket_ms")
    }),
    "ccnet_ppl_buckets" -> ((s, d) => {
      // CCNet's head/middle/tail quality bucketing (arXiv:1911.00359 §3.3):
      // the corpus-trained LM scores each document and fixed calibration
      // thresholds cut the corpus into three quality tiers (CCNet computes
      // the cutoffs offline per language; here they are config constants).
      // The compare runs on an INTEGER score — round(logprob·1e4) — so the
      // bucket boundaries are integer-exact in both engines (an FP `<` at a
      // threshold would be sum-order-sensitive). Same two-pass distributed
      // shape as text_unigram_logprob (partial-agg vocab, model joined back
      // under AQE, one-row corpus total broadcast); the bucketing itself is
      // a per-row expression — zero added shuffles, no global sort/window
      // (a percentile-rank bucketing would need one; fixed thresholds are
      // both the production semantics and the 100 TB-safe plan).
      val toks = t(s, d, "documents")
        .select(col("doc_id"), explode(split(col("text"), " ")).as("tok"))
        .filter(col("tok") =!= "")
      val vocab = toks.groupBy("tok").agg(count(lit(1)).as("cnt"))
      val total = vocab.agg(sum("cnt").as("total"))
      toks.join(vocab, "tok")
        .groupBy("doc_id").agg(
          count(lit(1)).as("n"),
          sum(log(col("cnt").cast("double"))).as("_sl"))
        .crossJoin(broadcast(total))
        .withColumn("ilp",
          round((col("_sl") / col("n") - log(col("total").cast("double"))) * 10000).cast("long"))
        .select(col("doc_id"), col("ilp"),
          when(col("ilp") >= -34000L, "head")
            .when(col("ilp") >= -34040L, "middle")
            .otherwise("tail").as("bucket"))
        .orderBy("doc_id")
    }),
    "vocab_topk" -> ((s, d) => {
      // vocabulary induction's first pass (BPE / unigram tokenizer trainers
      // all start from global token frequencies): top-k tokens by corpus
      // count, ties broken by token for a deterministic cut. Scale shape:
      // partial/final hash aggregate (map-side combine absorbs hot tokens)
      // then TakeOrderedAndProject — each partition keeps only its k best,
      // the driver merges k·P candidate rows, the full vocabulary never
      // sorts globally and never lands on one node.
      t(s, d, "documents")
        .select(explode(split(col("text"), " ")).as("tok"))
        .filter(col("tok") =!= "")
        .groupBy("tok").agg(count(lit(1)).as("cnt"))
        .orderBy(desc("cnt"), asc("tok")).limit(100)
    }),
    "corpus_stats" -> ((s, d) => {
      // the datasheet aggregation every corpus release ships (docs / tokens
      // / bytes / distinct-text dup-rate per language × source slice): one
      // partial-aggregating pass over the corpus. countDistinct is exact at
      // gate scale for oracle parity; at 100 TB swap in
      // approx_count_distinct (HLL sketch — same plan shape, mergeable,
      // no per-group value buffering).
      t(s, d, "documents").groupBy("lang", "source").agg(
          count(lit(1)).as("n_docs"),
          sum(size(split(col("text"), " ")).cast("long")).as("n_tokens"),
          sum(col("n_chars")).as("sum_chars"),
          countDistinct(col("text")).as("n_uniq"))
        .orderBy("lang", "source")
    }),
    "corpus_stats_approx" -> ((s, d) => {
      // the 100 TB datasheet plan GATED, not just documented: countDistinct's
      // Expand + double shuffle swapped for approx_count_distinct (HLL++,
      // rsd 5%) — one partial-aggregating pass, mergeable sketch, no
      // per-group value buffering (PlanQualitySpec asserts the approx plan
      // carries no Expand and exactly one agg exchange). Accuracy is part of
      // the gate: HLL++ is deterministic (fixed hash, no sampling), so
      // `hll_ok` — each group's estimate within 15% of the exact count,
      // compared in integer math — is oracle-checkable.
      val docs = t(s, d, "documents")
      val exact = docs.groupBy("lang", "source").agg(
        count(lit(1)).as("n_docs"), countDistinct(col("text")).as("n_uniq"))
      val hll = docs.groupBy("lang", "source").agg(
        approx_count_distinct(col("text"), 0.05).as("n_uniq_hll"))
      exact.join(hll, Seq("lang", "source"))
        .select(col("lang"), col("source"), col("n_docs"), col("n_uniq"),
          (abs(col("n_uniq_hll") - col("n_uniq")) * 100 <= col("n_uniq") * 15)
            .cast("long").as("hll_ok"))
        .orderBy("lang", "source")
    }),
    "text_rep_ratio" -> ((s, d) => {
      // within-doc repetition signal (the Gopher-style repetition filter):
      // duplicate 3-gram fraction per doc, integer-exact — flag_rep is
      // n_dup/n_sh >= 0.3 computed as n_dup*10 >= n_sh*3 so both engines
      // compare exact integers. Pure per-row expressions, no shuffle.
      val sh = shingles(split(col("text"), " "))
      t(s, d, "documents")
        .select(col("doc_id"), size(sh).cast("long").as("n_sh"),
          (size(sh) - size(array_distinct(sh))).cast("long").as("n_dup"))
        .withColumn("flag_rep",
          (col("n_dup") * 10 >= col("n_sh") * 3).cast("long"))
        .orderBy("doc_id")
    }),
    "corpus_filter_chain" -> ((s, d) => {
      // the end-to-end curation pass a pretraining corpus actually runs:
      // quality band → repetition filter → exact dedup (keep first) →
      // benchmark decontamination, one declarative chain. Scale shape: the
      // per-row filters fuse into the scan; the only shuffles are the dedup
      // aggregation (groupBy text with map-side combine — a window on the
      // raw text would do NO partial aggregation, so a boilerplate doc
      // duplicated across billions of rows would land in one task) and the
      // contamination anti-join whose build side is the small heldout
      // shingle set, broadcast.
      val docs = t(s, d, "documents")
      val sh = shingles(split(col("text"), " "))
      val q = docs
        .withColumn("n_tok", size(split(col("text"), " ")).cast("long"))
        .withColumn("n_sh", size(sh).cast("long"))
        .withColumn("n_dup", (size(sh) - size(array_distinct(sh))).cast("long"))
        .filter(col("n_tok") >= 30 && col("n_tok") <= 75)
        .filter(col("n_dup") * 10 < col("n_sh") * 3)
      // keep-first-by-doc_id as min(struct): doc_id is unique, so the struct
      // min IS the first row per text — same semantics as the old
      // row_number window, but partial/final HashAggregate absorbs dup skew
      val deduped = q
        .groupBy(col("text"))
        .agg(min(struct(col("doc_id"), col("n_tok"))).as("k"))
        .select(col("k.doc_id").as("doc_id"), col("k.n_tok").as("n_tok"))
      val g = docs.select(col("doc_id"), explode(array_distinct(sh)).as("g"))
      val bench = broadcast(g.filter(col("doc_id") % 97 === 0)
        .select(col("g").as("bg")).distinct())
      val contaminated = g.filter(col("doc_id") % 97 =!= 0)
        .join(bench, col("g") === col("bg")).select("doc_id").distinct()
      deduped.join(contaminated, Seq("doc_id"), "left_anti")
        .filter(col("doc_id") % 97 =!= 0)
        .select("doc_id", "n_tok").orderBy("doc_id")
    }),
    "text_fingerprint" -> ((s, d) => {
      // document fingerprinting (content hash)
      t(s, d, "documents").select(col("doc_id"), md5(col("text")).as("fp")).orderBy("doc_id")
    }),
    "lang_id" -> ((s, d) => {
      // n-gram-marker language heuristic (oracle-mirrorable form)
      t(s, d, "documents")
        .select(col("doc_id"),
          when(col("text").contains(" the ") || col("text").startsWith("the "), "en")
            .otherwise("other").as("pred_lang"))
        .orderBy("doc_id")
    }),

    "text_redact_pii" -> ((s, d) => {
      // PII scrubbing (the pre-training pass every public corpus gets):
      // the synthetic corpus has no PII, so deterministic PII-shaped spans
      // are spliced in from doc_id first, then the redaction expressions
      // strip emails / IPv4s / phone numbers. Patterns stay in the regex
      // subset Java (Spark) and RE2 (DuckDB) interpret identically — no
      // lookaround, no unicode classes. Pure per-row codegen'd exprs.
      val pii = concat(col("text"),
        lit(" contact user"), col("doc_id").cast("string"),
        lit("@mail.example.com via 10.0."),
        (col("doc_id") % 256).cast("string"), lit("."),
        (col("doc_id") % 100).cast("string"),
        lit(" tel +1-555-"), lpad((col("doc_id") % 10000).cast("string"), 4, "0"))
      val redacted =
        regexp_replace(
          regexp_replace(
            regexp_replace(pii,
              """[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}""", "<EMAIL>"),
            """\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b""", "<IP>"),
          """\+1-555-\d{4}""", "<PHONE>")
      t(s, d, "documents").select(col("doc_id"), redacted.as("clean")).orderBy("doc_id")
    }),
    "decontaminate" -> ((s, d) => {
      // benchmark decontamination: flag training docs sharing any 3-gram
      // shingle with the heldout benchmark slice (doc_id % 97 == 0).
      // Shape: explode → broadcast join on narrow shingle keys → per-doc
      // count — a contains-join, never an all-pairs comparison; the
      // benchmark shingle set is the small side by construction.
      val docs = t(s, d, "documents")
      val sh = docs.select(col("doc_id"),
        explode(array_distinct(shingles(split(col("text"), " ")))).as("g"))
      val bench = broadcast(sh.filter(col("doc_id") % 97 === 0)
        .select(col("g").as("bg")).distinct())
      sh.filter(col("doc_id") % 97 =!= 0)
        .join(bench, col("g") === col("bg"))
        .groupBy("doc_id").agg(countDistinct(col("g")).as("n_hits"))
        .orderBy("doc_id")
    }),

    // ---- deterministic sampling / split assignment ----
    "split_train_val" -> ((s, d) => {
      // seed-stable train/val/test assignment: a salted cross-engine hash
      // of the doc id buckets each row into 0..99 — reproducible across
      // runs, engines, and cluster sizes (pure per-row expression: no RNG
      // state, no shuffle, survives repartitioning unchanged)
      val bucket = mdHash(concat(lit("split:"), col("doc_id").cast("string"))) % 100L
      t(s, d, "documents")
        .select(col("doc_id"),
          when(bucket < 80, "train").when(bucket < 90, "val")
            .otherwise("test").as("split"))
        .orderBy("doc_id")
    }),
    "sample_stratified" -> ((s, d) => {
      // per-language stratified downsampling (the data-mixing primitive:
      // thin dominant languages, keep the rest): keep iff salted hash mod
      // 100 < rate(lang); deterministic single-pass filter, no RNG
      val bucket = mdHash(concat(lit("sample:"), col("doc_id").cast("string"))) % 100L
      val rate = when(col("lang") === "en", 50L)
        .when(col("lang") === "fr", 80L).otherwise(100L)
      t(s, d, "documents").filter(bucket < rate)
        .select("doc_id", "lang").orderBy("doc_id")
    }),

    "mix_epochs" -> ((s, d) => {
      // data-mixing upsampling (the other half of sample_stratified's
      // downsampling): rare-language docs are repeated for extra epochs —
      // en×1, fr×2, rest×3 — each copy tagged with a deterministic
      // shuffle_key so writing ordered-by-key yields a seed-stable global
      // shuffle of the mixed corpus. Per-row explode, no shuffle; the
      // order-by at write time is a uniform range partition (hash keys
      // have no skew by construction).
      val epochs = when(col("lang") === "en", 1L)
        .when(col("lang") === "fr", 2L).otherwise(3L)
      t(s, d, "documents")
        .select(col("doc_id"), explode(sequence(lit(0L), epochs - 1)).as("epoch"))
        .withColumn("shuffle_key",
          mdHash(concat(lit("mix:"), col("doc_id").cast("string"),
            lit(":"), col("epoch").cast("string"))) % 1000000L)
        .orderBy("doc_id", "epoch")
    }),
    "mix_temperature" -> ((s, d) => {
      // temperature-based domain mixing (the multilingual-pretraining
      // recipe: sampling weight ∝ n^α flattens the domain distribution):
      // unlike mix_epochs' FIXED schedule, the per-language epoch count
      // derives FROM the data — epochs_l = floor(sqrt(c·n_max/n_l)) at
      // α=0.5, c=4 — so rare domains upsample toward the tempered
      // distribution automatically. Two-pass shape: a tiny count aggregate,
      // broadcast back onto the corpus, per-row explode. The epoch math is
      // one IEEE chain on two integers (multiply → divide → sqrt → floor;
      // sqrt is bit-exact by IEEE-754, unlike pow) — identical on any
      // engine and any row order, so no FP-sum nondeterminism can flip a
      // count.
      val docs = t(s, d, "documents")
      val counts = docs.groupBy("lang").agg(count(lit(1)).as("n"))
      val nMax = counts.agg(max("n").as("nm"))
      val epochs = counts.crossJoin(broadcast(nMax))
        .select(col("lang"),
          floor(sqrt(lit(4.0) * col("nm") / col("n"))).as("epochs"))
      docs.join(broadcast(epochs), "lang")
        .select(col("doc_id"), col("lang"),
          explode(sequence(lit(0L), col("epochs") - 1)).as("epoch"))
        .orderBy("doc_id", "epoch")
    }),

    "pack_sequences" -> ((s, d) => {
      // context-window packing (concat-then-chunk): docs are sharded by a
      // salted hash, concatenated in deterministic order within each shard,
      // and chunked into 256-token training sequences — pack_id is the
      // sequence the doc STARTS in (docs may straddle chunk boundaries,
      // as in standard LLM pretraining packing). Scale shape: the window
      // runs per shard partition — one hash shuffle, parallel across
      // shards, no global sort, no driver state.
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy("shard").orderBy("doc_id")
      t(s, d, "documents")
        .select(col("doc_id"),
          mdHash(concat(lit("pack:"), col("doc_id").cast("string"))) % 8L as "shard",
          size(split(col("text"), " ")).cast("long").as("n_tok"))
        .withColumn("cum", sum(col("n_tok")).over(w))
        .select(col("doc_id"), col("shard"),
          floor((col("cum") - col("n_tok")) / 256L).cast("long").as("pack_id"))
        .orderBy("doc_id")
    }),
    "dedup_paragraph" -> ((s, d) => {
      // CCNet-style paragraph-level dedup: docs are split into 8-word
      // chunks; each distinct chunk is kept only at its first occurrence
      // (min doc_id, then min position) corpus-wide; docs are reassembled
      // from their surviving chunks. Scale shape: one groupBy(chunk)
      // aggregation whose map-side combine absorbs hot-chunk skew (a
      // row_number window on the chunk would send every copy of a
      // boilerplate chunk to ONE task) + one keyed re-aggregation per
      // doc — both distributed, no all-pairs, no driver state.
      val words = split(col("text"), " ")
      val chunks = transform(
        sequence(lit(0L), ceil(size(words) / lit(8.0)).cast("long") - 1),
        i => concat_ws(" ", slice(words, (i * 8 + 1).cast("int"), lit(8))))
      t(s, d, "documents")
        .select(col("doc_id"), posexplode(chunks).as(Seq("pos", "chunk")))
        // first occurrence = min (doc_id, pos) struct; pos is unique within
        // a doc, so this is exactly the old window's rn=1 row per chunk
        .groupBy(col("chunk"))
        .agg(min(struct(col("doc_id"), col("pos"))).as("k"))
        .select(col("k.doc_id").as("doc_id"), col("k.pos").as("pos"), col("chunk"))
        .groupBy("doc_id")
        .agg(count(lit(1)).as("n_kept"),
          concat_ws(" ", transform(sort_array(collect_list(struct(col("pos"), col("chunk")))),
            x => x.getField("chunk"))).as("clean"))
        .orderBy("doc_id")
    }),

    "text_classifier_score" -> ((s, d) => {
      // model-based quality filtering (the fastText-style linear classifier
      // LLM curation runs for quality/toxicity): feature = hashed bigram,
      // score = sum of the model's weights over the doc's features,
      // keep = score above threshold. No ML libs ship in this container, so
      // the weight table is the deterministic stub w(h) = h % 1001 - 500
      // (declared, same contract as the multimodal codec stub) — the Spark
      // plumbing is the production shape: per-row feature explode, INTEGER
      // weight sum (no FP, so any engine and any row/partition order agree
      // bit-for-bit), threshold keep. Swapping in trained weights is a
      // broadcast join against a (feature_hash, weight) table; everything
      // else stays identical.
      val words = split(col("text"), " ")
      val wts = when(size(words) >= 2,
        transform(sequence(lit(1), size(words) - 1), i =>
          mdHash(concat_ws(" ", element_at(words, i), element_at(words, i + 1)))
            % 1001L - 500L))
        .otherwise(array().cast("array<long>"))
      t(s, d, "documents")
        .select(col("doc_id"), explode(wts).as("wt"))
        .groupBy("doc_id")
        .agg(count(lit(1)).as("n_feats"), sum("wt").as("score"))
        .withColumn("keep", when(col("score") > 0, 1).otherwise(0))
        .orderBy("doc_id")
    }),

    "text_classifier_weighted" -> ((s, d) => {
      // the PRODUCTION wiring of text_classifier_score: the model is a real
      // (feature_hash, weight) TABLE broadcast-joined onto the exploded
      // feature stream — swapping in trained fastText weights means
      // replacing this table, nothing else changes. The table here derives
      // deterministically from the corpus' own distinct feature hashes
      // (w(h) = h % 1001 - 500, the same stub arithmetic), so the oracle
      // recomputes end-to-end and the scores equal text_classifier_score
      // by construction. Plan shape (asserted in PlanQualitySpec): explode →
      // broadcast hash join (the model side is model-sized, never
      // corpus-sized) → partial/final hash aggregate.
      val words = split(col("text"), " ")
      val feats = when(size(words) >= 2,
        transform(sequence(lit(1), size(words) - 1), i =>
          mdHash(concat_ws(" ", element_at(words, i), element_at(words, i + 1)))))
        .otherwise(array().cast("array<long>"))
      val fdf = t(s, d, "documents").select(col("doc_id"), explode(feats).as("h"))
      val weightsTable = fdf.select(col("h")).distinct()
        .withColumn("wt", col("h") % 1001L - 500L)
      fdf.join(broadcast(weightsTable), Seq("h"))
        .groupBy("doc_id")
        .agg(count(lit(1)).as("n_feats"), sum("wt").as("score"))
        .withColumn("keep", when(col("score") > 0, 1).otherwise(0))
        .orderBy("doc_id")
    }),

    "dedup_substring" -> ((s, d) => {
      // Substring-level dedup (Lee et al. 2022, arXiv:2107.06499): any
      // k-token window shared by >=2 DISTINCT documents marks its tokens as
      // duplicated, and overlapping/adjacent duplicated windows merge into
      // maximal per-doc token spans — the ranges a trainer cuts before
      // training. The paper's suffix array is a single-machine structure;
      // the distributed equivalent is this window-hash shuffle: one explode
      // into (doc_id, pos, h) where h is an 8-byte gram hash (fixed-width
      // shuffle key — the gram TEXT never rides a shuffle), one
      // count-distinct aggregate, a semi-join back, and a window-function
      // island merge. Every stage is a plain keyed shuffle; no driver
      // state, no all-pairs. Hash collisions are a non-issue for the gate:
      // both engines compute the SAME md5-derived key, so any collision is
      // shared. k=8; span bounds are 1-based inclusive token indices.
      val k = 8
      val (grams, dup) = substringGrams(t(s, d, "documents"), k)
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy("doc_id").orderBy("pos")
      grams.join(dup, Seq("h"), "left_semi")
        .withColumn("brk",
          when(col("pos") - lag("pos", 1).over(w) <= k, lit(0)).otherwise(lit(1)))
        .withColumn("island", sum("brk").over(w))
        .groupBy("doc_id", "island")
        .agg(min(col("pos")).cast("long").as("span_start"),
          (max(col("pos")) + (k - 1)).cast("long").as("span_end"),
          count(lit(1)).as("n_windows"))
        .select("doc_id", "span_start", "span_end", "n_windows")
        .orderBy("doc_id", "span_start")
    }),

    "dedup_substring_cut" -> ((s, d) => {
      // the CUT step completing dedup_substring (Lee et al. remove the
      // duplicated ranges before training): every token covered by a
      // duplicated window is dropped and the survivors reassemble in
      // order. Same window-hash shuffle as the span gate, then a
      // token-level anti-membership: positions [pos, pos+k-1] of each
      // duplicated window mark tokens, tokens explode once, an anti-join
      // on (doc_id, token_pos) keeps the clean ones, and one groupBy
      // reassembles — all keyed shuffles, integer-exact membership.
      val k = 8
      val words = split(col("text"), " ")
      val docs = t(s, d, "documents")
      val (grams, dup) = substringGrams(docs, k)
      val cut = grams.join(dup, Seq("h"), "left_semi")
        .select(col("doc_id"),
          explode(sequence(col("pos"), col("pos") + (k - 1))).as("tpos"))
        .distinct()
      docs.select(col("doc_id"), posexplode(words).as(Seq("tp0", "tok")))
        .select(col("doc_id"), (col("tp0") + 1).as("tpos"), col("tok"))
        .join(cut, Seq("doc_id", "tpos"), "left_anti")
        .groupBy("doc_id")
        .agg(count(lit(1)).as("n_tokens"),
          concat_ws(" ", transform(
            sort_array(collect_list(struct(col("tpos"), col("tok")))),
            x => x.getField("tok"))).as("clean"))
        .orderBy("doc_id")
    }),

    "text_c4_filters" -> ((s, d) => {
      // C4/Gopher-style rule filters (the heuristic pass that runs BEFORE
      // the model-based quality filters): terminal punctuation at the end,
      // a minimum sentence count, a mean-word-length band, and boilerplate
      // markers. The synthetic corpus has none of these defects, so
      // deterministic ones are spliced in from doc_id first (the
      // text_redact_pii pattern); all rules are integer-exact so both
      // engines agree without FP noise. Pure per-row expressions — they
      // fuse into the scan; at 100 TB this is a zero-shuffle pass.
      val raw = concat(col("text"),
        when(col("doc_id") % 13 === 0, lit(" lorem ipsum {boilerplate;}"))
          .otherwise(lit("")),
        when(col("doc_id") % 4 === 0, lit("."))
          .when(col("doc_id") % 4 === 1, lit("!"))
          .when(col("doc_id") % 4 === 2, lit(" and so on")).otherwise(lit("?")))
      val nTok = size(split(raw, " ")).cast("long")
      val alpha = (octet_length(raw) - (size(split(raw, " ")) - 1)).cast("long")
      val nTerm = (octet_length(raw) - octet_length(translate(raw, ".!?", ""))).cast("long")
      t(s, d, "documents")
        .select(col("doc_id"),
          substring(raw, -1, 1).isin(".", "!", "?").cast("long").as("f_endpunct"),
          (nTerm >= 3L).cast("long").as("f_sentences"),
          (alpha >= nTok * 3L && alpha <= nTok * 10L).cast("long").as("f_wordlen"),
          (!raw.contains("lorem ipsum") && !raw.contains("{")).cast("long").as("f_clean"))
        .withColumn("keep",
          (col("f_endpunct") * col("f_sentences") * col("f_wordlen") * col("f_clean")).cast("long"))
        .orderBy("doc_id")
    }),
    "dedup_normalized" -> ((s, d) => {
      // near-exact dedup after canonicalization (the RefinedWeb recipe:
      // lowercase, strip punctuation, collapse whitespace — THEN the exact
      // hash groupBy), catching case/punctuation/whitespace variants plain
      // exact dedup misses. The corpus has no such variants, so each odd
      // doc_id is derived as a mangled copy of its even neighbor (upper +
      // pad + bang suffix) — normalized dedup must collapse every pair.
      // Same scale shape as dedup_exact: one shuffle keyed on the hash of
      // the canonical form, never on the raw text.
      val docs = t(s, d, "documents").filter(col("doc_id") % 2 === 0)
        .select(col("doc_id"), col("text").as("body"))
      val variants = docs.select((col("doc_id") + 1).as("doc_id"),
        concat(lit("  "), upper(col("body")), lit("  !!")).as("body"))
      val norm = trim(regexp_replace(lower(col("body")), "[^a-z0-9]+", " "))
      docs.unionAll(variants)
        .withColumn("h", md5(norm))
        .groupBy("h")
        .agg(min(col("doc_id")).as("keep_id"), count(lit(1)).as("n_variants"))
        .select("keep_id", "n_variants").orderBy("keep_id")
    }),
    "text_length_stats" -> ((s, d) => {
      // corpus length distribution — the sizing read a curator does before
      // choosing filter thresholds: doc count, mean, and exact interpolated
      // p50/p90/p99 over token counts in ONE partial-aggregating pass.
      // Exact percentile is the oracle-parity choice at gate scale; at
      // 100 TB swap percentile → approx_percentile (t-digest sketch, same
      // plan shape, no per-group value buffering).
      val nTok = size(split(col("text"), " ")).cast("long")
      t(s, d, "documents")
        .select(nTok.as("n_tok"))
        .agg(count(lit(1)).as("n_docs"),
          round(avg(col("n_tok")), 4).as("mean_tok"),
          round(expr("percentile(n_tok, 0.5D)"), 4).as("p50"),
          round(expr("percentile(n_tok, 0.9D)"), 4).as("p90"),
          round(expr("percentile(n_tok, 0.99D)"), 4).as("p99"))
    }),
    "text_length_stats_approx" -> ((s, d) => {
      // the 100 TB percentile swap GATED: approx_percentile (Greenwald-
      // Khanna quantile summary, accuracy 1000 ⇒ rank error ≤ 0.1%) next to
      // the exact interpolated percentiles. The sketch's merge order varies
      // with task scheduling, so its VALUE is not a stable oracle — its
      // rank-error CONTRACT is: each approx quantile must land between the
      // exact percentiles ±5 points (p99's upper bound is the max), true on
      // every run by the GK guarantee, checked here and recomputed exactly
      // by the oracle for the exact columns.
      val nTok = size(split(col("text"), " ")).cast("long")
      t(s, d, "documents")
        .select(nTok.as("n_tok"))
        .agg(count(lit(1)).as("n_docs"),
          round(expr("percentile(n_tok, 0.5D)"), 4).as("p50"),
          round(expr("percentile(n_tok, 0.9D)"), 4).as("p90"),
          round(expr("percentile(n_tok, 0.99D)"), 4).as("p99"),
          expr("percentile(n_tok, array(0.45D, 0.55D, 0.85D, 0.95D, 0.98D))")
            .as("bnd"),
          expr("approx_percentile(n_tok, array(0.5D, 0.9D, 0.99D), 1000)")
            .as("ap"),
          max(col("n_tok")).as("mx"))
        .select(col("n_docs"), col("p50"), col("p90"), col("p99"),
          (col("ap")(0) >= col("bnd")(0) && col("ap")(0) <= col("bnd")(1))
            .cast("long").as("ok_p50"),
          (col("ap")(1) >= col("bnd")(2) && col("ap")(1) <= col("bnd")(3))
            .cast("long").as("ok_p90"),
          (col("ap")(2) >= col("bnd")(4) && col("ap")(2) <= col("mx"))
            .cast("long").as("ok_p99"))
    }),

    // ---- similarity search ----
    "knn_sq8" -> ((s, d) => {
      // scalar-quantized ANN (the FAISS SQ8 shape, the third index family
      // next to LSH and IVF): embeddings quantize ONCE to int8 — 4x
      // smaller than float32, the memory lever that keeps a 100 TB vector
      // store scannable — the coarse pass ranks candidates by an integer
      // dot (codegen'd vec_qdot: small-integer math, exact in any engine,
      // so candidate selection is bit-stable with no FP rounding in play),
      // and only the top-15 survivors pay the exact float cosine re-rank.
      // q[i] = floor(x*127 + 0.5) clamped — floor(x+0.5), not round(), so
      // the DuckDB oracle reproduces it exactly.
      withClp(s)
      val e = t(s, d, "embeddings")
        .withColumn("q8", vec_sq8(col("embedding"), lit(127.0)))
      val q = e.filter(col("vec_id") === 0)
        .select(col("q8").as("qq8"), col("embedding").as("q_emb"))
      e.filter(col("vec_id") =!= 0).crossJoin(broadcast(q))
        .withColumn("qdot", vec_qdot(col("q8"), col("qq8")))
        .orderBy(desc("qdot"), asc("vec_id")).limit(15)
        .withColumn("score", round(
          vec_dot(col("embedding"), col("q_emb")) /
            (sqrt(vec_dot(col("embedding"), col("embedding"))) *
             sqrt(vec_dot(col("q_emb"), col("q_emb")))), 4))
        .select("vec_id", "score")
        .orderBy(desc("score"), asc("vec_id")).limit(5)
    }),
    "knn_bruteforce" -> ((s, d) => {
      // brute-force cosine top-k for query vector 0 (exact baseline)
      val e = t(s, d, "embeddings")
      val q = e.filter(col("vec_id") === 0)
        .select(col("embedding").as("q_emb"))
      e.filter(col("vec_id") =!= 0).crossJoin(broadcast(q))
        .withColumn("score", round(
          vec_dot(col("embedding"), col("q_emb")) /
            (sqrt(vec_dot(col("embedding"), col("embedding"))) *
             sqrt(vec_dot(col("q_emb"), col("q_emb")))), 4))
        .select("vec_id", "score")
        .orderBy(desc("score"), asc("vec_id")).limit(5)
    }),

    "kql_search" -> ((s, d) => {
      // Q7/P9 end-to-end: KQL text -> lexer/parser -> AST -> Catalyst
      // predicates (wildcard values via wildcard_match, NOT/OR/AND,
      // numeric ranges) pushed into one scan
      withClp(s)
      graft.search.KqlCompiler.filter(t(s, d, "documents"),
          """(lang: en OR lang: fr) AND NOT source: src3 AND n_chars >= 200 AND text: "*the*"""")
        .select("doc_id", "lang", "n_chars")
        .orderBy("doc_id")
    }),

    "ir_roundtrip" -> ((s, d) => {
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
    }),

    "dedup_embedding" -> ((s, d) => {
      // embedding-cosine near-dup: all pairs above threshold, exact.
      // Test-scale plan is a broadcast self-join (O(n^2) compare, no shuffle);
      // the 100 TB path buckets by SimHash-style hyperplane signs first
      // (see knn_lsh) and runs this same exact-cosine kernel per bucket.
      // normalize each vector ONCE before the pair join — per-pair work is a
      // single codegen'd vec_dot instead of three interpreted HOF folds (the
      // only shape that survives an O(n^2)/per-bucket compare at scale)
      val e = t(s, d, "embeddings")
        .select(col("vec_id"), transform(col("embedding"), x => x.cast("double")).as("emb"))
        .withColumn("norm", sqrt(vec_dot(col("emb"), col("emb"))))
        .select(col("vec_id"), transform(col("emb"), x => x / col("norm")).as("emb"))
      val a = e.select(col("vec_id").as("a_id"), col("emb").as("a_emb"))
      val b = e.select(col("vec_id").as("b_id"), col("emb").as("b_emb"))
      a.crossJoin(broadcast(b)).filter(col("a_id") < col("b_id"))
        .withColumn("cos", round(vec_dot(col("a_emb"), col("b_emb")), 4))
        .filter(col("cos") >= 0.4)
        .select("a_id", "b_id", "cos").orderBy("a_id", "b_id")
    }),

    // ---- multimodal plumbing (binary payload + stubbed decode) ----
    "multimodal_meta" -> ((s, d) => {
      // opaque binary column + deterministic fake feature extraction; the
      // Spark-side plumbing (schema, batching, partitioning) is real, the
      // codec is a stub — image/audio libs are not in this container
      import s.implicits._
      t(s, d, "documents")
        .select(col("doc_id"), col("text").cast("binary").as("payload"))
        .as[(Long, Array[Byte])]
        .mapPartitions(_.map { case (id, payload) =>
          val nBytes = payload.length.toLong
          (id, nBytes, 320 + nBytes % 320, 240 + nBytes % 240, 1 + nBytes % 7)
        })
        .toDF("doc_id", "n_bytes", "width", "height", "n_frames")
        .orderBy("doc_id")
    }),

    "multimodal_frames" -> ((s, d) => {
      // frame-sampling plumbing for video-like payloads: the per-partition
      // iterator decodes each payload once and emits every sampled frame
      // (the batch shape a real codec UDF would have); the codec itself is a
      // deterministic stub (no media libs in this container). Frames are
      // sampled at stride 2; per-frame feature is a stub fingerprint.
      import s.implicits._
      t(s, d, "documents")
        .select(col("doc_id"), col("text").cast("binary").as("payload"))
        .as[(Long, Array[Byte])]
        .mapPartitions(_.flatMap { case (id, payload) =>
          val nBytes = payload.length.toLong
          val nFrames = 1 + nBytes % 7
          (0L until nFrames by 2).iterator.map { frameIdx =>
            (id, frameIdx, (nBytes * 31 + frameIdx * 7) % 997)
          }
        })
        .toDF("doc_id", "frame_idx", "feat")
        .orderBy("doc_id", "frame_idx")
    }),

    // ---- near-dup dedup family ----
    "dedup_minhash_sig" -> ((s, d) => {
      // MinHash over 3-gram shingles (md5-based hash family —
      // DuckDB-mirrorable): one hashed pass + one fold for all functions,
      // unpacked into columns in a SECOND projection — CollapseProject
      // keeps the expensive fold un-inlined, so it runs once per row
      t(s, d, "documents")
        .select(col("doc_id"),
          minhashSigs(shingles(split(col("text"), " "))).as("sigs"))
        .select(col("doc_id") +: MinhashFns.indices.map(j =>
          element_at(col("sigs"), j + 1).as(s"mh$j")): _*)
        .orderBy("doc_id")
    }),
    "dedup_simhash" -> ((s, d) => {
      // SimHash (8-bit demo width): per-bit majority of token-hash bits
      val w = split(col("text"), " ")
      val sim = (0 until 8).map { j =>
        val votes = aggregate(w, lit(0L),
          (acc, tok) => acc + (shiftright(mdHash(tok), j) % 2L) * 2L - 1L)
        when(votes >= 0, lit(1L) * (1L << j)).otherwise(0L)
      }.reduce(_ + _)
      t(s, d, "documents").select(col("doc_id"), sim.as("simhash")).orderBy("doc_id")
    }),
    "dedup_ngram_jaccard" -> ((s, d) =>
      // exact n-gram Jaccard over all pairs above threshold (verification
      // kernel for the LSH candidates below)
      ngramJaccardPairs(s, d).select("a_id", "b_id", "j").orderBy("a_id", "b_id")),
    "dedup_clusters" -> ((s, d) =>
      // dedup clustering: connected components over the verified near-dup
      // pair graph — the step a real pipeline runs after pair generation to
      // pick ONE canonical doc (min doc_id) per duplicate cluster; min-label
      // propagation, one narrow join+agg per round (graft.Dedup)
      graft.Dedup.connectedComponents(ngramJaccardPairs(s, d), "a_id", "b_id")
        .orderBy("doc_id")),
    "dedup_keep_canonical" -> ((s, d) => {
      // the dedup pipeline's actual OUTPUT: the corpus with near-duplicates
      // removed — every doc except non-canonical cluster members (anti-join
      // against components; the canonical member is the cluster minimum, so
      // exactly one survivor per duplicate cluster, all singletons kept)
      val drop = graft.Dedup
        .connectedComponents(ngramJaccardPairs(s, d), "a_id", "b_id")
        .filter(col("doc_id") =!= col("cluster_id"))
        .select(col("doc_id"))
      t(s, d, "documents").join(drop, Seq("doc_id"), "left_anti")
        .select(col("doc_id"), col("lang"), col("n_chars")).orderBy("doc_id")
    }),
    "dedup_semantic_all" -> ((s, d) =>
      // SemDeDup's exact kernel (nlist=1: one cell = every pair compared):
      // cosine pairs >= 0.4 → connected components → keep the component
      // minimum. Oracle recomputes it with list_cosine_similarity + a
      // recursive reachability CTE (same pattern as dedup_keep_canonical).
      graft.Dedup.semanticKeep(t(s, d, "embeddings"), "vec_id", "embedding",
        nlist = 1, iters = 1, cosMin = 0.4).orderBy("id")),
    "dedup_semantic" -> ((s, d) =>
      // the scaled shape: k-means cells, pair join keyed on cell —
      // candidates only within a cell, the exact kernel per candidate. The
      // gate runs the SEED-centroid index (iters = 0: centroids are the
      // normalized embeddings of the 4 lowest ids), which makes every step —
      // assignment argmax, cell-restricted pair join, cosine verify,
      // connected components, canonical keep — recomputable by the DuckDB
      // oracle; SemanticDedupSpec covers the TRAINED path (iters = 4) and
      // asserts kept ⊇ the exact kernel's kept set plus a drop-recall
      // floor. nlist=4 is the demo size for this corpus (its near-dups sit
      // at cos≈0.4, far below the ≥0.9 SemDeDup operating point where
      // duplicates co-locate in a cell almost surely — same demo-width
      // trade as the 4-plane LSH gates); production tunes nlist to corpus
      // size and raises cosMin, which only tightens co-location.
      graft.Dedup.semanticKeep(t(s, d, "embeddings"), "vec_id", "embedding",
        nlist = 4, iters = 0, cosMin = 0.4).orderBy("id")),
    "dedup_minhash_pairs" -> ((s, d) => {
      // full MinHash+LSH dedup: band → bucket join → exact-jaccard verify.
      // Bands of 1 row over 4 sigs, verify j >= 0.2. Oracle: with r=1 the
      // band key IS the signature value, so DuckDB re-derives the candidate
      // set as an OR of per-band signature equalities. The verify kernel
      // intersects the docs' DISTINCT 60-bit shingle-hash sets (see
      // hashedShingles) — Jaccard over them equals Jaccard over the raw
      // shingle sets up to a ~1e-14 collision, md5 runs once per shingle,
      // and the shuffle carries 8-byte elements instead of 3-word strings
      // (the 10× scale probe measured the string-array variant at 23×
      // wall / 916 MB spill; this shape is linear in the pair count).
      val hdocs = t(s, d, "documents").select(col("doc_id"),
        hashedShingles(shingles(split(col("text"), " "))).as("hd"))
      val docs = hdocs.select(col("doc_id"), col("hd"),
        minhashSigsFromHashed(col("hd")).as("sigs"))
      // bucket join + pair dedup on NARROW (a_id, b_id) keys only — the
      // hash arrays never enter the band shuffle or the distinct; they are
      // re-joined afterwards for the verify kernel
      val banded = docs
        .select(col("doc_id"), posexplode(col("sigs")).as(Seq("band", "key")))
        .filter(col("key").isNotNull)
      val pairs = banded.select(col("band"), col("key"), col("doc_id").as("a_id"))
        .join(banded.select(col("band"), col("key"), col("doc_id").as("b_id")), Seq("band", "key"))
        .filter(col("a_id") < col("b_id"))
        .select("a_id", "b_id").distinct()
      pairs
        .join(hdocs.select(col("doc_id").as("a_id"), col("hd").as("a_hd")), Seq("a_id"))
        .join(hdocs.select(col("doc_id").as("b_id"), col("hd").as("b_hd")), Seq("b_id"))
        .withColumn("j", round(
          size(array_intersect(col("a_hd"), col("b_hd"))).cast("double") /
            size(array_union(col("a_hd"), col("b_hd"))).cast("double"), 4))
        .filter(col("j") >= 0.2)
        .select("a_id", "b_id", "j").orderBy("a_id", "b_id")
    }),

    // ---- streaming (W1/W3 over Structured Streaming) ----
    "stream_tumbling" -> ((s, d) =>
      streamGate(s, d, "events", "complete")(sdf =>
        sdf.withColumn("ts", col("ts").cast("timestamp"))
          .groupBy(window(col("ts"), "1 hour"), col("event_type"))
          .agg(count(lit(1)).as("n")))
        .select(unix_millis(col("window.start")).as("bucket_ms"), col("event_type"), col("n"))
        .orderBy("bucket_ms", "event_type")),

    "stream_search" -> ((s, d) => {
      // streaming search (the reference's real-time query path): the same
      // codegen'd wildcard predicate the batch engine compiles, applied to
      // a live file stream. A stateless filter — zero aggregation state at
      // any stream length, each match emitted exactly once in append mode.
      withClp(s)
      streamGate(s, d, "documents", "append")(sdf =>
        sdf.filter(wildcard_match(col("text"), lit("*spark*window*"), lit(true)))
          .select("doc_id", "lang"))
        .orderBy("doc_id")
    }),

    "stream_dedup" -> ((s, d) => {
      // Online near-dup filtering under the oracle: documents stream
      // through StreamingDedup in 3 id-ordered micro-batches at the
      // demo-width cross-engine family (4 mdHash MinHash fns, 1-row bands;
      // estJ >= 0.5 ⇔ >= 2 of 4 components match). Ids increase across
      // batches, so the DuckDB one-shot rule — drop a doc iff ANY
      // smaller-id doc matches — recomputes the entire stream, including
      // seen-not-kept semantics (a dropped doc still suppresses its own
      // later near-dups). StreamingDedupSpec asserts the same stream ≡
      // batch identity at production widths (128 fns, r=2).
      val dir = java.nio.file.Files.createTempDirectory("graft-stream-dedup").toString
      val eng = new graft.streaming.StreamingDedup(s, dir, nFns = 4, bandRows = 1,
        jMin = 0.5, sigsOf = Some(sh => minhashSigs(sh)))
      val docs = t(s, d, "documents").select("doc_id", "text")
      val maxRow = docs.agg(max("doc_id")).head
      if (maxRow.isNullAt(0)) docs.select("doc_id") // empty corpus: no batches
      else {
        val n = maxRow.getLong(0) + 1
        Seq((0L, n / 3), (n / 3, 2 * n / 3), (2 * n / 3, Long.MaxValue))
          .zipWithIndex.foreach { case ((lo, hi), b) =>
            eng.processBatch(docs.filter(col("doc_id") >= lo && col("doc_id") < hi), b.toLong)
          }
        eng.readKept().select("doc_id").orderBy("doc_id")
      }
    }),

    "stream_dedup_metrics" -> ((s, d) => {
      // the audit side of stream_dedup: per-batch (n_in, n_kept, n_dropped)
      // metrics rows, committed with each batch marker, must reconcile with
      // a DuckDB recomputation of the same three id-range batches — the
      // lineage+metrics contract extended to streaming state and ORACLE-
      // checked, not just sbt-asserted.
      val dir = java.nio.file.Files.createTempDirectory("graft-sdm").toString
      val eng = new graft.streaming.StreamingDedup(s, dir, nFns = 4, bandRows = 1,
        jMin = 0.5, sigsOf = Some(sh => minhashSigs(sh)))
      val docs = t(s, d, "documents").select("doc_id", "text")
      val maxRow = docs.agg(max("doc_id")).head
      if (maxRow.isNullAt(0)) {
        s.range(0).select(col("id").as("batch_id"), col("id").as("n_in"),
          col("id").as("n_kept"), col("id").as("n_dropped"))
      } else {
        val n = maxRow.getLong(0) + 1
        Seq((0L, n / 3), (n / 3, 2 * n / 3), (2 * n / 3, Long.MaxValue))
          .zipWithIndex.foreach { case ((lo, hi), b) =>
            eng.processBatch(docs.filter(col("doc_id") >= lo && col("doc_id") < hi), b.toLong)
          }
        eng.readMetrics().orderBy("batch_id")
      }
    }),

    // ---- the full CLP pipeline as one driver-checkable identity ----
    "clp_pipeline_route" -> ((s, d) => {
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
    }),

    // ---- similarity: LSH-bucketed ANN (scale path; no SQL oracle — bucket
    // recall vs the oracle-checked brute force is asserted in the sbt
    // suite). Signature AND scoring are codegen'd vec_dot expressions —
    // no per-row Scala UDF, no interpreted HOF fold. ----
    "knn_lsh" -> ((s, d) => {
      val planes = KnnLsh.hyperplanes(nPlanes = 4, dim = 64, seed = 42L)
      val e = t(s, d, "embeddings")
        .withColumn("bucket", KnnLsh.bucketCol(col("embedding"), planes))
      val q = e.filter(col("vec_id") === 0)
        .select(col("bucket").as("q_bucket"), col("embedding").as("q_emb"))
      e.filter(col("vec_id") =!= 0).crossJoin(broadcast(q))
        .filter(col("bucket") === col("q_bucket")) // bucket pruning
        .withColumn("score", round(
          vec_dot(col("embedding"), col("q_emb")) /
            (sqrt(vec_dot(col("embedding"), col("embedding"))) *
             sqrt(vec_dot(col("q_emb"), col("q_emb")))), 4))
        .select("vec_id", "score")
        .orderBy(desc("score"), asc("vec_id")).limit(3)
    }),

    // ---- multi-probe variant: also probes every bucket at Hamming
    // distance 1 from the query signature (bit_count(xor) ≤ 1, codegen'd
    // builtin) — the standard recall lever when a near neighbor falls on
    // the other side of one hyperplane ----
    "knn_lsh_multiprobe" -> ((s, d) => {
      val planes = KnnLsh.hyperplanes(nPlanes = 4, dim = 64, seed = 42L)
      val e = t(s, d, "embeddings")
        .withColumn("bucket", KnnLsh.bucketCol(col("embedding"), planes))
      val q = e.filter(col("vec_id") === 0)
        .select(col("bucket").as("q_bucket"), col("embedding").as("q_emb"))
      e.filter(col("vec_id") =!= 0).crossJoin(broadcast(q))
        .filter(bit_count(col("bucket").bitwiseXOR(col("q_bucket"))) <= 1)
        .withColumn("score", round(
          vec_dot(col("embedding"), col("q_emb")) /
            (sqrt(vec_dot(col("embedding"), col("embedding"))) *
             sqrt(vec_dot(col("q_emb"), col("q_emb")))), 4))
        .select("vec_id", "score")
        .orderBy(desc("score"), asc("vec_id")).limit(3)
    }),

    // ---- IVF ANN: spherical-k-means cells (deterministic init), probe the
    // nProbe nearest cells, exact cosine within them — the trainable scale
    // path next to LSH; persisted partitionBy("cell") the probe is a
    // partition-pruned scan (asserted in KnnIvfSpec). The gate runs the
    // seed-centroid index (iters = 0, see ivfTopK), so the ENTIRE pruned
    // search — assignment argmax, probe-2 set, cell-restricted scan, exact
    // re-rank — is recomputed by the DuckDB oracle; trained-centroid
    // behavior (iters = 3) is asserted in KnnIvfSpec. ----
    "knn_ivf" -> ((s, d) => ivfTopK(s, d, nProbe = 2)),

    // ---- IVF probe-all correctness gate: with nProbe = nlist the cell
    // filter keeps every row, so the result MUST equal brute-force top-k —
    // this puts the whole train→index→probe→score path under the DuckDB
    // oracle (the only thing nProbe=2 above adds is which cells are
    // skipped, and KnnIvfSpec covers that recall). ----
    "knn_ivf_all" -> ((s, d) => ivfTopK(s, d, nProbe = 8)),

    // ---- the bucketed embedding DEDUP end-to-end (the 100 TB shape the
    // exact dedup_embedding kernel runs inside): LSH bucket → per-bucket
    // exact cosine with the norm computed ONCE per row (not per pair).
    // Oracle: the plane set is deterministic, so the SQL inlines it as
    // DOUBLE[] literals and recomputes bucket + cosine in DuckDB. ----
    "dedup_embedding_lsh" -> ((s, d) => {
      val planes = KnnLsh.hyperplanes(nPlanes = 4, dim = 64, seed = 42L)
      val e = t(s, d, "embeddings")
        .select(col("vec_id"), col("embedding").as("emb"))
        .withColumn("norm", sqrt(vec_dot(col("emb"), col("emb"))))
        .withColumn("bucket", KnnLsh.bucketCol(col("emb"), planes))
      val a = e.select(col("bucket"), col("vec_id").as("a_id"),
        col("emb").as("a_emb"), col("norm").as("a_norm"))
      val b = e.select(col("bucket"), col("vec_id").as("b_id"),
        col("emb").as("b_emb"), col("norm").as("b_norm"))
      a.join(b, Seq("bucket")).filter(col("a_id") < col("b_id")) // co-bucketed pairs only
        .withColumn("cos", round(
          vec_dot(col("a_emb"), col("b_emb")) / (col("a_norm") * col("b_norm")), 4))
        .filter(col("cos") >= 0.4)
        .select("a_id", "b_id", "cos").orderBy("a_id", "b_id")
    })
  )

  /** DuckDB form of [[mdHash]]. */
  private def sqlHash(e: String): String =
    s"CAST('0x'||substr(md5($e),1,15) AS BIGINT)"

  /** Shared k=8 window-hash stream for the substring-dedup pair: (doc_id,
    * pos, h) grams plus the cross-doc duplicated hash set — the span gate
    * (dedup_substring) and the cut gate (dedup_substring_cut) must stay on
    * ONE gram scheme or their span/cut results silently disagree. */
  private def substringGrams(docs: DataFrame, k: Int): (DataFrame, DataFrame) = {
    val words = split(col("text"), " ")
    val grams = docs
      .select(col("doc_id"),
        posexplode(when(size(words) >= k,
          transform(sequence(lit(1), size(words) - (k - 1)),
            i => mdHash(concat_ws(" ", slice(words, i, lit(k))))))
          .otherwise(array().cast("array<long>"))).as(Seq("p0", "h")))
      .select(col("doc_id"), (col("p0") + 1).as("pos"), col("h"))
    val dup = grams.groupBy("h")
      .agg(countDistinct("doc_id").as("nd")).filter(col("nd") >= 2).select("h")
    (grams, dup)
  }

  /** DuckDB twin of [[substringGrams]] (CTEs `w`, `g`, `dup`). */
  private val sqlSubstringGramsCte: String =
    s"""WITH w AS (SELECT doc_id, string_split(text, ' ') AS words FROM documents),
       |g AS (SELECT doc_id,
       |        unnest(generate_series(1, len(words)-7)) AS pos,
       |        unnest(list_transform(generate_series(1, len(words)-7),
       |          i -> ${sqlHash("array_to_string(words[i:i+7], ' ')")})) AS h
       |      FROM w),
       |dup AS (SELECT h FROM g GROUP BY h HAVING count(DISTINCT doc_id) >= 2)""".stripMargin

  private val sqlMinhashCols: String = MinhashFns.zipWithIndex.map { case ((a, b), j) =>
    s"CAST(list_aggregate(list_transform(sh, t -> ($a * (${sqlHash("t")} % $MinhashP1) + $b) % $MinhashMod), 'min') AS BIGINT) AS mh$j"
  }.mkString(",\n  ")

  /** DuckDB form of [[KnnLsh.bucketCol]]: the deterministic plane set
    * inlined as DOUBLE[] literals. Sign bits match Spark exactly because
    * both sides compute the dot in double over the same element order
    * (DuckDB's FLOAT[] overload computes in float — the casts matter). */
  private def sqlBucketExpr(embCol: String, planes: Array[Array[Double]]): String =
    planes.zipWithIndex.map { case (p, i) =>
      val arr = p.mkString("[", ", ", "]")
      s"(CASE WHEN list_dot_product(CAST($embCol AS DOUBLE[]), CAST($arr AS DOUBLE[])) >= 0 THEN ${1 << i} ELSE 0 END)"
    }.mkString("\n    + ")

  /** DuckDB cosine written as the exact IEEE sequence the Spark queries use:
    * dot / (sqrt(dot(a,a)) * sqrt(dot(b,b))), all in double. */
  private def sqlCos(a: String, b: String): String =
    s"""list_dot_product(CAST($a AS DOUBLE[]), CAST($b AS DOUBLE[]))
       |    / (sqrt(list_dot_product(CAST($a AS DOUBLE[]), CAST($a AS DOUBLE[])))
       |       * sqrt(list_dot_product(CAST($b AS DOUBLE[]), CAST($b AS DOUBLE[]))))""".stripMargin

  private lazy val sqlLshBucket: String =
    sqlBucketExpr("embedding", KnnLsh.hyperplanes(nPlanes = 4, dim = 64, seed = 42L))

  private val sqlSimhashExpr: String = (0 until 8).map { j =>
    s"(CASE WHEN list_aggregate(list_transform(words, t -> ((${sqlHash("t")} >> $j) & 1) * 2 - 1), 'sum') >= 0 THEN ${1L << j} ELSE 0 END)"
  }.mkString(" + ")

  private val sqlShinglesCte: String =
    """WITH w AS (SELECT doc_id, string_split(text, ' ') AS words FROM documents),
      |s AS (SELECT doc_id, list_transform(generate_series(1, len(words)-2),
      |        i -> words[i] || ' ' || words[i+1] || ' ' || words[i+2]) AS sh FROM w)""".stripMargin

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

  /** Shared SELECT head for the search-gate oracles. */
  private def sqlSearchSelect(where: String): String =
    s"""SELECT $sqlSearchConv AS conv_id, CAST(doc_id // 50 AS INT) AS turn_idx
       |FROM documents WHERE $where ORDER BY conv_id, turn_idx""".stripMargin

  /** DuckDB form of the 4 generator-rule shape descriptors. */
  private val sqlJsonDescriptor =
    """CASE CAST(doc_id % 4 AS INT)
      |  WHEN 0 THEN 'id:Integer;k:Integer;level:VarString;msg:ClpString;ts:DateString'
      |  WHEN 1 THEN 'id:Integer;k:Integer;level:VarString;meta.lang:VarString;meta.score:Float;msg:ClpString;ts:DateString'
      |  WHEN 2 THEN 'id:Integer;msg:ClpString;tags:UnstructuredArray;ts:DateString'
      |  ELSE 'id:Integer;msg:ClpString;ok:Boolean;ts:DateString' END""".stripMargin

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

  /** Structurize-arrays descriptors: only shape 2 carries an array (two
    * single-token strings → one VarString element node under the
    * StructuredArray node). Leaves sort as full "path:Type" strings, and
    * '.' < ':', so `tags.[]` precedes `tags:`. */
  private val sqlJsonDescriptorStruct = sqlJsonDescriptor.replace(
    "tags:UnstructuredArray",
    "tags.[]:VarString;tags:StructuredArray")

  val oracleSql: Map[String, String] = Map(
    "jsonl_schema_route" ->
      s"""SELECT md5($sqlJsonDescriptor) AS schema_id, count(*) AS n_records
         |FROM documents GROUP BY 1 ORDER BY 1""".stripMargin,
    "jsonl_structurize_route" ->
      s"""SELECT md5($sqlJsonDescriptorStruct) AS schema_id, count(*) AS n_records
         |FROM documents GROUP BY 1 ORDER BY 1""".stripMargin,
    "jsonl_schema_tree" ->
      s"""WITH leaves AS (
         |  SELECT DISTINCT unnest(string_split($sqlJsonDescriptor, ';')) AS leaf
         |  FROM documents),
         |sorted AS (
         |  SELECT leaf,
         |    string_split(leaf, ':')[1] AS path, string_split(leaf, ':')[2] AS node_type
         |  FROM leaves)
         |SELECT CAST(row_number() OVER (ORDER BY path, node_type) - 1 AS INT) AS node_id,
         |  path, node_type
         |FROM sorted ORDER BY node_id""".stripMargin,
    "jsonl_kql_nested" ->
      """SELECT doc_id AS id FROM documents
        |WHERE doc_id % 4 = 1 AND lang = 'en' AND doc_id % 100 >= 50
        |ORDER BY id""".stripMargin,
    "lake_time_travel" ->
      """SELECT doc_id AS id, md5(text) AS fp,
        |  (SELECT count(*) FROM documents) AS total_now
        |FROM documents WHERE doc_id % 2 = 0 ORDER BY id""".stripMargin,
    "kvir_roundtrip" ->
      """SELECT doc_id AS id, md5(text) AS fp,
        |  CASE CAST(doc_id % 4 AS INT) WHEN 0 THEN 5 WHEN 1 THEN 7
        |       WHEN 2 THEN 4 ELSE 4 END AS n_leaves
        |FROM documents ORDER BY id""".stripMargin,
    "jsonl_ts_range" ->
      s"""SELECT doc_id AS id FROM documents
         |WHERE $sqlJsonTsEpochMs BETWEEN 1704074400000 AND 1704081540000
         |ORDER BY id""".stripMargin,
    "jsonl_count_by_time" ->
      s"""SELECT ($sqlJsonTsEpochMs)//3600000 AS bucket, count(*) AS n
         |FROM documents WHERE doc_id % 4 = 0 GROUP BY 1 ORDER BY 1""".stripMargin,
    "jsonl_extract_e2e" ->
      s"""SELECT doc_id AS log_event_idx, md5($sqlJsonText) AS fp
         |FROM documents ORDER BY 1""".stripMargin,
    "jsonl_range_index" ->
      """SELECT doc_id AS id,
        |  'logs/' || CAST(doc_id // 20 AS VARCHAR) || '.jsonl' AS "$_filename"
        |FROM documents
        |WHERE doc_id % 4 = 0 AND CAST((doc_id // 20) % 10 AS INT) = 1
        |ORDER BY id""".stripMargin,
    "jsonl_projection" ->
      """SELECT doc_id AS id,
        |  CASE WHEN doc_id%4=1 THEN lang END AS "meta.lang",
        |  CASE WHEN doc_id%4=1 THEN (doc_id%100)+0.5 END AS "meta.score"
        |FROM documents WHERE doc_id%4 IN (0,1) AND doc_id%100 >= 50
        |ORDER BY id""".stripMargin,
    "clp_search_e2e_var" ->
      sqlSearchSelect(s"($sqlSearchText) LIKE '% 503 %'"),
    "clp_search_e2e_dict" ->
      sqlSearchSelect(s"($sqlSearchText) LIKE '% code=es %'"),
    "clp_search_e2e_wild" ->
      sqlSearchSelect(s"($sqlSearchText) LIKE '%spark%window%'"),
    "clp_search_e2e_multivar" ->
      sqlSearchSelect(s"($sqlSearchText) LIKE '% 503 code=es %'"),
    "clp_search_e2e_nocase" ->
      sqlSearchSelect(s"lower($sqlSearchText) LIKE '%spark%window%'"),
    "clp_search_e2e_prune" ->
      sqlSearchSelect(s"($sqlSearchText) LIKE '% code=zz %'"),
    "clp_search_e2e_ts" ->
      sqlSearchSelect("doc_id BETWEEN 10 AND 30"),
    "clp_search_e2e_dict_ts" ->
      sqlSearchSelect(
        s"($sqlSearchText) LIKE '% code=es %' AND doc_id BETWEEN 5 AND 250"),
    "clp_catalog_search" ->
      sqlSearchSelect(
        s"($sqlSearchText) LIKE '% code=es %' AND doc_id BETWEEN 130 AND 260"),
    "clp_catalog_bloom_prune" ->
      sqlSearchSelect(s"($sqlBloomText) LIKE '% job2 %'"),
    "clp_catalog_search_batched" ->
      sqlSearchSelect(
        s"($sqlSearchText) LIKE '% code=es %' AND doc_id BETWEEN 130 AND 260"),
    "clp_catalog_kql_fleet" ->
      """SELECT doc_id AS id FROM documents
        |WHERE doc_id % 4 = 1 AND lang = 'en' AND doc_id % 100 >= 50
        |ORDER BY id""".stripMargin,
    "clp_catalog_tags" ->
      sqlSearchSelect(
        s"($sqlSearchText) LIKE '% code=es %' AND least(doc_id // 125, 3) < 2"),
    "clp_results_cache" ->
      s"""SELECT $sqlSearchConv AS conv_id, CAST(doc_id // 50 AS INT) AS turn_idx,
         |  CAST(1 AS INT) AS n_jobs, '1' AS swept
         |FROM documents WHERE ($sqlSearchText) LIKE '% code=es %'
         |ORDER BY conv_id, turn_idx""".stripMargin,
    "clp_catalog_dataset" ->
      sqlSearchSelect(
        s"($sqlSearchText) LIKE '% code=es %' AND least(doc_id // 125, 3) >= 2"),
    "clp_encoded_agg" ->
      """SELECT lang AS role, count(*) AS n,
        |  round(avg((doc_id % 7) * 100 + 3), 4) AS avg_status,
        |  CAST(min((doc_id % 7) * 100 + 3) AS BIGINT) AS min_status,
        |  CAST(max((doc_id % 7) * 100 + 3) AS BIGINT) AS max_status
        |FROM documents GROUP BY 1 ORDER BY role""".stripMargin,
    "clp_search_limit" ->
      s"""SELECT CAST(least(40, (SELECT count(*) FROM documents
         |  WHERE ($sqlSearchText) LIKE '% code=es %')) AS BIGINT) AS n""".stripMargin,
    "clp_enrich_join" ->
      """SELECT 'team-' || lang AS team,
        |  CASE WHEN length(source) % 2 = 0 THEN 'premium' ELSE 'standard' END AS cost_class,
        |  CAST(count(*) AS BIGINT) AS n
        |FROM documents GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,
    "clp_sink_stats" ->
      s"""SELECT CAST(count(*) AS BIGINT) AS n_rows,
         |  CAST(sum(strlen($sqlSearchText)) AS BIGINT) AS n_bytes,
         |  CAST(min(1704067200000 + doc_id*1000) AS BIGINT) AS min_ts,
         |  CAST(max(1704067200000 + doc_id*1000) AS BIGINT) AS max_ts,
         |  CAST(count(*) AS BIGINT) AS lineage_rows
         |FROM documents""".stripMargin,
    "clp_search_e2e_countbytime" ->
      """SELECT CAST(floor((1704067200000 + doc_id*1000) / 10000) * 10000 AS BIGINT) AS bucket,
        |  count(*) AS cnt
        |FROM documents GROUP BY 1 ORDER BY 1""".stripMargin,
    "clp_extract_schema_mode" ->
      s"""SELECT $sqlSearchConv AS conv_id, CAST(doc_id // 50 AS INT) AS turn_idx,
         |  md5($sqlSearchText) AS fp
         |FROM documents ORDER BY conv_id, turn_idx""".stripMargin,
    "clp_extract_e2e" ->
      s"""SELECT $sqlSearchConv AS conv_id, CAST(doc_id // 50 AS INT) AS turn_idx,
         |  md5($sqlSearchText) AS fp
         |FROM documents ORDER BY conv_id, turn_idx""".stripMargin,
    "archive_ingest_e2e" ->
      """SELECT source || '.log' AS file,
        |  CAST(row_number() OVER (PARTITION BY source ORDER BY doc_id) - 1 AS INT) AS event_idx,
        |  1704067200000 + doc_id * 1000 AS epoch_ms,
        |  md5(' ' || text) AS fp
        |FROM documents ORDER BY file, event_idx""".stripMargin,
    "raw_ingest_e2e" ->
      """SELECT source || '.log' AS file,
        |  CAST(row_number() OVER (PARTITION BY source ORDER BY doc_id) - 1 AS INT) AS event_idx,
        |  1704067200000 + doc_id * 1000 AS epoch_ms,
        |  md5(' ' || text) AS fp
        |FROM documents ORDER BY file, event_idx""".stripMargin,
    "raw_ingest_reference_fixture" ->
      s"""$sqlFixtureEventsCte
         |SELECT event_idx, epoch_ms, md5(text) AS fp, rt_fp
         |FROM fe ORDER BY event_idx""".stripMargin,
    "clp_search_reference_fixture" ->
      s"""$sqlFixtureEventsCte,
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
         |ORDER BY q, event_idx""".stripMargin,
    "jsonl_float_fixture" ->
      s"""WITH f AS (SELECT * FROM (VALUES
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
         |FROM e ORDER BY file, line_idx""".stripMargin,
    "dedup_minhash_sig" ->
      s"""$sqlShinglesCte
         |SELECT doc_id,
         |  $sqlMinhashCols
         |FROM s ORDER BY doc_id""".stripMargin,
    "dedup_simhash" ->
      s"""WITH w AS (SELECT doc_id, string_split(text, ' ') AS words FROM documents)
         |SELECT doc_id, CAST($sqlSimhashExpr AS BIGINT) AS simhash
         |FROM w ORDER BY doc_id""".stripMargin,
    "dedup_ngram_jaccard" ->
      s"""$sqlShinglesCte,
         |sd AS (SELECT doc_id, list_distinct(sh) AS sh FROM s)
         |SELECT * FROM (
         |  SELECT a.doc_id AS a_id, b.doc_id AS b_id,
         |    round(CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE) /
         |          CAST(len(list_distinct(a.sh || b.sh)) AS DOUBLE), 4) AS j
         |  FROM sd a, sd b WHERE a.doc_id < b.doc_id)
         |WHERE j >= 0.2 ORDER BY a_id, b_id""".stripMargin,
    // connected components via a recursive reachability CTE: every vertex's
    // cluster_id is the min doc_id reachable in the near-dup pair graph —
    // the same fixpoint min-label propagation converges to.
    "dedup_clusters" ->
      s"""${sqlShinglesCte.replaceFirst("WITH ", "WITH RECURSIVE ")},
         |sd AS (SELECT doc_id, list_distinct(sh) AS sh FROM s),
         |p AS (SELECT a.doc_id AS a_id, b.doc_id AS b_id
         |  FROM sd a, sd b WHERE a.doc_id < b.doc_id
         |    AND round(CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE) /
         |          CAST(len(list_distinct(a.sh || b.sh)) AS DOUBLE), 4) >= 0.2),
         |e AS (SELECT a_id AS es, b_id AS ed FROM p
         |  UNION SELECT b_id, a_id FROM p),
         |r(id, lbl) AS (
         |  SELECT es, es FROM e
         |  UNION
         |  SELECT e.ed, r.lbl FROM r JOIN e ON e.es = r.id)
         |SELECT CAST(id AS BIGINT) AS doc_id, CAST(min(lbl) AS BIGINT) AS cluster_id
         |FROM r GROUP BY id ORDER BY doc_id""".stripMargin,
    // dedup output: anti-join documents against non-canonical component
    // members (same recursive reachability CTE as dedup_clusters).
    "dedup_keep_canonical" ->
      s"""${sqlShinglesCte.replaceFirst("WITH ", "WITH RECURSIVE ")},
         |sd AS (SELECT doc_id, list_distinct(sh) AS sh FROM s),
         |p AS (SELECT a.doc_id AS a_id, b.doc_id AS b_id
         |  FROM sd a, sd b WHERE a.doc_id < b.doc_id
         |    AND round(CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE) /
         |          CAST(len(list_distinct(a.sh || b.sh)) AS DOUBLE), 4) >= 0.2),
         |e AS (SELECT a_id AS es, b_id AS ed FROM p
         |  UNION SELECT b_id, a_id FROM p),
         |r(id, lbl) AS (
         |  SELECT es, es FROM e
         |  UNION
         |  SELECT e.ed, r.lbl FROM r JOIN e ON e.es = r.id),
         |drop AS (SELECT id FROM r GROUP BY id HAVING id <> min(lbl))
         |SELECT doc_id, lang, n_chars FROM documents
         |WHERE doc_id NOT IN (SELECT id FROM drop) ORDER BY doc_id""".stripMargin,
    "stream_tumbling" ->
      """SELECT CAST(floor(epoch_ms(ts)/3600000)*3600000 AS BIGINT) AS bucket_ms,
        |  event_type, count(*) AS n
        |FROM events GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,
    "stream_search" ->
      """SELECT doc_id, lang FROM documents
        |WHERE text LIKE '%spark%window%' ORDER BY doc_id""".stripMargin,
    "stream_dedup" ->
      s"""$sqlShinglesCte,
         |sig AS (SELECT doc_id, $sqlMinhashCols FROM s),
         |dropped AS (SELECT DISTINCT b.doc_id FROM sig a JOIN sig b ON a.doc_id < b.doc_id
         |  AND (CASE WHEN a.mh0=b.mh0 THEN 1 ELSE 0 END + CASE WHEN a.mh1=b.mh1 THEN 1 ELSE 0 END
         |     + CASE WHEN a.mh2=b.mh2 THEN 1 ELSE 0 END + CASE WHEN a.mh3=b.mh3 THEN 1 ELSE 0 END) >= 2)
         |SELECT doc_id FROM documents WHERE doc_id NOT IN (SELECT doc_id FROM dropped)
         |ORDER BY doc_id""".stripMargin,
    "stream_dedup_metrics" ->
      s"""$sqlShinglesCte,
         |sig AS (SELECT doc_id, $sqlMinhashCols FROM s),
         |dropped AS (SELECT DISTINCT b.doc_id FROM sig a JOIN sig b ON a.doc_id < b.doc_id
         |  AND (CASE WHEN a.mh0=b.mh0 THEN 1 ELSE 0 END + CASE WHEN a.mh1=b.mh1 THEN 1 ELSE 0 END
         |     + CASE WHEN a.mh2=b.mh2 THEN 1 ELSE 0 END + CASE WHEN a.mh3=b.mh3 THEN 1 ELSE 0 END) >= 2),
         |nn AS (SELECT max(doc_id)+1 AS n FROM documents),
         |bat AS (SELECT doc_id, CAST(CASE WHEN doc_id < n//3 THEN 0
         |          WHEN doc_id < 2*n//3 THEN 1 ELSE 2 END AS BIGINT) AS batch_id
         |        FROM documents, nn),
         |agg AS (SELECT batch_id, CAST(count(*) AS BIGINT) AS n_in,
         |  CAST(count(*) FILTER (WHERE doc_id NOT IN (SELECT doc_id FROM dropped)) AS BIGINT) AS n_kept,
         |  CAST(count(*) FILTER (WHERE doc_id IN (SELECT doc_id FROM dropped)) AS BIGINT) AS n_dropped
         |FROM bat GROUP BY batch_id)
         |-- all three batch ids emitted unconditionally: Spark commits an
         |-- n_in=0 metrics row for an id range that matched no docs (sparse
         |-- doc_id corpora), which a bare GROUP BY would omit here
         |SELECT ids.batch_id, CAST(COALESCE(n_in, 0) AS BIGINT) AS n_in,
         |  CAST(COALESCE(n_kept, 0) AS BIGINT) AS n_kept,
         |  CAST(COALESCE(n_dropped, 0) AS BIGINT) AS n_dropped
         |FROM (SELECT CAST(range AS BIGINT) AS batch_id FROM range(3), nn
         |      WHERE n IS NOT NULL) ids
         |LEFT JOIN agg USING (batch_id) ORDER BY batch_id""".stripMargin,
    "clp_pipeline_route" ->
      "SELECT CAST(count(*) AS BIGINT) AS n FROM documents",
    "q1_agg" ->
      """SELECT l_returnflag, l_linestatus, count(*) AS n,
        |  CAST(sum(CAST(round(l_quantity*100) AS BIGINT)) AS BIGINT) AS qty_cents,
        |  CAST(sum(CAST(round(l_extendedprice*100) AS BIGINT)) AS BIGINT) AS price_cents,
        |  CAST(sum(CAST(round(l_discount*100) AS BIGINT)) AS BIGINT) AS disc_cents
        |FROM lineitem GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,
    "q2_filter_pushdown" ->
      """SELECT l_orderkey, l_linenumber, CAST(round(l_quantity*100) AS BIGINT) AS qty_cents
        |FROM lineitem
        |WHERE l_shipdate >= TIMESTAMP '1995-01-01' AND l_shipdate < TIMESTAMP '1996-01-01'
        |  AND l_quantity > 45
        |ORDER BY 1, 2""".stripMargin,
    "q3_join_broadcast" ->
      """SELECT r_name, n_name, count(*) AS n_orders,
        |  CAST(sum(CAST(round(o_totalprice*100) AS BIGINT)) AS BIGINT) AS price_cents
        |FROM orders JOIN customer ON o_custkey = c_custkey
        |JOIN nation ON c_nationkey = n_nationkey
        |JOIN region ON n_regionkey = r_regionkey
        |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,
    "q4_semi_join" ->
      """SELECT c_mktsegment, count(*) AS n FROM customer
        |WHERE EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey AND o_totalprice > 150000)
        |GROUP BY 1 ORDER BY 1""".stripMargin,
    "q5_anti_join" ->
      """SELECT c_custkey, c_name FROM customer
        |WHERE NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey
        |  AND o_orderpriority = '1-URGENT' AND o_totalprice > 100000)
        |ORDER BY 1""".stripMargin,
    "q6_window_rank" ->
      """SELECT o_custkey, o_orderkey, CAST(round(o_totalprice*100) AS BIGINT) AS price_cents
        |FROM (SELECT *, row_number() OVER (PARTITION BY o_custkey
        |        ORDER BY o_totalprice DESC, o_orderkey) AS rn FROM orders)
        |WHERE rn = 1 ORDER BY o_custkey""".stripMargin,
    "q7_topk" ->
      """SELECT event_id, event_type, value FROM events
        |ORDER BY value DESC, event_id LIMIT 20""".stripMargin,
    "q8_tumbling_window" ->
      """SELECT CAST(floor(epoch_ms(ts)/3600000)*3600000 AS BIGINT) AS bucket_ms, event_type,
        |  count(*) AS n, CAST(sum(CAST(round(value*100) AS BIGINT)) AS BIGINT) AS value_cents
        |FROM events GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,
    "q9_count_distinct" ->
      """SELECT event_type, count(DISTINCT user_id) AS n_users, count(*) AS n
        |FROM events GROUP BY 1 ORDER BY 1""".stripMargin,
    "q10_minmax_stats" ->
      """SELECT event_type, min(epoch_ms(ts)) AS min_ts_ms, max(epoch_ms(ts)) AS max_ts_ms,
        |  min(CAST(round(value*100) AS BIGINT)) AS min_cents,
        |  max(CAST(round(value*100) AS BIGINT)) AS max_cents
        |FROM events GROUP BY 1 ORDER BY 1""".stripMargin,
    "q11_or_of_filters" ->
      """SELECT event_type, count(*) AS n FROM events
        |WHERE event_type = 'error' OR value > 99.0
        |GROUP BY 1 ORDER BY 1""".stripMargin,
    "q13_rollup" ->
      """SELECT coalesce(event_type, 'ALL') AS event_type,
        |  coalesce(user_id % 10, -1) AS user_bucket, count(*) AS n,
        |  CAST(sum(CAST(round(value*100) AS BIGINT)) AS BIGINT) AS value_cents
        |FROM events GROUP BY ROLLUP (event_type, user_id % 10)
        |ORDER BY 1, 2""".stripMargin,
    "q14_session_window" ->
      """WITH g AS (
        |  SELECT user_id, event_id, epoch_ms(ts) AS ms,
        |    CASE WHEN lag(epoch_ms(ts)) OVER w IS NULL
        |         OR epoch_ms(ts) - lag(epoch_ms(ts)) OVER w > 1800000 THEN 1 ELSE 0 END AS new_session
        |  FROM events
        |  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
        |s AS (
        |  SELECT user_id, ms,
        |    sum(new_session) OVER (PARTITION BY user_id ORDER BY ms, event_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS session_idx
        |  FROM g)
        |SELECT user_id, CAST(session_idx AS BIGINT) AS session_idx,
        |  count(*) AS n_events, min(ms) AS start_ms, max(ms) AS end_ms
        |FROM s GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,
    "q12_json_extract" ->
      """SELECT event_type, CAST(sum(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS BIGINT) AS sum_k,
        |  count(*) AS n
        |FROM events GROUP BY 1 ORDER BY 1""".stripMargin,
    "clp_roundtrip" ->
      "SELECT lang, count(*) AS n FROM documents GROUP BY 1 ORDER BY 1",
    "clp_roundtrip_props" ->
      "SELECT event_type, count(*) AS n FROM events GROUP BY 1 ORDER BY 1",
    "clp_int_vars" ->
      """SELECT event_type, CAST(sum(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS BIGINT) AS sum_vars
        |FROM events GROUP BY 1 ORDER BY 1""".stripMargin,
    "clp_wildcard_search" ->
      """SELECT doc_id, lang FROM documents
        |WHERE text LIKE '%spark%window%' ORDER BY doc_id""".stripMargin,
    "clp_dict_size" ->
      "SELECT count(*) AS n FROM documents",
    "regex_search" ->
      """SELECT doc_id, lang FROM documents
        |WHERE text LIKE '%spark%window%' ORDER BY doc_id""".stripMargin,
    "dedup_exact" ->
      """SELECT min(doc_id) AS keep_id, count(*) AS n_copies
        |FROM documents GROUP BY text ORDER BY 1""".stripMargin,
    "text_tokens" ->
      """SELECT doc_id, len(string_split(text, ' ')) AS n_tokens,
        |  len(list_distinct(string_split(text, ' '))) AS n_distinct
        |FROM documents ORDER BY 1""".stripMargin,
    "text_quality" ->
      """SELECT doc_id, n_chars,
        |  strlen(text) - (len(string_split(text, ' ')) - 1) AS alpha_chars,
        |  len(string_split(text, ' ')) AS n_tokens
        |FROM documents ORDER BY 1""".stripMargin,
    "text_fingerprint" ->
      "SELECT doc_id, md5(text) AS fp FROM documents ORDER BY 1",
    "lang_id" ->
      """SELECT doc_id, CASE WHEN text LIKE '% the %' OR text LIKE 'the %'
        |  THEN 'en' ELSE 'other' END AS pred_lang
        |FROM documents ORDER BY 1""".stripMargin,
    "text_redact_pii" ->
      """SELECT doc_id, regexp_replace(regexp_replace(regexp_replace(
        |    text || ' contact user' || CAST(doc_id AS VARCHAR)
        |      || '@mail.example.com via 10.0.' || CAST(doc_id % 256 AS VARCHAR)
        |      || '.' || CAST(doc_id % 100 AS VARCHAR)
        |      || ' tel +1-555-' || printf('%04d', doc_id % 10000),
        |    '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '<EMAIL>', 'g'),
        |    '\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b', '<IP>', 'g'),
        |    '\+1-555-\d{4}', '<PHONE>', 'g') AS clean
        |FROM documents ORDER BY doc_id""".stripMargin,
    "decontaminate" ->
      s"""$sqlShinglesCte,
         |g AS (SELECT doc_id, unnest(list_distinct(sh)) AS g FROM s),
         |bench AS (SELECT DISTINCT g FROM g WHERE doc_id % 97 = 0)
         |SELECT g.doc_id, count(DISTINCT g.g) AS n_hits
         |FROM g JOIN bench ON g.g = bench.g WHERE g.doc_id % 97 <> 0
         |GROUP BY g.doc_id ORDER BY g.doc_id""".stripMargin,
    "split_train_val" ->
      s"""SELECT doc_id,
         |  CASE WHEN ${sqlHash("'split:'||CAST(doc_id AS VARCHAR)")} % 100 < 80 THEN 'train'
         |       WHEN ${sqlHash("'split:'||CAST(doc_id AS VARCHAR)")} % 100 < 90 THEN 'val'
         |       ELSE 'test' END AS split
         |FROM documents ORDER BY doc_id""".stripMargin,
    "sample_stratified" ->
      s"""SELECT doc_id, lang FROM documents
         |WHERE ${sqlHash("'sample:'||CAST(doc_id AS VARCHAR)")} % 100 <
         |  (CASE WHEN lang='en' THEN 50 WHEN lang='fr' THEN 80 ELSE 100 END)
         |ORDER BY doc_id""".stripMargin,
    "text_unigram_logprob" ->
      """WITH toks AS (
        |  SELECT doc_id, unnest(string_split(text, ' ')) AS tok FROM documents
        |), t2 AS (SELECT doc_id, tok FROM toks WHERE tok <> ''),
        |vocab AS (SELECT tok, count(*) AS cnt FROM t2 GROUP BY 1),
        |tot AS (SELECT sum(cnt) AS total FROM vocab)
        |SELECT doc_id, count(*) AS n_tokens,
        |  round(sum(ln(cnt)) / count(*) - ln((SELECT total FROM tot)), 4) AS logprob
        |FROM t2 JOIN vocab USING (tok)
        |GROUP BY doc_id ORDER BY doc_id""".stripMargin,
    "logs_spike_detect" ->
      """WITH b AS (
        |  SELECT event_type, CAST(floor(epoch_ms(ts)/3600000)*3600000 AS BIGINT) AS bucket_ms,
        |    count(*) AS cnt
        |  FROM events GROUP BY 1, 2),
        |st AS (SELECT event_type, count(*) AS nb, CAST(sum(cnt) AS BIGINT) AS s1,
        |         CAST(sum(cnt*cnt) AS BIGINT) AS s2 FROM b GROUP BY 1)
        |SELECT b.event_type, b.bucket_ms, b.cnt,
        |  CAST(CASE WHEN (nb*cnt - s1) > 0
        |            AND (nb*cnt - s1)*(nb*cnt - s1) > 9*(nb*s2 - s1*s1)
        |       THEN 1 ELSE 0 END AS BIGINT) AS flag_spike
        |FROM b JOIN st USING (event_type)
        |ORDER BY event_type, bucket_ms""".stripMargin,
    "ccnet_ppl_buckets" ->
      """WITH toks AS (
        |  SELECT doc_id, unnest(string_split(text, ' ')) AS tok FROM documents
        |), t2 AS (SELECT doc_id, tok FROM toks WHERE tok <> ''),
        |vocab AS (SELECT tok, count(*) AS cnt FROM t2 GROUP BY 1),
        |tot AS (SELECT sum(cnt) AS total FROM vocab),
        |sc AS (SELECT doc_id,
        |  CAST(round((sum(ln(cnt)) / count(*) - ln((SELECT total FROM tot))) * 10000) AS BIGINT) AS ilp
        |  FROM t2 JOIN vocab USING (tok) GROUP BY doc_id)
        |SELECT doc_id, ilp,
        |  CASE WHEN ilp >= -34000 THEN 'head'
        |       WHEN ilp >= -34040 THEN 'middle' ELSE 'tail' END AS bucket
        |FROM sc ORDER BY doc_id""".stripMargin,
    "vocab_topk" ->
      """WITH toks AS (
        |  SELECT unnest(string_split(text, ' ')) AS tok FROM documents
        |)
        |SELECT tok, count(*) AS cnt FROM toks WHERE tok <> ''
        |GROUP BY tok ORDER BY cnt DESC, tok LIMIT 100""".stripMargin,
    "corpus_stats" ->
      """SELECT lang, source, count(*) AS n_docs,
        |  CAST(sum(len(string_split(text, ' '))) AS BIGINT) AS n_tokens,
        |  CAST(sum(n_chars) AS BIGINT) AS sum_chars,
        |  count(DISTINCT text) AS n_uniq
        |FROM documents GROUP BY lang, source ORDER BY lang, source""".stripMargin,
    "corpus_stats_approx" ->
      // the exact columns are recomputed; hll_ok is Spark's own
      // accuracy certificate (HLL++ deterministic, bound in integer math)
      """SELECT lang, source, count(*) AS n_docs,
        |  count(DISTINCT text) AS n_uniq, CAST(1 AS BIGINT) AS hll_ok
        |FROM documents GROUP BY lang, source ORDER BY lang, source""".stripMargin,
    "text_classifier_score" ->
      s"""WITH w AS (SELECT doc_id, string_split(text, ' ') AS words FROM documents),
         |f AS (SELECT doc_id, unnest(list_transform(generate_series(1, len(words)-1),
         |        i -> (${sqlHash("words[i] || ' ' || words[i+1]")} % 1001) - 500)) AS wt
         |      FROM w)
         |SELECT doc_id, CAST(count(*) AS BIGINT) AS n_feats,
         |       CAST(sum(wt) AS BIGINT) AS score,
         |       CASE WHEN sum(wt) > 0 THEN 1 ELSE 0 END AS keep
         |FROM f GROUP BY doc_id ORDER BY doc_id""".stripMargin,
    // same scores through the weight-TABLE join (the production model
    // wiring): distinct feature hashes → (h, wt) model table → join + sum
    "text_classifier_weighted" ->
      s"""WITH w AS (SELECT doc_id, string_split(text, ' ') AS words FROM documents),
         |f AS (SELECT doc_id, unnest(list_transform(generate_series(1, len(words)-1),
         |        i -> ${sqlHash("words[i] || ' ' || words[i+1]")})) AS h
         |      FROM w),
         |m AS (SELECT DISTINCT h, (h % 1001) - 500 AS wt FROM f)
         |SELECT f.doc_id, CAST(count(*) AS BIGINT) AS n_feats,
         |       CAST(sum(m.wt) AS BIGINT) AS score,
         |       CASE WHEN sum(m.wt) > 0 THEN 1 ELSE 0 END AS keep
         |FROM f JOIN m USING (h) GROUP BY f.doc_id ORDER BY doc_id""".stripMargin,
    "dedup_substring" ->
      s"""$sqlSubstringGramsCte,
         |m AS (SELECT g.doc_id, g.pos FROM g JOIN dup USING (h)),
         |i AS (SELECT doc_id, pos,
         |        CASE WHEN pos - lag(pos) OVER (PARTITION BY doc_id ORDER BY pos) <= 8
         |             THEN 0 ELSE 1 END AS brk FROM m),
         |s AS (SELECT doc_id, pos, sum(brk) OVER (PARTITION BY doc_id ORDER BY pos) AS island FROM i)
         |SELECT doc_id, CAST(min(pos) AS BIGINT) AS span_start,
         |       CAST(max(pos) + 7 AS BIGINT) AS span_end, count(*) AS n_windows
         |FROM s GROUP BY doc_id, island ORDER BY doc_id, span_start""".stripMargin,
    "dedup_substring_cut" ->
      s"""$sqlSubstringGramsCte,
         |cut AS (SELECT DISTINCT doc_id, tpos FROM (
         |  SELECT g.doc_id, unnest(generate_series(g.pos, g.pos+7)) AS tpos
         |  FROM g SEMI JOIN dup USING (h))),
         |toks AS (SELECT doc_id, unnest(generate_series(1, len(words))) AS tpos,
         |                unnest(words) AS tok FROM w)
         |SELECT t.doc_id, count(*) AS n_tokens,
         |       string_agg(t.tok, ' ' ORDER BY t.tpos) AS clean
         |FROM toks t ANTI JOIN cut c ON t.doc_id = c.doc_id AND t.tpos = c.tpos
         |GROUP BY t.doc_id ORDER BY t.doc_id""".stripMargin,
    "text_rep_ratio" ->
      s"""$sqlShinglesCte
         |SELECT doc_id, CAST(len(sh) AS BIGINT) AS n_sh,
         |  CAST(len(sh) - len(list_distinct(sh)) AS BIGINT) AS n_dup,
         |  CAST(CASE WHEN (len(sh) - len(list_distinct(sh))) * 10 >= len(sh) * 3
         |       THEN 1 ELSE 0 END AS BIGINT) AS flag_rep
         |FROM s ORDER BY doc_id""".stripMargin,
    "text_c4_filters" ->
      """WITH r AS (SELECT doc_id, text
        |    || (CASE WHEN doc_id % 13 = 0 THEN ' lorem ipsum {boilerplate;}' ELSE '' END)
        |    || (CASE doc_id % 4 WHEN 0 THEN '.' WHEN 1 THEN '!'
        |        WHEN 2 THEN ' and so on' ELSE '?' END) AS raw
        |  FROM documents),
        |m AS (SELECT doc_id, raw,
        |    len(string_split(raw, ' ')) AS n_tok,
        |    strlen(raw) - (len(string_split(raw, ' ')) - 1) AS alpha,
        |    strlen(raw) - strlen(replace(replace(replace(raw,'.',''),'!',''),'?','')) AS n_term
        |  FROM r)
        |SELECT doc_id,
        |  CAST(CASE WHEN substr(raw, -1, 1) IN ('.','!','?') THEN 1 ELSE 0 END AS BIGINT) AS f_endpunct,
        |  CAST(CASE WHEN n_term >= 3 THEN 1 ELSE 0 END AS BIGINT) AS f_sentences,
        |  CAST(CASE WHEN alpha >= n_tok * 3 AND alpha <= n_tok * 10 THEN 1 ELSE 0 END AS BIGINT) AS f_wordlen,
        |  CAST(CASE WHEN raw NOT LIKE '%lorem ipsum%' AND raw NOT LIKE '%{%' THEN 1 ELSE 0 END AS BIGINT) AS f_clean,
        |  CAST(CASE WHEN substr(raw, -1, 1) IN ('.','!','?') THEN 1 ELSE 0 END
        |    * CASE WHEN n_term >= 3 THEN 1 ELSE 0 END
        |    * CASE WHEN alpha >= n_tok * 3 AND alpha <= n_tok * 10 THEN 1 ELSE 0 END
        |    * CASE WHEN raw NOT LIKE '%lorem ipsum%' AND raw NOT LIKE '%{%' THEN 1 ELSE 0 END AS BIGINT) AS keep
        |FROM m ORDER BY doc_id""".stripMargin,
    "dedup_normalized" ->
      """WITH c AS (
        |  SELECT doc_id, text AS body FROM documents WHERE doc_id % 2 = 0
        |  UNION ALL
        |  SELECT doc_id + 1 AS doc_id, '  ' || upper(text) || '  !!' AS body
        |  FROM documents WHERE doc_id % 2 = 0)
        |SELECT min(doc_id) AS keep_id, count(*) AS n_variants
        |FROM c GROUP BY md5(trim(regexp_replace(lower(body), '[^a-z0-9]+', ' ', 'g')))
        |ORDER BY keep_id""".stripMargin,
    "text_length_stats" ->
      """WITH n AS (SELECT len(string_split(text, ' ')) AS n_tok FROM documents)
        |SELECT count(*) AS n_docs, round(avg(n_tok), 4) AS mean_tok,
        |  round(quantile_cont(n_tok, 0.5), 4) AS p50,
        |  round(quantile_cont(n_tok, 0.9), 4) AS p90,
        |  round(quantile_cont(n_tok, 0.99), 4) AS p99
        |FROM n""".stripMargin,
    "text_length_stats_approx" ->
      // exact percentiles recomputed; ok_* are Spark's rank-error
      // certificates for the GK sketch (guaranteed true at ε=0.1%)
      """WITH n AS (SELECT len(string_split(text, ' ')) AS n_tok FROM documents)
        |SELECT count(*) AS n_docs, round(quantile_cont(n_tok, 0.5), 4) AS p50,
        |  round(quantile_cont(n_tok, 0.9), 4) AS p90,
        |  round(quantile_cont(n_tok, 0.99), 4) AS p99,
        |  CAST(1 AS BIGINT) AS ok_p50, CAST(1 AS BIGINT) AS ok_p90,
        |  CAST(1 AS BIGINT) AS ok_p99
        |FROM n""".stripMargin,
    "corpus_filter_chain" ->
      s"""$sqlShinglesCte,
         |q AS (SELECT d.doc_id, d.text, len(string_split(d.text, ' ')) AS n_tok,
         |        len(s.sh) AS n_sh, len(s.sh) - len(list_distinct(s.sh)) AS n_dup
         |      FROM documents d JOIN s ON d.doc_id = s.doc_id),
         |f AS (SELECT * FROM q WHERE n_tok BETWEEN 30 AND 75 AND n_dup * 10 < n_sh * 3),
         |dd AS (SELECT doc_id, n_tok, row_number() OVER (PARTITION BY text ORDER BY doc_id) AS rn FROM f),
         |g AS (SELECT doc_id, unnest(list_distinct(sh)) AS g FROM s),
         |bench AS (SELECT DISTINCT g FROM g WHERE doc_id % 97 = 0),
         |bad AS (SELECT DISTINCT g.doc_id FROM g JOIN bench ON g.g = bench.g WHERE g.doc_id % 97 <> 0)
         |SELECT dd.doc_id, CAST(dd.n_tok AS BIGINT) AS n_tok FROM dd
         |WHERE dd.rn = 1 AND dd.doc_id % 97 <> 0
         |  AND dd.doc_id NOT IN (SELECT doc_id FROM bad)
         |ORDER BY dd.doc_id""".stripMargin,
    "mix_epochs" ->
      s"""WITH e AS (SELECT doc_id,
         |  unnest(range(CASE WHEN lang='en' THEN 1 WHEN lang='fr' THEN 2 ELSE 3 END)) AS epoch
         |FROM documents)
         |SELECT doc_id, epoch,
         |  ${sqlHash("'mix:'||CAST(doc_id AS VARCHAR)||':'||CAST(epoch AS VARCHAR)")} % 1000000 AS shuffle_key
         |FROM e ORDER BY doc_id, epoch""".stripMargin,
    "mix_temperature" ->
      """WITH c AS (SELECT lang, count(*) AS n FROM documents GROUP BY 1),
        |m AS (SELECT max(n) AS nm FROM c),
        |e AS (SELECT lang, CAST(floor(sqrt(4.0 * nm / n)) AS BIGINT) AS epochs FROM c, m)
        |SELECT d.doc_id, d.lang, unnest(range(e.epochs)) AS epoch
        |FROM documents d JOIN e USING (lang)
        |ORDER BY doc_id, epoch""".stripMargin,
    "pack_sequences" ->
      s"""WITH n AS (SELECT doc_id,
         |    ${sqlHash("'pack:'||CAST(doc_id AS VARCHAR)")} % 8 AS shard,
         |    len(string_split(text, ' ')) AS n_tok
         |  FROM documents),
         |c AS (SELECT doc_id, shard, n_tok,
         |    sum(n_tok) OVER (PARTITION BY shard ORDER BY doc_id) AS cum FROM n)
         |SELECT doc_id, shard, CAST((cum - n_tok) // 256 AS BIGINT) AS pack_id
         |FROM c ORDER BY doc_id""".stripMargin,
    "dedup_paragraph" ->
      """WITH w AS (SELECT doc_id, string_split(text, ' ') AS words FROM documents),
        |c AS (SELECT doc_id, unnest(range(CAST(ceil(len(words)/8.0) AS BIGINT))) AS pos, words FROM w),
        |ch AS (SELECT doc_id, pos,
        |    array_to_string(words[CAST(pos*8+1 AS INT):CAST(pos*8+8 AS INT)], ' ') AS chunk FROM c),
        |k AS (SELECT doc_id, pos, chunk,
        |    row_number() OVER (PARTITION BY chunk ORDER BY doc_id, pos) AS rn FROM ch)
        |SELECT doc_id, count(*) AS n_kept, string_agg(chunk, ' ' ORDER BY pos) AS clean
        |FROM k WHERE rn = 1 GROUP BY doc_id ORDER BY doc_id""".stripMargin,
    "knn_bruteforce" ->
      """SELECT b.vec_id, round(list_cosine_similarity(b.embedding, q.embedding), 4) AS score
        |FROM embeddings b, (SELECT embedding FROM embeddings WHERE vec_id = 0) q
        |WHERE b.vec_id <> 0
        |ORDER BY score DESC, b.vec_id LIMIT 5""".stripMargin,
    // int8 quantization recomputed in SQL: floor(x*127 + 0.5) clamped, the
    // coarse rank by integer dot is exact in double arithmetic (all values
    // small integers), so the candidate set matches Spark's bit-for-bit
    "knn_sq8" ->
      """WITH e AS (SELECT vec_id, embedding,
        |    list_transform(embedding::DOUBLE[],
        |      x -> greatest(-127, least(127, floor(x * 127 + 0.5)))) AS q8
        |  FROM embeddings),
        |q AS (SELECT q8 AS qq8, embedding AS q_emb FROM e WHERE vec_id = 0),
        |coarse AS (SELECT e.vec_id, e.embedding, q.q_emb,
        |    list_inner_product(e.q8, q.qq8) AS qdot
        |  FROM e, q WHERE e.vec_id <> 0
        |  ORDER BY qdot DESC, e.vec_id ASC LIMIT 15)
        |SELECT vec_id, round(list_cosine_similarity(embedding, q_emb), 4) AS score
        |FROM coarse ORDER BY score DESC, vec_id ASC LIMIT 5""".stripMargin,
    // bucket recomputed in SQL from the inlined plane literals
    "knn_lsh" ->
      s"""WITH b AS (SELECT vec_id, embedding, $sqlLshBucket AS bucket FROM embeddings),
         |q AS (SELECT bucket AS q_bucket, embedding AS q_emb FROM b WHERE vec_id = 0)
         |SELECT b.vec_id, round(${sqlCos("b.embedding", "q.q_emb")}, 4) AS score
         |FROM b, q WHERE b.vec_id <> 0 AND b.bucket = q.q_bucket
         |ORDER BY score DESC, b.vec_id LIMIT 3""".stripMargin,
    "knn_lsh_multiprobe" ->
      s"""WITH b AS (SELECT vec_id, embedding, $sqlLshBucket AS bucket FROM embeddings),
         |q AS (SELECT bucket AS q_bucket, embedding AS q_emb FROM b WHERE vec_id = 0)
         |SELECT b.vec_id, round(${sqlCos("b.embedding", "q.q_emb")}, 4) AS score
         |FROM b, q WHERE b.vec_id <> 0
         |  AND bit_count(xor(CAST(b.bucket AS BIGINT), CAST(q.q_bucket AS BIGINT))) <= 1
         |ORDER BY score DESC, b.vec_id LIMIT 3""".stripMargin,
    "dedup_embedding_lsh" ->
      s"""WITH b AS (SELECT vec_id, embedding, $sqlLshBucket AS bucket FROM embeddings)
         |SELECT * FROM (
         |  SELECT a.vec_id AS a_id, b2.vec_id AS b_id,
         |    round(${sqlCos("a.embedding", "b2.embedding")}, 4) AS cos
         |  FROM b a JOIN b b2 ON a.bucket = b2.bucket AND a.vec_id < b2.vec_id)
         |WHERE cos >= 0.4 ORDER BY a_id, b_id""".stripMargin,
    // 1-row bands over the mirrorable minhash family: the band key IS the
    // signature value, so candidate generation is an OR of per-band
    // equalities — the whole LSH pipeline under the oracle
    "dedup_minhash_pairs" ->
      s"""$sqlShinglesCte,
         |sd AS (SELECT doc_id,
         |         list_distinct(list_transform(sh, t -> ${sqlHash("t")})) AS hd,
         |         $sqlMinhashCols FROM s)
         |SELECT * FROM (
         |  SELECT a.doc_id AS a_id, b.doc_id AS b_id,
         |    round(CAST(len(list_intersect(a.hd, b.hd)) AS DOUBLE) /
         |          CAST(len(list_distinct(a.hd || b.hd)) AS DOUBLE), 4) AS j
         |  FROM sd a, sd b WHERE a.doc_id < b.doc_id
         |    AND (${MinhashFns.indices.map(j => s"a.mh$j = b.mh$j").mkString(" OR ")}))
         |WHERE j >= 0.2 ORDER BY a_id, b_id""".stripMargin,
    // probe-all IVF ≡ brute force: same oracle
    "knn_ivf_all" ->
      """SELECT b.vec_id, round(list_cosine_similarity(b.embedding, q.embedding), 4) AS score
        |FROM embeddings b, (SELECT embedding FROM embeddings WHERE vec_id = 0) q
        |WHERE b.vec_id <> 0
        |ORDER BY score DESC, b.vec_id LIMIT 5""".stripMargin,
    // pruned IVF fully recomputed: the gate's centroids are the iters=0
    // SEEDS (normalized embeddings of the 8 lowest vec_ids, the same
    // x/sqrt(Σx²) chain as vec_normalize), cell = argmax dot (ties →
    // smallest cid, the argmax_dot rule), probe set = top-2 centroids by
    // dot with the normalized query (ties → smaller cid), exact cosine
    // re-rank over the probed cells only
    "knn_ivf" ->
      """WITH e AS (SELECT vec_id, embedding, embedding::DOUBLE[] AS emb FROM embeddings),
        |nrm AS (SELECT vec_id, embedding, emb,
        |          sqrt(list_inner_product(emb, emb)) AS nn FROM e),
        |n AS (SELECT vec_id, embedding,
        |        CASE WHEN nn > 0 THEN list_transform(emb, x -> x / nn)
        |             ELSE emb END AS ne
        |      FROM nrm),
        |cent AS (SELECT row_number() OVER (ORDER BY vec_id) - 1 AS cid, ne AS c
        |         FROM (SELECT vec_id, ne FROM n ORDER BY vec_id LIMIT 8)),
        |q AS (SELECT ne AS qn, embedding AS q_emb FROM n WHERE vec_id = 0),
        |probe AS (SELECT cid FROM cent, q
        |          ORDER BY list_inner_product(c, qn) DESC, cid LIMIT 2),
        |scored AS (SELECT n.vec_id, cent.cid, list_inner_product(n.ne, cent.c) AS dt
        |           FROM n, cent WHERE n.vec_id <> 0),
        |assign AS (SELECT vec_id, cid AS cell FROM (
        |             SELECT vec_id, cid,
        |               row_number() OVER (PARTITION BY vec_id ORDER BY dt DESC, cid) AS rn
        |             FROM scored) WHERE rn = 1)
        |SELECT b.vec_id, round(list_cosine_similarity(b.embedding, q.q_emb), 4) AS score
        |FROM embeddings b
        |JOIN assign ON b.vec_id = assign.vec_id
        |JOIN probe ON assign.cell = probe.cid
        |CROSS JOIN q
        |WHERE b.vec_id <> 0
        |ORDER BY score DESC, b.vec_id LIMIT 5""".stripMargin,
    "kql_search" ->
      """SELECT doc_id, lang, n_chars FROM documents
        |WHERE (lang='en' OR lang='fr') AND NOT source='src3'
        |  AND n_chars >= 200 AND text LIKE '%the%'
        |ORDER BY doc_id""".stripMargin,
    "ir_roundtrip" ->
      "SELECT doc_id, md5(text) AS fp FROM documents ORDER BY 1",
    // the pruned SemDeDup path fully recomputed: seed centroids (iters=0 →
    // normalized embeddings of the 4 lowest vec_ids, the same x/sqrt(Σx²)
    // chain as vec_normalize), cell = argmax dot (ties → smallest cid, the
    // argmax_dot rule), candidate pairs restricted to same-cell, exact
    // cosine kernel, recursive-CTE connected components, keep the minimum
    "dedup_semantic" ->
      """WITH RECURSIVE e0 AS (
        |  SELECT vec_id, embedding, embedding::DOUBLE[] AS emb FROM embeddings),
        |nrm AS (SELECT vec_id, embedding, emb,
        |          sqrt(list_inner_product(emb, emb)) AS nn FROM e0),
        |n AS (SELECT vec_id, embedding, nn,
        |        CASE WHEN nn > 0 THEN list_transform(emb, x -> x / nn)
        |             ELSE emb END AS ne
        |      FROM nrm),
        |cent AS (SELECT row_number() OVER (ORDER BY vec_id) - 1 AS cid, ne AS c
        |         FROM (SELECT vec_id, ne FROM n ORDER BY vec_id LIMIT 4)),
        |scored AS (SELECT n.vec_id, cent.cid, list_inner_product(n.ne, cent.c) AS dt
        |           FROM n, cent),
        |assign AS (SELECT vec_id, cid AS cell FROM (
        |             SELECT vec_id, cid,
        |               row_number() OVER (PARTITION BY vec_id ORDER BY dt DESC, cid) AS rn
        |             FROM scored) WHERE rn = 1),
        |p AS (
        |  SELECT a.vec_id AS a_id, b.vec_id AS b_id
        |  FROM n a JOIN n b ON a.vec_id < b.vec_id
        |  JOIN assign aa ON aa.vec_id = a.vec_id
        |  JOIN assign ab ON ab.vec_id = b.vec_id AND aa.cell = ab.cell
        |  WHERE a.nn > 0 AND b.nn > 0
        |    AND round(list_cosine_similarity(a.embedding, b.embedding), 4) >= 0.4),
        |e AS (SELECT a_id AS es, b_id AS ed FROM p
        |  UNION SELECT b_id, a_id FROM p),
        |r(id, lbl) AS (
        |  SELECT es, es FROM e
        |  UNION
        |  SELECT e.ed, r.lbl FROM r JOIN e ON e.es = r.id),
        |drop AS (SELECT id FROM r GROUP BY id HAVING id <> min(lbl))
        |SELECT vec_id AS id FROM embeddings
        |WHERE vec_id NOT IN (SELECT id FROM drop) ORDER BY id""".stripMargin,
    "dedup_semantic_all" ->
      """WITH RECURSIVE p AS (
        |  SELECT a.vec_id AS a_id, b.vec_id AS b_id
        |  FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id
        |  WHERE round(list_cosine_similarity(a.embedding, b.embedding), 4) >= 0.4),
        |e AS (SELECT a_id AS es, b_id AS ed FROM p
        |  UNION SELECT b_id, a_id FROM p),
        |r(id, lbl) AS (
        |  SELECT es, es FROM e
        |  UNION
        |  SELECT e.ed, r.lbl FROM r JOIN e ON e.es = r.id),
        |drop AS (SELECT id FROM r GROUP BY id HAVING id <> min(lbl))
        |SELECT vec_id AS id FROM embeddings
        |WHERE vec_id NOT IN (SELECT id FROM drop) ORDER BY id""".stripMargin,
    "dedup_embedding" ->
      """SELECT a.vec_id AS a_id, b.vec_id AS b_id,
        |  round(list_cosine_similarity(a.embedding, b.embedding), 4) AS cos
        |FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id
        |WHERE round(list_cosine_similarity(a.embedding, b.embedding), 4) >= 0.4
        |ORDER BY a_id, b_id""".stripMargin,
    "multimodal_frames" ->
      """SELECT doc_id, frame_idx, (L*31 + frame_idx*7) % 997 AS feat FROM (
        |  SELECT doc_id, CAST(strlen(text) AS BIGINT) AS L,
        |    unnest(range(0, strlen(text)%7 + 1, 2)) AS frame_idx
        |  FROM documents)
        |ORDER BY doc_id, frame_idx""".stripMargin,
    "multimodal_meta" ->
      """SELECT doc_id, CAST(strlen(text) AS BIGINT) AS n_bytes,
        |  320 + strlen(text) % 320 AS width, 240 + strlen(text) % 240 AS height,
        |  1 + strlen(text) % 7 AS n_frames
        |FROM documents ORDER BY 1""".stripMargin
  )
}
