package graft.spark

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}

import org.apache.spark.sql.functions._

import graft.core.{JsonShape, KvIr}
import graft.pipeline.JsonPipeline
import graft.search.JsonSearch

/** The structured (clp-s) pipeline over the reference's OWN JSON fixtures,
  * read in place, mirroring its end-to-end suites:
  *
  *  - compress → extract on the no-floats corpus
  *    (tests/test-clp_s-end_to_end.cpp:188-212 over
  *    test_log_files/test_no_floats_sorted.jsonl — the input is already in
  *    jq `--sort-keys --compact-output` form, so byte-exact reconstruction
  *    is the same check, minus the jq normalization step we don't need);
  *  - the `--retain-float-format` corpora
  *    (test-clp_s-end_to_end.cpp:214-292): every float leaf of the valid
  *    corpus must type FormattedFloat, every one of the invalid corpus
  *    DictionaryFloat (check_all_leaf_nodes_match_types), and extraction
  *    must reproduce the input under the reference's own
  *    whitespace-stripped comparison (literallyCompare);
  *  - log-order preservation on test_simple_order.jsonl
  *    (test-clp_s-delta-encode-log-order.cpp:66-120 — the archive's event
  *    index must come back 0,1,2 in input order).
  *
  * The expectations are the pipeline's own contracts evaluated on
  * reference-authored data — nothing is transcribed from the reference's
  * code.
  */
class ReferenceJsonFixtureSpec extends SparkSpecBase {
  import spark.implicits._

  private val fixtureDir =
    Paths.get("/root/reference/components/core/tests/test_log_files")

  private def lines(name: String): Seq[String] = {
    val p = fixtureDir.resolve(name)
    assume(Files.isReadable(p), s"reference fixture $p not present")
    new String(Files.readAllBytes(p), StandardCharsets.UTF_8)
      .split('\n').toSeq.map(_.stripSuffix("\r")).filter(_.trim.nonEmpty)
  }

  private def ingest(ls: Seq[String], options: JsonPipeline.Options): String = {
    val out = Files.createTempDirectory("graft-ref-json").toString
    JsonPipeline.route(spark, ls.toDF("json"), "json", out, options = options)
    out
  }

  private def extractOrdered(dir: String): Seq[String] =
    new JsonSearch(spark, dir).extract().orderBy("log_event_idx")
      .select("json").collect().map(_.getString(0)).toSeq

  test("no-floats corpus: compress → extract reproduces the corpus byte-exactly") {
    val ls = lines("test_no_floats_sorted.jsonl")
    for (structurize <- Seq(false, true)) {
      val dir = ingest(ls, JsonPipeline.Options(structurizeArrays = structurize))
      assert(extractOrdered(dir) == ls,
        s"structurize=$structurize must reconstruct byte-exact")
    }
  }

  /** check_all_leaf_nodes_match_types: every non-container leaf of every
    * record types as `want` under --retain-float-format. */
  private def assertLeafKinds(ls: Seq[String], structurize: Boolean,
                              want: String): Unit = {
    val containers = Set("UnstructuredArray", "StructuredArray", "Object")
    ls.foreach { line =>
      val kinds = JsonShape
        .typedLeaves(line, retainFloatFormat = true,
          structurizeArrays = structurize)
        .map(_.nodeType).filterNot(containers).distinct
      // container-only records (the bare-array lines) contribute no scalar
      // leaf — the reference's expected-type set allows exactly that
      assert(kinds.forall(_ == want), s"$line → $kinds, want only $want")
    }
  }

  test("valid formatted floats: every leaf FormattedFloat; extract reproduces " +
      "the corpus under the reference's whitespace-stripped compare") {
    val ls = lines("test_valid_formatted_float.jsonl")
    assertLeafKinds(ls, structurize = false, want = "FormattedFloat")
    assertLeafKinds(ls, structurize = true, want = "FormattedFloat")
    for (structurize <- Seq(false, true)) {
      val dir = ingest(ls, JsonPipeline.Options(
        structurizeArrays = structurize, retainFloatFormat = true))
      // the archive's schema catalog carries the retained float kinds — the
      // flag reaches the MPT, not just the in-memory typing
      val descriptors = spark.read.parquet(s"$dir/schemas")
        .select("descriptor").as[String].collect()
      assert(descriptors.exists(_.contains(":FormattedFloat")))
      assert(!descriptors.exists(_.contains(":Float;")) &&
        !descriptors.exists(_.endsWith(":Float")))
      // literallyCompare (test-clp_s-end_to_end.cpp:150-183): strip all
      // spaces, then the record streams must agree — ours in order
      assert(extractOrdered(dir).map(_.replace(" ", "")) ==
        ls.map(_.replace(" ", "")), s"structurize=$structurize")
    }
  }

  test("invalid formatted floats: every leaf DictionaryFloat; extraction still exact") {
    val ls = lines("test_invalid_formatted_float.jsonl")
    assertLeafKinds(ls, structurize = false, want = "DictionaryFloat")
    assertLeafKinds(ls, structurize = true, want = "DictionaryFloat")
    val dir = ingest(ls, JsonPipeline.Options(retainFloatFormat = true))
    assert(extractOrdered(dir).map(_.replace(" ", "")) ==
      ls.map(_.replace(" ", "")))
  }

  test("formatted floats survive the kv-IR wire as (double, word)") {
    val events = lines("test_valid_formatted_float.jsonl")
      .map(l => JsonShape.typedLeaves(l, retainFloatFormat = true))
    assert(KvIr.deserialize(KvIr.serialize(events)) == events.toVector)
  }

  test("timestamp-key search fixtures: float-seconds and string-epoch forms") {
    // test-clp_s-search.cpp:297-344: numeric KQL compares over the
    // `--timestamp-key` column — float epoch-seconds
    // (test_search_float_timestamp.jsonl) and string epoch-millis
    // (test_search_int_timestamp.jsonl) — with the reference's own
    // (query, expected idx set) tables
    val cases = Seq(
      ("test_search_float_timestamp.jsonl", Seq(
        "timestamp < 1759417024.4" -> Seq(0L, 1L, 2L),
        "timestamp > 1759417023.1" -> Seq(0L, 1L, 2L),
        "timestamp > 1759417024" -> Seq(0L, 1L, 2L),
        "timestamp > 1759417024.1 AND timestamp < 1759417024.3" -> Seq(1L))),
      ("test_search_int_timestamp.jsonl", Seq(
        "timestamp < 1759417024400" -> Seq(0L, 1L, 2L),
        "timestamp > 1759417023100" -> Seq(0L, 1L, 2L),
        "timestamp > 1759417024000" -> Seq(0L, 1L, 2L),
        "timestamp > 1759417024100 AND timestamp < 1759417024300" -> Seq(1L),
        "timestamp > 1759417024299.9" -> Seq(2L))))
    cases.foreach { case (name, qs) =>
      val dir = ingest(lines(name),
        JsonPipeline.Options(timestampKey = Some("timestamp")))
      qs.foreach { case (kql, want) =>
        val got = JsonPipeline.kqlSearch(spark, dir, kql, Seq("idx"))
          .select("idx").as[Long].collect().toSeq.sorted
        assert(got == want, s"$name: $kql")
      }
    }
  }

  test("simple-order corpus: event index preserves input log order") {
    val ls = lines("test_simple_order.jsonl")
    val dir = ingest(ls, JsonPipeline.Options())
    val got = new JsonSearch(spark, dir).extract().orderBy("log_event_idx")
      .select("log_event_idx", "json").collect()
    assert(got.map(_.getLong(0)).toSeq == ls.indices.map(_.toLong))
    assert(got.map(_.getString(1).replace(" ", "")).toSeq ==
      ls.map(_.replace(" ", "")))
    // and the archive answers a typed KQL probe on the same corpus
    val hit = JsonPipeline.kqlSearch(spark, dir, "idx: 1", Seq("idx"))
    assert(hit.select("idx").as[Long].collect().toSeq == Seq(1L))
  }
}
