package graft.spark

import java.nio.file.Files

import org.apache.spark.sql.functions.lit

import graft.pipeline.JsonPipeline

/**
 * The reference's OWN JSON-search golden suite re-expressed: corpus
 * verbatim from components/core/tests/test_log_files/test_search.jsonl
 * (and test_search_formatted_float.jsonl), expectations from
 * test-clp_s-search.cpp:205-258 — (KQL query → expected idx set) over the
 * schema-routed archive, including escape sequences, arrays, existence
 * filters, metadata columns, and value-domain float equality.
 *
 * Not replicated: the `$*._filename.*` wildcard-metadata-path form (the
 * engine supports wildcard paths on record columns; metadata columns are
 * addressed literally).
 */
class JsonSearchSpec extends SparkSpecBase {
  import spark.implicits._

  private val corpus = Seq(
    """{"idx": 0, "a": "clp string"}""",
    """{"idx": 1, "msg": "Msg 1: \"Abc123\""}""",
    """{"idx": 2, "msg": "Msg 2: 'Abc123'"}""",
    """{"idx": 3, "msg": "Msg 3: \nAbc123"}""",
    """{"idx": 4, "msg": "Msg 4: \\Abc123"}""",
    """{"idx": 5, "msg": "Msg 5: \rAbc123"}""",
    """{"idx": 6, "msg": "Msg 6: \tAbc123"}""",
    """{"idx": 7, "arr": [{"a": 999}, {"b": 1001}]}""",
    """{"idx": 8, "arr": {"a": 999, "b": 1001}}""",
    """{"idx": 9, "var_string": "a", "clp_string": "a b", "float": 1.1, "int": 1, "bool": true, "array": [], "object": {}}""",
    """{"idx": 10, "ambiguous_varstring": "abcde"}""",
    """{"idx": 11, "ambiguous_varstring": "ae"}""",
    """{"idx": 12, "ambiguous_varstring": "a*e"}""",
    """{"idx": 13, "one": 1}""")

  private def buildArchive(structurize: Boolean): String = {
    val dir = Files.createTempDirectory("graft-ref-search").toString
    JsonPipeline.route(spark, corpus.toDF("json"), "json", dir,
      metadata = Seq(
        "$_filename" -> lit("test_search.jsonl"),
        "$_file_split_number" -> lit(0L),
        "$_archive_creator_id" -> lit("8f2b4a-creator")),
      options = JsonPipeline.Options(structurizeArrays = structurize))
    dir
  }
  private lazy val outDir: String = buildArchive(structurize = false)
  private lazy val outDirStruct: String = buildArchive(structurize = true)

  private def ids(kql: String, dir: String = outDir): Set[Long] =
    JsonPipeline.kqlSearch(spark, dir, kql, Seq("idx")).as[Long].collect().toSet

  /** The reference's e2e golden test parameterizes over structurize-arrays
    * (test-clp_s-end_to_end.cpp:26-40): the full query table must hold
    * under BOTH array modes. */
  private def referenceTable(dir: String): Unit = {
    val cases: Seq[(String, Set[Long])] = Seq(
      ("NOT a: b", Set(0L)),
      ("""msg: "Msg 1: \"Abc123\""""", Set(1L)),
      ("""msg: "Msg 2: 'Abc123'"""", Set(2L)),
      ("""msg: "Msg 3: \nAbc123"""", Set(3L)),
      ("""msg: "Msg 4: \\Abc123"""", Set(4L)),
      ("""msg: "Msg 5: \rAbc123"""", Set(5L)),
      ("""msg: "Msg 6: \tAbc123"""", Set(6L)),
      ("""msg: "*Abc123*"""", Set(1L, 2L, 3L, 4L, 5L, 6L)),
      ("arr.b > 1000", Set(7L, 8L)),
      ("var_string: *", Set(9L)),
      ("clp_string: *", Set(9L)),
      ("""$_filename: "test_search.jsonl" AND $_file_split_number: 0 AND $_archive_creator_id: * AND idx: 0""",
        Set(0L)),
      ("""idx: 0 AND NOT $_filename: "clp string"""", Set(0L)),
      ("""($_filename: file OR $_file_split_number: 1 OR $_archive_creator_id > 0) AND idx: 0 OR idx: 1""",
        Set(1L)),
      ("""ambiguous_varstring: "a*e"""", Set(10L, 11L, 12L)),
      ("""ambiguous_varstring: "a\*e"""", Set(12L)),
      ("idx: * AND NOT idx: null AND idx: 0", Set(0L)),
      ("one > 0.9 AND one < 1.1 AND one: 1.0", Set(13L)))
    cases.foreach { case (q, exp) =>
      assert(ids(q, dir) == exp, s"query <$q>")
    }
  }

  test("reference query table (test-clp_s-search.cpp)") {
    referenceTable(outDir)
  }

  test("reference query table under --structurize-arrays") {
    referenceTable(outDirStruct)
  }

  test("wildcard projection over the reference corpus (search/Projection.cpp)") {
    import org.apache.spark.sql.functions.col
    // `arr*` resolves per schema: record 8's nested-object fields project,
    // record 7's array projects whole; absent columns null-fill
    val out = JsonPipeline.kqlSearch(spark, outDir, "idx >= 7 AND idx <= 9",
      Seq("idx", "arr*"))
    assert(out.columns.contains("idx"))
    assert(out.columns.exists(_.startsWith("arr")))
    val byIdx = out.collect().map(r => r.getAs[Long]("idx") -> r).toMap
    assert(byIdx.keySet == Set(7L, 8L, 9L))
    // record 9 owns `array` (empty, not null) but lacks records 7/8's `arr`
    // nodes -> those specific columns null-fill
    val r9 = byIdx(9L)
    assert(!r9.isNullAt(r9.fieldIndex("array")), "idx 9 owns `array` ([])")
    out.columns.filter(c => c == "arr" || c.startsWith("arr.")).foreach { c =>
      assert(r9.isNullAt(r9.fieldIndex(c)), s"expected null $c for idx 9")
    }
    // metadata columns are projectable by literal name
    val meta = JsonPipeline.kqlSearch(spark, outDir, "idx: 0",
      Seq("idx", "$_filename")).collect()
    assert(meta.head.getAs[String]("$_filename") == "test_search.jsonl")
  }

  test("range index: $-filters evaluate at plan time (EvaluateRangeIndexFilters)") {
    import org.apache.spark.sql.functions.{col, concat}
    val dir = Files.createTempDirectory("graft-ri-arch").toString
    // 12 records across 3 synthetic source files of 4; `$_file_split_number`
    // deliberately INTERLEAVES (i % 2) so its per-value spans overlap — the
    // reference forbids overlap, we must stay exact anyway (row predicate)
    val df = (0 until 12).map(i => (i.toLong, s"""{"idx": $i, "v": ${i * 10}}"""))
      .toDF("i", "json")
    JsonPipeline.route(spark, df, "json", dir,
      metadata = Seq(
        "$_filename" -> concat(lit("f"), (col("i") / 4).cast("long").cast("string"), lit(".jsonl")),
        "$_file_split_number" -> (col("i") % 2)),
      options = JsonPipeline.Options(orderCol = Some("i")))

    // the index holds one [s,e) span per distinct metadata tuple
    val idx = spark.read.parquet(s"$dir/range_index")
      .orderBy("start_idx", "end_idx").collect()
    assert(idx.length == 6) // 3 files × 2 interleaved split values
    assert(idx.forall(r => r.getAs[Long]("end_idx") > r.getAs[Long]("start_idx")))

    assert(ids("""$_filename: "f1.jsonl"""", dir) == Set(4L, 5L, 6L, 7L))
    assert(ids("""$_filename: "f*"""", dir) == (0L until 12L).toSet)
    assert(ids("""$_filename: "nope.jsonl"""", dir) == Set.empty)
    // overlap soundness: interleaved key stays exact through the row pred
    assert(ids("$_file_split_number: 0", dir) == Set(0L, 2L, 4L, 6L, 8L, 10L))
    assert(ids("$_file_split_number > 0", dir) == Set(1L, 3L, 5L, 7L, 9L, 11L))
    assert(ids("""NOT $_filename: "f1.jsonl"""", dir) ==
      Set(0L, 1L, 2L, 3L, 8L, 9L, 10L, 11L))
    assert(ids("""$_filename: "f0.jsonl" OR v >= 100""", dir) ==
      Set(0L, 1L, 2L, 3L, 10L, 11L))
    // wildcard KEY patterns must match index entry keys with the same
    // wildcard semantics as the row predicate (a literal map lookup would
    // fold these to constant false and wrongly return nothing)
    assert(ids("""$_file*: "f1.jsonl"""", dir) == Set(4L, 5L, 6L, 7L))
    assert(ids("""$_filenam?: "f1.jsonl"""", dir) == Set(4L, 5L, 6L, 7L))
    assert(ids("""$_file*: 0""", dir) == Set(0L, 2L, 4L, 6L, 8L, 10L))
    // `$` columns are NOT addressable by wildcard/bare-value filters
    // (namespace rule: SchemaMatch matches namespace before name)
    assert(ids("""*: "f1.jsonl"""", dir) == Set.empty)

    // plan-time: a no-entry filter folds the schema away — no parquet scan
    val noMatch = JsonPipeline.kqlSearch(spark, dir,
      """$_filename: "zz.jsonl"""", Seq("idx"))
    // (the typed empty answer is a local relation: its only leaf)
    val p0 = noMatch.queryExecution.optimizedPlan
    assert(p0.collectLeaves().nonEmpty && p0.collectLeaves().forall(
      _.isInstanceOf[org.apache.spark.sql.catalyst.plans.logical.LocalRelation]),
      s"expected no scan, got:\n$p0")
    // a matching filter pushes the injected log_event_idx span to the scan
    val hit = JsonPipeline.kqlSearch(spark, dir,
      """$_filename: "f1.jsonl"""", Seq("idx"))
    val pe = hit.queryExecution.executedPlan.toString
    assert(pe.contains("GreaterThanOrEqual(log_event_idx,4")
      || pe.contains("log_event_idx >= 4"), s"expected pushed range, got:\n$pe")
    assert(hit.count() == 4)
  }

  test("reference formatted-float query table (value-domain equality)") {
    val floats = Seq(
      """{ "idx": 0, "msg": "xxx", "formattedFloatValue": -1.000000E3 }""",
      """{ "idx": 1, "msg": "aaa", "formattedFloatValue": -1.000000E-2 }""",
      """{ "idx": 2, "msg": "bbb", "formattedFloatValue": -1.000000E-30 }""",
      """{ "idx": 3, "msg": "ccc", "formattedFloatValue": 0.000000E+000 }""",
      """{ "idx": 4, "msg": "ddd", "formattedFloatValue": 0.000000E-000 }""",
      """{ "idx": 5, "msg": "eee", "formattedFloatValue": 0.000000E010 }""",
      """{ "idx": 6, "msg": "fff", "formattedFloatValue": 1.000000E-16 }""",
      """{ "idx": 7, "msg": "ggg", "formattedFloatValue": 0.0000000000000001 }""",
      """{ "idx": 8, "msg": "hhh", "formattedFloatValue": 2.000000 }""",
      """{ "idx": 9, "msg": "iii", "formattedFloatValue": 3E3 }""",
      """{ "idx": 10, "msg": "jjj", "formattedFloatValue": 4.000000E+3 }""",
      """{ "idx": 11, "msg": "kkk", "formattedFloatValue": 5.000000000000001E3 }""",
      """{ "idx": 12, "msg": "lll", "formattedFloatValue": 5.000000000000002E3 }""")
    val dir = Files.createTempDirectory("graft-ref-ffloat").toString
    JsonPipeline.route(spark, floats.toDF("json"), "json", dir)
    val cases: Seq[(String, Set[Long])] = Seq(
      ("NOT formattedFloatValue: 0", Set(0L, 1L, 2L, 6L, 7L, 8L, 9L, 10L, 11L, 12L)),
      ("formattedFloatValue: 0", Set(3L, 4L, 5L)),
      ("formattedFloatValue: 1e-16", Set(6L, 7L)),
      ("formattedFloatValue > 0.00", Set(6L, 7L, 8L, 9L, 10L, 11L, 12L)),
      ("formattedFloatValue > 5000.000000000001", Set(12L)),
      ("formattedFloatValue < 0.00 AND formattedFloatValue >= -0.01", Set(1L, 2L)),
      ("idx: 0 AND NOT formattedFloatValue: -1000.0", Set.empty[Long]),
      ("""msg: "xxx" AND formattedFloatValue: 3000.0""", Set.empty[Long]),
      ("""msg: "xxx" OR formattedFloatValue: 3000.0""", Set(0L, 9L)))
    cases.foreach { case (q, exp) =>
      assert(ids(q, dir) == exp, s"query <$q>")
    }
  }
}
