package graft.spark

import org.apache.spark.sql.functions._

import graft.search.{Kql, KqlCompiler}

/** Parse-shape tests mirroring the reference's test-kql.cpp plus end-to-end
  * filter equivalence against hand-written predicates (the reference's
  * (query → expected id set) style, test-clp_s-search.cpp:205-258). */
class KqlSpec extends SparkSpecBase {
  import spark.implicits._

  test("parse shapes from the reference suite") {
    assert(Kql.parse("* : value") == Right(Kql.Filter(Nil, Kql.Eq, "value")))
    assert(Kql.parse("key : value") == Right(Kql.Filter(Seq("key"), Kql.Eq, "value")))
    assert(Kql.parse("NOT key : value") ==
      Right(Kql.Not(Kql.Filter(Seq("key"), Kql.Eq, "value"))))
    assert(Kql.parse("a : a AND b : b") == Right(Kql.And(
      Kql.Filter(Seq("a"), Kql.Eq, "a"), Kql.Filter(Seq("b"), Kql.Eq, "b"))))
    assert(Kql.parse("a : a OR b : b") == Right(Kql.Or(
      Kql.Filter(Seq("a"), Kql.Eq, "a"), Kql.Filter(Seq("b"), Kql.Eq, "b"))))
    assert(Kql.parse("a > 5") == Right(Kql.Filter(Seq("a"), Kql.Gt, "5")))
    assert(Kql.parse("a <= 5.0") == Right(Kql.Filter(Seq("a"), Kql.Lte, "5.0")))
    // nested query prefixes the column path
    assert(Kql.parse("a : {b : c}") == Right(Kql.Filter(Seq("a", "b"), Kql.Eq, "c")))
    assert(Kql.parse("a.b : c") == Right(Kql.Filter(Seq("a", "b"), Kql.Eq, "c")))
    // value lists
    assert(Kql.parse("a : (v1 OR v2)") == Right(Kql.Or(
      Kql.Filter(Seq("a"), Kql.Eq, "v1"), Kql.Filter(Seq("a"), Kql.Eq, "v2"))))
    assert(Kql.parse("a : (AND v1 v2)") == Right(Kql.And(
      Kql.Filter(Seq("a"), Kql.Eq, "v1"), Kql.Filter(Seq("a"), Kql.Eq, "v2"))))
    // quoted values keep spaces; date literals flagged
    assert(Kql.parse("msg : \"two words\"") ==
      Right(Kql.Filter(Seq("msg"), Kql.Eq, "two words")))
    assert(Kql.parse("ts > date(2024-01-01)") ==
      Right(Kql.Filter(Seq("ts"), Kql.Gt, "2024-01-01", isDate = true)))
    // left-assoc equal precedence: a AND b OR c == (a AND b) OR c
    assert(Kql.parse("a:1 AND b:2 OR c:3") == Right(Kql.Or(
      Kql.And(Kql.Filter(Seq("a"), Kql.Eq, "1"), Kql.Filter(Seq("b"), Kql.Eq, "2")),
      Kql.Filter(Seq("c"), Kql.Eq, "3"))))
    // a quoted value ending in an escaped backslash must not swallow the
    // closing quote (\\ consumes as a pair)
    assert(Kql.parse("""msg : "path\\" AND a : 1""") == Right(Kql.And(
      Kql.Filter(Seq("msg"), Kql.Eq, """path\\"""),
      Kql.Filter(Seq("a"), Kql.Eq, "1"))))
    // a bare value inside a nested query scopes to the prefix subtree,
    // not to every column in the schema
    assert(Kql.parse("a : {foo OR b : 1}") == Right(Kql.Or(
      Kql.Filter(Seq("a", "*"), Kql.Eq, "foo"),
      Kql.Filter(Seq("a", "b"), Kql.Eq, "1"))))
    // at top level a bare value still matches any column
    assert(Kql.parse("foo") == Right(Kql.Filter(Nil, Kql.Eq, "foo")))
    assert(Kql.parse("a :").isLeft)
    assert(Kql.parse("(a : 1").isLeft)
  }

  private lazy val df = Seq(
    (0L, "error", 99.5, "api", true),
    (1L, "view", 12.0, "web", false),
    (2L, "error", 50.0, "web", true),
    (3L, "signup", 75.5, "api", false),
    (4L, "error-page", 3.25, "batch", true)
  ).toDF("id", "event_type", "value", "source", "ok")

  private def ids(kql: String): Set[Long] =
    KqlCompiler.filter(df, kql).select("id").as[Long].collect().toSet

  test("filter equivalence on a typed table") {
    assert(ids("event_type : error") == Set(0L, 2L))
    assert(ids("event_type : error*") == Set(0L, 2L, 4L))
    assert(ids("NOT event_type : error") == Set(1L, 3L, 4L))
    assert(ids("value > 50") == Set(0L, 3L))
    assert(ids("value >= 50") == Set(0L, 2L, 3L))
    assert(ids("event_type : error AND value >= 99") == Set(0L))
    assert(ids("event_type : (error OR signup)") == Set(0L, 2L, 3L))
    assert(ids("ok : true") == Set(0L, 2L, 4L))
    assert(ids("* : web") == Set(1L, 2L))
    assert(ids("value : 12") == Set(1L)) // int literal matches float column
    assert(ids("nosuchcol : x") == Set.empty[Long])
    assert(ids("source : a*") == Set(0L, 3L))
  }

  test("NOT matches records where the column is NULL (null-safe negation)") {
    val withNulls = Seq(
      (0L, "bash"), (1L, "python"), (2L, null.asInstanceOf[String])
    ).toDF("id", "tool")
    def got(kql: String): Set[Long] =
      KqlCompiler.filter(withNulls, kql).select("id").as[Long].collect().toSet
    // KQL NOT = "not matched by the inner filter", which includes missing
    // values — three-valued !pred would silently drop id=2
    assert(got("NOT tool : bash") == Set(1L, 2L))
    assert(got("NOT tool : nosuch") == Set(0L, 1L, 2L))
  }

  test("nested column paths") {
    val nested = df.select(struct(col("event_type"), col("value")).as("evt"), col("id"))
    val got = KqlCompiler.filter(nested, "evt : {event_type : error}")
      .select("id").as[Long].collect().toSet
    assert(got == Set(0L, 2L))
    val got2 = KqlCompiler.filter(nested, "evt.value > 50")
      .select("id").as[Long].collect().toSet
    assert(got2 == Set(0L, 3L))
    val got3 = KqlCompiler.filter(nested, "*.value > 50")
      .select("id").as[Long].collect().toSet
    assert(got3 == Set(0L, 3L))
  }

  test("timestamp range with date literal") {
    val events = spark.read.parquet("/root/testdata/sf0.001/events.parquet")
    val n = KqlCompiler.filter(events, "ts >= date(2024-01-01) AND event_type : error").count()
    val exp = events.filter(col("ts") >= to_timestamp(lit("2024-01-01")) &&
      col("event_type") === "error").count()
    assert(n == exp && n > 0)
  }

  test("timestamp-literal ranges follow the session time zone; GraftSession pins UTC") {
    val at = Seq("2024-01-01T00:00:00Z", "2024-01-01T05:00:00Z", "2024-01-01T10:00:00Z")
      .zipWithIndex.map { case (t, i) =>
        (i.toLong, java.sql.Timestamp.from(java.time.Instant.parse(t))) }
      .toDF("id", "ts")
    def got(): Set[Long] = KqlCompiler.filter(at, "ts < \"2024-01-01 06:00:00\"")
      .select("id").as[Long].collect().toSet
    val tz = "spark.sql.session.timeZone"
    val prev = spark.conf.get(tz)
    try {
      // a UTC-8 session reads the literal as 14:00 UTC: the answer moves
      spark.conf.set(tz, "America/Los_Angeles")
      assert(got() == Set(0L, 1L, 2L))
      // a session resolved by GraftSession from that same conf reads 06:00 UTC
      spark.conf.set(tz, graft.GraftSession.resolve(
        new org.apache.spark.SparkConf(false).set(tz, "America/Los_Angeles")).get(tz))
      assert(got() == Set(0L, 1L))
    } finally spark.conf.set(tz, prev)
    assert(got() == Set(0L, 1L), "the shared session is GraftSession's: UTC")
  }

  test("leafSummary/couldMatchLeaves: fleet prune agrees with compile's fold") {
    import org.apache.spark.sql.types._
    // nasty field names: the summary encoding must round-trip dots, colons,
    // and backslashes inside segments (all legal JSON keys)
    val schema = StructType(Seq(
      StructField("plain", LongType),
      StructField("do.t", StringType),
      StructField("co:lon", StringType),
      StructField("back\\slash", StringType),
      StructField("nested", StructType(Seq(StructField("lang", StringType)))),
      StructField("arr", ArrayType(StructType(Seq(StructField("x", LongType)))))))
    val summary = KqlCompiler.leafSummary(schema)
    def could(q: String) =
      KqlCompiler.couldMatchLeaves(Kql.parse(q).toOption.get, summary)
    assert(could("plain: 1") && could("nested.lang: en") && could("*.lang: x") &&
      could("arr.x: 1") && !could("nope: 1") && !could("NOT nope: 1") &&
      !could("plain: 1 AND nope: 2") && could("plain: 1 OR nope: 2"))
    // conservatism contract vs the REAL per-schema resolution: whenever the
    // summary prunes, compile must fold the predicate to a non-true constant
    // on the same schema (no false negatives, by construction — both sides
    // run the same namespaceOk/pathMatches walk)
    for (q <- Seq("plain: 1", "nope: 1", "NOT nope: 1", "do\\.t: v", "do: v",
        "t: v", "co\\:lon: v", "back\\\\slash: v", "*.x: 3", "arr.x > 2",
        "plain: 1 AND nope: 2", "plain: 1 OR nope: 2",
        "NOT (plain: 1 OR nope: 2)", "nested.lang: a AND NOT do\\.t: b")) {
      val ast = Kql.parse(q).toOption.get
      if (!could(q)) {
        val folded = org.apache.spark.sql.GraftInternals
          .foldedValue(KqlCompiler.compile(ast, schema))
        assert(folded.exists(_ != true), s"summary pruned but compile didn't fold: $q")
      }
    }
  }

  test("schemaFromLeafSummary: projection over the rebuild matches the original") {
    import org.apache.spark.sql.types._
    // the contract an all-pruned fleet result's typing rests on: for any
    // projection pattern, resolveProjection over the REBUILT schema binds
    // the same (name, type) pairs as over the original — for every
    // non-array construct (array interiors/leaves are the documented
    // approximation: the summary never stores the array node itself)
    // fields listed in the summary's sorted order so the rebuild reproduces
    // the schema EXACTLY (only leaf ORDER is normalized by the summary;
    // names and types round-trip regardless)
    val schema = StructType(Seq(
      StructField("$_ts", LongType),
      StructField("co:lon", LongType),
      StructField("d", DoubleType),
      StructField("do.t", StringType),
      StructField("flag", BooleanType),
      StructField("log_event_idx", LongType),
      StructField("nested", StructType(Seq(
        StructField("deep", StructType(Seq(StructField("n", LongType)))),
        StructField("lang", StringType)))),
      StructField("plain", LongType),
      StructField("s", StringType)))
    val rebuilt = KqlCompiler.schemaFromLeafSummary(KqlCompiler.leafSummary(schema))
    for (pats <- Seq(Seq("*"), Seq("plain"), Seq("nested.lang"), Seq("nested"),
        Seq("*.lang"), Seq("do\\.t"), Seq("co\\:lon"), Seq("$_ts", "*"),
        Seq("log_event_idx"), Seq("$_ts", "nested.deep.n", "flag"))) {
      assert(KqlCompiler.resolveProjection(rebuilt, pats) ==
        KqlCompiler.resolveProjection(schema, pats), s"patterns: $pats")
    }
  }
}
