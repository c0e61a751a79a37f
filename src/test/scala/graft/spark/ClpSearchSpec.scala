package graft.spark

import java.nio.file.Files

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.core.Wildcard
import graft.functions.ClpFunctions._
import graft.pipeline.{ClpPipeline, TranscriptGen}
import graft.search.ClpSearch

/** Search correctness: every query's result set must equal the brute-force
  * oracle `turns.filter(wildcard_match(text, query))` — the re-expression of
  * the reference's (query → expected id set) tables
  * (components/core/tests/test-clp_s-search.cpp:205-258). */
class ClpSearchSpec extends SparkSpecBase {

  private lazy val outDir = Files.createTempDirectory("graft-search").toString
  private lazy val turns = TranscriptGen.turns(spark, 3000, seed = 7L).toDF.cache()
  private lazy val engine: ClpSearch = {
    ClpPipeline.run(spark, turns, ClpPipeline.Config(outDir, maxSinks = 8, saltParts = 8))
    new ClpSearch(spark, outDir)
  }

  private def oracle(query: String, caseSensitive: Boolean = true): Set[(String, Int)] = {
    val cleaned = Wildcard.cleanUp(query)
    turns.filter(wildcard_match(col("text"), lit(cleaned), lit(caseSensitive)))
      .select("conv_id", "turn_idx").collect()
      .map(r => (r.getString(0), r.getInt(1))).toSet
  }

  private def got(df: DataFrame): Set[(String, Int)] =
    df.select("conv_id", "turn_idx").collect().map(r => (r.getString(0), r.getInt(1))).toSet

  private def check(query: String, caseSensitive: Boolean = true,
                    expectNonEmpty: Boolean = true): Unit = {
    val exp = oracle(query, caseSensitive)
    if (expectNonEmpty) assert(exp.nonEmpty, s"oracle empty for '$query' — weak test")
    assert(got(engine.search(query, caseSensitive)) == exp, s"mismatch for '$query'")
  }

  test("wildcards that can absorb placeholders are text-verified; backslash tokens resolve") {
    import spark.implicits._
    val dir = Files.createTempDirectory("graft-search-fp").toString
    val t0 = new java.sql.Timestamp(1704067200000L)
    val rows = Seq(
      graft.pipeline.Turn("c1", 0, "user", "5 cat 7", "t", t0),
      graft.pipeline.Turn("c2", 0, "user", "9 cat 5", "t", t0),
      graft.pipeline.Turn("c3", 0, "user", "55 cat", "t", t0),
      graft.pipeline.Turn("c4", 0, "user", "5 cat", "t", t0),
      graft.pipeline.Turn("c5", 0, "user", "walk C:\\dir1 now", "t", t0)).toDF()
    ClpPipeline.run(spark, rows, ClpPipeline.Config(dir, maxSinks = 4, saltParts = 4))
    val eng = new ClpSearch(spark, dir)
    def ids(q: String): Set[String] =
      eng.search(q).select("conv_id").as[String].collect().toSet
    // '*' unanchors the var constraint: "5 cat 7" must NOT satisfy "* cat 5"
    assert(ids("* cat 5") == Set("c2"))
    // '?' must match ONE text char, not a whole multi-char variable
    assert(ids("? cat") == Set("c4"))
    // a token containing a literal (escaped) backslash resolves in the dict
    assert(ids("walk C:\\\\dir1 now") == Set("c5"))
    assert(ids("*C:\\\\dir1*") == Set("c5"))
  }

  test("constant-text queries") {
    check("*connection error*")
    check("*cache hit ratio*")
    check("no such text anywhere*", expectNonEmpty = false)
  }

  test("queries with exact int variables") {
    // find a value that actually occurs, via the oracle corpus
    val row = turns.filter(col("text").startsWith("task ")).select("text").head.getString(0)
    val id = row.split(" ")(1)
    check(s"task $id completed*")
  }

  test("queries with exact float variables") {
    val row = turns.filter(col("text").contains("cache hit ratio ")).select("text").head.getString(0)
    val f = row.split(" ")(3)
    check(s"*ratio $f over*")
  }

  test("queries with dict variables (status=...)") {
    check("*status=failed")
    check("*with status=*")
  }

  test("absent dict variable prunes to WontMatch before scanning") {
    assert(engine.candidates("*status=zzznotastatus here*").isEmpty)
    assert(got(engine.search("*status=zzznotastatus here*")) ==
      oracle("*status=zzznotastatus here*"))
  }

  test("case-insensitive search") {
    check("*CONNECTION ERROR*", caseSensitive = false)
  }

  test("? wildcard inside tokens") {
    check("*cache hit rati?*")
  }

  test("mid-token * wildcards (decode+verify fallback)") {
    check("*status=fail*")
    check("*task_* assigned*")
  }

  test("greedy mid-token * spanning multiple message tokens (loose fallback, no false negatives)") {
    // literal pieces of one query token land in DIFFERENT message tokens —
    // the reference's '*'-fallback case (GrepCore.hpp:379-390)
    import spark.implicits._
    val miniOut = Files.createTempDirectory("graft-midtok").toString
    val ts0 = new java.sql.Timestamp(1704067200000L)
    val mini = Seq(
      graft.pipeline.Turn("c0", 0, "user", "pyspark3 windowing works", "t", ts0),
      graft.pipeline.Turn("c0", 1, "user", "a1 b2", "t", ts0),
      graft.pipeline.Turn("c0", 2, "user", "plain text row", "t", ts0)).toDF
    ClpPipeline.run(spark, mini, ClpPipeline.Config(miniOut, maxSinks = 4, saltParts = 4))
    val e = new ClpSearch(spark, miniOut)
    assert(e.search("*spark*window*").select("turn_idx").collect().map(_.getInt(0)).toSet == Set(0))
    assert(e.search("*a1*b2*").select("turn_idx").collect().map(_.getInt(0)).toSet == Set(1))
    assert(e.search("*a1*zz9*").count() == 0)
  }

  test("no-driver-map search: distributed dict probes + distributed decode equal the oracle") {
    engine // force archive build
    val eD = new ClpSearch(spark, outDir, driverDictThreshold = 0L, hotHeadSize = 3)
    for (q <- Seq("*connection error*", "*status=failed", "*status=fail*")) {
      val res = eD.search(q)
      assert(got(res) == oracle(q), s"distributed mismatch for '$q'")
      // distributed decode is the same codegen'd placeholder walk as the
      // broadcast mode — no interpreted UDF anywhere in the executed plan
      val p = res.queryExecution.executedPlan.toString
      assert(p.contains("clp_split_vars") && !p.contains("UDF("),
        s"interpreted UDF in the distributed decode plan for '$q'")
    }
    assert(eD.candidates("*status=zzznotastatus here*").isEmpty)
  }

  test("search picks the pipeline's mode: between max and sum it decodes distributed") {
    engine // force archive build
    val nLt = spark.read.parquet(s"$outDir/logtype_dict").count()
    val nVar = spark.read.parquet(s"$outDir/var_dict").count()
    // each dictionary alone fits this threshold, both together do not: the
    // pipeline's sum rule would not hold both as driver maps, so search
    // must not either
    val t = math.max(nLt, nVar)
    assert(t < nLt + nVar)
    val e = new ClpSearch(spark, outDir, driverDictThreshold = t, hotHeadSize = 3)
    val decoded = e.withDecodedText(e.routed)
    val p = decoded.queryExecution.executedPlan.toString
    assert(!p.contains("dict_values"), s"driver-map decode planned above the sum rule:\n$p")
    assert(p.contains("clp_split_vars"))
    val text = decoded.select("conv_id", "turn_idx", "text").collect()
      .map(r => (r.getString(0), r.getInt(1)) -> r.getString(2)).toMap
    assert(text == turns.select("conv_id", "turn_idx", "text").collect()
      .map(r => (r.getString(0), r.getInt(1)) -> r.getString(2)).toMap)
    for (q <- Seq("*connection error*", "*status=failed", "*status=fail*"))
      assert(got(e.search(q)) == oracle(q), s"mismatch for '$q' at threshold $t")
  }

  test("a warm driver-map search runs its scan job alone: no broadcast join") {
    val q = "*connection error*"
    engine.search(q).collect() // warm-up: dictionaries load, broadcasts build
    val (res, jobs) = jobsOf {
      val df = engine.search(q)
      df.collect()
      df
    }
    assert(jobs == 1, s"a warm search must be one Spark job, saw $jobs")
    val p = res.queryExecution.executedPlan.toString
    assert(!p.contains("BroadcastExchange") && !p.contains("BroadcastHashJoin"),
      s"per-query broadcast in a warm search plan:\n$p")
    assert(p.contains("dict_value"))
  }

  test("a routed logtype_id missing from logtype_dict fails loudly in both modes") {
    engine // force archive build
    // a copy of the archive whose logtype dictionary lacks one routed id
    val dir = Files.createTempDirectory("graft-search-drift").toString
    Seq("routed", "var_dict", "sink_stats").foreach(d =>
      org.apache.commons.io.FileUtils.copyDirectory(
        new java.io.File(s"$outDir/$d"), new java.io.File(s"$dir/$d")))
    val id = engine.routed.select("logtype_id").head.getLong(0)
    spark.read.parquet(s"$outDir/logtype_dict").filter(col("logtype_id") =!= id)
      .write.parquet(s"$dir/logtype_dict")
    def messages(t: Throwable): Seq[String] =
      Iterator.iterate(t)(_.getCause).takeWhile(_ != null).map(e => String.valueOf(e.getMessage)).toSeq
    for ((mode, e) <- Seq("driver-map" -> new ClpSearch(spark, dir),
                          "distributed" -> new ClpSearch(spark, dir, driverDictThreshold = 0L))) {
      def namesId(what: String, err: Throwable): Unit =
        assert(messages(err).exists(_.contains(s"id $id has no entry in logtype_dict")),
          s"$mode $what: the error must name the missing id, got:\n${messages(err).mkString("\n")}")
      namesId("search", intercept[Exception](e.search("*").collect()))
      namesId("top-k", intercept[Exception](e.topK("*", 5).collect()))
      namesId("decode", intercept[Exception](e.withDecodedText(e.routed).collect()))
      // a count needs no text: it may skip the decode, but never a row
      scala.util.Try(e.count("*")) match {
        case scala.util.Success(n) => assert(n == e.routed.count(), s"$mode count dropped rows")
        case scala.util.Failure(err) => namesId("count", err)
      }
    }
  }

  test("out-of-range ts query prunes every sink via the stats index (R3)") {
    engine // force archive build
    val maxTs = spark.read.parquet(s"$outDir/sink_stats")
      .agg(max("max_ts")).head.getTimestamp(0)
    val beyond = new java.sql.Timestamp(maxTs.getTime + 86400000L)
    // the timestamp index alone answers "no match" — no scan is even compiled
    assert(engine.candidates("*", tsLo = Some(beyond)).isEmpty)
    assert(engine.candidates("*connection error*", tsLo = Some(beyond)).isEmpty)
    assert(engine.search("*connection error*", tsLo = Some(beyond)).count() == 0)
    val minTs = spark.read.parquet(s"$outDir/sink_stats")
      .agg(min("min_ts")).head.getTimestamp(0)
    val before = new java.sql.Timestamp(minTs.getTime - 86400000L)
    assert(engine.candidates("*", tsHi = Some(before)).isEmpty)
  }

  test("count and count-by-time agree with the oracle") {
    val q = "*connection error*"
    assert(engine.count(q) == oracle(q).size)
    val total = engine.countByTime(q, 3600000L)
      .agg(sum("cnt")).head.getLong(0)
    assert(total == oracle(q).size)
  }

  test("top-k returns the latest k by timestamp") {
    val q = "*connection error*"
    val k = 5
    val topk = engine.topK(q, k).collect()
    assert(topk.length == math.min(k, oracle(q).size))
    val allTs = engine.search(q).select("ts").collect().map(_.getTimestamp(0).getTime).sorted.reverse
    val gotTs = topk.map(_.getAs[java.sql.Timestamp]("ts").getTime)
    assert(gotTs.sorted.reverse.toSeq == allTs.take(topk.length).toSeq)
  }

  test("timestamp-range filter (P11)") {
    val q = "*connection error*"
    val all = engine.search(q).select("ts").collect().map(_.getTimestamp(0))
    val mid = all.sortBy(_.getTime).apply(all.length / 2)
    val n = engine.search(q, tsLo = Some(mid)).count()
    assert(n == all.count(_.getTime >= mid.getTime))
  }

  test("match-all query returns everything") {
    assert(engine.search("*").count() == turns.count())
  }

  test("pruned scan touches only candidate sinks") {
    engine // force init
    val Some((df, _)) = engine.candidates("*connection error*")
    val sinks = df.select("sink_id").distinct().collect().map(_.getInt(0)).toSet
    val allSinks = engine.routed.select("sink_id").distinct().count()
    assert(sinks.size.toLong < allSinks, "expected sink pruning to cut the scan")
  }

  test("fuzz: corpus-derived wildcard queries equal the brute-force oracle") {
    // Randomized sweep over the layer the fixed-query tests can't exhaust:
    // WildcardQueryCompiler's subquery enumeration + dict probes + sink/ts
    // pruning. Queries are substrings of real corpus messages (so cuts land
    // mid-token, mid-number, across var boundaries) mutated with ?/* and
    // case flips; the oracle is the raw-text wildcard matcher.
    engine // force pipeline build
    // fixed default seed; override with -Dgraft.fuzz.seed=N for wider sweeps
    val rnd = new scala.util.Random(sys.props.get("graft.fuzz.seed").map(_.toLong).getOrElse(0xC1FL))
    val texts = turns.select("text").limit(400).collect().map(_.getString(0))
    var nonEmpty = 0
    for (i <- 0 until 48) {
      val t = texts(rnd.nextInt(texts.length))
      val start = rnd.nextInt(math.max(1, t.length - 4))
      val len = 3 + rnd.nextInt(28)
      var q = t.substring(start, math.min(t.length, start + len))
      // char → '?' (p≈0.08)
      q = q.map(c => if (rnd.nextDouble() < 0.08) '?' else c)
      // one interior '*' splice (p≈0.4): greedy span fallback path
      if (rnd.nextDouble() < 0.4 && q.length > 4) {
        val cut = 1 + rnd.nextInt(q.length - 2)
        q = q.substring(0, cut) + "*" + q.substring(cut + rnd.nextInt(q.length - cut))
      }
      val caseSensitive = rnd.nextBoolean()
      if (!caseSensitive) q = q.map(c => if (rnd.nextBoolean()) c.toUpper else c.toLower)
      // substring semantics unless we kept the real message start/end
      val query = (if (start == 0 && rnd.nextBoolean()) "" else "*") + q + "*"
      val exp = oracle(query, caseSensitive)
      if (exp.nonEmpty) nonEmpty += 1
      assert(got(engine.search(query, caseSensitive)) == exp,
        s"fuzz #$i mismatch for query '$query' (caseSensitive=$caseSensitive)")
    }
    // the generator must actually exercise matching paths, not just prove
    // empty==empty 48 times
    assert(nonEmpty >= 24, s"weak fuzz corpus: only $nonEmpty/48 non-empty oracles")
  }

  test("fuzz: escape-heavy corpus — backslash tokens, literal wildcards, wild+var queries") {
    // Targets the two soundness classes the corpus-derived fuzzer can't
    // reach: (1) tokens containing literal '\' / '*' / '?' (query-side
    // escaping must round-trip through tokenize → dict probe), (2) pure
    // wildcard runs adjacent to variables ("* word N"), where the encoded
    // match alone is unanchored and only the decoded-text verify is sound.
    import spark.implicits._
    val rnd = new scala.util.Random(
      sys.props.get("graft.fuzz.seed").map(_.toLong).getOrElse(0xE5CA9EL))
    val words = Array("job", "C:\\dir1", "p*q", "x?y", "a\\b\\c", "disk",
      "run42", "0x3f", "cat", "node-17", "v1.2", "??", "tmp")
    val fuzzTexts = (0 until 160).map { i =>
      Seq.fill(3 + rnd.nextInt(6))(words(rnd.nextInt(words.length)))
        .mkString(" ") + s" seq $i"
    }
    def mkTurn(i: Int, text: String) = graft.pipeline.Turn(
      s"f$i", 0, "user", text, "t", new java.sql.Timestamp(1704067200000L + i))
    val dir = Files.createTempDirectory("graft-search-esc").toString
    val fdf = fuzzTexts.zipWithIndex.map { case (t0, i) => mkTurn(i, t0) }.toDF()
    ClpPipeline.run(spark, fdf, ClpPipeline.Config(dir, maxSinks = 4, saltParts = 4))
    val eng = new ClpSearch(spark, dir)
    def escapeLiteral(s: String): String =
      s.flatMap(c => if (c == '*' || c == '?' || c == '\\') s"\\$c" else c.toString)
    var nonEmpty = 0
    for (n <- 0 until 40) {
      val t0 = fuzzTexts(rnd.nextInt(fuzzTexts.length))
      val query = rnd.nextInt(3) match {
        case 0 => // escaped literal substring, token-aligned
          val ws = t0.split(' ')
          val k = rnd.nextInt(ws.length)
          val m = k + 1 + rnd.nextInt(math.min(3, ws.length - k))
          "*" + escapeLiteral(ws.slice(k, m).mkString(" ")) + "*"
        case 1 => // pure-wild run + trailing exact var ("* seq N")
          val i = rnd.nextInt(fuzzTexts.length)
          s"* seq $i"
        case 2 => // '?' adjacent to a token boundary
          val ws = t0.split(' ')
          val w = ws(rnd.nextInt(ws.length))
          "*" + (if (rnd.nextBoolean()) "? " else "?") + escapeLiteral(w) + "*"
      }
      val cleaned = Wildcard.cleanUp(query)
      val exp = fuzzTexts.zipWithIndex.collect {
        case (t1, i) if Wildcard.matches(t1, cleaned, caseSensitive = true) => s"f$i"
      }.toSet
      if (exp.nonEmpty) nonEmpty += 1
      val gotIds = eng.search(query).select("conv_id").as[String].collect().toSet
      assert(gotIds == exp, s"escape fuzz #$n mismatch for '$query'")
    }
    assert(nonEmpty >= 20, s"weak escape-fuzz corpus: only $nonEmpty/40 non-empty")
  }

  test("extract (clp x): full archive reconstructs every turn byte-exactly in order (O3)") {
    engine // force pipeline build
    val extracted = graft.search.Extract(spark, outDir)
      .select("conv_id", "turn_idx", "text").collect()
    val original = turns.select("conv_id", "turn_idx", "text").collect()
      .map(r => (r.getString(0), r.getInt(1)) -> r.getString(2)).toMap
    assert(extracted.length == original.size)
    // stable (conv_id, turn_idx) global order + byte equality
    val keys = extracted.map(r => (r.getString(0), r.getInt(1)))
    assert(keys.sameElements(keys.sorted))
    extracted.foreach(r => assert(original((r.getString(0), r.getInt(1))) == r.getString(2)))
  }
}
