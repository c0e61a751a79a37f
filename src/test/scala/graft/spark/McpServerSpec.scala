package graft.spark

import java.nio.file.Files

import org.json4s._
import org.json4s.jackson.JsonMethods

import graft.mcp.{McpServer, SessionManager}

/** Agent-facing MCP surface ([[graft.mcp.McpServer]]): the reference's
  * `get_instructions` / `search_by_kql` / `get_nth_page` session contract
  * (clp-mcp-server/server/server.py + session_manager.py) driven end-to-end
  * over a real schema-routed JSON archive through the JSON-RPC transport,
  * plus the session/paging unit semantics. */
class McpServerSpec extends SparkSpecBase {
  import spark.implicits._

  // ---- a small clp-s archive: 25 timestamped events across two services
  private lazy val archiveDir: String = {
    val dir = Files.createTempDirectory("graft-mcp-spec").toString
    val corpus = (0 until 25).map { i =>
      val svc = if (i % 2 == 0) "api" else "db"
      val lvl = if (i % 5 == 0) "ERROR" else "INFO"
      s"""{"ts": ${1704067200000L + i * 1000}, "service": "$svc", "level": "$lvl", "msg": "event $i"}"""
    }
    graft.pipeline.JsonPipeline.route(spark, corpus.toDF("json"), "json", dir,
      options = graft.pipeline.JsonPipeline.Options(timestampKey = Some("ts")))
    dir
  }

  private def newServer(): McpServer =
    new McpServer(new McpServer.JsonArchiveBackend(spark, archiveDir))

  private def rpc(server: McpServer, method: String, params: String = "{}",
                  id: Int = 1): JValue = {
    val resp = server.handle(
      s"""{"jsonrpc":"2.0","id":$id,"method":"$method","params":$params}""")
    JsonMethods.parse(resp.getOrElse(fail(s"no response for $method")))
  }

  private def callTool(server: McpServer, name: String,
                       args: String = "{}"): JValue = {
    val r = rpc(server, "tools/call",
      s"""{"name":"$name","arguments":$args}""")
    val JString(text) = (r \ "result" \ "content")(0) \ "text"
    JsonMethods.parse(s"""{"v":$text}""") \ "v"
  }

  private def items(page: JValue): List[String] =
    (page \ "items").asInstanceOf[JArray].arr.map {
      case JString(s) => s
      case other => fail(s"non-string item $other")
    }

  // --------------------------------------------------------------- protocol

  test("initialize handshake, notifications, tools/list, unknown method") {
    val server = newServer()
    val init = rpc(server, "initialize",
      """{"protocolVersion":"2024-11-05","capabilities":{}}""")
    assert((init \ "result" \ "protocolVersion") == JString("2024-11-05"))
    assert((init \ "result" \ "serverInfo" \ "name") == JString("graft-mcp-server"))
    // notifications get no response line
    assert(server.handle(
      """{"jsonrpc":"2.0","method":"notifications/initialized"}""").isEmpty)
    val tools = (rpc(server, "tools/list") \ "result" \ "tools")
      .asInstanceOf[JArray].arr.map(t => (t \ "name").asInstanceOf[JString].s)
    assert(tools.toSet ==
      Set("get_instructions", "search_by_kql", "get_nth_page", "hello_world"))
    val nf = rpc(server, "no/such")
    assert((nf \ "error" \ "code") == JInt(-32601))
    val bad = server.handle("not json at all {")
    assert((JsonMethods.parse(bad.get) \ "error" \ "code") == JInt(-32700))
  }

  test("hello_world answers without the instructions gate") {
    val hw = callTool(newServer(), "hello_world", """{"name":" tester "}""")
    assert((hw \ "message") == JString("Hello World, tester!"))
    assert((hw \ "status") == JString("running"))
  }

  // ------------------------------------------------------- session contract

  test("search and paging refuse until get_instructions is called") {
    val server = newServer()
    val e1 = callTool(server, "search_by_kql", """{"kql_query":"level: ERROR"}""")
    assert((e1 \ "Error") == JString(SessionManager.GetInstructionsNotRunError))
    val e2 = callTool(server, "get_nth_page", """{"page_index":0}""")
    assert((e2 \ "Error") == JString(SessionManager.GetInstructionsNotRunError))
  }

  test("paged KQL session end-to-end: search, walk pages, errors in-band") {
    val server = newServer()
    val instr = callTool(server, "get_instructions")
    assert(instr.asInstanceOf[JString].s.contains("KQL"))

    // no query cached yet
    val none = callTool(server, "get_nth_page", """{"page_index":0}""")
    assert((none \ "Error") == JString(SessionManager.NoCachedResultError))

    // 13 INFO events on service api/db? level INFO = i % 5 != 0 → 20 events
    val p0 = callTool(server, "search_by_kql", """{"kql_query":"level: INFO"}""")
    assert((p0 \ "num_total_items") == JInt(20))
    assert((p0 \ "num_total_pages") == JInt(2))
    assert((p0 \ "num_items_per_page") == JInt(10))
    assert((p0 \ "has_next") == JBool(true))
    assert((p0 \ "has_previous") == JBool(false))
    val page0 = items(p0)
    assert(page0.length == 10)
    // newest-first: the latest INFO event is i=24
    assert(page0.head.startsWith("timestamp: 2024-01-01T00:00:24.000Z"))
    assert(page0.head.contains(""""msg":"event 24""""))

    val p1 = callTool(server, "get_nth_page", """{"page_index":1}""")
    assert((p1 \ "has_next") == JBool(false))
    assert((p1 \ "has_previous") == JBool(true))
    val all = page0 ++ items(p1)
    assert(all.length == 20 && all.distinct.length == 20)
    // fully ordered newest → oldest across pages
    assert(all == all.sorted(Ordering[String].reverse))

    val oob = callTool(server, "get_nth_page", """{"page_index":2}""")
    assert((oob \ "Error") == JString(SessionManager.PageOutOfBoundsError))
    val neg = callTool(server, "get_nth_page", """{"page_index":-1}""")
    assert((neg \ "Error") == JString(SessionManager.PageOutOfBoundsError))

    // a new search replaces the cache
    val err = callTool(server, "search_by_kql", """{"kql_query":"level: ERROR"}""")
    assert((err \ "num_total_items") == JInt(5))
    assert(items(err).forall(_.contains(""""level":"ERROR"""")))
  }

  test("a query matching nothing answers an empty page, not an error") {
    val server = newServer()
    callTool(server, "get_instructions")
    val p = callTool(server, "search_by_kql", """{"kql_query":"level: FATAL"}""")
    assert((p \ "num_total_items") == JInt(0))
    assert((p \ "num_total_pages") == JInt(0))
    assert(items(p).isEmpty)
    assert((p \ "has_next") == JBool(false))
  }

  test("a malformed KQL query reports in-band, session stays usable") {
    val server = newServer()
    callTool(server, "get_instructions")
    val bad = callTool(server, "search_by_kql", """{"kql_query":"((("}""")
    assert((bad \ "Error").isInstanceOf[JString])
    val ok = callTool(server, "search_by_kql", """{"kql_query":"level: ERROR"}""")
    assert((ok \ "num_total_items") == JInt(5))
  }

  test("overflow past the cache cap refuses with a narrow-the-query error") {
    val big = new McpServer.QueryBackend {
      def searchByKql(kql: String, maxResults: Int)
          : (Seq[McpServer.LogEvent], Boolean) =
        ((0 until maxResults).map(i =>
          McpServer.LogEvent(Some(i.toLong), s"m$i")), true)
    }
    val server = new McpServer(big)
    callTool(server, "get_instructions")
    val r = callTool(server, "search_by_kql", """{"kql_query":"*"}""")
    val JString(msg) = r \ "Error"
    assert(msg.contains("narrow the query"))
  }

  test("a failed or overflowed search invalidates the previous query's pages") {
    // backend that overflows on "*" and answers normally otherwise
    val flaky = new McpServer.QueryBackend {
      def searchByKql(kql: String, maxResults: Int)
          : (Seq[McpServer.LogEvent], Boolean) =
        if (kql == "*") (Nil, true)
        else if (kql == "boom") throw new RuntimeException("backend down")
        else ((0 until 3).map(i =>
          McpServer.LogEvent(Some(i.toLong), s"m$i")), false)
    }
    val server = new McpServer(flaky)
    callTool(server, "get_instructions")
    assert((callTool(server, "search_by_kql",
      """{"kql_query":"ok"}""") \ "num_total_items") == JInt(3))
    // overflow: the OLD query's pages must no longer be served
    assert((callTool(server, "search_by_kql",
      """{"kql_query":"*"}""") \ "Error").isInstanceOf[JString])
    assert((callTool(server, "get_nth_page", """{"page_index":0}""") \ "Error")
      == JString(SessionManager.NoCachedResultError))
    // refill, then a backend exception clears again
    assert((callTool(server, "search_by_kql",
      """{"kql_query":"ok"}""") \ "num_total_items") == JInt(3))
    assert((callTool(server, "search_by_kql",
      """{"kql_query":"boom"}""") \ "Error") == JString("backend down"))
    assert((callTool(server, "get_nth_page", """{"page_index":0}""") \ "Error")
      == JString(SessionManager.NoCachedResultError))
  }

  test("an id-less request is a JSON-RPC notification: no response at all") {
    val server = newServer()
    // the spec's notification marker is the absent id member, not the
    // method name — answering one (even with "id":null, which is reserved
    // for undetectable-id parse errors) violates JSON-RPC 2.0
    assert(server.handle("""{"jsonrpc":"2.0","method":"ping","params":{}}""").isEmpty)
    // a parse error still answers, with the explicit null id the spec
    // reserves for exactly that case — and the id MEMBER must be on the
    // wire (json4s silently drops JNothing fields)
    val err = server.handle("""{"jsonrpc":"2.0",""")
    assert(err.isDefined && err.get.contains(""""id":null"""), err)
    assert((JsonMethods.parse(err.get) \ "error" \ "code") == JInt(-32700))
  }

  // ------------------------------------------------------ clp text backend

  test("ClpArchiveBackend searches a routed text archive by KQL") {
    val dir = Files.createTempDirectory("graft-mcp-clp").toString
    val turns = spark.range(20).select(
      org.apache.spark.sql.functions.concat(
        org.apache.spark.sql.functions.lit("conv-"),
        (org.apache.spark.sql.functions.col("id") % 4).cast("string")).as("conv_id"),
      (org.apache.spark.sql.functions.col("id") / 4).cast("int").as("turn_idx"),
      org.apache.spark.sql.functions.lit("user").as("role"),
      org.apache.spark.sql.functions.concat(
        org.apache.spark.sql.functions.lit("request took "),
        org.apache.spark.sql.functions.col("id").cast("string"),
        org.apache.spark.sql.functions.lit(" ms")).as("text"),
      org.apache.spark.sql.functions.lit("tool").as("tool"),
      org.apache.spark.sql.functions.timestamp_millis(
        org.apache.spark.sql.functions.lit(1704067200000L) +
          org.apache.spark.sql.functions.col("id") * 1000L).as("ts"))
    graft.pipeline.ClpPipeline.run(spark, turns,
      graft.pipeline.ClpPipeline.Config(dir))
    val backend = new McpServer.ClpArchiveBackend(spark, dir)
    val (events, overflow) = backend.searchByKql("""text: "*took 7 ms*"""", 100)
    assert(!overflow)
    assert(events.map(_.message) == Seq("request took 7 ms"))
    assert(events.head.tsMs.contains(1704067200000L + 7000L))
    // the backend holds its engine: a second query answers from the same one
    val (more, moreOverflow) = backend.searchByKql("""text: "*took 1? ms*"""", 100)
    assert(!moreOverflow)
    assert(more.map(_.message) == (19 to 10 by -1).map(i => s"request took $i ms"))
  }

  test("FleetBackend searches every cataloged archive, newest-first, paged") {
    import org.apache.spark.sql.functions._
    val dir = Files.createTempDirectory("graft-mcp-fleet").toString
    val turns = spark.range(40).select(
      concat(lit("conv-"), (col("id") % 4).cast("string")).as("conv_id"),
      (col("id") / 4).cast("int").as("turn_idx"),
      lit("user").as("role"),
      concat(lit("request took "), col("id").cast("string"), lit(" ms")).as("text"),
      lit("tool").as("tool"),
      timestamp_millis(lit(1704067200000L) + col("id") * 1000L).as("ts"))
    // 2 archives of 20 turns each (turn_idx 0-4 → slice 0, 5-9 → slice 1)
    graft.pipeline.ClpCatalog.ingest(spark, turns, floor(col("turn_idx") / 5), dir)
    val backend = new McpServer.FleetBackend(spark, dir)
    // a match in EACH archive: ids 7 and 27 both end "took * ms"
    val (events, overflow) = backend.searchByKql("""text: "*took *7 ms*"""", 100)
    assert(!overflow)
    assert(events.map(_.message) ==
      Seq("request took 37 ms", "request took 27 ms", "request took 17 ms",
        "request took 7 ms"), events.map(_.message))
    // newest-first across archives, and the page budget truncates globally
    val (page, over) = backend.searchByKql("""text: "*took *7 ms*"""", 2)
    assert(over && page.map(_.message) ==
      Seq("request took 37 ms", "request took 27 ms"))
    // a retention sweep narrows the fleet the next read, no restart needed
    graft.pipeline.ClpCatalog.retire(spark, dir,
      new java.sql.Timestamp(1704067200000L + 20000L))
    val (after, _) = backend.searchByKql("""text: "*took *7 ms*"""", 100)
    assert(after.map(_.message) ==
      Seq("request took 37 ms", "request took 27 ms"))
  }

  test("FleetBackend walks archives newest-first in bounded batches, stops early") {
    import org.apache.spark.sql.functions._
    val dir = Files.createTempDirectory("graft-mcp-fleet-batch").toString
    val turns = spark.range(60).select(
      concat(lit("conv-"), (col("id") % 4).cast("string")).as("conv_id"),
      (col("id") / 4).cast("int").as("turn_idx"),
      lit("user").as("role"),
      concat(lit("request took "), col("id").cast("string"), lit(" ms")).as("text"),
      lit("tool").as("tool"),
      timestamp_millis(lit(1704067200000L) + col("id") * 1000L).as("ts"))
    // 3 archives of 20 turns each, strictly increasing time ranges
    graft.pipeline.ClpCatalog.ingest(spark, turns, floor(col("turn_idx") / 5), dir)
    val one = new McpServer.FleetBackend(spark, dir, batchSize = 1)
    // batched-by-1 equals the all-in-one-batch result exactly
    val big = new McpServer.FleetBackend(spark, dir, batchSize = 100)
    val (e1, o1) = one.searchByKql("""text: "*took *7 ms*"""", 100)
    val (e2, o2) = big.searchByKql("""text: "*took *7 ms*"""", 100)
    assert(o1 == o2 && e1 == e2 && e1.length == 6) // 7,17,27,37,47,57
    assert(one.lastBatchesRun == 3 && big.lastBatchesRun == 1)
    // early exit: a 2-row page is fully answered by the NEWEST archive
    // (ids 40-59, every row newer than the older archives' end_ts), so
    // batches 2 and 3 never run — their archives are never opened
    val (page, over) = one.searchByKql("text: *", 2)
    assert(over && page.map(_.message) ==
      Seq("request took 59 ms", "request took 58 ms"))
    assert(one.lastBatchesRun == 1, s"ran ${one.lastBatchesRun} batches")
    // a budget the newest archive cannot fill alone keeps walking
    val (deep, _) = one.searchByKql("text: *", 25)
    assert(deep.length == 25 && one.lastBatchesRun == 2)
  }

  test("FleetBackend tie-break uses Spark's UTF-8 order, not JVM UTF-16") {
    import org.apache.spark.sql.functions._
    val dir = Files.createTempDirectory("graft-mcp-fleet-utf8").toString
    // two archives, one row each, TIED at the same timestamp; the messages
    // order differently under UTF-8 bytes (Spark sorts) vs UTF-16 code
    // units (a naive driver-side Ordering.by on String): U+FFFF's UTF-8
    // (EF BF BF) sorts BEFORE U+10000's (F0 90 80 80), while in UTF-16
    // U+10000's surrogate D800 sorts before FFFF. The page cut lands inside
    // the tie, so a driver merge in the wrong order returns a different row
    // than the single-union path.
    val m1 = "err ￿z"            // UTF-8 min of the pair
    val m2 = "err 𐀀a"      // U+10000 — UTF-16 min of the pair
    val turns = spark.createDataFrame(Seq(
      ("c0", 0, "user", m1, "t", new java.sql.Timestamp(1704067200000L)),
      ("c1", 0, "user", m2, "t", new java.sql.Timestamp(1704067200000L))))
      .toDF("conv_id", "turn_idx", "role", "text", "tool", "ts")
    graft.pipeline.ClpCatalog.ingest(spark, turns,
      substring(col("conv_id"), 2, 1), dir)
    val one = new McpServer.FleetBackend(spark, dir, batchSize = 1)
    val big = new McpServer.FleetBackend(spark, dir, batchSize = 100)
    val (p1, o1) = one.searchByKql("""text: "err*"""", 1)
    val (p2, o2) = big.searchByKql("""text: "err*"""", 1)
    assert(o1 && o2 && p1.map(_.message) == p2.map(_.message))
    assert(p1.head.message == m1, p1.head.message.codePoints().toArray.toSeq)
  }

  // ----------------------------------------------------------- unit layers

  test("session TTL: an idle session expires and loses its cache") {
    var now = 0L
    val mgr = new SessionManager(ttlMs = 1000, clock = () => now)
    mgr.getInstructions("s1")
    assert(mgr.cacheQueryResultAndGetFirstPage("s1",
      IndexedSeq("a", "b")).isRight)
    now = 500
    assert(mgr.getNthPage("s1", 0).map(_.numTotalItems) == Right(2))
    now = 2000 // past TTL since last access at 500
    assert(mgr.getNthPage("s1", 0) ==
      Left(SessionManager.GetInstructionsNotRunError))
    // sweep removes other idle sessions wholesale
    mgr.getInstructions("s2")
    now = 4000
    mgr.cleanupExpiredSessions()
    assert(mgr.activeSessionCount == 0)
  }

  test("paging math: cap enforced, page size honored, bounds exact") {
    intercept[IllegalArgumentException] {
      new graft.mcp.PaginatedQueryResult(
        IndexedSeq.fill(SessionManager.MaxCachedResults + 1)("x"), 10)
    }
    val r = new graft.mcp.PaginatedQueryResult((1 to 23).map(_.toString), 10)
    assert(r.getPage(0).get.items.length == 10)
    assert(r.getPage(2).get.items == Seq("21", "22", "23"))
    assert(r.getPage(2).get.hasNext == false)
    assert(r.getPage(2).get.hasPrevious == true)
    assert(r.getPage(3).isEmpty && r.getPage(-1).isEmpty)
  }
}
