package graft.mcp

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.json4s._
import org.json4s.jackson.JsonMethods

/** Agent-facing MCP query surface — the reference fork's newest user entry
  * point (components/clp-mcp-server/clp_mcp_server/server/server.py:30-111:
  * tools `get_instructions`, `search_by_kql`, `get_nth_page`, `hello_world`)
  * rebuilt over this engine's own search paths instead of a job-queue
  * connector: `search_by_kql` compiles the KQL straight onto the archive
  * (clp-s records store via [[graft.search.JsonSearch]], or a routed text
  * archive via [[graft.search.ClpSearch.kql]] over decoded rows),
  * sorts newest-first, and caches the formatted page set in the session for
  * `get_nth_page` (session model in [[SessionManager]]).
  *
  * Transport is JSON-RPC 2.0 over stdio with the MCP handshake
  * (`initialize` / `notifications/initialized` / `tools/list` /
  * `tools/call`), the protocol FastMCP speaks for the reference server —
  * hand-rolled here on json4s (already on Spark's classpath; zero new deps).
  *
  * Scale contract: the ONLY driver-side materialization is the capped page
  * cache. The newest-first cut runs as a sort-limit in Spark (TakeOrdered —
  * no global sort, no full collect); results beyond
  * [[SessionManager.MaxCachedResults]] answer an error telling the agent to
  * narrow the query, which is exactly the behavior the reference enforces
  * via PaginatedQueryResult's cap.
  */
object McpServer {

  /** One log event of a query result: epoch-millis timestamp (None when the
    * record carries no timestamp) + rendered message. */
  final case class LogEvent(tsMs: Option[Long], message: String)

  val TimestampNotAvailable = "N/A"

  /** `timestamp: <ISO-8601 millis Z>, message: <msg>` — server/utils.py
    * format_query_results; empty-message events are dropped there too. */
  def formatEvents(events: Seq[LogEvent]): IndexedSeq[String] =
    events.iterator.filter(_.message.nonEmpty).map { e =>
      val ts = e.tsMs.map { ms =>
        java.time.Instant.ofEpochMilli(ms)
          .atOffset(java.time.ZoneOffset.UTC)
          .format(java.time.format.DateTimeFormatter
            .ofPattern("yyyy-MM-dd'T'HH:mm:ss.SSS'Z'"))
      }.getOrElse(TimestampNotAvailable)
      s"timestamp: $ts, message: ${e.message}"
    }.toIndexedSeq

  /** A queryable archive: compile `kql`, answer events newest-first, at most
    * `maxResults` of them + a flag that the cut overflowed (so the server
    * can refuse instead of silently truncating). */
  trait QueryBackend {
    def searchByKql(kql: String, maxResults: Int): (Seq[LogEvent], Boolean)
  }

  /** Shared collect shape: order `tsCol` newest-first (events without a
    * timestamp sort oldest, mirroring utils.py sort_by_timestamp's -1 key),
    * tie-break on message for deterministic paging, fetch maxResults+1 via
    * sort-limit (TakeOrdered — executors keep only the top slice each). */
  private def collectNewestFirst(df: DataFrame, tsCol: String, msgCol: String,
                                 maxResults: Int): (Seq[LogEvent], Boolean) = {
    // numeric ts columns carry epoch MILLIS already (clp-s `$_ts`); a
    // long→timestamp cast would misread them as epoch seconds
    val tsMs = df.schema(tsCol).dataType match {
      case _: org.apache.spark.sql.types.NumericType => col(tsCol).cast("long")
      case _ => unix_millis(col(tsCol).cast("timestamp"))
    }
    val rows = df
      .select(tsMs.as("_ts_ms"),
        col(msgCol).cast("string").as("_msg"))
      .orderBy(col("_ts_ms").desc_nulls_last, col("_msg").asc)
      .limit(maxResults + 1)
      .collect()
    val events = rows.iterator.take(maxResults).map { r =>
      LogEvent(if (r.isNullAt(0)) None else Some(r.getLong(0)),
        if (r.isNullAt(1)) "" else r.getString(1))
    }.toSeq
    (events, rows.length > maxResults)
  }

  /** KQL over a clp-s JSON archive on one held [[graft.search.JsonSearch]]
    * (its metadata read once), with wildcard projection; message = the
    * matched record's kv-pairs serialized as one JSON object (the reference
    * result cache's kv-pair log event), ts = `$_ts`. */
  final class JsonArchiveBackend(spark: SparkSession, archiveDir: String)
      extends QueryBackend {
    private val engine = new graft.search.JsonSearch(spark, archiveDir)
    def searchByKql(kql: String, maxResults: Int): (Seq[LogEvent], Boolean) = {
      // `*` binds every record column; `$_ts` is requested explicitly (the
      // wildcard walks record paths, not the metadata namespace)
      val hits = engine.kql(kql, selectCols = Seq("$_ts", "*"))
      val dataCols = hits.columns.filterNot(_.startsWith("$")).sorted
      if (dataCols.isEmpty) return (Nil, false)
      // an archive ingested without a timestampKey has no $_ts — its events
      // format as "timestamp: N/A", same as the reference's missing-ts rule
      val ts =
        if (hits.columns.contains("$_ts")) col("$_ts")
        else lit(null).cast("timestamp")
      val rendered = hits.select(ts.as("_ts"),
        to_json(struct(dataCols.map(col): _*)).as("_json"))
      collectNewestFirst(rendered, "_ts", "_json", maxResults)
    }
  }

  /** KQL over a routed CLP text archive on one held ClpSearch (its
    * dictionaries loaded and broadcast once), as `graft.Search --kql`;
    * message = decoded text. */
  final class ClpArchiveBackend(spark: SparkSession, archiveDir: String)
      extends QueryBackend {
    private val engine = new graft.search.ClpSearch(spark, archiveDir)
    def searchByKql(kql: String, maxResults: Int): (Seq[LogEvent], Boolean) =
      collectNewestFirst(engine.kql(kql), "ts", "text", maxResults)
  }

  /** KQL over an entire archive FLEET (a [[graft.pipeline.ClpCatalog]]
    * directory) — the reference MCP server fronts the whole deployment
    * through its metadata DB, not one archive. Retired archives (retention
    * sweep) drop out at the next catalog read automatically.
    *
    * Fan-out is BOUNDED and newest-first drives EARLY EXIT: archives are
    * walked newest-`end_ts`-first in `batchSize` groups, each group one
    * ≤`batchSize`-branch union whose per-archive sort-limits feed a
    * driver-side top-(k+1) merge buffer (≤ k+1 rows, k = page budget). Once
    * the buffer's cut row is strictly newer than the next archive's newest
    * possible event, NO remaining archive can contribute — the walk stops
    * without opening them. A match-all query over 10^4 archives therefore
    * runs a handful of bounded batches instead of handing Catalyst a
    * 10^4-branch union; the reference throttles the same way (the query
    * scheduler dispatches bounded archive batches, newest first:
    * `query_scheduler.py:508-566` with the `ORDER BY end_timestamp DESC`
    * archive listing). */
  final class FleetBackend(spark: SparkSession, fleetDir: String,
                           batchSize: Int = 32)
      extends QueryBackend {

    /** Batches actually executed by the last search — observable evidence
      * for the early-exit (asserted in McpServerSpec). */
    @volatile private[graft] var lastBatchesRun: Int = 0

    def searchByKql(kql: String, maxResults: Int): (Seq[LogEvent], Boolean) = {
      // newest end_ts first; null-bounds archives (no timestamped rows at
      // all — min/max ignore nulls, so null bounds ⇒ every row lacks a ts
      // and sorts oldest) walk last
      val ents = graft.pipeline.ClpCatalog.entries(spark, fleetDir)
        .sortBy(e => (e._3 == null,
          if (e._3 == null) 0L else -e._3.getTime, e._1))
      // merge buffer ordered like collectNewestFirst's global cut:
      // (ts desc nulls last, msg asc), at most k+1 rows. The message leg
      // compares in UTF-8 byte order (Dictionaries.ValueOrder), not JVM
      // chars: Spark orders strings by binary UTF-8 (UTF8String), and
      // Scala's UTF-16 code-unit order disagrees for supplementary-plane
      // text vs U+E000–U+FFFF — a driver-side sort in the other order
      // would break the batched ≡ single-union invariant on ties at the
      // page boundary
      val ord = new Ordering[LogEvent] {
        def compare(a: LogEvent, b: LogEvent): Int = {
          val an = a.tsMs.isEmpty; val bn = b.tsMs.isEmpty
          if (an != bn) return if (an) 1 else -1
          if (!an) {
            val c = java.lang.Long.compare(b.tsMs.get, a.tsMs.get)
            if (c != 0) return c
          }
          graft.pipeline.Dictionaries.ValueOrder.compare(a.message, b.message)
        }
      }
      var buf = Vector.empty[LogEvent]
      lastBatchesRun = 0
      val it = ents.grouped(batchSize)
      var done = false
      while (!done && it.hasNext) {
        val batch = it.next()
        val newestPossible = batch.head._3 // batch is end_ts-desc within the walk
        val cut = buf.lift(maxResults) // the (k+1)-th row, if the buffer is full
        if (cut.exists(c => c.tsMs.isDefined &&
              (newestPossible == null || c.tsMs.get > newestPossible.getTime))) {
          // every remaining archive (sorted) is older than the full page —
          // nothing left can displace even the cut row
          done = true
        } else {
          // branch plans build concurrently (the per-archive probe jobs are
          // the fleet fixed cost — see ClpCatalog.parallelPlans)
          val hits = graft.pipeline.ClpCatalog.parallelPlans(
            spark, batch.map(_._1)) { id =>
            new graft.search.ClpSearch(spark, s"$fleetDir/archives/$id").kql(kql)
              .select(col("ts"), col("text"))
              // per-archive pre-limit: the global top-k can never need more
              // than k rows from any one archive. The ORDER must match the
              // global cut (ts desc nulls last, msg asc) INCLUDING the
              // tie-break — with >k rows tied at the boundary timestamp
              // inside one archive, a ts-only pre-limit would keep an
              // arbitrary subset and page nondeterministically.
              .orderBy(col("ts").desc_nulls_last, col("text").asc)
              .limit(maxResults + 1)
          }.reduce(_ unionAll _)
          val (events, _) = collectNewestFirst(hits, "ts", "text", maxResults + 1)
          buf = (buf ++ events).sorted(ord).take(maxResults + 1)
          lastBatchesRun += 1
        }
      }
      (buf.take(maxResults), buf.length > maxResults)
    }
  }

  // ---------------------------------------------------------------- protocol

  val ServerName = "graft-mcp-server"
  val ProtocolVersion = "2024-11-05"

  /** AST-level extractors — no Formats/reflection machinery needed. */
  private[mcp] def strOpt(v: JValue): Option[String] = v match {
    case JString(s) => Some(s)
    case _ => None
  }
  private[mcp] def intOpt(v: JValue): Option[Int] = v match {
    case JInt(i) => Some(i.toInt)
    case JLong(l) => Some(l.toInt)
    case JDouble(d) if d.isWhole => Some(d.toInt)
    case JDecimal(d) if d.isWhole => Some(d.toInt)
    case _ => None
  }

  /** Tool descriptors for `tools/list` — same four tools as server.py. */
  private val toolList: JValue = JArray(List(
    tool("get_instructions",
      "Gets the instructions that guide querying this server. " +
        "Must be invoked before any other tool.",
      JObject()),
    tool("search_by_kql",
      "Searches log events matching the given KQL query; results are " +
        "ordered newest-first, cached for pagination, and returned with " +
        "the first page.",
      JObject("kql_query" -> JObject("type" -> JString("string"))),
      required = List("kql_query")),
    tool("get_nth_page",
      "Retrieves the n-th page (zero-based) of the previous query's " +
        "paginated response.",
      JObject("page_index" -> JObject("type" -> JString("integer"))),
      required = List("page_index")),
    tool("hello_world", "Provides a simple hello world greeting.",
      JObject("name" -> JObject("type" -> JString("string"))))))

  private def tool(name: String, desc: String, props: JObject,
                   required: List[String] = Nil): JValue =
    JObject(
      "name" -> JString(name),
      "description" -> JString(desc),
      "inputSchema" -> JObject(
        "type" -> JString("object"),
        "properties" -> props,
        "required" -> JArray(required.map(JString))))

  private def pageJson(p: SessionManager.PageData): JValue = JObject(
    "items" -> JArray(p.items.map(JString(_)).toList),
    "num_total_pages" -> JInt(p.numTotalPages),
    "num_total_items" -> JInt(p.numTotalItems),
    "num_items_per_page" -> JInt(p.numItemsPerPage),
    "has_next" -> JBool(p.hasNext),
    "has_previous" -> JBool(p.hasPrevious))

  private def errJson(msg: String): JValue = JObject("Error" -> JString(msg))
}

/** One server instance bound to a backend. `handle` is the pure
  * request→response function (driven directly by the spec); [[McpServer
  * .main]] wires it to stdin/stdout. */
final class McpServer(backend: McpServer.QueryBackend,
                      sessions: SessionManager = new SessionManager()) {
  import McpServer._

  /** stdio carries exactly one MCP session (the FastMCP stdio model); HTTP
    * hosts would key this from transport metadata. */
  val sessionId = "stdio"

  /** Handle one JSON-RPC line; None for notifications (no response). */
  def handle(line: String): Option[String] = {
    val parsed =
      try Right(JsonMethods.parse(line))
      catch { case e: Exception => Left(e.getMessage) }
    parsed match {
      case Left(_) =>
        Some(render(JObject(
          "jsonrpc" -> JString("2.0"), "id" -> JNull,
          "error" -> JObject("code" -> JInt(-32700),
            "message" -> JString("Parse error")))))
      case Right(req) =>
        val method = strOpt(req \ "method").getOrElse("")
        // JSON-RPC 2.0: the notification marker is the ABSENT id member, not
        // the method name — any id-less request MUST NOT be answered ("id":
        // null is reserved for parse-error responses where the id was
        // undetectable). Every method on this surface exists only to produce
        // a response, so an id-less call is dropped rather than executed —
        // executing it would mutate session page state invisibly.
        if (method.startsWith("notifications/") || (req \ "id") == JNothing) None
        else Some(render(response(req \ "id", method, req \ "params")))
    }
  }

  private def response(id: JValue, method: String, params: JValue): JValue = {
    def ok(result: JValue): JValue =
      JObject("jsonrpc" -> JString("2.0"), "id" -> id, "result" -> result)
    def err(code: Int, msg: String): JValue =
      JObject("jsonrpc" -> JString("2.0"), "id" -> id,
        "error" -> JObject("code" -> JInt(code), "message" -> JString(msg)))

    method match {
      case "initialize" => ok(JObject(
        "protocolVersion" -> JString(ProtocolVersion),
        "capabilities" -> JObject("tools" -> JObject()),
        "serverInfo" -> JObject(
          "name" -> JString(ServerName), "version" -> JString("0.1.0"))))
      case "ping" => ok(JObject())
      case "tools/list" => ok(JObject("tools" -> toolList))
      case "tools/call" =>
        val name = strOpt(params \ "name").getOrElse("")
        val args = params \ "arguments"
        callTool(name, args) match {
          case Right(result) => ok(JObject(
            "content" -> JArray(List(JObject(
              "type" -> JString("text"),
              "text" -> JString(render(result))))),
            "isError" -> JBool(false)))
          case Left(msg) => err(-32602, msg)
        }
      case _ => err(-32601, s"Method not found: $method")
    }
  }

  /** Dispatch one tool call; Left = malformed call (protocol error), Right
    * = the tool's JSON result — which itself carries `{"Error": …}` for the
    * reference's in-band failures (bad page, uninstructed session, overflow,
    * KQL errors), exactly like the Python dicts. */
  def callTool(name: String, args: JValue): Either[String, JValue] = name match {
    case "get_instructions" =>
      Right(JString(sessions.getInstructions(sessionId)))
    case "hello_world" =>
      val who = strOpt(args \ "name").getOrElse("clp-mcp-server user")
      Right(JObject(
        "message" -> JString(s"Hello World, ${who.trim}!"),
        "server" -> JString(ServerName),
        "status" -> JString("running")))
    case "get_nth_page" =>
      intOpt(args \ "page_index") match {
        case None => Left("get_nth_page requires integer argument 'page_index'")
        case Some(ix) =>
          Right(sessions.getNthPage(sessionId, ix).fold(errJson(_), pageJson(_)))
      }
    case "search_by_kql" =>
      strOpt(args \ "kql_query") match {
        case None => Left("search_by_kql requires string argument 'kql_query'")
        case Some(kql) =>
          val outcome =
            try {
              val (events, overflow) =
                backend.searchByKql(kql, SessionManager.MaxCachedResults)
              if (overflow)
                Left(s"Query matched more than ${SessionManager.MaxCachedResults}" +
                  " results; narrow the query (add field terms or a time range).")
              else Right(formatEvents(events))
            } catch {
              // in-band, like the reference's (ValueError, RuntimeError,
              // TimeoutError) catch around the connector
              case e: Exception => Left(Option(e.getMessage).getOrElse(e.toString))
            }
          Right(outcome.fold(
            msg => {
              // a failed/overflowed search invalidates the PREVIOUS query's
              // cached pages — get_nth_page after this answers
              // NoCachedResultError instead of silently serving stale pages
              sessions.clearCachedResult(sessionId)
              errJson(msg)
            },
            es => sessions.cacheQueryResultAndGetFirstPage(sessionId, es)
              .fold(errJson(_), pageJson(_))))
      }
    case other => Left(s"Unknown tool: $other")
  }

  private def render(v: JValue): String = JsonMethods.compact(JsonMethods.render(v))

  /** Serve line-delimited JSON-RPC until EOF. */
  def serve(in: java.io.InputStream, out: java.io.PrintStream): Unit = {
    val reader = new java.io.BufferedReader(new java.io.InputStreamReader(
      in, java.nio.charset.StandardCharsets.UTF_8))
    Iterator.continually(reader.readLine()).takeWhile(_ != null)
      .filter(_.trim.nonEmpty)
      .foreach(line => handle(line).foreach { resp => out.println(resp); out.flush() })
  }
}

/** spark-submit entry: `McpServerMain <archiveDir> [--clp]` — serves MCP
  * over stdio for a clp-s JSON archive (default) or a routed text archive
  * (`--clp`). Diagnostics go to stderr; stdout carries only protocol. */
object McpServerMain {
  def main(args: Array[String]): Unit = {
    require(args.nonEmpty, "usage: McpServerMain <archiveDir> [--clp | --fleet]")
    val spark = graft.GraftSession("graft-mcp-server")
    val backend =
      if (args.contains("--fleet")) new McpServer.FleetBackend(spark, args(0))
      else if (args.contains("--clp")) new McpServer.ClpArchiveBackend(spark, args(0))
      else new McpServer.JsonArchiveBackend(spark, args(0))
    System.err.println(s"${McpServer.ServerName} serving ${args(0)} on stdio")
    new McpServer(backend).serve(System.in, System.out)
    spark.stop()
  }
}
