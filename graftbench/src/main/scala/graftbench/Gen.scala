package graftbench

/**
 * Seeded input generators. They live in the benchmark on purpose: the
 * workload must not change when the engine changes, so nothing here calls
 * the engine's own corpus generator. Query tokens are drawn from the value
 * domains below, never from an archive's dictionaries.
 */
object Gen {

  /** splitmix64 step. */
  def mix(v: Long): Long = {
    var z = v + 0x9e3779b97f4a7c15L
    z = (z ^ (z >>> 30)) * 0xbf58476d1ce4e5b9L
    z = (z ^ (z >>> 27)) * 0x94d049bb133111ebL
    z ^ (z >>> 31)
  }

  final class Rng(seed: Long) {
    private var s = mix(seed ^ 0x5eedL)
    def long(): Long = { s = mix(s); s }
    def int(n: Int): Int = java.lang.Long.remainderUnsigned(long(), n.toLong).toInt
    def double(): Double = (long() >>> 11).toDouble / (1L << 53).toDouble
    def pick[T](xs: IndexedSeq[T]): T = xs(int(xs.length))
  }

  /** Zipf(s) sampler over `n` items: a hot head and a long tail. */
  final class Zipf(n: Int, s: Double) {
    private val cdf = {
      val w = Array.tabulate(n)(i => 1.0 / math.pow(i + 1, s))
      val tot = w.sum
      w.scanLeft(0.0)(_ + _ / tot).tail
    }
    def sample(u: Double): Int = {
      val i = java.util.Arrays.binarySearch(cdf, u)
      math.min(if (i >= 0) i else -i - 1, n - 1)
    }
  }

  // ---- value domains (shared by the text generator and the query mix) ----

  val Roles: IndexedSeq[String] = Vector("user", "assistant", "system", "tool")
  val Tools: IndexedSeq[String] = Vector("bash", "search", "browser", "editor", "sql", "python")
  val Words: IndexedSeq[String] = Vector(
    "ok", "failed", "partial", "timeout", "cancelled", "retry", "fatal", "deferred")
  val Codes: IndexedSeq[Int] = Vector(200, 201, 204, 301, 304, 400, 401, 403, 404, 409, 429, 500, 502, 503)
  val Paths: IndexedSeq[String] = Vector(
    "/var/log/app.log", "/tmp/stage_7/out.bin", "/data/part-00001.parquet",
    "/usr/local/bin/tool", "/home/user/notes.txt", "/srv/cache/blob")
  /** Dictionary ids: always start with a letter, so never an encoded int. */
  val IdBase = 0xa00000
  val IdSpace = 8192
  def id(k: Int): String = Integer.toHexString(IdBase + k)
  /** Ids from the same shape but outside [[IdSpace]]: provably absent. */
  def absentId(k: Int): String = Integer.toHexString(0xb00000 + k)
  val Users = 2000
  val Hosts = 64

  /** Templates: `{n}` int < 100000, `{b}` int < 500, `{code}` http status,
    * `{f}` decimal, `{id}` dictionary id, `{ip}` address, `{user}`,
    * `{host}`, `{word}`, `{path}`. Zipf-ranked by position. */
  val Templates: IndexedSeq[String] = Vector(
    "GET {path} status={code} bytes={n} in {f} ms",
    "task {n} completed in {f} seconds with status={word}",
    "session {id} renewed ttl={b} s",
    "connection error {b} from {ip} retry={b}",
    "login {word} for {user} from {ip}",
    "fetched {n} rows from shard {b} in {f} ms",
    "checksum {id} verified for {path}",
    "spawned worker {id} on core {b} nice={b}",
    "cache hit ratio {f} over {n} lookups",
    "queue depth {n} exceeds threshold {n}",
    "tls handshake with peer {ip} took {f} ms",
    "rate limit {b}/{n} reached for key {id}",
    "wrote checkpoint {path} snapshot={id} rows={n}",
    "gc pause {f} ms heap={n} MB",
    "proxy {host} forwarded {n} reqs err={b}",
    "agent step {b}: invoking {word} with timeout {b} s",
    "payment of {f} credited to account {id}",
    "disk {path} usage {f}% inodes={n}",
    "autoscaler set replicas {b} -> {b}",
    "dropped {n} malformed events (reason={word})",
    "model scored {f} on batch {n}",
    "translated {n} chars from lang_{b} to lang_{b}",
    "watchdog timer {n} armed for pid {n}",
    "summarize doc {n}: {n} tokens in, {n} tokens out",
    "user {user} asked about topic {n} with confidence {f}",
    "héllo wörld turn {n} with ünicode {f}",
    "escaped \\raw\\ literal {n} kept byte-exact",
    "vector search top-{b} over {n} docs in {f} ms",
    "sensor {id} reading {f} at offset {n}",
    "merged {n} of {n} chunks into {path}",
    "retrying rpc {word} attempt={b} backoff={f}",
    "archive segment {n} sealed bytes={n} dict={n}")

  private val templateZipf = new Zipf(Templates.length, 1.1)

  private def decimal(r: Rng): String = {
    val scale = 1 + r.int(3)
    val whole = r.int(1000)
    val frac = r.int(1000) + 1000
    s"$whole.${frac.toString.substring(1, 1 + scale)}"
  }

  def render(template: String, r: Rng): String = {
    val out = new java.lang.StringBuilder(template.length + 24)
    var i = 0
    while (i < template.length) {
      val c = template.charAt(i)
      if (c == '{') {
        val end = template.indexOf('}', i)
        template.substring(i + 1, end) match {
          case "n" => out.append(r.int(100000))
          case "b" => out.append(r.int(500))
          case "code" => out.append(r.pick(Codes))
          case "f" => out.append(decimal(r))
          case "id" => out.append(id(r.int(IdSpace)))
          case "ip" => out.append(s"10.${r.int(4)}.${r.int(32)}.${r.int(256)}")
          case "user" => out.append("user_").append(r.int(Users))
          case "host" => out.append("web-").append(r.int(Hosts))
          case "word" => out.append(r.pick(Words))
          case "path" => out.append(r.pick(Paths))
        }
        i = end + 1
      } else { out.append(c); i += 1 }
    }
    out.toString
  }

  // ---- transcript turns ---------------------------------------------------

  final case class Turn(convId: String, turnIdx: Int, role: String, text: String,
                        tool: String, tsMs: Long)

  val BaseEpochMs: Long = 1704067200000L // 2024-01-01T00:00:00Z

  /** Turn `i` of the corpus: conversations of eight turns, one minute
    * apart. Every row derives from (seed, i) alone, so any split of the
    * index range generates the same corpus. */
  def turnAt(seed: Long, i: Long): Turn = {
    val r = new Rng(seed * 0x100000001b3L + i)
    val conv = i / 8
    val t = (i % 8).toInt
    val role = r.pick(Roles)
    val tool = if (role == "tool" || r.int(5) == 0) r.pick(Tools) else null
    val text = render(Templates(templateZipf.sample(r.double())), r)
    Turn(f"conv-$conv%08d", t, role, text, tool, BaseEpochMs + conv * 60000L + t * 1250L + r.int(997))
  }

  def turns(seed: Long, n: Int): Array[Turn] = Array.tabulate(n)(i => turnAt(seed, i))

  /** The (role, tool) enrichment dimension the pipeline joins onto turns. */
  def lookupRows: Seq[(String, String, String, String)] =
    for (role <- Roles; tool <- Tools :+ null) yield {
      val h = math.abs(mix(role.hashCode.toLong * 31 + (if (tool == null) 0 else tool.hashCode)))
      (role, tool, s"team-${h % 7}", if (h % 3 == 0) "premium" else "standard")
    }

  // ---- search query mix ---------------------------------------------------

  /** One search request: a wildcard query, its case mode, an optional time
    * window and, for count-by-time, the bucket width. */
  final case class Query(cls: String, text: String, caseSensitive: Boolean = true,
                         tsLo: Option[Long] = None, tsHi: Option[Long] = None,
                         bucketMs: Option[Long] = None)

  val QueryClasses: IndexedSeq[String] = Vector(
    "exact_dict", "int_var", "mid_wildcard", "case_insensitive", "ts_range",
    "pruned_empty", "forced_verify", "count_by_time")

  /** Two queries of each class over `turns`, the generated corpus the
    * archive holds. Tokens come from the value domains above; a query that
    * must hit takes its token from a turn that holds it, so every seed
    * issues the same kinds of query. */
  def queries(seed: Long, turns: IndexedSeq[Turn]): IndexedSeq[Query] = {
    val r = new Rng(seed * 31 + 7)
    val tsMin = turns.head.tsMs
    val tsMax = turns.last.tsMs
    def window(frac: Double): (Long, Long) = {
      val span = ((tsMax - tsMin) * frac).toLong
      val lo = tsMin + (r.double() * (tsMax - tsMin - span)).toLong
      (lo, lo + span)
    }
    def present(re: scala.util.matching.Regex): scala.util.matching.Regex.Match = {
      val hits = turns.flatMap(t => re.findFirstMatchIn(t.text))
      hits(r.int(hits.length))
    }
    def dictVar(template: String): String = present(template.r).group(1)
    val (lo, hi) = window(0.1)
    val session = dictVar("""session (\w+) renewed""")
    val account = dictVar("""account (\w+)$""")
    val ip = present("""error \d+ from 10\.(\d)\.\d+\.(\d+) retry""".r)
    val pool = Vector(
      Query("exact_dict", s"*session $session renewed*"),
      Query("exact_dict", s"*credited to account $account"),
      Query("int_var", s"*status=${r.pick(Codes)} *"),
      Query("int_var", s"*retry=${r.int(500)}"),
      Query("mid_wildcard", s"*for user_${1 + r.int(9)}?${r.int(10)} from*"),
      Query("mid_wildcard", s"*from 10.${ip.group(1)}.*.${ip.group(2)} retry*"),
      Query("case_insensitive", s"*CONNECTION ERROR * FROM 10.${r.int(4)}.*", caseSensitive = false),
      Query("case_insensitive", s"*LOGIN ${r.pick(Words).toUpperCase} FOR*", caseSensitive = false),
      Query("ts_range", s"*status=${r.pick(Words)}*", tsLo = Some(lo), tsHi = Some(hi)),
      Query("ts_range", "*connection error*", tsLo = Some(lo), tsHi = Some(hi)),
      Query("pruned_empty", s"*session ${absentId(r.int(IdSpace))} renewed*"),
      Query("pruned_empty", "*gc pause*", tsLo = Some(tsMax + 86400000L), tsHi = Some(tsMax + 2 * 86400000L)),
      Query("forced_verify", s"*10.${r.int(4)}.1?.${r.int(256)}*"),
      Query("forced_verify", s"*${r.int(10)}?${r.int(10)}.5*"),
      Query("count_by_time", s"*status=${r.pick(Codes)} *", bucketMs = Some(3600000L)),
      Query("count_by_time", "*connection error*", bucketMs = Some(86400000L)))
    // one fixed, seeded order: every pass issues each class the same share
    pool.map(q => (r.long(), q)).sortBy(_._1).map(_._2)
  }

  // ---- heterogeneous JSONL records ----------------------------------------

  /** A generated record: its JSON line plus the fields the KQL oracle reads
    * (dotted path → value; arrays as Seq). */
  final case class Rec(id: Long, tsMs: Long, fields: Map[String, Any], line: String)

  val Levels: IndexedSeq[String] = Vector("debug", "info", "warn", "error")
  val Methods: IndexedSeq[String] = Vector("GET", "POST", "PUT", "DELETE")
  val Regions: IndexedSeq[String] = Vector("eu-west", "us-east", "ap-south")
  val Colors: IndexedSeq[String] = Vector("red", "green", "blue", "amber")
  val Actions: IndexedSeq[String] = Vector("read", "write", "delete", "grant")

  private def jsonString(s: String): String = {
    val sb = new java.lang.StringBuilder(s.length + 2).append('"')
    s.foreach {
      case '"' => sb.append("\\\"")
      case '\\' => sb.append("\\\\")
      case c => sb.append(c)
    }
    sb.append('"').toString
  }

  /** Serializes nested (key → value) pairs in order; Double values always
    * carry a fraction so they type as floats. */
  private def json(kvs: Seq[(String, Any)]): String =
    kvs.map { case (k, v) => jsonString(k) + ":" + jsonValue(v) }.mkString("{", ",", "}")

  private def jsonValue(v: Any): String = v match {
    case s: String => jsonString(s)
    case b: Boolean => b.toString
    case l: Long => l.toString
    case i: Int => i.toString
    case d: Double => java.math.BigDecimal.valueOf(d).setScale(3, java.math.RoundingMode.HALF_UP).toPlainString
    case xs: Seq[_] if xs.forall(_.isInstanceOf[(_, _)]) && xs.nonEmpty =>
      json(xs.asInstanceOf[Seq[(String, Any)]])
    case xs: Seq[_] => xs.map(jsonValue).mkString("[", ",", "]")
  }

  /** Flattens nested pairs to dotted paths (arrays stay whole). */
  private def flatten(prefix: String, kvs: Seq[(String, Any)]): Seq[(String, Any)] =
    kvs.flatMap {
      case (k, xs: Seq[_]) if xs.nonEmpty && xs.forall(_.isInstanceOf[(_, _)]) =>
        flatten(prefix + k + ".", xs.asInstanceOf[Seq[(String, Any)]])
      case (k, d: Double) =>
        // the oracle compares what the JSON text says, at its 3 decimals
        Seq(prefix + k -> java.math.BigDecimal.valueOf(d)
          .setScale(3, java.math.RoundingMode.HALF_UP).doubleValue)
      case (k, v) => Seq(prefix + k -> v)
    }

  /** `n` records over six record kinds with optional fields, so the archive
    * holds about a dozen schemas: nested objects, string and int arrays,
    * int / float / bool leaves, and an epoch-millis `ts` key. */
  private val recordKinds = new Zipf(6, 0.8)

  def recordAt(seed: Long, i: Long): Rec = {
    val r = new Rng(seed * 0x100000001b3L + 0x7a5L + i)
    val ts = BaseEpochMs + i * 500L + r.int(400)
    val head: Seq[(String, Any)] = Seq("ts" -> ts, "id" -> i)
    val body: Seq[(String, Any)] = recordKinds.sample(r.double()) match {
      case 0 =>
        Seq("kind" -> "http", "level" -> r.pick(Levels),
          "http" -> Seq("method" -> r.pick(Methods), "status" -> r.pick(Codes).toLong,
            "path" -> r.pick(Paths)),
          "latency_ms" -> (r.int(500000) / 1000.0 + 0.001),
          "host" -> s"web-${r.int(Hosts)}") ++
          (if (r.int(3) == 0) Seq("trace" -> Seq("span" -> id(r.int(IdSpace)))) else Nil)
      case 1 =>
        Seq("kind" -> "login", "level" -> r.pick(Levels),
          "user" -> Seq("name" -> s"user_${r.int(Users)}", "uid" -> r.int(Users).toLong),
          "ok" -> (r.int(4) != 0),
          "tags" -> Seq.fill(1 + r.int(3))(r.pick(Colors)))
      case 2 =>
        Seq("kind" -> "job", "level" -> r.pick(Levels),
          "job" -> Seq("name" -> s"etl_${r.int(40)}", "attempt" -> r.int(5).toLong),
          "duration_s" -> (r.int(3600000) / 1000.0 + 0.001),
          "retries" -> r.int(6).toLong,
          "params" -> Seq("batch" -> r.int(100000).toLong, "shard" -> r.int(500).toLong)) ++
          (if (r.int(4) == 0) Seq("error" -> s"${r.pick(Words)} at step ${r.int(50)}") else Nil)
      case 3 =>
        Seq("kind" -> "metric", "name" -> s"cpu_${r.int(16)}",
          "value" -> (r.int(100000) / 1000.0 + 0.001),
          "labels" -> Seq("region" -> r.pick(Regions), "zone" -> s"z${r.int(3)}"))
      case 4 =>
        Seq("kind" -> "alert", "level" -> r.pick(Levels),
          "msg" -> s"request ${r.pick(Words)} after ${r.int(60)} s on ${r.pick(Paths)}",
          "severity" -> r.int(5).toLong, "ack" -> (r.int(2) == 0),
          "targets" -> Seq.fill(1 + r.int(4))(r.int(1000).toLong))
      case _ =>
        Seq("kind" -> "audit", "actor" -> s"user_${r.int(Users)}",
          "action" -> r.pick(Actions),
          "resource" -> Seq("type" -> (if (r.int(2) == 0) "table" else "file"),
            "name" -> r.pick(Paths)),
          "allowed" -> (r.int(5) != 0))
    }
    val all = head ++ body
    Rec(i, ts, flatten("", all).toMap, json(all))
  }

  def records(seed: Long, n: Int): Array[Rec] = Array.tabulate(n)(i => recordAt(seed, i))


  /** One KQL request plus the oracle predicate it must agree with. The
    * predicate sees only records whose schema holds every path it names
    * (the schema-existence rule), which `paths` lists. */
  final case class Kql(cls: String, text: String, paths: Seq[String],
                       pred: Map[String, Any] => Boolean,
                       tsLo: Option[Long] = None, tsHi: Option[Long] = None)

  private def str(m: Map[String, Any], k: String): String = m(k).asInstanceOf[String]
  private def num(m: Map[String, Any], k: String): Double = m(k) match {
    case l: Long => l.toDouble
    case d: Double => d
  }

  /** The KQL set: equality, numeric range, nested, wildcard, boolean,
    * array, negation, conjunction, time window and a schema-pruned query. */
  def kqls(seed: Long, tsMin: Long, tsMax: Long): IndexedSeq[Kql] = {
    val r = new Rng(seed * 13 + 5)
    val lvl = r.pick(Levels)
    val code = r.pick(Codes)
    val method = r.pick(Methods)
    val u = 1 + r.int(9)
    val color = r.pick(Colors)
    val region = r.pick(Regions)
    val word = r.pick(Words)
    val span = (tsMax - tsMin) / 8
    val lo = tsMin + (r.double() * (tsMax - tsMin - span)).toLong
    Vector(
      Kql("eq_string", s"level : $lvl", Seq("level"), m => str(m, "level") == lvl),
      Kql("num_range", "http.status >= 500", Seq("http.status"), m => num(m, "http.status") >= 500),
      Kql("nested_and", s"http.method : $method AND http.status : $code",
        Seq("http.method", "http.status"),
        m => str(m, "http.method") == method && num(m, "http.status") == code),
      Kql("wildcard", s"user.name : user_$u*", Seq("user.name"),
        m => str(m, "user.name").startsWith(s"user_$u")),
      Kql("bool", "ok : false", Seq("ok"), m => m("ok") == false),
      Kql("float_range", "latency_ms > 250.5", Seq("latency_ms"), m => num(m, "latency_ms") > 250.5),
      Kql("and_int", "kind : job AND retries > 2", Seq("kind", "retries"),
        m => str(m, "kind") == "job" && num(m, "retries") > 2),
      Kql("not", "NOT level : info", Seq("level"), m => str(m, "level") != "info"),
      Kql("array", s"tags : $color", Seq("tags"),
        m => m("tags").asInstanceOf[Seq[Any]].contains(color)),
      Kql("nested_float", s"labels.region : $region AND value < 10", Seq("labels.region", "value"),
        m => str(m, "labels.region") == region && num(m, "value") < 10),
      Kql("quoted_wildcard", s"""msg : "*$word after*"""", Seq("msg"),
        m => str(m, "msg").contains(s"$word after")),
      Kql("ts_window", "kind : http", Seq("kind"), m => str(m, "kind") == "http",
        tsLo = Some(lo), tsHi = Some(lo + span)),
      Kql("pruned_schema", "nosuchfield : 1", Seq("nosuchfield"), _ => true))
  }
}
