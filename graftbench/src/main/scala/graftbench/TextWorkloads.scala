package graftbench

import java.nio.charset.StandardCharsets.UTF_8
import java.sql.Timestamp
import java.util.regex.Pattern

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.functions.ClpFunctions.wildcard_match
import graft.pipeline.ClpPipeline
import graft.search.ClpSearch

import Stats.{loop, timeMs}

/** The two text workloads: `ingest_text` (ClpPipeline.run in a closed loop)
  * and `search_text` (a warm ClpSearch engine answering the query mix). */
object TextWorkloads {

  /** Corpus sizes: every run the bounds need, on all three workloads, must
    * fit a shared 4-core machine in under an hour. At these sizes fixed
    * per-job cost is a large share of each ingest and query. */
  val IngestTurns = 50000
  val SearchTurns = 60000
  val SetupReps = 3
  /** Ingest calls per run, at least, so the median and the slowest call
    * are different samples. */
  val IngestCalls = 3
  val OpenReps = 3
  /** Whole passes over the 16-query pool per run, at least: 80 samples put
    * the tail at p87.5, with ten samples beyond it. */
  val SearchPasses = 5

  private val turnSchema = StructType(Seq(
    StructField("conv_id", StringType, nullable = false),
    StructField("turn_idx", IntegerType, nullable = false),
    StructField("role", StringType, nullable = false),
    StructField("text", StringType, nullable = false),
    StructField("tool", StringType, nullable = true),
    StructField("ts", TimestampType, nullable = false)))

  /** Generates turns [0, n) of the seeded corpus in parallel as parquet. */
  def writeTurns(ctx: Ctx, seed: Long, n: Int, dir: String): Unit = {
    val rows = ctx.sc.range(0, n, 1, ctx.cores * 2).map { i =>
      val t = Gen.turnAt(seed, i)
      Row(t.convId, t.turnIdx, t.role, t.text, t.tool, new Timestamp(t.tsMs))
    }
    ctx.spark.createDataFrame(rows, turnSchema).write.mode("overwrite").parquet(dir)
  }

  private def lookup(ctx: Ctx): DataFrame = {
    import ctx.spark.implicits._
    Gen.lookupRows.toDF("role", "tool", "team", "cost_class")
  }

  /** Records the input fingerprint and returns the raw text bytes. */
  private def fingerprint(ctx: Ctx, turnsDir: String): Long = {
    val turns = ctx.spark.read.parquet(turnsDir)
    ctx.fingerprint(turns, "turns")
    turns.agg(sum(octet_length(col("text")))).head().getLong(0)
  }

  /** One file per sink: more only pay off at millions of rows per sink. */
  def runPipeline(ctx: Ctx, turnsDir: String, outDir: String): ClpPipeline.Result =
    ClpPipeline.run(ctx.spark, ctx.spark.read.parquet(turnsDir),
      ClpPipeline.Config(outDir, maxSinks = 64, saltParts = 64, filesPerSink = 1),
      Some(lookup(ctx)))

  /** Outside any timed region: row counts through each archive's stats,
    * and a byte-exact round trip of every routed row of every archive (one
    * job for all of them). */
  private def checkArchives(ctx: Ctx, turnsDir: String, archives: Seq[(String, ClpPipeline.Result)],
                            rows: Long): Unit = {
    val turns = ctx.spark.read.parquet(turnsDir)
    archives.foreach { case (dir, res) =>
      val statRows = ctx.spark.read.parquet(s"$dir/sink_stats").agg(sum(col("n_rows"))).head().getLong(0)
      if (res.turnsIn != rows || res.rowsRouted != rows || statRows != rows)
        ctx.wrong(s"ingest into $dir", s"rows in=${res.turnsIn} routed=${res.rowsRouted} stats=$statRows, want $rows")
    }
    val bad = archives.map { case (dir, _) =>
      ClpPipeline.roundTripViolations(ctx.spark, turns, dir).select(lit(dir).as("dir"))
    }.reduce(_ union _).groupBy("dir").count().collect()
    bad.foreach(r => ctx.wrong(s"ingest into ${r.getString(0)}", s"${r.getLong(1)} rows fail decode(encode(x)) == x"))
  }

  private def lineageStamp(outDir: String, stage: String, key: String): Long = {
    val json = new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(s"$outDir/_lineage/$stage.json")), UTF_8)
    s""""$key":\\s*(-?\\d+)""".r.findFirstMatchIn(json).map(_.group(1).toLong)
      .getOrElse(sys.error(s"lineage $stage has no $key"))
  }

  private val Stages = Seq("parse", "dicts", "route", "stats")

  /** Per-layer pipeline metrics of one traced ingest over [t0Ms, t1Ms]: stage
    * times from the archive's lineage manifests, task metrics from the
    * listener, attributed to stages by the manifests' completion stamps. */
  private def pipelineLayers(ctx: Ctx, outDir: String, t0Ms: Long, t1Ms: Long,
                             res: ClpPipeline.Result): Map[String, Double] = {
    ctx.drain()
    val l = ctx.listener
    val parseDone = lineageStamp(outDir, "parse", "completed_at_ms")
    val st = l.within(t0Ms, t1Ms)
    val wall = math.max(1L, t1Ms - t0Ms)
    Stages.map(s => s"pipeline.${s}_ms" -> lineageStamp(outDir, s, "duration_ms").toDouble).toMap ++ Map(
      "pipeline.driver_only_ms" -> l.idleMs(t0Ms, t1Ms).toDouble,
      "pipeline.task_busy_share" -> l.taskMs(t0Ms, t1Ms).toDouble / (wall * ctx.cores),
      "pipeline.shuffle_write_bytes" -> st.map(_.shuffleWrite).sum.toDouble,
      "pipeline.spill_bytes" -> st.map(_.spill).sum.toDouble,
      "pipeline.parsed_checkpoint_bytes" ->
        l.within(t0Ms, parseDone).map(_.bytesWritten).sum.toDouble,
      "pipeline.n_logtypes" -> res.nLogtypes.toDouble,
      "pipeline.n_vars" -> res.nVars.toDouble,
      // the engine's own rule: each dictionary is checked on its own
      "pipeline.dict_mode" ->
        (if (math.max(res.nLogtypes, res.nVars) <= ClpPipeline.DriverDictThreshold) 0.0 else 1.0))
  }

  private def archiveMetrics(ctx: Ctx, outDir: String, rawBytes: Long): Unit = {
    val (files, bytes) = ctx.dirBytes(outDir)
    ctx.metric("archive.files", files.toDouble, "count")
    ctx.metric("archive.bytes", bytes.toDouble, "bytes")
    ctx.metric("archive_bytes_per_raw_byte", bytes.toDouble / rawBytes, "ratio")
  }

  // ---- ingest_text -----------------------------------------------------------

  def ingest(ctx: Ctx): Unit = {
    val turnsDir = ctx.path("turns")
    final case class Sample(ms: Double, dir: String, res: ClpPipeline.Result,
                            layers: Map[String, Double])
    def ingestOnce(i: Int, traced: Boolean): Option[Sample] = {
      val dir = ctx.path(s"archive_$i")
      val t0 = System.currentTimeMillis()
      val (r, ms) = timeMs(ctx.attempt(s"ingest #$i") {
        ctx.tracer.span("pipeline.run", req = i)(runPipeline(ctx, turnsDir, dir))
      })
      val t1 = System.currentTimeMillis()
      r.map(res => Sample(ms, dir, res,
        if (traced) pipelineLayers(ctx, dir, t0, t1, res) else Map.empty))
    }

    // set-up: writing the input (the median of several writes), then the
    // session's first, cold ClpPipeline.run, which pays for class loading,
    // code generation and the first broadcasts that later calls are spared
    val writeS = (1 to SetupReps).map(_ =>
      timeMs(writeTurns(ctx, ctx.seed, IngestTurns, turnsDir))._2 / 1000)
    val raw = fingerprint(ctx, turnsDir)
    val cold = ingestOnce(-1, traced = false).getOrElse(sys.error("cold ingest failed"))
    ctx.metric("setup_s", Stats.median(writeS) + cold.ms / 1000, "s")
    ctx.note(f"setup: input write ${Stats.median(writeS)}%.2f s + cold ingest ${cold.ms / 1000}%.2f s")
    ctx.log("setup done")

    val samples = ArrayBuffer.empty[Sample]
    if (!ctx.trace) {
      loop(ctx.seconds, minOps = IngestCalls)(i => samples ++= ingestOnce(i, traced = false))
    } else {
      // the same work untraced, then traced: the ratio is the tracing cost
      val plain = ArrayBuffer.empty[Sample]
      val k = loop(ctx.seconds / 2)(i => plain ++= ingestOnce(i, traced = false))
      ctx.startTracing()
      (k until 2 * k).foreach(i => samples ++= ingestOnce(i, traced = true))
      ctx.stopTracing()
      ctx.metric("trace.overhead_ratio",
        samples.map(_.ms).sum / samples.length / (plain.map(_.ms).sum / plain.length), "ratio")
      samples.head.layers.keys.foreach { key =>
        ctx.metric(key, Stats.median(samples.map(_.layers(key)).toSeq),
          Metrics.unitOf(key))
      }
      samples ++= plain
      Metrics.idle(ctx, "search.", "baseline.", "json.", "kql.")
    }
    if (samples.isEmpty) sys.error("no ingest succeeded")
    ctx.log(s"measured ${samples.length} ingests")

    // correctness, outside the timed region
    checkArchives(ctx, turnsDir, (cold +: samples).map(s => (s.dir, s.res)).toSeq, IngestTurns)
    ctx.log("checks done")
    val shapes = (cold +: samples).map(s => (s.res.nLogtypes, s.res.nVars)).distinct
    if (shapes.length != 1) ctx.wrong("ingest", s"dictionary sizes differ between runs: $shapes")
    archiveMetrics(ctx, samples.head.dir, raw)
    val turnsPerS = IngestTurns / Stats.median(samples.map(_.ms).toSeq) * 1000
    if (!ctx.trace) {
      ctx.latency("ingest call", samples.map(_.ms).toSeq)
      ctx.metric("throughput_per_s", turnsPerS, "1/s")
    }
    ctx.note(f"ingest_turns_per_s = $turnsPerS%.0f turns/s" +
      f"; archive_bytes_per_raw_byte = ${ctx.metricOf("archive_bytes_per_raw_byte")}%.4f")
  }

  // ---- search_text -----------------------------------------------------------

  sealed trait Answer
  final case class Rows(n: Long, crc: Long) extends Answer
  final case class Buckets(b: Seq[(Long, Long)]) extends Answer

  /** Collects the matching rows, as a user of the search does, and sums
    * the CRC-32 of their text on the driver. */
  private def rowsAnswer(df: DataFrame): Rows = {
    val crc = new java.util.zip.CRC32
    val texts = df.select("text").collect().map(_.getString(0))
    Rows(texts.length.toLong, texts.iterator.map { t =>
      crc.reset(); crc.update(t.getBytes(UTF_8)); crc.getValue
    }.sum)
  }

  private def bucketAnswer(df: DataFrame, bucketMs: Long): Buckets =
    Buckets(df.withColumn("bucket", floor(unix_millis(col("ts")) / lit(bucketMs)) * lit(bucketMs))
      .groupBy("bucket").count().collect()
      .map(r => (r.getAs[Number](0).longValue, r.getLong(1))).sortBy(_._1).toSeq)

  private def ts(ms: Option[Long]) = ms.map(new Timestamp(_))

  /** What a user of the engine runs: a decoded search aggregated to a count
    * and a checksum of the matching text, or a count-by-time. */
  def runQuery(e: ClpSearch, q: Gen.Query): Answer = q.bucketMs match {
    case Some(b) =>
      Buckets(e.countByTime(q.text, b, q.caseSensitive).collect()
        .map(r => (r.getAs[Number](0).longValue, r.getLong(1))).sortBy(_._1).toSeq)
    case None => rowsAnswer(e.search(q.text, q.caseSensitive, ts(q.tsLo), ts(q.tsHi)))
  }

  /** The glob as a regular expression — built here, not through the
    * engine's matcher, so the oracle is independent of it. */
  private def globRegex(q: Gen.Query): Pattern = {
    val sb = new StringBuilder
    q.text.foreach {
      case '*' => sb ++= ".*"
      case '?' => sb += '.'
      case c => sb ++= Pattern.quote(c.toString)
    }
    Pattern.compile(sb.toString, Pattern.DOTALL | (if (q.caseSensitive) 0 else Pattern.CASE_INSENSITIVE))
  }

  /** The expected answer, computed over the raw turns in memory. */
  def oracle(turns: Array[Gen.Turn], q: Gen.Query): Answer = {
    val re = globRegex(q)
    // the longest literal piece prefilters cheaply; case-insensitive
    // queries go straight to the regex
    val lit0 = q.text.split("[*?]").maxBy(_.length)
    val crc = new java.util.zip.CRC32
    var n = 0L
    var sumCrc = 0L
    val buckets = scala.collection.mutable.TreeMap.empty[Long, Long]
    turns.foreach { t =>
      if ((!q.caseSensitive || t.text.contains(lit0)) &&
          q.tsLo.forall(t.tsMs >= _) && q.tsHi.forall(t.tsMs <= _) &&
          re.matcher(t.text).matches()) {
        n += 1
        crc.reset(); crc.update(t.text.getBytes(UTF_8)); sumCrc += crc.getValue
        q.bucketMs.foreach { b =>
          val k = Math.floorDiv(t.tsMs, b) * b
          buckets(k) = buckets.getOrElse(k, 0L) + 1
        }
      }
    }
    if (q.bucketMs.isDefined) Buckets(buckets.toSeq) else Rows(n, sumCrc)
  }

  private def answerRows(a: Answer): Long = a match {
    case Rows(n, _) => n
    case Buckets(b) => b.map(_._2).sum
  }

  private def likePattern(glob: String): String = glob.flatMap {
    case '*' => "%"
    case '?' => "_"
    case c @ ('%' | '_' | '\\') => "\\" + c
    case c => c.toString
  }

  /** ROADMAP baseline 1: a LIKE scan over the uncompressed turns. */
  private def rawLike(raw: DataFrame, q: Gen.Query): Answer = {
    val p = likePattern(q.text)
    var df = raw.filter(if (q.caseSensitive) col("text").like(p) else col("text").ilike(p))
    q.tsLo.foreach(lo => df = df.filter(col("ts") >= lit(new Timestamp(lo))))
    q.tsHi.foreach(hi => df = df.filter(col("ts") <= lit(new Timestamp(hi))))
    q.bucketMs.map(bucketAnswer(df, _)).getOrElse(rowsAnswer(df))
  }

  /** ROADMAP baseline 2: decode every archived row, then match. */
  private def decodeAll(e: ClpSearch, q: Gen.Query): Answer = {
    var df = e.withDecodedText(e.routed)
      .filter(wildcard_match(col("text"), lit(graft.core.Wildcard.cleanUp(q.text)), lit(q.caseSensitive)))
    q.tsLo.foreach(lo => df = df.filter(col("ts") >= lit(new Timestamp(lo))))
    q.tsHi.foreach(hi => df = df.filter(col("ts") <= lit(new Timestamp(hi))))
    q.bucketMs.map(bucketAnswer(df, _)).getOrElse(rowsAnswer(df))
  }

  final case class Op(ix: Int, ms: Double, ans: Answer)

  /** Issues pool query `i mod |pool|` as request `req`. */
  private def issue(ctx: Ctx, engine: ClpSearch, pool: IndexedSeq[Gen.Query],
                    i: Int, req: Int): Option[Op] = {
    val ix = i % pool.length
    val q = pool(ix)
    val (a, ms) = timeMs(ctx.attempt(s"query ${q.text}") {
      ctx.tracer.span("search.op", req)(runQuery(engine, q))
    })
    a.map(Op(ix, ms, _))
  }

  def search(ctx: Ctx): Unit = {
    val turnsDir = ctx.path("turns")
    val turns = Gen.turns(ctx.seed, SearchTurns) // the oracle's copy, outside setup
    val pool = Gen.queries(ctx.seed, turns.toIndexedSeq)
    // the archive is this workload's input: built once, by the same
    // ingest that ingest_text measures
    writeTurns(ctx, ctx.seed, SearchTurns, turnsDir)
    val archive = ctx.path("archive")
    if (ctx.trace) ctx.startTracing()
    val t0 = System.currentTimeMillis()
    val res = ctx.attempt("archive ingest")(runPipeline(ctx, turnsDir, archive))
      .getOrElse(sys.error("archive ingest failed"))
    val t1 = System.currentTimeMillis()
    if (ctx.trace) {
      pipelineLayers(ctx, archive, t0, t1, res).foreach { case (key, v) =>
        ctx.metric(key, v, Metrics.unitOf(key))
      }
      ctx.stopTracing()
    }
    ctx.note(s"archive: ${turns.length} turns ingested in ${t1 - t0} ms")
    ctx.log("archive built")

    // set-up is opening the engine: its dictionaries load and its
    // broadcasts build on first use, so its first query belongs here. That
    // query is a dictionary hit, so every open does the same work.
    val ops = ArrayBuffer.empty[Op]
    val opener = pool.indexWhere(_.cls == "exact_dict")
    var engine: ClpSearch = null
    val setupS = (1 to OpenReps).map { _ =>
      timeMs {
        engine = new ClpSearch(ctx.spark, archive)
        ops ++= issue(ctx, engine, pool, opener, -1)
      }._2 / 1000
    }
    ctx.metric("setup_s", Stats.median(setupS), "s")
    ctx.note(setupS.map(s => f"$s%.2f").mkString("setup: engine opens ", " / ", " s"))
    ctx.log("setup done")
    val raw = fingerprint(ctx, turnsDir)
    ctx.fact("queries", pool.map(q => s"${q.cls}:${q.text}").mkString(" | "))
    archiveMetrics(ctx, archive, raw)

    // one untimed pass: every query's plan compiles before measuring
    pool.indices.foreach(ix => ops ++= issue(ctx, engine, pool, ix, -1))
    val warm = ops.length
    ctx.log("warm pass done")
    val baselines = ArrayBuffer.empty[(Int, String, Answer)]
    if (!ctx.trace) {
      // whole passes over the pool, so every run issues the same mix
      loop(ctx.seconds, minOps = SearchPasses)(p => pool.indices.foreach { ix =>
        val i = p * pool.length + ix
        ops ++= issue(ctx, engine, pool, i, i)
      })
      val measured = ops.drop(warm).map(_.ms).toSeq
      ctx.latency("search query", measured)
      ctx.metric("throughput_per_s", measured.length / (measured.sum / 1000), "1/s")
      ctx.note(f"search_p50_ms = ${ctx.metricOf("p50_ms")}%.2f ms; " +
        f"search_tail_ms = ${ctx.metricOf("tail_ms")}%.2f ms")
    } else {
      ctx.metric("search.engine_open_ms", ctx.metricOf("setup_s") * 1000, "ms")
      searchLayers(ctx, engine, pool, ctx.spark.read.parquet(turnsDir), ops, baselines)
      Metrics.idle(ctx, "json.", "kql.")
    }

    ctx.log(s"measured ${ops.length} queries")
    // correctness, outside the timed region
    val expected = pool.map(oracle(turns, _))
    ctx.log("oracle done")
    ops.foreach(o => if (o.ans != expected(o.ix))
      ctx.wrong(s"query ${pool(o.ix).text}", s"got ${o.ans}, oracle ${expected(o.ix)}"))
    baselines.foreach { case (ix, name, a) =>
      if (a != expected(ix)) ctx.wrong(s"$name ${pool(ix).text}", s"got $a, oracle ${expected(ix)}")
    }
  }

  /** The traced search run: the op loop untraced, then the same ops traced
    * (the ratio is the tracing cost); then per query the compile / scan
    * split, the listener's rows and bytes, and both ROADMAP baselines. */
  private def searchLayers(ctx: Ctx, engine: ClpSearch, pool: IndexedSeq[Gen.Query],
                           raw: DataFrame, ops: ArrayBuffer[Op],
                           baselines: ArrayBuffer[(Int, String, Answer)]): Unit = {
    val plain = ArrayBuffer.empty[Op]
    val k = pool.length * loop(ctx.seconds / 2)(p =>
      pool.indices.foreach(ix => plain ++= issue(ctx, engine, pool, p * pool.length + ix, -1)))
    ctx.startTracing()
    val traced = ArrayBuffer.empty[(Int, Op)]
    (0 until k).foreach(i => traced ++= issue(ctx, engine, pool, i, i).map(i -> _))
    ops ++= plain ++= traced.map(_._2)
    ctx.metric("trace.overhead_ratio", traced.map(_._2.ms).sum / plain.map(_.ms).sum, "ratio")

    val opMs = pool.indices.map(ix => Stats.median(traced.collect { case (_, o) if o.ix == ix => o.ms }.toSeq))
    val firstReq = pool.indices.map(ix => traced.find(_._2.ix == ix).get)
    final case class Split(pruned: Boolean, compileMs: Double, candidates: Long, scanMs: Double,
                           rawMs: Double, decodeAllMs: Double)
    val split = pool.indices.map { ix =>
      val q = pool(ix)
      val req = 2 * k + ix
      val (cand, compileMs) = timeMs(ctx.tracer.span("search.compile", req)(
        engine.candidates(q.text, q.caseSensitive, ts(q.tsLo), ts(q.tsHi))))
      val (nCand, scanMs) = cand match {
        case None => (0L, 0.0)
        case Some((df, _)) => timeMs(ctx.tracer.span("search.scan", req)(df.count()))
      }
      val (rawAns, rawMs) = timeMs(ctx.attempt(s"raw LIKE ${q.text}")(
        ctx.tracer.span("baseline.raw_like", req)(rawLike(raw, q))))
      val (decAns, decMs) = timeMs(ctx.attempt(s"decode-all ${q.text}")(
        ctx.tracer.span("baseline.decode_all", req)(decodeAll(engine, q))))
      rawAns.foreach(a => baselines += ((ix, "raw LIKE", a)))
      decAns.foreach(a => baselines += ((ix, "decode-all", a)))
      Split(cand.isEmpty, compileMs, nCand, scanMs, rawMs, decMs)
    }
    ctx.stopTracing()

    val io = firstReq.map { case (req, _) =>
      val st = ctx.listener.forReq(req)
      (st.map(_.recordsRead).sum, st.map(_.bytesRead).sum)
    }
    val returned = firstReq.map(r => answerRows(r._2.ans)).sum
    val candidates = split.map(_.candidates).sum
    ctx.metric("search.compile_ms", Stats.median(split.map(_.compileMs)), "ms")
    ctx.metric("search.scan_ms", Stats.median(split.map(_.scanMs)), "ms")
    ctx.metric("search.decode_verify_ms", Stats.median(pool.indices.map(ix =>
      math.max(0.0, opMs(ix) - split(ix).compileMs - split(ix).scanMs))), "ms")
    ctx.metric("search.rows_scanned", io.map(_._1).sum.toDouble, "count")
    ctx.metric("search.bytes_read", io.map(_._2).sum.toDouble, "bytes")
    ctx.metric("search.rows_candidate", candidates.toDouble, "count")
    ctx.metric("search.rows_returned", returned.toDouble, "count")
    ctx.metric("search.verify_precision", if (candidates == 0) 0.0 else returned.toDouble / candidates, "ratio")
    ctx.metric("search.queries", pool.length.toDouble, "count")
    ctx.metric("search.pruned_queries", split.count(_.pruned).toDouble, "count")
    ctx.metric("baseline.raw_like_ms", Stats.median(split.map(_.rawMs)), "ms")
    ctx.metric("baseline.decode_all_ms", Stats.median(split.map(_.decodeAllMs)), "ms")
    Gen.QueryClasses.foreach { c =>
      val ixs = pool.indices.filter(pool(_).cls == c)
      ctx.metric(s"search.class.$c.p50_ms", Stats.median(ixs.map(opMs)), "ms")
      ctx.metric(s"search.class.$c.speedup_vs_raw",
        Stats.median(ixs.map(ix => split(ix).rawMs / opMs(ix))), "ratio")
      ctx.metric(s"search.class.$c.speedup_vs_decode_all",
        Stats.median(ixs.map(ix => split(ix).decodeAllMs / opMs(ix))), "ratio")
    }
  }
}
