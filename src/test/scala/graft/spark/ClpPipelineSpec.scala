package graft.spark

import java.nio.file.Files

import org.apache.spark.sql.functions._
import graft.pipeline.{ClpPipeline, Dictionaries, TranscriptGen, Turn}

class ClpPipelineSpec extends SparkSpecBase {

  private lazy val outDir = Files.createTempDirectory("graft-pipe").toString
  private lazy val turns = TranscriptGen.turns(spark, 4000, seed = 42L).toDF.cache()
  private lazy val cfg = ClpPipeline.Config(outDir, maxSinks = 8, saltParts = 16, filesPerSink = 4)
  private lazy val result = ClpPipeline.run(spark, turns, cfg)

  test("pipeline routes every turn exactly once") {
    assert(result.turnsIn > 3000)
    assert(result.rowsRouted == result.turnsIn)
    // one source template can yield several logtypes (e.g. a hex slot that
    // sometimes renders all-digits encodes as int, else as dict var), so the
    // bound is a small multiple of the template count
    assert(result.nLogtypes > 10 && result.nLogtypes <= 8L * TranscriptGen.Templates.length)
    assert(result.nVars > 0)
  }

  test("per-sink counts sum to the input count and match a direct groupBy") {
    result // force
    val routed = spark.read.parquet(s"$outDir/routed")
    val stats = spark.read.parquet(s"$outDir/sink_stats")
    assert(stats.agg(sum("n_rows")).head.getLong(0) == result.turnsIn)
    val direct = routed.groupBy("sink_id").count()
    val joined = stats.join(direct, "sink_id")
      .filter(col("n_rows") =!= col("count")).count()
    assert(joined == 0)
    // hot templates own their sinks; long tail shares sink 0
    assert(stats.count() <= cfg.maxSinks)
  }

  test("decode(template, vars) reproduces every turn's text byte-for-byte") {
    result // force
    val violations = ClpPipeline.roundTripViolations(spark, turns, outDir)
    assert(violations.count() == 0)
  }

  test("dictionary IDs are dense, deterministic, and sorted by value") {
    result // force
    val vd = spark.read.parquet(s"$outDir/var_dict").orderBy("var_id").collect()
    assert(vd.map(_.getLong(0)).toSeq == vd.indices.map(_.toLong))
    val values = vd.map(_.getString(1))
    assert(values.sameElements(values.sorted))
    // rebuilding under different parallelism yields identical IDs
    val parsed2 = ClpPipeline.parse(turns.repartition(13))
    val vd2 = Dictionaries.build(parsed2, cfg.saltParts, cfg.maxSinks, cfg.driverDictThreshold)
      .vars.orderBy("var_id").collect()
    assert(vd2.map(r => (r.getLong(0), r.getString(1))).toSeq ==
      vd.map(r => (r.getLong(0), r.getString(1))).toSeq)
  }

  test("resume skips completed stages and reproduces identical outputs") {
    result // force the first full run
    val statsBefore = spark.read.parquet(s"$outDir/sink_stats")
      .orderBy("sink_id").collect().toSeq
    val res2 = ClpPipeline.run(spark, turns, cfg.copy(resume = true))
    assert(res2.rowsRouted == result.rowsRouted)
    val statsAfter = spark.read.parquet(s"$outDir/sink_stats")
      .orderBy("sink_id").collect().toSeq
    assert(statsBefore == statsAfter)
  }

  test("a finished archive drops the parsed checkpoint; resume still answers from lineage") {
    result // force the first full run
    // the parsed stage output is a second full copy of the corpus — a
    // COMPLETE archive must not keep it (keepParsed=false default)...
    assert(!Files.exists(java.nio.file.Paths.get(s"$outDir/parsed")))
    // ...and a resumed run on the trimmed archive still reports exact
    // turnsIn (from the parse manifest), touching no stage data
    val res2 = ClpPipeline.run(spark, turns, cfg.copy(resume = true))
    assert(res2.turnsIn == result.turnsIn && res2.rowsRouted == result.rowsRouted)
  }

  test("crash mid-stage resumes to an archive identical to an uninterrupted run") {
    result // reference: the uninterrupted archive in outDir
    val out2 = Files.createTempDirectory("graft-pipe-crash").toString
    val cfg2 = cfg.copy(outDir = out2, keepParsed = true)
    ClpPipeline.run(spark, turns, cfg2)
    // simulate dying mid-route: the route/stats manifests were never
    // written, the routed dir holds a half-finished attempt (some files
    // missing, one orphan junk part file from the dead writer)
    java.nio.file.Files.delete(java.nio.file.Paths.get(s"$out2/_lineage/route.json"))
    java.nio.file.Files.delete(java.nio.file.Paths.get(s"$out2/_lineage/stats.json"))
    def partFiles(dir: java.io.File): Seq[java.io.File] =
      Option(dir.listFiles()).getOrElse(Array.empty).toSeq.flatMap(f =>
        if (f.isDirectory) partFiles(f)
        else if (f.getName.startsWith("part-")) Seq(f) else Nil)
    val parts = partFiles(new java.io.File(s"$out2/routed")).sortBy(_.getPath)
    assert(parts.length > 1)
    parts.take(parts.length / 2).foreach(f => assert(f.delete()))
    java.nio.file.Files.write(
      parts.last.toPath.resolveSibling("part-99999-dead-attempt.snappy.parquet"),
      Array.fill[Byte](64)(0x5A))
    val res = ClpPipeline.run(spark, turns, cfg2.copy(resume = true, keepParsed = false))
    assert(res.turnsIn == result.turnsIn && res.rowsRouted == result.rowsRouted)
    // the healed archive equals the uninterrupted one: dictionaries,
    // per-sink stats, and byte-exact round-trip
    def rows(dir: String, tbl: String, order: String) =
      spark.read.parquet(s"$dir/$tbl").orderBy(order).collect().toSeq
    assert(rows(out2, "var_dict", "var_id") == rows(outDir, "var_dict", "var_id"))
    assert(rows(out2, "logtype_dict", "logtype_id") == rows(outDir, "logtype_dict", "logtype_id"))
    assert(rows(out2, "sink_stats", "sink_id").map(_.toString).sorted ==
      rows(outDir, "sink_stats", "sink_id").map(_.toString).sorted)
    assert(ClpPipeline.roundTripViolations(spark, turns, out2).count() == 0)
  }

  test("pre-metric parse manifests backfill input_rows before the checkpoint drops") {
    val out2 = Files.createTempDirectory("graft-pipe-old").toString
    val cfg2 = cfg.copy(outDir = out2, keepParsed = true)
    ClpPipeline.run(spark, turns, cfg2) // keepParsed: checkpoint retained
    // simulate an archive written before input_rows was recorded
    val manifest = java.nio.file.Paths.get(s"$out2/_lineage/parse.json")
    java.nio.file.Files.write(manifest,
      """{"stage": "parse", "status": "COMPLETE", "duration_ms": 1}"""
        .getBytes(java.nio.charset.StandardCharsets.UTF_8))
    val res = ClpPipeline.run(spark, turns, cfg2.copy(resume = true, keepParsed = false))
    assert(!Files.exists(java.nio.file.Paths.get(s"$out2/parsed")))
    // turnsIn must survive the drop (from the backfilled manifest) on the
    // NEXT resume too — without the backfill this read would crash
    val res2 = ClpPipeline.run(spark, turns, cfg2.copy(resume = true, keepParsed = false))
    assert(res.turnsIn == result.turnsIn && res2.turnsIn == result.turnsIn)
  }

  test("enrichment join annotates every row that has a lookup match") {
    result // force
    val routed = spark.read.parquet(s"$outDir/routed")
    assert(routed.filter(col("team").isNull).count() == 0)
  }

  test("fully distributed dictionary path (driverDictThreshold=0) reproduces the broadcast archive") {
    // three thresholds build the same archive: the default (driver maps,
    // `result`), 0, and a straddle between the larger dictionary and the sum
    result // force the default (driver-map) run first
    // the straddle: each dictionary alone fits, both together do not, so
    // the sum rule must pick the distributed mode
    val straddle = math.max(result.nVars, result.nLogtypes)
    assert(straddle < result.nVars + result.nLogtypes)
    def dict(dir: String, name: String, idc: String, vc: String) =
      spark.read.parquet(s"$dir/$name").select(idc, vc).orderBy(idc)
        .collect().map(r => (r.getLong(0), r.getString(1))).toSeq
    def routedSet(dir: String) = spark.read.parquet(s"$dir/routed")
      .select("conv_id", "turn_idx", "logtype_id", "sink_id", "vars").collect()
      .map(r => (r.getString(0), r.getInt(1), r.getLong(2),
        r.getAs[Number]("sink_id").intValue, r.getSeq[Long](4).mkString(","))).toSet
    assert(ClpPipeline.roundTripViolations(spark, turns, outDir).count() == 0)
    for (t <- Seq(0L, straddle)) {
      val out2 = Files.createTempDirectory(s"graft-pipe-dist$t").toString
      // below the sum: count-gated distributed ID assignment, the hot-head
      // (3 entries) + shuffle-join-tail resolution, and distributed decode —
      // the end-to-end no-driver-map mode
      val res2 = ClpPipeline.run(spark, turns,
        cfg.copy(outDir = out2, driverDictThreshold = t, hotHeadSize = 3))
      assert(res2.rowsRouted == result.turnsIn)
      assert(res2.nVars == result.nVars && res2.nLogtypes == result.nLogtypes)
      // dictionaries identical to the driver-path build (rank-by-value IDs are
      // path- and parallelism-invariant)
      assert(dict(out2, "var_dict", "var_id", "value") ==
        dict(outDir, "var_dict", "var_id", "value"), s"var dict at threshold $t")
      assert(dict(out2, "logtype_dict", "logtype_id", "logtype") ==
        dict(outDir, "logtype_dict", "logtype_id", "logtype"), s"logtype dict at threshold $t")
      assert(spark.read.parquet(s"$out2/logtype_dict").select("logtype_id", "sink_id")
        .collect().toSet ==
        spark.read.parquet(s"$outDir/logtype_dict").select("logtype_id", "sink_id")
          .collect().toSet, s"sinks at threshold $t")
      // routed rows identical
      assert(routedSet(out2) == routedSet(outDir), s"routed rows at threshold $t")
      // byte-exact decode through the distributed (no-driver-map) decode join
      assert(ClpPipeline.roundTripViolations(spark, turns, out2,
        driverDictThreshold = t).count() == 0, s"round trip at threshold $t")
    }
  }

  test("driver and distributed modes number non-ASCII logtypes the same") {
    import spark.implicits._
    val ts = new java.sql.Timestamp(1704067200000L)
    // non-ASCII text delimits tokens, so it lands in the logtypes
    val edgy = ClpPipelineSpec.NonAscii.zipWithIndex.map { case (s, i) =>
      Turn(s"c$i", 0, "user", s"$s x$i", "t", ts) }.toDF()
    def dicts(threshold: Long) = {
      val out = Files.createTempDirectory("graft-pipe-utf").toString
      ClpPipeline.run(spark, edgy, cfg.copy(outDir = out, driverDictThreshold = threshold))
      Seq("logtype_dict", "var_dict").map(d =>
        spark.read.parquet(s"$out/$d").collect().map(r => (r.getLong(0), r.getString(1))).sortBy(_._1).toSeq)
    }
    val driver = dicts(ClpPipeline.DriverDictThreshold)
    assert(driver.head.length == ClpPipelineSpec.NonAscii.length)
    assert(dicts(0L) == driver)
  }

  test("partition lineage covers all routed rows") {
    result // force
    val lin = spark.read.parquet(s"$outDir/lineage_partitions")
    assert(lin.agg(sum("n_rows")).head.getLong(0) == result.rowsRouted)
  }

  test("archival parquet profile (zstd-9 + v2 pages) round-trips and shrinks the archive") {
    result // force the default (snappy/v1) run first
    val out2 = Files.createTempDirectory("graft-pipe-zstd").toString
    val res2 = ClpPipeline.run(spark, turns, cfg.copy(outDir = out2,
      parquetOptions = Map(
        "compression" -> "zstd",
        "parquet.compression.codec.zstd.level" -> "9",
        "parquet.writer.version" -> "v2")))
    assert(res2.rowsRouted == result.rowsRouted)
    // the archive stays a plain parquet table: byte-exact decode over it
    assert(ClpPipeline.roundTripViolations(spark, turns, out2).count() == 0)
    // and the options actually reached the writer: same rows, fewer bytes
    def bytes(dir: String): Long =
      java.nio.file.Files.walk(java.nio.file.Paths.get(dir))
        .filter(p => p.toString.endsWith(".parquet"))
        .mapToLong(p => p.toFile.length).sum
    assert(bytes(s"$out2/routed") < bytes(s"$outDir/routed"))
  }
}

object ClpPipelineSpec {
  /** U+E000..U+FFFF sort BELOW supplementary characters in code point (and
    * UTF-8 byte) order but ABOVE them in UTF-16 unit order. */
  val NonAscii: Seq[String] = Seq("\uFFFD", "\uE000", "\uD83D\uDE00", "\uD800\uDC00", "\u00E9",
    "z", "a\uFFFD", "a\uD83D\uDE00", "\uFFFF\uFFFF", "\uD83D\uDE00\uD83D\uDE00", "\u007F")
}
