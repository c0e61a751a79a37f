package graft.spark

import java.nio.file.Files

import org.apache.spark.sql.functions._

import graft.pipeline.JsonPipeline
import graft.search.JsonSearch

/** clp_s slice: schema discovery + per-schema columnar routing + KQL with
  * wildcard paths resolved against the discovered schemas. */
class JsonPipelineSpec extends SparkSpecBase {
  import spark.implicits._

  private lazy val outDir = Files.createTempDirectory("graft-jsonl").toString
  private lazy val jsonl = Seq(
    """{"id":0,"msg":"hello big world","k":7}""",
    """{"id":1,"msg":"more text here","k":9}""",
    """{"id":2,"msg":"nested one","k":1,"meta":{"lang":"en","score":1.5}}""",
    """{"id":3,"msg":"nested two","k":99,"meta":{"lang":"fr","score":2.5}}""",
    """{"id":4,"msg":"arrays now","tags":["a","b"]}""",
    """{"id":5,"msg":"bool row","ok":true}"""
  ).toDF("json")
  private lazy val result = JsonPipeline.route(spark, jsonl, "json", outDir)

  test("route discovers one schema per record shape and counts records") {
    assert(result.nRecords == 6 && result.nSchemas == 4)
    val schemas = spark.read.parquet(s"$outDir/schemas").collect()
    assert(schemas.map(_.getAs[Long]("n_records")).sum == 6)
    val byDesc = schemas.map(r => r.getAs[String]("descriptor") -> r.getAs[Long]("n_records")).toMap
    assert(byDesc("id:Integer;k:Integer;msg:ClpString") == 2)
    assert(byDesc("id:Integer;k:Integer;meta.lang:VarString;meta.score:Float;msg:ClpString") == 2)
  }

  test("schema tree holds the merged typed leaf set with dense node ids") {
    result // force
    val tree = spark.read.parquet(s"$outDir/schema_tree").orderBy("node_id").collect()
    assert(tree.map(_.getInt(0)).toSeq == tree.indices)
    val leaves = tree.map(r => (r.getString(1), r.getString(2))).toSet
    assert(leaves.contains(("meta.lang", "VarString")))
    assert(leaves.contains(("meta.score", "Float")))
    assert(leaves.contains(("tags", "UnstructuredArray")))
    assert(leaves.contains(("ok", "Boolean")))
  }

  test("per-schema tables are typed columnar parquet with same-shape rows together") {
    result // force
    val nested = new JsonSearch(spark, outDir).schemasWithPath("meta.lang")
    assert(nested.size == 1)
    val tbl = new JsonSearch(spark, outDir).table(nested.head)
    assert(tbl.count() == 2)
    assert(tbl.schema("meta").dataType.isInstanceOf[org.apache.spark.sql.types.StructType])
    assert(tbl.select("meta.lang").as[String].collect().toSet == Set("en", "fr"))
  }

  test("KQL wildcard path binds to the discovered nested column across schemas") {
    result // force
    val hits = JsonPipeline.kqlSearch(spark, outDir, "*.lang : en", Seq("id"))
      .as[Long].collect().toSet
    assert(hits == Set(2L))
    // schemas without the path contribute nothing; range filter over typed col
    val hits2 = JsonPipeline.kqlSearch(spark, outDir, "meta.score >= 2 OR k : 7", Seq("id"))
      .as[Long].collect().toSet
    assert(hits2 == Set(0L, 3L))
  }

  // ---- first-class timestamps (timestamp-key + range index + pruning) ----

  private lazy val tsDir = Files.createTempDirectory("graft-jsonl-ts").toString
  private lazy val tsRoute = {
    val recs = Seq(
      """{"id":0,"ts":"2024-01-01 10:00:00","msg":"a b"}""",
      """{"id":1,"ts":"2024-01-01 11:30:00","msg":"c d"}""",
      """{"id":2,"ts":"2024-01-02 09:00:00","msg":"e f"}""",
      """{"id":3,"ts":"2024-01-03 09:00:00","msg":"g h","extra":1}""",
      """{"id":4,"msg":"no timestamp at all"}"""
    ).toDF("json")
    JsonPipeline.route(spark, recs, "json", tsDir,
      options = JsonPipeline.Options(timestampKey = Some("ts")))
  }
  private def epoch(s: String): Long =
    java.time.LocalDateTime.parse(s.replace(' ', 'T'))
      .toEpochSecond(java.time.ZoneOffset.UTC) * 1000L

  test("timestamp key lands $_ts and the per-schema min/max range index") {
    tsRoute // force
    val recs = spark.read.parquet(s"$tsDir/records")
    val byId = recs.select(col("log_event_idx"), col("`$_ts`")).collect()
      .map(r => r.getLong(0) -> (if (r.isNullAt(1)) None else Some(r.getLong(1)))).toMap
    assert(byId(0L).contains(epoch("2024-01-01 10:00:00")))
    assert(byId(2L).contains(epoch("2024-01-02 09:00:00")))
    assert(byId(4L).isEmpty)
    // DateString node in the catalog descriptor; range index populated
    val schemas = spark.read.parquet(s"$tsDir/schemas").collect()
    val main = schemas.find(_.getAs[String]("descriptor") ==
      "id:Integer;msg:ClpString;ts:DateString").get
    assert(main.getAs[Long]("min_ts") == epoch("2024-01-01 10:00:00"))
    assert(main.getAs[Long]("max_ts") == epoch("2024-01-02 09:00:00"))
    val noTs = schemas.find(_.getAs[String]("descriptor") == "id:Integer;msg:ClpString").get
    assert(noTs.isNullAt(noTs.fieldIndex("min_ts")))
  }

  test("ts range: tge/tle injection + plan-time schema pruning, zero jobs when disjoint") {
    tsRoute // force
    val inRange = JsonPipeline.kqlSearch(spark, tsDir, "msg: *", Seq("id"),
      tsLo = Some(epoch("2024-01-01 11:00:00")), tsHi = Some(epoch("2024-01-02 12:00:00")))
      .as[Long].collect().toSet
    assert(inRange == Set(1L, 2L)) // id 4 (no ts) and out-of-window ids drop
    // records in schemas whose range misses entirely: pruned BEFORE any
    // read — the physical plan of a disjoint-range query contains NO file
    // scan of the records store (EvaluateTimestampIndex semantics)
    val out = JsonPipeline.kqlSearch(spark, tsDir, "msg: *", Seq("id"),
      tsLo = Some(epoch("2030-01-01 00:00:00")), tsHi = None)
    assert(out.count() == 0)
    val plan = out.queryExecution.executedPlan.toString
    assert(!plan.contains("FileScan") && !plan.toLowerCase.contains("parquet"),
      s"expected plan-time pruning, plan was:\n$plan")
    // a time-bounded query over an archive without a timestamp key: empty
    val noTsArchive = JsonPipeline.kqlSearch(spark, outDir, "k : 7", Seq("id"),
      tsLo = Some(0L))
    assert(noTsArchive.count() == 0)
  }

  test("a held JsonSearch: a warm query is its scan job alone, a ts-pruned query runs none") {
    val dir = Files.createTempDirectory("graft-jsonl-held").toString
    val base = 1704067200000L
    // 300 records in 3 schemas, a timestamp key and one `$` metadata column,
    // so the engine holds a catalog, record schemas, metadata fields and a
    // range index
    val recs = Seq.tabulate(300) { i =>
      val extra = i % 3 match { case 0 => "" case 1 => s""","k":$i""" case _ => s""","m":{"x":$i}""" }
      (i, s"""{"id":$i,"ts":${base + i * 1000L},"msg":"m $i"$extra}""")
    }.toDF("n", "json")
    JsonPipeline.route(spark, recs, "json", dir,
      metadata = Seq("$_filename" -> concat(lit("f"), (col("n") % 2).cast("string"), lit(".jsonl"))),
      options = JsonPipeline.Options(timestampKey = Some("ts")))
    val engine = new graft.search.JsonSearch(spark, dir)
    val q = """$_filename: "f1.jsonl""""
    val (lo, hi) = (Some(base + 100000L), Some(base + 199000L))
    engine.kql(q, Seq("id"), lo, hi).collect() // warm-up: the metadata loads once
    val (hits, scanJobs) = jobsOf(engine.kql(q, Seq("id"), lo, hi).collect())
    assert(hits.map(_.getLong(0)).toSet == (101L to 199L by 2L).toSet)
    assert(scanJobs == 1, s"a warm KQL query must be one Spark job, saw $scanJobs")
    val (none, prunedJobs) = jobsOf(
      engine.kql(q, Seq("id"), Some(base + 1000000L), None).collect())
    assert(none.isEmpty)
    assert(prunedJobs == 0, s"a ts-pruned KQL query must run no job, saw $prunedJobs")
  }

  test("ordered extraction reconstructs the original JSONL byte-exactly") {
    tsRoute // force
    val got = new JsonSearch(spark, tsDir).extract().collect()
    assert(got.map(_.getLong(0)).toSeq == Seq(0L, 1L, 2L, 3L, 4L))
    val originals = Seq(
      """{"id":0,"ts":"2024-01-01 10:00:00","msg":"a b"}""",
      """{"id":1,"ts":"2024-01-01 11:30:00","msg":"c d"}""",
      """{"id":2,"ts":"2024-01-02 09:00:00","msg":"e f"}""",
      """{"id":3,"ts":"2024-01-03 09:00:00","msg":"g h","extra":1}""",
      """{"id":4,"msg":"no timestamp at all"}""")
    assert(got.map(_.getString(1)).toSeq == originals)
  }

  test("index fallback assigns contiguous input-order event indices") {
    val dir = Files.createTempDirectory("graft-jsonl-zip").toString
    val recs = Seq.tabulate(50)(i => s"""{"n":$i}""").toDF("json")
    JsonPipeline.route(spark, recs, "json", dir)
    val idx = spark.read.parquet(s"$dir/records")
      .select("log_event_idx").as[Long].collect().sorted.toSeq
    assert(idx == (0L until 50L))
    val back = new JsonSearch(spark, dir).extract().collect().map(_.getString(1)).toSeq
    assert(back == Seq.tabulate(50)(i => s"""{"n":$i}"""))
  }

  test("index fallback numbers a multi-partition input in input order") {
    val src = Files.createTempDirectory("graft-jsonl-parts").toString
    Seq.tabulate(300)(i => s"""{"n":$i}""").toDF("json").repartition(5)
      .write.mode("overwrite").text(src)
    val jsonl = spark.read.text(src).withColumnRenamed("value", "json")
    assert(jsonl.rdd.getNumPartitions > 1)
    // input order: partition by partition, rows in partition order
    val inputOrder = jsonl.rdd.zipWithIndex.map { case (r, i) => (i, r.getString(0)) }.collect().toSeq
    val dir = Files.createTempDirectory("graft-jsonl-parts-out").toString
    JsonPipeline.route(spark, jsonl, "json", dir)
    assert(spark.read.parquet(s"$dir/records").select("log_event_idx", "_raw")
      .as[(Long, String)].collect().sortBy(_._1).toSeq == inputOrder)
  }

  test("route is O(1) Spark jobs at any schema count (1000 distinct schemas)") {
    val dir = Files.createTempDirectory("graft-jsonl-many").toString
    val recs = Seq.tabulate(1000)(i => s"""{"k$i":$i,"msg":"m $i"}""").toDF("json")
    val jobs = new java.util.concurrent.atomic.AtomicInteger
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(js: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        jobs.incrementAndGet()
    }
    spark.sparkContext.addSparkListener(listener)
    val res =
      try {
        val r = JsonPipeline.route(spark, recs, "json", dir,
          options = JsonPipeline.Options(orderCol = None))
        Thread.sleep(300) // let listener events drain
        r
      } finally spark.sparkContext.removeSparkListener(listener)
    assert(res.nSchemas == 1000L)
    assert(jobs.get() <= 10, s"route must be O(1) jobs, saw ${jobs.get()}")
  }

  test("records write runs in parallel and keeps filesPerSchema part files per schema") {
    val dir = Files.createTempDirectory("graft-jsonl-par").toString
    val recs = Seq.tabulate(400)(i =>
      if (i % 2 == 0) s"""{"id":$i,"msg":"even row $i"}""" else s"""{"id":$i,"ok":true}""").toDF("json")
    // per stage: task count and records written, for this route's jobs only
    val group = s"graft-jsonl-par-${System.nanoTime()}"
    val stageTasks = new java.util.concurrent.ConcurrentHashMap[Int, Int]
    val stageWritten = new java.util.concurrent.ConcurrentHashMap[Int, Long]
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(js: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        if (Option(js.properties).exists(_.getProperty("spark.jobGroup.id") == group))
          js.stageInfos.foreach(si => stageTasks.put(si.stageId, si.numTasks))
      override def onTaskEnd(te: org.apache.spark.scheduler.SparkListenerTaskEnd): Unit =
        if (te.taskMetrics != null)
          stageWritten.merge(te.stageId, te.taskMetrics.outputMetrics.recordsWritten, _ + _)
    }
    spark.sparkContext.addSparkListener(listener)
    val res =
      try {
        spark.sparkContext.setJobGroup(group, "json route")
        val r = JsonPipeline.route(spark, recs, "json", dir)
        org.apache.spark.ListenerBusDrain(spark.sparkContext)
        r
      } finally {
        spark.sparkContext.clearJobGroup()
        spark.sparkContext.removeSparkListener(listener)
      }
    assert(res.nSchemas == 2L)
    // the records write is the route's stage that writes every record
    val writeStage = stageTasks.keySet.toArray.map(_.asInstanceOf[Int])
      .filter(id => stageWritten.getOrDefault(id, 0L) == 400L)
    assert(writeStage.length == 1, s"expected one records-write stage, saw ${writeStage.toSeq}")
    assert(stageTasks.get(writeStage.head) > 1, "the records write ran in one task")
    val schemaDirs = new java.io.File(s"$dir/records").listFiles().filter(_.getName.startsWith("schema_id="))
    assert(schemaDirs.length == 2)
    schemaDirs.foreach { d =>
      val parts = d.listFiles().count(f => f.getName.startsWith("part-") && f.getName.endsWith(".parquet"))
      assert(parts == JsonPipeline.Options().filesPerSchema, s"${d.getName} holds $parts part files")
    }
  }

  test("wildcard projection: per-schema resolution with null-fill") {
    result // force
    val out = JsonPipeline.kqlSearch(spark, outDir, "k >= 1", Seq("id", "meta.*"))
    assert(out.columns.toSeq == Seq("id", "meta.lang", "meta.score"))
    val rows = out.collect().map(r =>
      (r.getLong(0),
        if (r.isNullAt(1)) null else r.getString(1),
        if (r.isNullAt(2)) null else r.getDouble(2))).toSet
    assert(rows == Set(
      (0L, null, null), (1L, null, null),
      (2L, "en", 1.5), (3L, "fr", 2.5)))
  }

  test("structurize-arrays: finer schema identity, array search still works") {
    val dir = Files.createTempDirectory("graft-jsonl-struct").toString
    val recs = Seq(
      """{"idx":7,"arr":[{"a":999},{"b":1001}]}""",
      """{"idx":8,"arr":[{"a":1},{"b":2}]}""",
      """{"idx":9,"arr":[{"c":5}]}""").toDF("json")
    val r = JsonPipeline.route(spark, recs, "json", dir,
      options = JsonPipeline.Options(structurizeArrays = true))
    // {a,b}-element arrays and {c}-element arrays are DIFFERENT schemas now
    assert(r.nSchemas == 2)
    val tree = spark.read.parquet(s"$dir/schema_tree")
      .select("path", "node_type").collect().map(r2 => (r2.getString(0), r2.getString(1)))
    assert(tree.contains(("arr", "StructuredArray")))
    assert(tree.contains(("arr.[].a", "Integer")))
    val hits = JsonPipeline.kqlSearch(spark, dir, "arr.b > 1000", Seq("idx"))
      .as[Long].collect().toSet
    assert(hits == Set(7L))
    // extraction still byte-exact in structurize mode
    val back = new JsonSearch(spark, dir).extract().collect().map(_.getString(1)).toSeq
    assert(back == Seq(
      """{"idx":7,"arr":[{"a":999},{"b":1001}]}""",
      """{"idx":8,"arr":[{"a":1},{"b":2}]}""",
      """{"idx":9,"arr":[{"c":5}]}"""))
  }

  test("structurize-arrays: nested arrays and object elements route end-to-end") {
    // the child type markers of a structurized array are value-less; a
    // nested array among them must not be fed to the shape parser
    val dir = Files.createTempDirectory("graft-jsonl-nested").toString
    val recs = Seq(
      """{"a":[[1,2],[3]],"name":"x"}""",
      """{"a":[[4]],"name":"y"}""").toDF("json")
    val res = JsonPipeline.route(spark, recs, "json", dir,
      options = JsonPipeline.Options(structurizeArrays = true))
    assert(res.nRecords == 2)
    // the derived table schema types the nested array without inference
    val schemaIds = new JsonSearch(spark, dir).schemasWithPath("name")
    assert(schemaIds.size == 1)
    val tbl = new JsonSearch(spark, dir).table(schemaIds.head)
    assert(tbl.count() == 2)
    assert(tbl.schema("a").dataType ==
      org.apache.spark.sql.types.ArrayType(
        org.apache.spark.sql.types.ArrayType(
          org.apache.spark.sql.types.LongType)))
    val hits = JsonPipeline.kqlSearch(spark, dir, """name: "y"""", Seq("a"))
      .collect()
    assert(hits.length == 1)
  }

  test("KQL schema pruning happens on the driver: plan size is O(matching schemas)") {
    // 200 distinct schemas, exactly one of which carries the queried path —
    // the analyzed plan must contain ONE record scan, not 200 union branches
    // (the reference computes the matching schema set from the MPT before
    // opening any table: search/SchemaMatch.cpp)
    val dir = Files.createTempDirectory("graft-jsonl-match").toString
    val recs = Seq.tabulate(200)(i => s"""{"f$i":$i,"msg":"m $i"}""").toDF("json")
    JsonPipeline.route(spark, recs, "json", dir)
    val df = JsonPipeline.kqlSearch(spark, dir, "f7 >= 0", Seq("f7"))
    val scans = df.queryExecution.analyzed.collect {
      case l: org.apache.spark.sql.execution.datasources.LogicalRelation => l
    }
    assert(scans.length == 1, s"expected 1 pre-optimizer scan, got ${scans.length}")
    assert(df.as[Long].collect().toSeq == Seq(7L))
  }

  test("fuzz: random typed ranges + ts windows equal the direct-filter oracle") {
    // Randomized sweep of the typed-filter + schema-pruning + ts-index layer:
    // a mixed-schema corpus (int/string/float fields present or absent per
    // record) searched with random KQL ranges and ts windows; the oracle
    // filters the in-memory originals directly.
    // fixed default seed; override with -Dgraft.fuzz.seed=N for wider sweeps
    val rnd = new scala.util.Random(sys.props.get("graft.fuzz.seed").map(_.toLong).getOrElse(0x15EEDL))
    case class Rec(idx: Long, k: Option[Long], s: Option[String],
                   score: Option[Double], ts: Long)
    val base = 1704067200000L
    val recs = Seq.tabulate(300) { i =>
      Rec(i.toLong,
        if (i % 7 != 0) Some(rnd.nextInt(1000).toLong) else None,
        if (i % 3 != 0) Some(s"word${rnd.nextInt(20)}") else None,
        if (i % 5 == 0) Some(math.round(rnd.nextDouble() * 100) / 10.0) else None,
        base + i * 1000L)
    }
    val jsonOf: Rec => String = r =>
      "{" + (Seq(s""""idx":${r.idx}""", s""""ts":${r.ts}""") ++
        r.k.map(v => s""""k":$v""") ++ r.s.map(v => s""""s":"$v"""") ++
        r.score.map(v => s""""score":$v""")).mkString(",") + "}"
    val dir = Files.createTempDirectory("graft-jsonl-fuzz").toString
    JsonPipeline.route(spark, recs.map(jsonOf).toDF("json"), "json", dir,
      options = JsonPipeline.Options(timestampKey = Some("ts")))

    var nonEmpty = 0
    for (i <- 0 until 24) {
      val (kql, pred): (String, Rec => Boolean) = rnd.nextInt(4) match {
        case 0 =>
          val (a, b) = (rnd.nextInt(900), rnd.nextInt(900))
          val (lo, hi) = (math.min(a, b), math.max(a, b))
          (s"k >= $lo AND k <= $hi", r => r.k.exists(v => v >= lo && v <= hi))
        case 1 =>
          val w = s"word${rnd.nextInt(20)}"
          (s"s: $w", r => r.s.contains(w))
        case 2 =>
          val x = rnd.nextInt(100) / 10.0
          (s"score > $x", r => r.score.exists(_ > x))
        case 3 =>
          val (a, w) = (rnd.nextInt(900), s"word${rnd.nextInt(20)}")
          (s"k < $a OR s: $w", r => r.k.exists(_ < a) || r.s.contains(w))
      }
      val (tsLo, tsHi) =
        if (rnd.nextBoolean()) (None, None)
        else {
          val (a, b) = (rnd.nextInt(300), rnd.nextInt(300))
          (Some(base + math.min(a, b) * 1000L), Some(base + math.max(a, b) * 1000L))
        }
      val exp = recs.filter(r => pred(r) &&
        tsLo.forall(r.ts >= _) && tsHi.forall(r.ts <= _)).map(_.idx).toSet
      if (exp.nonEmpty) nonEmpty += 1
      val got = JsonPipeline.kqlSearch(spark, dir, kql, Seq("idx"), tsLo, tsHi)
        .as[Long].collect().toSet
      assert(got == exp, s"fuzz #$i mismatch for '$kql' ts=[$tsLo,$tsHi]")
    }
    assert(nonEmpty >= 12, s"weak fuzz corpus: only $nonEmpty/24 non-empty oracles")
  }

  test("fuzz: random $-metadata filters (exact + wildcard keys) equal the direct oracle") {
    // Randomized sweep of the range-index rewrite layer: ingest metadata
    // keys queried with exact names, WILDCARD key patterns (the class of
    // the round-3 exact-map-lookup bug), impossible values (plan-time
    // WontMatch), and conjunctions with row predicates.
    import org.apache.spark.sql.functions.concat
    val rnd = new scala.util.Random(
      sys.props.get("graft.fuzz.seed").map(_.toLong).getOrElse(0xD06F00DL))
    // every record also carries a timestamp key, so the ingest has BOTH a
    // range index and a $_ts column — key patterns drawn below can match
    // either, and the rewrite must stay exact across that boundary
    def tsStr(i: Int) = f"2024-01-01 10:${i / 60}%02d:${i % 60}%02d"
    val df = (0 until 240)
      .map(i => (i.toLong, s"""{"idx":$i,"v":${i % 50},"ts":"${tsStr(i)}"}"""))
      .toDF("i", "json")
    val dir = Files.createTempDirectory("graft-ri-fuzz").toString
    JsonPipeline.route(spark, df, "json", dir,
      metadata = Seq(
        "$_filename" -> concat(lit("f"), (col("i") / 20).cast("long").cast("string"), lit(".jsonl")),
        "$_file_split_number" -> (col("i") % 3)),
      options = JsonPipeline.Options(orderCol = Some("i"), timestampKey = Some("ts")))
    def fname(i: Int) = s"f${i / 20}.jsonl"

    var nonEmpty = 0
    for (n <- 0 until 28) {
      val (kql, pred): (String, Int => Boolean) = rnd.nextInt(7) match {
        case 0 => // exact key; file id may be out of range (index prunes all)
          val f = rnd.nextInt(14)
          (s"""$$_filename: "f$f.jsonl"""", i => fname(i) == s"f$f.jsonl")
        case 1 => // WILDCARD key: matches both metadata keys; only the
          // filename can satisfy a .jsonl value
          val f = rnd.nextInt(14)
          (s"""$$_file*: "f$f.jsonl"""", i => fname(i) == s"f$f.jsonl")
        case 2 => // numeric metadata; value 3 never exists (fold-away path)
          val sNum = rnd.nextInt(4)
          (s"$$_file_split_number: $sNum", i => i % 3 == sNum)
        case 3 => // metadata conjunction over interleaved (overlapping) spans
          val f = rnd.nextInt(12); val sNum = rnd.nextInt(3)
          (s"""$$_filename: "f$f.jsonl" AND $$_file_split_number: $sNum""",
            i => fname(i) == s"f$f.jsonl" && i % 3 == sNum)
        case 4 => // wildcard VALUE over every file + a row predicate
          val v = rnd.nextInt(50)
          (s"""$$_filename: "f*" AND v >= $v""", i => (i % 50) >= v)
        case 5 => // key pattern matching ONLY $_ts — range-index entries
          // never describe it, so the rewrite must be skipped, not folded
          val t = rnd.nextInt(240)
          (s"$$_ts*: ${epoch(tsStr(t))}", i => i == t)
        case 6 => // $* matches the indexed keys AND $_ts: rows satisfy via
          // the split number; $_ts epochs and filenames never equal sNum
          val sNum = rnd.nextInt(3)
          (s"$$*: $sNum", i => i % 3 == sNum)
      }
      val exp = (0 until 240).filter(pred).map(_.toLong).toSet
      if (exp.nonEmpty) nonEmpty += 1
      val got = JsonPipeline.kqlSearch(spark, dir, kql, Seq("idx"))
        .as[Long].collect().toSet
      assert(got == exp, s"metadata fuzz #$n mismatch for '$kql'")
    }
    assert(nonEmpty >= 14, s"weak metadata fuzz corpus: only $nonEmpty/28 non-empty")
  }

  test("wildcard $-key patterns that can match $_ts skip the range-index rewrite") {
    // ingest with BOTH a timestamp key and range-index metadata: entries
    // never describe $_ts, so a key pattern that could match it ($_ts*, $*)
    // must keep the plain row predicate instead of folding to entry hits
    val dir = Files.createTempDirectory("graft-ri-ts").toString
    val recs = (0 until 6)
      .map(i => (i.toLong, s"""{"id":$i,"ts":"2024-01-01 10:0$i:00"}"""))
      .toDF("i", "json")
    JsonPipeline.route(spark, recs, "json", dir,
      metadata = Seq("$_filename" -> lit("a.jsonl")),
      options = JsonPipeline.Options(
        timestampKey = Some("ts"), orderCol = Some("i")))
    val e = epoch("2024-01-01 10:03:00")
    assert(JsonPipeline.kqlSearch(spark, dir, s"$$_ts*: $e", Seq("id"))
      .as[Long].collect().toSet == Set(3L))
    assert(JsonPipeline.kqlSearch(spark, dir, s"$$*: $e", Seq("id"))
      .as[Long].collect().toSet == Set(3L))
    // exact metadata keys still take the rewrite (and its pruning)
    assert(JsonPipeline.kqlSearch(spark, dir, """$_filename: "a.jsonl"""", Seq("id"))
      .count() == 6)
    assert(JsonPipeline.kqlSearch(spark, dir, """$_filename: "b.jsonl"""", Seq("id"))
      .count() == 0)
  }

  test("boolean metadata skips the range-index rewrite (row semantics differ)") {
    // the row predicate parses booleans case-insensitively; the index entry
    // stores the string "true" — restricting to entry hits would fold
    // "$_flag: TRUE" to false even though rows match
    val dir = Files.createTempDirectory("graft-ri-bool").toString
    JsonPipeline.route(spark, Seq("""{"id":1}""", """{"id":2}""").toDF("json"),
      "json", dir, metadata = Seq("$_flag" -> lit(true)))
    assert(JsonPipeline.kqlSearch(spark, dir, "$_flag: TRUE", Seq("id")).count() == 2)
    assert(JsonPipeline.kqlSearch(spark, dir, "$_flag: true", Seq("id")).count() == 2)
    assert(JsonPipeline.kqlSearch(spark, dir, "$_flag: false", Seq("id")).count() == 0)
  }

  test("a metadata-free re-route clears the previous ingest's range index") {
    val dir = Files.createTempDirectory("graft-ri-stale").toString
    val recs = Seq("""{"id":1}""", """{"id":2}""").toDF("json")
    JsonPipeline.route(spark, recs, "json", dir,
      metadata = Seq("$_filename" -> lit("a.jsonl")))
    assert(new java.io.File(s"$dir/range_index").exists())
    JsonPipeline.route(spark, recs, "json", dir)
    assert(!new java.io.File(s"$dir/range_index").exists(),
      "stale range_index from the metadata-bearing ingest survived the re-route")
    assert(JsonPipeline.kqlSearch(spark, dir, "id: 2", Seq("id")).count() == 1)
  }

  test("an empty corpus routes to a valid empty archive; searches answer zero rows") {
    val dir = Files.createTempDirectory("graft-jsonl-empty").toString
    val res = JsonPipeline.route(spark, Seq.empty[String].toDF("json"), "json", dir)
    assert(res.nRecords == 0 && res.nSchemas == 0)
    assert(JsonPipeline.kqlSearch(spark, dir, "a: 1", Seq("a")).count() == 0)
  }

  test("float timestamp keys get the same millis-vs-seconds heuristic as integers") {
    val dir = Files.createTempDirectory("graft-jsonl-fts").toString
    // one record with epoch SECONDS as a float, one with epoch MILLIS
    val recs = Seq(
      """{"id":0,"ts":1704067200.5}""",
      """{"id":1,"ts":1704067300000.0}""").toDF("json")
    JsonPipeline.route(spark, recs, "json", dir,
      options = JsonPipeline.Options(timestampKey = Some("ts")))
    val byId = spark.read.parquet(s"$dir/records")
      .select(col("log_event_idx"), col("`$_ts`")).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(byId(0L) == 1704067200500L)
    assert(byId(1L) == 1704067300000L)
  }

  test("an unparseable timestamp-key string: null $_ts, out of numeric compares and windows") {
    // the record stays (its `ts` leaf is still DateString), but its `$_ts`
    // is null: a numeric compare excludes it, the null-safe negation
    // includes it, and any ts window excludes it (KqlCompiler's epoch
    // compare documents the divergence from the reference)
    val dir = Files.createTempDirectory("graft-jsonl-badts").toString
    val recs = Seq(
      """{"id":0,"ts":"2024-01-01 10:00:00"}""",
      """{"id":1,"ts":"not a date"}""").toDF("json")
    JsonPipeline.route(spark, recs, "json", dir,
      options = JsonPipeline.Options(timestampKey = Some("ts")))
    val ts = spark.read.parquet(s"$dir/records")
      .select(col("log_event_idx"), col("`$_ts`")).collect()
      .map(r => r.getLong(0) -> r.isNullAt(1)).toMap
    assert(ts == Map(0L -> false, 1L -> true))
    def ids(kql: String, tsLo: Option[Long] = None, tsHi: Option[Long] = None): Set[Long] =
      JsonPipeline.kqlSearch(spark, dir, kql, Seq("id"), tsLo, tsHi).as[Long].collect().toSet
    assert(ids("ts > 0") == Set(0L))
    assert(ids("NOT ts > 0") == Set(1L))
    assert(ids("id >= 0", tsLo = Some(0L), tsHi = Some(Long.MaxValue)) == Set(0L))
    assert(ids("id >= 0", tsLo = Some(0L)) == Set(0L))
    assert(ids("id >= 0") == Set(0L, 1L))
  }

  test("non-object roots and reserved top-level keys refuse at ingest") {
    def routeOf(json: String): Unit = {
      val dir = Files.createTempDirectory("graft-jsonl-bad").toString
      JsonPipeline.route(spark, Seq(json).toDF("json"), "json", dir)
    }
    // silently-unqueryable shapes must fail loudly instead
    for (bad <- Seq(null, "5", "\"x\"", "[1,2]", "{}",
        """{"$_ts":"x","a":1}""", """{"log_event_idx":9,"a":1}"""))
      intercept[org.apache.spark.SparkException](routeOf(bad))
    // nested $-keys are NOT reserved (only top level collides with metadata)
    val ok = Files.createTempDirectory("graft-jsonl-okkey").toString
    val res = JsonPipeline.route(spark,
      Seq("""{"a":{"$weird":1}}""").toDF("json"), "json", ok)
    assert(res.nRecords == 1)
  }

  test("max-document-size refuses oversized records loudly (clp_s ingest guard)") {
    val big = s"""{"k":"${"x" * 200}"}"""
    val dir = Files.createTempDirectory("graft-jsonl-maxdoc").toString
    intercept[org.apache.spark.SparkException] {
      JsonPipeline.route(spark, Seq(big).toDF("json"), "json", dir,
        options = JsonPipeline.Options(maxDocumentSize = 64))
    }
    // within the cap the same record ingests (the check is the exact
    // UTF-8 byte length)
    val ok = Files.createTempDirectory("graft-jsonl-maxdoc-ok").toString
    assert(JsonPipeline.route(spark, Seq(big).toDF("json"), "json", ok,
      options = JsonPipeline.Options(maxDocumentSize = 4096)).nRecords == 1)
  }

  test("chunked extraction writes ordered chunk files with a contiguous manifest") {
    val dir = Files.createTempDirectory("graft-jsonl-chunk").toString
    val originals = Seq.tabulate(23)(i => s"""{"n":$i,"msg":"event number $i"}""")
    JsonPipeline.route(spark, originals.toDF("json"), "json", dir)
    val outDir = Files.createTempDirectory("graft-jsonl-chunk-out").toString
    val manifest = graft.search.JsonExtract.run(spark, dir, outDir, chunkSize = 10L)

    // manifest covers [0, 23) contiguously, in order, at the chunk size
    assert(manifest.map { case (_, first, last) => (first, last) } ==
      Seq((0L, 10L), (10L, 20L), (20L, 23L)))
    // each chunk file holds exactly its manifest's records, in order;
    // concatenation in manifest order reproduces the original JSONL
    val back = manifest.flatMap { case (path, first, last) =>
      val lines = scala.io.Source.fromFile(path).getLines().toSeq
      assert(lines.length == (last - first).toInt, s"chunk $path line count")
      lines
    }
    assert(back == originals)
    // staging remnants cleaned: only the chunk files remain
    assert(new java.io.File(outDir).listFiles().map(_.getName).sorted.toSeq ==
      manifest.map(m => new java.io.File(m._1).getName).sorted)
  }
}
