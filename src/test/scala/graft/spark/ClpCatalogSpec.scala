package graft.spark

import org.apache.spark.sql.functions._

import graft.pipeline.ClpCatalog
import graft.search.ClpSearch

/** Fleet catalog ([[graft.pipeline.ClpCatalog]]): one archive per time
  * slice plus a metadata row, plan-time archive pruning from the catalog
  * alone, and cross-archive union search equal to a single-archive run over
  * the same corpus. */
class ClpCatalogSpec extends SparkSpecBase {

  private val base = 1704067200000L
  private def ts(sec: Long) = new java.sql.Timestamp(base + sec * 1000)

  // 400 synthetic turns across 4 contiguous 100 s slices
  private lazy val turns = {
    graft.functions.ClpFunctions.register(spark)
    spark.range(400).select(
      concat(lit("conv-"), (col("id") % 20).cast("string")).as("conv_id"),
      (col("id") / 20).cast("int").as("turn_idx"),
      lit("user").as("role"),
      concat(lit("event num "), col("id").cast("string"),
        lit(" code=c"), (col("id") % 3).cast("string")).as("text"),
      lit("tool").as("tool"),
      timestamp_millis(lit(base) + col("id") * 1000L).as("ts"))
  }

  private lazy val catalogDir = {
    val out = java.nio.file.Files.createTempDirectory("graft-cat-spec").toString
    ClpCatalog.ingest(spark, turns, floor(col("turn_idx") / 5), out)
    out
  }

  test("ingest writes one archive per slice and an exact catalog") {
    val cat = graft.pipeline.LakeTable.read(spark, s"$catalogDir/catalog").collect()
    assert(cat.length == 4)
    assert(cat.map(_.getAs[Long]("n_messages")).sum == 400)
    // archive 1 owns exactly [100 s, 200 s)
    val a1 = cat.find(_.getAs[String]("archive_id") == "arch_1").get
    assert(a1.getAs[java.sql.Timestamp]("begin_ts") == ts(100))
    assert(a1.getAs[java.sql.Timestamp]("end_ts") == ts(199))
  }

  test("the catalog prunes archives before any archive dir is opened") {
    assert(ClpCatalog.admissibleArchives(spark, catalogDir,
      Some(ts(110)), Some(ts(250))) == Seq("arch_1", "arch_2"))
    assert(ClpCatalog.admissibleArchives(spark, catalogDir,
      Some(ts(1000)), None).isEmpty)
    assert(ClpCatalog.search(spark, catalogDir, "* code=c1*",
      tsLo = Some(ts(1000))).count() == 0)
  }

  test("an empty corpus writes an empty catalog and search answers zero rows") {
    val out = java.nio.file.Files.createTempDirectory("graft-cat-empty").toString
    ClpCatalog.ingest(spark, turns.limit(0), floor(col("turn_idx") / 5), out)
    assert(graft.pipeline.LakeTable.read(spark, s"$out/catalog").count() == 0)
    assert(ClpCatalog.search(spark, out, "*").count() == 0)
  }

  test("null slice values and null ts bounds neither crash nor lose rows") {
    // two turns with a null ts: the slice expression evaluates to null, and
    // the resulting archive has null catalog bounds
    val out = java.nio.file.Files.createTempDirectory("graft-cat-null").toString
    val withNulls = turns.limit(20).unionByName(
      turns.limit(2).withColumn("ts", lit(null).cast("timestamp")))
    ClpCatalog.ingest(spark, withNulls,
      date_trunc("minute", col("ts")).cast("string"), out)
    val cat = graft.pipeline.LakeTable.read(spark, s"$out/catalog").collect()
    assert(cat.map(_.getAs[Long]("n_messages")).sum == 22)
    // the null-slice archive exists and its bounds are null
    val nullArch = cat.find(r => r.isNullAt(r.fieldIndex("begin_ts")))
    assert(nullArch.isDefined, s"no null-bounds archive in ${cat.toSeq}")
    // a time-bounded search must not NPE, and the null-bounds archive stays
    // admissible (its rows can't be pruned by a time index it doesn't have)
    assert(ClpCatalog.admissibleArchives(spark, out, Some(ts(0)), Some(ts(5)))
      .contains(nullArch.get.getAs[String]("archive_id")))
    assert(ClpCatalog.search(spark, out, "* code=c1*", tsLo = Some(ts(0))).count() >= 0)
  }

  test("registration is snapshot-versioned: search pins the fleet as-of a snapshot") {
    catalogDir // force: 1 empty commit + 4 appendEntry commits = snapshots 1..5
    assert(graft.pipeline.LakeTable.snapshots(spark, s"$catalogDir/catalog") ==
      Seq(1L, 2L, 3L, 4L, 5L))
    // as-of snapshot 3, only the first two archives were registered — an
    // unbounded search sees exactly their rows, though all 4 are durable
    assert(ClpCatalog.admissibleArchives(spark, catalogDir, None, None,
      asOf = Some(3L)) == Seq("arch_0", "arch_1"))
    assert(ClpCatalog.search(spark, catalogDir, "*", asOf = Some(3L)).count() == 200)
    assert(ClpCatalog.search(spark, catalogDir, "*").count() == 400)
    // a crashed registration (data staged, never committed) is invisible
    spark.range(1).selectExpr("'ghost' AS archive_id",
        "CAST(NULL AS timestamp) AS begin_ts", "CAST(NULL AS timestamp) AS end_ts",
        "CAST(99 AS long) AS n_messages")
      .write.parquet(s"$catalogDir/catalog/data/dead-reg")
    assert(!ClpCatalog.entries(spark, catalogDir).exists(_._1 == "ghost"))
  }

  test("retention sweep retires aged archives, spares null-bounds, resumes a crash") {
    val out = java.nio.file.Files.createTempDirectory("graft-cat-retire").toString
    // 4 timed slices + 2 null-ts turns (a null-bounds archive) = 5 archives
    val withNulls = turns.unionByName(
      turns.limit(2).withColumn("ts", lit(null).cast("timestamp"))
        .withColumn("turn_idx", col("turn_idx") + 1000))
    ClpCatalog.ingest(spark, withNulls,
      when(col("ts").isNull, lit("unts"))
        .otherwise(floor(col("turn_idx") / 5).cast("string")), out)
    assert(ClpCatalog.entries(spark, out).length == 5)
    val preSnapshots = graft.pipeline.LakeTable.snapshots(spark, s"$out/catalog")

    // horizon at 250 s: arch_0 [0,100) and arch_1 [100,200) are fully older;
    // arch_2 ends at 299 and survives; the null-bounds archive is NEVER aged
    val retired = ClpCatalog.retire(spark, out, ts(250))
    assert(retired == Seq("arch_0", "arch_1"))
    assert(ClpCatalog.entries(spark, out).map(_._1).sorted.toSeq ==
      Seq("arch_2", "arch_3", "arch_unts"))
    val fs = new org.apache.hadoop.fs.Path(out)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    assert(!fs.exists(new org.apache.hadoop.fs.Path(s"$out/archives/arch_0")))
    assert(fs.exists(new org.apache.hadoop.fs.Path(s"$out/archives/arch_2")))
    // search still answers over the survivors; retired rows are gone
    assert(ClpCatalog.search(spark, out, "*").count() == 202)
    // time travel to the pre-retire snapshot still LISTS the retired ids
    // (retention bounds time travel; opening them would fail)
    assert(ClpCatalog.entries(spark, out, asOf = preSnapshots.lastOption)
      .map(_._1).contains("arch_0"))
    // idempotent: nothing left past the horizon
    assert(ClpCatalog.retire(spark, out, ts(250)).isEmpty)

    // crashed sweep: candidates persisted + catalog committed, dirs NOT yet
    // deleted (died between steps 3 and 4) — the next sweep heals
    val keep = graft.pipeline.LakeTable.read(spark, s"$out/catalog")
      .filter(col("archive_id") =!= "arch_2")
    val cand = new org.apache.hadoop.fs.Path(s"$out/_retention_candidates")
    val os = fs.create(cand, true); os.write("arch_2".getBytes("UTF-8")); os.close()
    graft.pipeline.LakeTable.overwrite(spark, s"$out/catalog", keep)
    assert(ClpCatalog.retire(spark, out, ts(-1)).isEmpty) // heal-only sweep
    assert(!fs.exists(new org.apache.hadoop.fs.Path(s"$out/archives/arch_2")))
    assert(!fs.exists(cand))

    // crashed BEFORE the commit: candidate still registered — data survives
    val os2 = fs.create(cand, true); os2.write("arch_3".getBytes("UTF-8")); os2.close()
    assert(ClpCatalog.retire(spark, out, ts(-1)).isEmpty)
    assert(fs.exists(new org.apache.hadoop.fs.Path(s"$out/archives/arch_3")))
    assert(ClpCatalog.search(spark, out, "*").count() == 102)

    // cascade: expire catalog history down to the newest snapshot
    ClpCatalog.retire(spark, out, ts(-1), expireCatalogSnapshots = Some(1))
    assert(graft.pipeline.LakeTable.snapshots(spark, s"$out/catalog").length == 1)
  }

  // corpus with a slice-specific dictionary token ("tag0".."tag3") so the
  // archives differ in dictionary CONTENT, which the shared-vocabulary
  // `turns` corpus cannot express (same 3 code tokens everywhere)
  private lazy val bloomDir = {
    val out = java.nio.file.Files.createTempDirectory("graft-cat-bloom").toString
    val tagged = turns.withColumn("text",
      concat(col("text"), lit(" tag"), floor(col("turn_idx") / 5).cast("string"),
        lit(" end")))
    ClpCatalog.ingest(spark, tagged, floor(col("turn_idx") / 5), out)
    out
  }

  test("dict-bloom fleet pruning: a token query opens only matching archives") {
    val all = Seq("arch_0", "arch_1", "arch_2", "arch_3")
    // ts-only admissibility sees all 4; the bloom cuts to the one archive
    // whose dictionary can contain the exact token
    assert(ClpCatalog.admissibleArchives(spark, bloomDir, None, None).sorted == all)
    assert(ClpCatalog.admissibleArchivesFor(spark, bloomDir, "* tag2 *",
      caseSensitive = true, None, None) == Seq("arch_2"))
    // the pruned search still answers exactly (100 turns carry tag2)
    assert(ClpCatalog.search(spark, bloomDir, "* tag2 *").count() == 100)
    // the prune decision is observable: 4 catalog entries, 1 admitted — and
    // the search stamped it into the Spark job description (lineage)
    assert(ClpCatalog.lastPruneStats.contains(ClpCatalog.PruneStats(4, 1)))
    assert(ClpCatalog.lastPruneStats.get.ratio == 0.75)
    assert(spark.sparkContext.getLocalProperty("spark.job.description")
      .contains("1/4 archives admitted"))
    // a token in no archive prunes the whole fleet — zero archives open
    assert(ClpCatalog.admissibleArchivesFor(spark, bloomDir, "* tag9 *",
      caseSensitive = true, None, None).isEmpty)
    assert(ClpCatalog.search(spark, bloomDir, "* tag9 *").count() == 0)
    // shared tokens admit everything (c1 is in every archive's dictionary)
    assert(ClpCatalog.admissibleArchivesFor(spark, bloomDir, "* code=c1 *",
      caseSensitive = true, None, None).sorted == all)
    // numeric tokens are encoded vars, never dictionary probes — no pruning
    assert(ClpCatalog.admissibleArchivesFor(spark, bloomDir, "* 250 *",
      caseSensitive = true, None, None).sorted == all)
    // a Bloom cannot answer case-insensitive lookups — sound fallback: admit
    assert(ClpCatalog.admissibleArchivesFor(spark, bloomDir, "* TAG2 *",
      caseSensitive = false, None, None).sorted == all)
    // bloom ∩ ts composes: tag2 in [0 s, 150 s] intersects nothing
    assert(ClpCatalog.admissibleArchivesFor(spark, bloomDir, "* tag2 *",
      caseSensitive = true, Some(ts(0)), Some(ts(150))).isEmpty)
  }

  test("dict-bloom soundness: no false negative on any real dictionary token") {
    val cat = graft.pipeline.LakeTable.read(spark, s"$bloomDir/catalog")
      .select("archive_id", "dict_bloom").collect()
      .map(r => r.getString(0) -> r.getSeq[Long](1).toArray).toMap
    cat.keys.foreach { id =>
      val toks = spark.read.parquet(s"$bloomDir/archives/$id/var_dict")
        .select("value").collect().map(_.getString(0))
      assert(toks.nonEmpty)
      toks.foreach { t =>
        assert(graft.pipeline.DictBloom.mightContain(cat(id), t),
          s"bloom false negative for '$t' in $id")
      }
    }
  }

  test("bloom-prune fuzzer: pruned fleet search ≡ exhaustive search, 24 query shapes") {
    val rnd = new scala.util.Random(11)
    val words = Seq("tag0", "tag1", "tag2", "tag3", "c0", "c1", "c2",
      "num", "event", "end", "42", "250")
    val queries = Seq(
      "* tag0 *", "* tag3 *", "* tag5 *", "* c2 *", "* num * tag1 *",
      "*tag2*", "* c1 * tag2 *", "* 42 *", "* zz9qq *", "* tag2 end*",
      "* code=c0 * tag3 *", "tag1*") ++
      (1 to 12).map { _ =>
        val w1 = words(rnd.nextInt(words.size))
        if (rnd.nextBoolean()) s"* $w1 *"
        else s"* $w1 * ${words(rnd.nextInt(words.size))} *"
      }
    def run(df: org.apache.spark.sql.DataFrame) =
      df.select("conv_id", "turn_idx").collect()
        .map(r => (r.getString(0), r.getInt(1))).sorted.toSeq
    queries.foreach { q =>
      // exhaustive baseline: every registered archive, no token pruning
      val expected = ClpCatalog.admissibleArchives(spark, bloomDir, None, None)
        .map(id => new ClpSearch(spark, s"$bloomDir/archives/$id").search(q))
        .reduce(_ unionAll _)
      assert(run(ClpCatalog.search(spark, bloomDir, q)) == run(expected),
        s"bloom-pruned fleet search diverged on '$q'")
    }
    // case-insensitive: pruning must disable itself, results still equal
    Seq("* TAG2 *", "* C1 *").foreach { q =>
      val expected = ClpCatalog.admissibleArchives(spark, bloomDir, None, None)
        .map(id => new ClpSearch(spark, s"$bloomDir/archives/$id")
          .search(q, caseSensitive = false))
        .reduce(_ unionAll _)
      assert(run(ClpCatalog.search(spark, bloomDir, q, caseSensitive = false))
        == run(expected), s"case-insensitive fleet search diverged on '$q'")
    }
  }

  test("pre-bloom catalogs (no dict_bloom column) keep appending and searching") {
    val out = java.nio.file.Files.createTempDirectory("graft-cat-oldschema").toString
    graft.pipeline.ClpPipeline.run(spark, turns.limit(40),
      graft.pipeline.ClpPipeline.Config(s"$out/archives/arch_old",
        maxSinks = 4, saltParts = 4))
    // a catalog created before the summary existed: 4-column schema
    val oldEmpty = spark.range(0).selectExpr("'' AS archive_id",
      "CAST(NULL AS timestamp) AS begin_ts", "CAST(NULL AS timestamp) AS end_ts",
      "CAST(0 AS long) AS n_messages")
    graft.pipeline.LakeTable.overwrite(spark, s"$out/catalog", oldEmpty)
    ClpCatalog.appendEntry(spark, out, "arch_old") // must not drift the schema
    assert(!graft.pipeline.LakeTable.read(spark, s"$out/catalog")
      .columns.contains("dict_bloom"))
    // token pruning degrades to ts-only admissibility; search still answers
    assert(ClpCatalog.admissibleArchivesFor(spark, out, "* code=c1*",
      caseSensitive = true, None, None) == Seq("arch_old"))
    assert(ClpCatalog.search(spark, out, "* code=c1*").count() > 0)
    // a JSON archive registers through the same gate: no `columns` column
    // appears, and with no leaf summary the archive is never column-pruned
    graft.pipeline.JsonPipeline.route(spark,
      spark.range(4).select(col("id"), lit("{\"k\":1}").as("json")), "json",
      s"$out/archives/arch_json",
      options = graft.pipeline.JsonPipeline.Options(orderCol = Some("id")))
    ClpCatalog.appendJsonEntry(spark, out, "arch_json")
    assert(!graft.pipeline.LakeTable.read(spark, s"$out/catalog")
      .columns.contains("columns"))
    assert(ClpCatalog.admissibleArchivesForKql(spark, out, "nope: 1", None, None)
      == Seq("arch_old", "arch_json"))
  }

  test("cross-archive union search equals one archive over the whole corpus") {
    val single = java.nio.file.Files.createTempDirectory("graft-cat-one").toString
    graft.pipeline.ClpPipeline.run(spark, turns,
      graft.pipeline.ClpPipeline.Config(single, maxSinks = 8, saltParts = 8))
    val expect = new ClpSearch(spark, single)
      .search("* code=c1*", tsLo = Some(ts(50)), tsHi = Some(ts(350)))
      .select("conv_id", "turn_idx").collect().map(r => (r.getString(0), r.getInt(1))).sorted
    val got = ClpCatalog.search(spark, catalogDir, "* code=c1*",
        tsLo = Some(ts(50)), tsHi = Some(ts(350)))
      .select("conv_id", "turn_idx").collect().map(r => (r.getString(0), r.getInt(1))).sorted
    assert(got.nonEmpty && got.sameElements(expect))
  }

  test("tag-scoped search admits only archives carrying a requested tag") {
    val out = java.nio.file.Files.createTempDirectory("graft-cat-tags").toString
    ClpCatalog.ingest(spark, turns, floor(col("turn_idx") / 5), out,
      tagsFor = sl => Seq("all", if (sl.toInt < 2) "prod" else "dev"))
    // tag prune decides from catalog metadata alone
    assert(ClpCatalog.admissibleArchivesFor(spark, out, "*",
      caseSensitive = true, None, None, tags = Some(Seq("prod")))
      == Seq("arch_0", "arch_1"))
    // any-of semantics: two tags admit their union of archives
    assert(ClpCatalog.admissibleArchivesFor(spark, out, "*",
      caseSensitive = true, None, None, tags = Some(Seq("dev", "prod")))
      .size == 4)
    // tags compose with the ts window (intersection)
    assert(ClpCatalog.admissibleArchivesFor(spark, out, "*",
      caseSensitive = true, Some(ts(110)), None, tags = Some(Seq("prod")))
      == Seq("arch_1"))
    // the scoped search answers exactly the tagged archives' rows
    assert(ClpCatalog.search(spark, out, "*", tags = Some(Seq("dev")))
      .count() == 200)
    assert(ClpCatalog.searchBatched(spark, out, "*", batchSize = 1,
      tags = Some(Seq("dev"))).count() == 200)
    // an unknown tag, or a tag filter over an untagged catalog, admits
    // nothing — same as the reference's archive_tags join
    assert(ClpCatalog.search(spark, out, "*", tags = Some(Seq("nope"))).count() == 0)
    assert(ClpCatalog.search(spark, catalogDir, "*",
      tags = Some(Seq("prod"))).count() == 0)
  }

  test("json fleet: column-set prune opens only archives carrying the queried column") {
    val out = java.nio.file.Files.createTempDirectory("graft-cat-cols").toString
    // two slices with disjoint MPT shapes: arch_0 has {a, k}, arch_1 has
    // {b: {lang}, k} — the reference's column index (IndexManager.cpp) lets
    // a fleet planner skip archives lacking a queried column entirely
    val jsonl = spark.range(20).select(col("id"),
      when(col("id") % 2 === 0,
        concat(lit("{\"a\":"), col("id").cast("string"), lit(",\"k\":1}")))
        .otherwise(lit("{\"b\":{\"lang\":\"en\"},\"k\":2}")).as("json"))
    ClpCatalog.ingestJson(spark, jsonl, "json", col("id") % 2, out,
      options = graft.pipeline.JsonPipeline.Options(orderCol = Some("id")))
    def adm(q: String) =
      ClpCatalog.admissibleArchivesForKql(spark, out, q, None, None)
    assert(adm("a: 4") == Seq("arch_0"))
    assert(adm("*.lang: en") == Seq("arch_1"))
    assert(adm("k: *").size == 2)
    // NOT on an absent column is still a definitive miss (SchemaMatch folds
    // it to false, negated or not) — same decision the per-archive compile
    // makes, lifted to catalog metadata
    assert(adm("NOT a: 4") == Seq("arch_0"))
    assert(adm("a: 4 AND b.lang: en").isEmpty)
    assert(adm("a: 4 OR b.lang: en").size == 2)
    // the pruned fleet search answers exactly the matching archive's rows
    val res = ClpCatalog.searchKql(spark, out, "*.lang: en", Seq("k"))
    assert(res.count() == 10 && res.collect().forall(_.getLong(0) == 2L))
    // the KQL prune decision is recorded and stamped into the job
    // description exactly like the text search's
    assert(ClpCatalog.lastPruneStats.contains(ClpCatalog.PruneStats(2, 1)))
    assert(spark.sparkContext.getLocalProperty("spark.job.description")
      .contains("1/2 archives admitted"))
    // conservatism fuzz: pruned fleet ≡ exhaustive per-archive union on
    // every query shape, absent columns and negations included
    for (q <- Seq("a: *", "k > 1", "NOT k: 2", "b.lang: e*", "nope: 1",
        "a < 6 OR k: 2", "NOT (a: 2 OR b.lang: en)")) {
      val pruned = ClpCatalog.searchKql(spark, out, q, Seq("k")).count()
      val exhaustive = Seq("arch_0", "arch_1").map(id =>
        graft.pipeline.JsonPipeline
          .kqlSearch(spark, s"$out/archives/$id", q, Seq("k")).count()).sum
      assert(pruned == exhaustive, s"query: $q")
    }
    // a null summary (text archives, pre-columns catalogs) never column-prunes
    assert(ClpCatalog.admissibleArchivesForKql(spark, catalogDir, "nope: 1",
      None, None).size == 4)
    // an all-pruned query answers an EMPTY frame typed from catalog
    // metadata alone (no archive dir opens): same column types as a
    // non-empty window of the same projection — unionable, appendable —
    // instead of an all-string fabrication
    val empty = ClpCatalog.searchKql(spark, out, "nope: 1", Seq("k"))
    val full = ClpCatalog.searchKql(spark, out, "k: *", Seq("k"))
    assert(empty.count() == 0 && empty.schema == full.schema,
      s"${empty.schema} vs ${full.schema}")
    // wildcard projections keep their expansion (the legacy fallback
    // dropped them): the widened union of every archive's record columns
    val emptyStar = ClpCatalog.searchKql(spark, out, "nope: 1", Seq("*"))
    val fullStar = ClpCatalog.searchKql(spark, out, "k: *", Seq("*"))
    assert(emptyStar.count() == 0)
    assert(emptyStar.schema.fields.map(f => f.name -> f.dataType).toMap ==
      fullStar.schema.fields.map(f => f.name -> f.dataType).toMap,
      s"${emptyStar.schema} vs ${fullStar.schema}")
  }

  test("json fleet: the stored column summary is the leaf summary of every search frame") {
    val out = java.nio.file.Files.createTempDirectory("graft-cat-frames").toString
    val jsonl = spark.range(6).select(col("id"),
      when(col("id") % 2 === 0,
        concat(lit("{\"a\":"), col("id").cast("string"), lit("}")))
        .otherwise(lit("{\"b\":{\"lang\":\"en\"},\"k\":2.5}")).as("json"))
    // one archive with a `$` metadata column, one registered without
    ClpCatalog.ingestJson(spark, jsonl, "json", lit("meta"), out,
      metadata = Seq("$_filename" -> concat(lit("f"), col("id").cast("string"))))
    graft.pipeline.JsonPipeline.route(spark, jsonl, "json", s"$out/archives/arch_plain")
    ClpCatalog.appendJsonEntry(spark, out, "arch_plain")
    val stored = graft.pipeline.LakeTable.read(spark, s"$out/catalog")
      .select("archive_id", "columns").collect()
      .map(r => r.getString(0) -> r.getSeq[String](1)).toMap
    assert(stored.keySet == Set("arch_meta", "arch_plain"))
    for ((id, columns) <- stored) {
      val engine = new graft.search.JsonSearch(spark, s"$out/archives/$id")
      assert(engine.catalog.size == 2)
      val frames = engine.catalog.map(engine.frameSchema)
      assert(columns == frames.flatMap(graft.search.KqlCompiler.leafSummary).distinct.sorted,
        s"archive $id")
      assert(columns.contains("log_event_idx:bigint") && columns.contains("b.lang:string"))
      assert(columns.contains("$_filename:string") == (id == "arch_meta"), s"archive $id: $columns")
    }
  }

  test("dataset namespaces: registry, scoped search, unknown dataset refused") {
    val root = java.nio.file.Files.createTempDirectory("graft-cat-ds").toString
    assert(ClpCatalog.datasets(spark, root).isEmpty)
    val webDir = ClpCatalog.addDataset(spark, root, "web")
    ClpCatalog.addDataset(spark, root, "web") // idempotent
    val dbDir = ClpCatalog.addDataset(spark, root, "db")
    assert(ClpCatalog.datasets(spark, root) == Seq("db", "web"))
    ClpCatalog.ingest(spark, turns.filter(col("turn_idx") < 10),
      floor(col("turn_idx") / 5), webDir)
    ClpCatalog.ingest(spark, turns.filter(col("turn_idx") >= 10),
      floor(col("turn_idx") / 5), dbDir)
    assert(ClpCatalog.searchDataset(spark, root, "web", "*").count() == 200)
    assert(ClpCatalog.searchDataset(spark, root, "db", "*").count() == 200)
    val e = intercept[IllegalArgumentException](
      ClpCatalog.searchDataset(spark, root, "nope", "*"))
    assert(e.getMessage.contains("unknown dataset"))
    // names become path segments: traversal shapes are rejected up front
    intercept[IllegalArgumentException](
      ClpCatalog.addDataset(spark, root, "../escape"))
    // one dataset's retention sweep never touches another's archives
    ClpCatalog.retire(spark, webDir, ts(10000))
    assert(ClpCatalog.datasets(spark, root) == Seq("db", "web"))
    assert(ClpCatalog.searchDataset(spark, root, "web", "*").count() == 0)
    assert(ClpCatalog.searchDataset(spark, root, "db", "*").count() == 200)
  }

  test("search refuses past maxFanout with a loud narrow-or-batch error") {
    val e = intercept[IllegalArgumentException](
      ClpCatalog.search(spark, catalogDir, "*", maxFanout = 2))
    assert(e.getMessage.contains("narrow the query"))
    assert(e.getMessage.contains("searchBatched"))
    // the same query under the batched entry answers the full fleet
    assert(ClpCatalog.searchBatched(spark, catalogDir, "*", batchSize = 2)
      .count() == 400)
  }

  test("searchBatched ≡ search at every batch size, including an empty fleet") {
    def key(df: org.apache.spark.sql.DataFrame) =
      df.select("conv_id", "turn_idx").collect()
        .map(r => (r.getString(0), r.getInt(1))).sorted.toSeq
    val expect = key(ClpCatalog.search(spark, catalogDir, "* code=c1*",
      tsLo = Some(ts(50)), tsHi = Some(ts(350))))
    for (b <- Seq(1, 2, 3, 64)) {
      val got = key(ClpCatalog.searchBatched(spark, catalogDir, "* code=c1*",
        tsLo = Some(ts(50)), tsHi = Some(ts(350)), batchSize = b))
      assert(got.nonEmpty && got == expect, s"batchSize=$b")
    }
    // all archives pruned → empty frame with the result schema, not an error
    val none = ClpCatalog.searchBatched(spark, catalogDir, "* code=c1*",
      tsLo = Some(ts(5000)))
    assert(none.count() == 0)
    assert(none.columns.toSeq == Seq("conv_id", "turn_idx", "ts", "text"))
  }
}
