package graft.pipeline

import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._

/** Multi-archive catalog — the reference's archive metadata database
  * (`components/clp-py-utils/clp_py_utils/clp_metadata_db_utils.py:34-52`:
  * `archives(begin_timestamp, end_timestamp, uncompressed_size, …)`, and the
  * compression scheduler that opens one archive per job) re-expressed as a
  * tiny snapshot-versioned [[LakeTable]] next to the archive directories it
  * indexes: each archive registers itself with an atomic commit, and
  * searches can pin the fleet as-of a catalog snapshot.
  *
  * A fleet holds text archives ([[ClpPipeline]]) or JSON archives
  * ([[JsonPipeline]]), one per slice value, plus one catalog row per archive:
  * its timestamp bounds and message count (rolled up from the archive's own
  * metadata tables), its user tags, and one summary column of its kind —
  * the dictionary Bloom filter `dict_bloom` ([[DictBloom]]) for text
  * archives, the MPT leaf set `columns` for JSON archives (the reference's
  * column index, `clp_s/indexer/IndexManager.cpp`). Search reads the catalog
  * FIRST — O(#archives) metadata, never data — and opens only the archives
  * the one admission rule admits: [begin, end] overlaps the query window,
  * a requested tag is carried, and the kind's summary can match the query
  * ("evaluate the timestamp index before decompressing anything",
  * `clp_s/search/EvaluateTimestampIndex.cpp`, lifted from sinks within an
  * archive to archives within a fleet). At fleet scale (10^4-10^5 archives
  * on object storage) a narrow query opens a handful of archive
  * directories; the catalog itself stays kilobytes.
  *
  * Every fleet decision — the slice-ingest loop, registration, admission,
  * the fan-out bound — is written once below; an archive kind supplies
  * only its route, its summary column and its per-archive search.
  */
object ClpCatalog {

  /** Routes `turns` into one text archive per distinct `sliceCol` value
    * under `outDir/archives/arch_<slice>`, then writes `outDir/catalog`.
    *
    * The per-slice loop is the TEST harness shape: the distinct slice list
    * is archive-count-sized (catalog-tiny, never row-sized). In production
    * each archive is written by its own ingest job as data arrives (the
    * reference's scheduler dispatches one compression job per archive) and
    * [[appendEntry]] registers it — there is no fleet-wide loop anywhere.
    */
  def ingest(spark: SparkSession, turns: DataFrame, sliceCol: Column,
             outDir: String, maxSinks: Int = 8, saltParts: Int = 8,
             tagsFor: String => Seq[String] = _ => Nil): Unit =
    ingestSlices(spark, turns, sliceCol, outDir, tagsFor, Text) { (rows, dir) =>
      ClpPipeline.run(spark, rows,
        ClpPipeline.Config(dir, maxSinks = maxSinks, saltParts = saltParts))
    }

  /** Routes `jsonl` into one JSON archive per distinct `sliceCol` value, then
    * writes `outDir/catalog` — the same loop as [[ingest]]. */
  def ingestJson(spark: SparkSession, jsonl: DataFrame, jsonCol: String,
                 sliceCol: Column, outDir: String,
                 metadata: Seq[(String, Column)] = Nil,
                 options: JsonPipeline.Options = JsonPipeline.Options(),
                 tagsFor: String => Seq[String] = _ => Nil): Unit =
    ingestSlices(spark, jsonl, sliceCol, outDir, tagsFor, Json) { (rows, dir) =>
      JsonPipeline.route(spark, rows, jsonCol, dir, metadata, options)
    }

  private def ingestSlices(spark: SparkSession, rows: DataFrame, sliceCol: Column,
                           outDir: String, tagsFor: String => Seq[String],
                           kind: Kind)(route: (DataFrame, String) => Unit): Unit = {
    // a null slice value (e.g. a null ts through a date-truncation slice)
    // must not NPE the sort or silently match no rows in the === filter
    // below — it routes to its own named archive, losslessly
    val sliced = rows.withColumn("_slice",
      coalesce(sliceCol.cast("string"), lit("null")))
    val slices = sliced.select("_slice").distinct()
      .collect().map(_.getString(0)).sorted
    slices.foreach(sl => route(sliced.filter(col("_slice") === sl).drop("_slice"),
      s"$outDir/archives/arch_$sl"))
    // snapshot 1 is the empty catalog (creates the table + schema); each
    // archive then registers itself — an empty corpus still commits a valid
    // catalog, matching the batch pipeline's empty-input contract (search
    // over it answers zero rows, not an error)
    LakeTable.overwrite(spark, s"$outDir/catalog", emptyCatalog(spark))
    slices.foreach(sl => register(spark, outDir, s"arch_$sl", tagsFor(sl), kind))
  }

  /** What registration needs from one archive kind: the archive's
    * (begin_ts, end_ts, n_messages) rolled up from its own metadata tables
    * (one row, no data scan), and its summary column with the value it
    * registers there. */
  private final case class Kind(rollup: (SparkSession, String) => DataFrame,
                                summaryCol: String,
                                summary: (SparkSession, String) => Column)

  private val Text = Kind(
    (spark, arch) => spark.read.parquet(s"$arch/sink_stats")
      .agg(min(col("min_ts")).as("begin_ts"), max(col("max_ts")).as("end_ts"),
        sum(col("n_rows")).cast("long").as("n_messages")),
    "dict_bloom",
    // an empty archive has no var_dict: no summary, never token-pruned
    (spark, arch) =>
      try typedLit(DictBloom.build(spark.read.parquet(s"$arch/var_dict"), "value").toSeq)
      catch { case _: org.apache.spark.sql.AnalysisException => lit(null) })

  private val Json = Kind(
    (spark, arch) => spark.read.parquet(s"$arch/schemas")
      .agg(timestamp_millis(min(col("min_ts"))).as("begin_ts"),
        timestamp_millis(max(col("max_ts"))).as("end_ts"),
        coalesce(sum(col("n_records")), lit(0L)).cast("long").as("n_messages")),
    "columns",
    (spark, arch) => typedLit(new graft.search.JsonSearch(spark, arch).leafSummary))

  /** Catalog columns after (archive_id, begin_ts, end_ts, n_messages), in
    * table order. Each arrived after the first catalogs were written, so a
    * registration writes one only where the committed catalog carries it. */
  private val OptionalCols =
    Seq("dict_bloom" -> "array<bigint>", "tags" -> "array<string>",
      "columns" -> "array<string>")

  /** The zero-row catalog frame that seeds a new fleet (snapshot 1, defines
    * the table schema). ONE definition — registration gates its optional
    * columns on what the committed catalog carries, so a literal drifting at
    * one ingest site would silently create catalogs locked out of the
    * corresponding prune forever. */
  def emptyCatalog(spark: SparkSession): DataFrame = spark.range(0).select(Seq(
    lit("").as("archive_id"), lit(null).cast("timestamp").as("begin_ts"),
    lit(null).cast("timestamp").as("end_ts"), lit(0L).as("n_messages")) ++
    OptionalCols.map { case (c, t) => lit(null).cast(t).as(c) }: _*)

  /** Register one finished text archive in the fleet catalog. The
    * registration is ATOMIC (a [[LakeTable]] append: a crashed registration
    * is invisible, rerun-safe) and the catalog is snapshot-versioned, so a
    * fleet search can pin the set of archives as-of a snapshot while ingest
    * keeps registering new ones. This is the production path (the
    * reference's scheduler registers each compression job's archive in the
    * metadata DB as it completes); [[ingest]]'s per-slice loop is the
    * test-harness shape. */
  def appendEntry(spark: SparkSession, outDir: String, archiveId: String,
                  tags: Seq[String] = Nil): Long =
    register(spark, outDir, archiveId, tags, Text)

  /** Register one finished JSON archive — [[appendEntry]] for JSON. */
  def appendJsonEntry(spark: SparkSession, outDir: String, archiveId: String,
                      tags: Seq[String] = Nil): Long =
    register(spark, outDir, archiveId, tags, Json)

  private def register(spark: SparkSession, outDir: String, archiveId: String,
                       tags: Seq[String], kind: Kind): Long = {
    val arch = s"$outDir/archives/$archiveId"
    // a catalog created before an optional column existed keeps appending
    // its own schema (the lake shim refuses silent drift); it just never
    // prunes by that summary / is never tag-addressable
    val catCols = LakeTable.read(spark, s"$outDir/catalog").columns.toSet
    val base = kind.rollup(spark, arch).withColumn("archive_id", lit(archiveId))
      .select("archive_id", "begin_ts", "end_ts", "n_messages")
    val entry = OptionalCols.filter(c => catCols(c._1)).foldLeft(base) {
      case (df, (c, t)) =>
        val v =
          if (c == kind.summaryCol) kind.summary(spark, arch)
          else if (c == "tags" && tags.nonEmpty) typedLit(tags)
          else lit(null) // no tags, or the other kind's summary (never prunes)
        df.withColumn(c, v.cast(t))
    }
    LakeTable.append(spark, s"$outDir/catalog", entry)
  }

  /** Catalog rows as (archive_id, begin, end) — the fleet timestamp index,
    * read at the committed snapshot (or `asOf` an older one). */
  def entries(spark: SparkSession, outDir: String, asOf: Option[Long] = None)
      : Array[(String, java.sql.Timestamp, java.sql.Timestamp)] =
    LakeTable.read(spark, s"$outDir/catalog", asOf)
      .select("archive_id", "begin_ts", "end_ts").collect()
      .map(r => (r.getString(0), r.getTimestamp(1), r.getTimestamp(2)))

  /** The one timestamp-window rule, at every level that keeps [min, max]
    * bounds: archives in a fleet (here), sinks in a text archive
    * ([[graft.search.ClpSearch]]) and schemas in a JSON archive
    * ([[graft.search.JsonSearch.kql]]). True iff [min, max] overlaps [lo, hi]
    * (inclusive; an absent side is unbounded). Missing bounds (no
    * timestamped row) cannot be placed in time and admit — except with
    * `pruneNullBounds` under a bounded window: clp-s then injects the
    * timestamp predicate into the survivors (AddTimestampConditions), which
    * no untimed row passes, so the JSON schema prune drops them up front. */
  private[graft] def tsOverlaps[T](min: Option[T], max: Option[T],
                                   lo: Option[T], hi: Option[T],
                                   pruneNullBounds: Boolean = false)(
                                   implicit ord: Ordering[T]): Boolean =
    (min, max) match {
      case (Some(mn), Some(mx)) => lo.forall(ord.lteq(_, mx)) && hi.forall(ord.gteq(_, mn))
      case _ => !(pruneNullBounds && (lo.isDefined || hi.isDefined))
    }

  /** The last fleet-prune decision: catalog size vs archives admitted —
    * the reference's scheduler logs the same numbers when it narrows the
    * archive list for a query (`query_scheduler.py:417-419` tag/time
    * filters). Every admission records it; [[search]], [[searchBatched]]
    * and [[searchKql]] stamp it into the Spark job description, so the
    * prune ratio rides the lineage of every job the search triggers (UI /
    * event logs); tests read it directly. */
  final case class PruneStats(total: Int, admissible: Int) {
    def pruned: Int = total - admissible
    def ratio: Double = if (total == 0) 0.0 else pruned.toDouble / total
    override def toString: String =
      f"$admissible/$total archives admitted (prune ratio $ratio%.3f)"
  }
  // thread-local, not a shared slot: concurrent searches in one JVM (an MCP
  // fleet server next to a background catalog search) would otherwise
  // overwrite each other between the prune decision and the job-description
  // stamp and misattribute the numbers
  private val lastPruneStatsTl = new ThreadLocal[Option[PruneStats]] {
    override def initialValue(): Option[PruneStats] = None
  }
  private[graft] def lastPruneStats: Option[PruneStats] = lastPruneStatsTl.get()

  /** Archive ids whose [begin, end] intersects [tsLo, tsHi] — decided from
    * the catalog alone, before any archive directory is opened. */
  def admissibleArchives(spark: SparkSession, outDir: String,
                         tsLo: Option[java.sql.Timestamp],
                         tsHi: Option[java.sql.Timestamp],
                         asOf: Option[Long] = None): Seq[String] =
    admit(spark, outDir, asOf, tsLo, tsHi, None, None)

  /** Archives a text query must open: the ts window, the tags and the
    * dictionary Bloom summary (see [[DictBloom.admits]]) — only a definitive
    * Bloom miss on a required exact dictionary token prunes. */
  def admissibleArchivesFor(spark: SparkSession, outDir: String, query: String,
                            caseSensitive: Boolean,
                            tsLo: Option[java.sql.Timestamp],
                            tsHi: Option[java.sql.Timestamp],
                            asOf: Option[Long] = None,
                            tags: Option[Seq[String]] = None): Seq[String] =
    admit(spark, outDir, asOf, tsLo, tsHi, tags, Some(Text.summaryCol -> ((r: Row, i: Int) =>
      DictBloom.admits(r.getSeq[Long](i).toArray, query, caseSensitive))))

  /** Archives a KQL query must open: the ts window, the tags and the
    * column-set summary ([[graft.search.KqlCompiler.couldMatchLeaves]]) —
    * only a definitive structural miss (a required filter whose pattern
    * resolves to no leaf under KqlCompiler's own namespace + wildcard path
    * matching) prunes. `tsLo`/`tsHi` are epoch millis, matching
    * [[graft.search.JsonSearch.kql]]. */
  def admissibleArchivesForKql(spark: SparkSession, outDir: String, kql: String,
                               tsLo: Option[Long], tsHi: Option[Long],
                               asOf: Option[Long] = None,
                               tags: Option[Seq[String]] = None): Seq[String] = {
    val ast = graft.search.Kql.parseOrThrow(kql)
    admit(spark, outDir, asOf, tsLo.map(new java.sql.Timestamp(_)),
      tsHi.map(new java.sql.Timestamp(_)), tags, Some(Json.summaryCol -> ((r: Row, i: Int) =>
        graft.search.KqlCompiler.couldMatchLeaves(ast, r.getSeq[String](i)))))
  }

  /** The one admission rule, decided from catalog metadata alone (no
    * archive directory opens for a pruned archive): an archive is admitted
    * iff its bounds overlap the window ([[tsOverlaps]]), it carries at least
    * one requested tag when `tags` is given, and its kind's `summary`
    * admits the query. The tag rule is the reference's scheduler filter
    * (`query_scheduler.py:417-419`: archive id IN archives tagged with ANY
    * requested tag) — an untagged archive, or any archive of a catalog
    * without tags, is EXCLUDED by a tag-scoped search. A null or absent
    * summary (the other kind's archive, a catalog older than the column, an
    * empty archive) never prunes. Records [[PruneStats]]. */
  private def admit(spark: SparkSession, outDir: String, asOf: Option[Long],
                    tsLo: Option[java.sql.Timestamp], tsHi: Option[java.sql.Timestamp],
                    tags: Option[Seq[String]],
                    summary: Option[(String, (Row, Int) => Boolean)]): Seq[String] = {
    val cat = LakeTable.read(spark, s"$outDir/catalog", asOf)
    def optional(c: String) = if (cat.columns.contains(c)) col(c) else lit(null)
    // (archive_id, begin_ts, end_ts, tags, summary): an absent column reads null
    val rows = cat.select(col("archive_id"), col("begin_ts"), col("end_ts"),
      optional("tags"), summary.fold(lit(null))(s => optional(s._1))).collect().toSeq
    val admitted = rows.collect {
      case r if tsOverlaps(Option(r.getTimestamp(1)), Option(r.getTimestamp(2)), tsLo, tsHi) &&
          tags.forall(req => !r.isNullAt(3) && r.getSeq[String](3).exists(req.contains)) &&
          (r.isNullAt(4) || summary.get._2(r, 4)) =>
        r.getString(0)
    }
    lastPruneStatsTl.set(Some(PruneStats(rows.size, admitted.size)))
    admitted
  }

  /** Fleet retention sweep — the reference's archive garbage collector
    * (`job_orchestration/garbage_collector/archive_garbage_collector.py:37-96`
    * and `docs/src/user-docs/guides-retention.md`): retire every archive
    * whose NEWEST event is older than `horizon`, metadata-first with a
    * durable deletion-candidates buffer so a crash anywhere resumes cleanly.
    *
    * Expiry rule (exactly the reference's `end_timestamp < %s AND
    * end_timestamp != 0` predicate): `end_ts` non-null and strictly before
    * `horizon`. Archives whose turns carry no timestamps have null bounds
    * and are NEVER age-retired — their age is unknowable, same as the
    * reference's `!= 0` guard.
    *
    * Crash-safety protocol (the reference's `DeletionCandidatesBuffer`
    * recovery file, re-ordered for an atomic catalog):
    *   1. heal: candidate ids from a previous crashed sweep that are NO
    *      LONGER in the committed catalog get their directories deleted
    *      (the previous sweep committed but died mid-delete); candidates
    *      still listed in the catalog are dropped (it died BEFORE the
    *      commit — their data is still live).
    *   2. persist the new candidate ids (tmp + rename);
    *   3. commit the pruned catalog (atomic [[LakeTable]] overwrite) — from
    *      this instant no new search routes to the retired archives;
    *   4. delete the retired archive directories;
    *   5. clear the buffer.
    * The heal step's membership test makes every interleaving safe: a
    * candidate is deletable iff the catalog no longer references it.
    *
    * Time travel: `asOf` reads of OLDER catalog snapshots still list retired
    * ids, but opening those archives fails once their dirs are gone —
    * retention bounds time travel, as on any lake. Pass
    * `expireCatalogSnapshots = Some(k)` to also drop all but the last `k`
    * catalog snapshots (cascades to [[LakeTable.expire]]).
    *
    * The horizon is the caller's policy knob: a deployment computes it as
    * `now - retention_period`, clamped by the oldest RUNNING query's start
    * time when a job table exists (the reference's
    * `_get_archive_safe_expiry_epoch`) or by the oldest pinned catalog
    * snapshot still in use.
    *
    * Returns the archive ids retired by THIS sweep (healed leftovers from a
    * crashed sweep are deleted but not re-reported — they were reported by
    * the sweep that committed them). */
  def retire(spark: SparkSession, outDir: String, horizon: java.sql.Timestamp,
             expireCatalogSnapshots: Option[Int] = None): Seq[String] = {
    val candidatesPath = new org.apache.hadoop.fs.Path(s"$outDir/_retention_candidates")
    val fs = candidatesPath.getFileSystem(spark.sparkContext.hadoopConfiguration)

    def archiveDir(id: String) = new org.apache.hadoop.fs.Path(s"$outDir/archives/$id")
    def deleteArchives(ids: Seq[String]): Unit =
      ids.foreach(id => fs.delete(archiveDir(id), true))
    def readCandidates(): Seq[String] =
      if (!fs.exists(candidatesPath)) Nil
      else {
        val in = fs.open(candidatesPath)
        try scala.io.Source.fromInputStream(in, "UTF-8").getLines()
          .map(_.trim).filter(_.nonEmpty).toList
        finally in.close()
      }
    def writeCandidates(ids: Seq[String]): Unit = {
      val tmp = new org.apache.hadoop.fs.Path(s"$outDir/_retention_candidates.tmp")
      val out = fs.create(tmp, true)
      try out.write(ids.mkString("\n").getBytes("UTF-8")) finally out.close()
      fs.delete(candidatesPath, false)
      require(fs.rename(tmp, candidatesPath), s"rename failed for $candidatesPath")
    }

    val registered = entries(spark, outDir).map(_._1).toSet

    // 1. heal a crashed previous sweep
    val leftover = readCandidates()
    if (leftover.nonEmpty) {
      deleteArchives(leftover.filterNot(registered.contains))
      fs.delete(candidatesPath, false)
    }

    // expiry scan over catalog metadata only (never data)
    val retired = entries(spark, outDir).collect {
      case (id, _, end) if end != null && end.before(horizon) => id
    }.toSeq.sorted
    if (retired.nonEmpty) {
      // 2. durable candidates; 3. atomic catalog commit; 4. delete; 5. clear
      writeCandidates(retired)
      val keep = LakeTable.read(spark, s"$outDir/catalog")
        .filter(!col("archive_id").isInCollection(retired))
      LakeTable.overwrite(spark, s"$outDir/catalog", keep)
      deleteArchives(retired)
      fs.delete(candidatesPath, false)
    }
    expireCatalogSnapshots.foreach(k =>
      LakeTable.expire(spark, s"$outDir/catalog", keepLast = k))
    retired
  }

  /** Cross-archive text search: catalog-pruned per-archive plans (timestamp
    * window ∩ tags ∩ dictionary-Bloom token summary), one union — each branch
    * runs the full encoded-domain lifecycle (dict probe → sink prune →
    * encoded match → decode → verify) inside its own archive.
    *
    * Fan-out is BOUNDED: each admissible archive contributes one plan
    * branch, so a match-all query over a 10^4-archive fleet would otherwise
    * hand Catalyst a 10^4-branch union — minutes of driver-side analysis
    * and a driver-memory-sized plan before any task runs. Past `maxFanout`
    * admissible archives this refuses loudly (narrow the query / window)
    * and points at [[searchBatched]], which runs the same search in bounded
    * per-archive-batch steps — the reference throttles identically: its
    * query scheduler dispatches bounded archive batches per task
    * (`job_orchestration/scheduler/query/query_scheduler.py:508-566`). */
  def search(spark: SparkSession, outDir: String, query: String,
             caseSensitive: Boolean = true,
             tsLo: Option[java.sql.Timestamp] = None,
             tsHi: Option[java.sql.Timestamp] = None,
             asOf: Option[Long] = None,
             maxFanout: Int = 256,
             tags: Option[Seq[String]] = None): DataFrame =
    fanOut(spark, s"ClpCatalog.search($query)",
      admissibleArchivesFor(spark, outDir, query, caseSensitive, tsLo, tsHi, asOf, tags),
      maxFanout, "a time range or more specific tokens, or use " +
        "ClpCatalog.searchBatched for a bounded-plan full-fleet scan")(
      graft.search.ClpSearch.emptyResults(spark), _.reduce(_ unionAll _))(
      textArchive(spark, outDir, query, caseSensitive, tsLo, tsHi))

  /** Fleet KQL search over JSON archives: one [[graft.search.JsonSearch.kql]] per
    * admissible archive (each with its own schema-pruned per-schema plans),
    * widened into one result by the same rule that widens schemas within an
    * archive ([[graft.search.JsonSearch.widen]]). Fan-out bounded exactly like
    * [[search]].
    *
    * An all-pruned query answers an empty frame typed from catalog metadata
    * alone (no archive dir opens): each archive's stored leaf summary
    * rebuilds its search-frame schema and `selectCols` resolve and widen as
    * on the real path, so the result stays union-compatible with a
    * non-empty window's. The universe is ALL cataloged archives; catalogs
    * without leaf summaries fall back to all-string `selectCols`. */
  def searchKql(spark: SparkSession, outDir: String, kql: String,
                selectCols: Seq[String],
                tsLo: Option[Long] = None, tsHi: Option[Long] = None,
                asOf: Option[Long] = None,
                maxFanout: Int = 256,
                tags: Option[Seq[String]] = None): DataFrame = {
    def fields(df: DataFrame) = df.schema.fields.toSeq.map(f => f.name -> f.dataType)
    def allPruned: DataFrame = {
      val cat = LakeTable.read(spark, s"$outDir/catalog", asOf)
      val summaries =
        if (!cat.columns.contains("columns")) Nil
        else cat.select("columns").collect().toSeq.collect {
          case r if !r.isNullAt(0) => graft.search.KqlCompiler.resolveProjection(
            graft.search.KqlCompiler.schemaFromLeafSummary(r.getSeq[String](0)),
            selectCols)
        }
      graft.search.JsonSearch.widen(spark, selectCols, summaries)
    }
    fanOut(spark, s"ClpCatalog.searchKql($kql)",
      admissibleArchivesForKql(spark, outDir, kql, tsLo, tsHi, asOf, tags),
      maxFanout, "a time range, tags, or more specific columns")(
      allPruned,
      parts => graft.search.JsonSearch.widen(spark, selectCols, parts.map(fields),
        parts.map(p => p -> fields(p))))(
      id => new graft.search.JsonSearch(spark, s"$outDir/archives/$id")
        .kql(kql, selectCols, tsLo, tsHi))
  }

  /** The search step every archive kind shares: stamp the prune decision
    * into the job description, refuse past `maxFanout`, then answer `empty`
    * or the `union` of the per-archive plans. */
  private def fanOut(spark: SparkSession, label: String, admitted: Seq[String],
                     maxFanout: Int, narrowHint: String)(
                     empty: => DataFrame, union: Seq[DataFrame] => DataFrame)(
                     perArchive: String => DataFrame): DataFrame = {
    stampPrune(spark, label)
    require(admitted.size <= maxFanout,
      s"query admits ${admitted.size} archives (> maxFanout=$maxFanout); " +
        s"narrow the query with $narrowHint")
    if (admitted.isEmpty) empty else union(parallelPlans(spark, admitted)(perArchive))
  }

  private def stampPrune(spark: SparkSession, label: String): Unit =
    lastPruneStats.foreach(st => spark.sparkContext.setJobDescription(s"$label: $st"))

  private def textArchive(spark: SparkSession, outDir: String, query: String,
                          caseSensitive: Boolean, tsLo: Option[java.sql.Timestamp],
                          tsHi: Option[java.sql.Timestamp])(id: String): DataFrame =
    new graft.search.ClpSearch(spark, s"$outDir/archives/$id")
      .search(query, caseSensitive, tsLo, tsHi)

  /** Builds per-archive plan branches CONCURRENTLY, preserving order. Plan
    * construction is the fleet search's measured fixed cost — each branch
    * runs a few independent driver-blocking dictionary/stats probe jobs
    * (~0.5 s/archive serial, `tools/FleetScaleProbe`), and Spark's scheduler
    * accepts jobs from multiple threads — so a bounded pool overlaps them;
    * this is the Spark analog of the reference dispatching per-archive
    * tasks to parallel workers (`query_scheduler.py:508-566`). Branch plans
    * and result contents are identical to the serial build ([[search]] /
    * [[searchBatched]] gates prove batched ≡ union ≡ oracle); the session
    * is pinned active on each pool thread so thread-local SQLConf reads
    * resolve to the session's conf, not defaults. */
  private[graft] def parallelPlans[A](spark: SparkSession, ids: Seq[String],
                                      width: Int = 8)(f: String => A): Seq[A] =
    if (ids.size <= 1) ids.map(f)
    else {
      import scala.concurrent.{Await, ExecutionContext, Future}
      val pool = java.util.concurrent.Executors.newFixedThreadPool(
        math.min(width, ids.size))
      implicit val ec: ExecutionContext = ExecutionContext.fromExecutorService(pool)
      try Await.result(
        Future.traverse(ids)(id =>
          Future(org.apache.spark.sql.GraftInternals.withActive(spark)(f(id)))),
        scala.concurrent.duration.Duration.Inf)
      finally pool.shutdown()
    }

  /** Full-fleet search with BOUNDED driver plans: admissible archives are
    * processed in fixed-size batches — each batch is one ≤`batchSize`-branch
    * union, executed and released before the next begins, its matches
    * appended to `resultDir` — so driver plan memory and Catalyst analysis
    * stay O(batchSize) no matter how many archives a match-all query
    * admits. This is the reference scheduler's bounded per-archive-batch
    * dispatch re-expressed (the batch loop is the job queue; the parquet
    * result dir is the results cache the reference streams batch results
    * into). Returns a reader over the accumulated results; `resultDir`
    * defaults to a fresh temp dir. */
  def searchBatched(spark: SparkSession, outDir: String, query: String,
                    caseSensitive: Boolean = true,
                    tsLo: Option[java.sql.Timestamp] = None,
                    tsHi: Option[java.sql.Timestamp] = None,
                    asOf: Option[Long] = None,
                    batchSize: Int = 64,
                    resultDir: Option[String] = None,
                    tags: Option[Seq[String]] = None): DataFrame = {
    require(batchSize > 0, s"batchSize must be positive: $batchSize")
    val dir = resultDir.getOrElse(
      java.nio.file.Files.createTempDirectory("graft-fleet-search").toString)
    val admissible =
      admissibleArchivesFor(spark, outDir, query, caseSensitive, tsLo, tsHi, asOf, tags)
    stampPrune(spark, s"ClpCatalog.searchBatched($query)")
    // seed the dir with the (possibly empty) result schema so an all-pruned
    // fleet still answers an empty frame, not a missing-path error
    graft.search.ClpSearch.emptyResults(spark)
      .write.mode("overwrite").parquet(dir)
    admissible.grouped(batchSize).foreach { batch =>
      parallelPlans(spark, batch)(textArchive(spark, outDir, query, caseSensitive, tsLo, tsHi))
        .reduce(_ unionAll _)
        .write.mode("append").parquet(dir)
    }
    spark.read.parquet(dir)
  }

  // ------------------------------------------------------------- datasets
  // The reference's dataset namespaces (clp_metadata_db_utils.py:127-181:
  // a `datasets` registry table plus a FULL per-dataset set of metadata
  // tables named `<prefix><dataset>_<suffix>`, archives stored under
  // `<storage>/<dataset>`): here a deployment ROOT holds a snapshot-
  // versioned `_datasets` registry and one complete, independent catalog
  // directory per dataset — ingest, tags, Bloom summaries, retention and
  // searches are all dataset-scoped, and one dataset's sweep can never
  // touch another's archives.

  private val DatasetNameRule = "^[A-Za-z0-9_-]{1,64}$".r

  /** Resolve a dataset's catalog directory under `root` (name validated —
    * the name becomes a path segment, so it must not traverse). */
  def datasetDir(root: String, name: String): String = {
    require(DatasetNameRule.matches(name),
      s"invalid dataset name '$name' (allowed: [A-Za-z0-9_-]{1,64})")
    s"$root/$name"
  }

  /** Register a dataset (idempotent) and answer its catalog directory —
    * the reference's `add_dataset` row + per-dataset table creation. */
  def addDataset(spark: SparkSession, root: String, name: String): String = {
    val dir = datasetDir(root, name)
    if (!datasets(spark, root).contains(name))
      LakeTable.append(spark, s"$root/_datasets",
        spark.range(1).select(lit(name).as("name")))
    dir
  }

  /** All registered dataset names — `fetch_existing_datasets`. */
  def datasets(spark: SparkSession, root: String): Seq[String] =
    LakeTable.snapshot(spark, s"$root/_datasets") match {
      case None => Nil
      case Some(_) => LakeTable.read(spark, s"$root/_datasets")
        .collect().map(_.getString(0)).toSeq.sorted
    }

  /** Dataset-scoped fleet search: refuses an unregistered dataset loudly
    * (the reference errors on a nonexistent dataset rather than answering
    * empty) and otherwise runs [[search]] inside that dataset's catalog. */
  def searchDataset(spark: SparkSession, root: String, dataset: String,
                    query: String, caseSensitive: Boolean = true,
                    tsLo: Option[java.sql.Timestamp] = None,
                    tsHi: Option[java.sql.Timestamp] = None,
                    asOf: Option[Long] = None,
                    maxFanout: Int = 256,
                    tags: Option[Seq[String]] = None): DataFrame = {
    val known = datasets(spark, root)
    require(known.contains(dataset),
      s"unknown dataset '$dataset' (registered: ${known.mkString(", ")})")
    search(spark, datasetDir(root, dataset), query, caseSensitive,
      tsLo, tsHi, asOf, maxFanout, tags)
  }
}
