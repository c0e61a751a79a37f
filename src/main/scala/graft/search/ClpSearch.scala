package graft.search

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.core.Wildcard
import graft.functions.ClpFunctions._
import graft.pipeline.{ClpCatalog, ClpPipeline, Dictionaries}

/**
 * Wildcard search over the routed tables — the `clg` lifecycle (SURVEY §3.1)
 * on Spark: compile → prune sinks/logtypes via the dictionaries → encoded-
 * domain filter (`isin` + subsequence match, no decompression) → decode only
 * candidate rows → final wildcard verify iff the subquery is imprecise →
 * limit / top-k / count / count-by-time.
 *
 * Under the driver-map threshold the dictionaries stay resident for the
 * engine's lifetime, as in the reference: both are collected once, their
 * inverse maps are broadcast once, and the decode resolves ids through
 * codegen'd lookups with no join, so a warm non-aggregating search is a
 * single Spark job. Above the threshold every dictionary touch is a job and
 * the decode joins. A routed `logtype_id` that the logtype dictionary lacks
 * fails the query with an error naming the id, in both modes.
 */
final class ClpSearch(spark: SparkSession, outDir: String,
                      driverDictThreshold: Long = ClpPipeline.DriverDictThreshold,
                      hotHeadSize: Int = Dictionaries.HotHeadSize) {

  lazy val routed: DataFrame = spark.read.parquet(s"$outDir/routed")
  private lazy val varDictDf: DataFrame = spark.read.parquet(s"$outDir/var_dict")
  private lazy val logtypeDictFullDf: DataFrame = spark.read.parquet(s"$outDir/logtype_dict")
  private lazy val logtypeDictDf: DataFrame = logtypeDictFullDf.select("logtype_id", "logtype")

  /** Driver-map mode by the pipeline's own rule, [[Dictionaries.driverMode]]:
    * both dictionaries together hold at most the threshold's entries. Above
    * it every dictionary touch (probe, scan, decode) runs as a Spark job and
    * nothing dict-sized is ever collected. Parquet counts are metadata-cheap. */
  private lazy val useDriverMaps: Boolean =
    Dictionaries.driverMode(logtypeDictFullDf, varDictDf, driverDictThreshold)

  private lazy val logtypeDict: Array[(Long, String, Int)] =
    logtypeDictFullDf
      .select("logtype_id", "logtype", "sink_id").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getInt(2)))
  private lazy val varDict: Map[String, Long] =
    varDictDf.select("value", "var_id").collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
  private lazy val varDictInv: Map[Long, String] = varDict.map(_.swap)

  /** Adds a byte-exact `text` column decoded from the dictionaries only. */
  def withDecodedText(rows: DataFrame): DataFrame =
    if (useDriverMaps) withDecodedTextBroadcast(rows)
    else withDecodedTextDistributed(rows)

  // broadcast ONCE per instance: a per-query broadcast would never be
  // reclaimed while its plan is referenced, growing by |dict| per search.
  // Both are built from the dictionaries the driver-map mode has already
  // collected, so opening them runs no job.
  private lazy val bcVarDictInv = spark.sparkContext.broadcast(varDictInv)
  private lazy val bcLogtypeDictInv =
    spark.sparkContext.broadcast(logtypeDict.iterator.map(e => e._1 -> e._2).toMap)

  private def withDecodedTextBroadcast(rows: DataFrame): DataFrame =
    // fully codegen'd, join-free decode: logtype_id resolves through the
    // broadcast logtype map (dict_value), ONE placeholder walk splits the
    // merged var stream (clp_split_vars), the broadcast inverse var dict
    // resolves its ids (dict_values) — a warm search is its scan job alone
    rows
      .withColumn("logtype", dict_value(col("logtype_id"), bcLogtypeDictInv, "logtype_dict"))
      .withColumn("_sv", clp_split_vars(col("logtype"), col("vars")))
      .withColumn("text", clp_decode(col("logtype"), col("_sv.enc_vars"),
        dict_values(col("_sv.dict_ids"), bcVarDictInv)))
      .drop("logtype", "_sv")

  /** Distributed decode (J3 as a real join): the logtype joins in (a left
    * join, so a routed id its dictionary lacks raises instead of dropping
    * the row), the dictionary ids of the var stream resolve to values
    * through [[Dictionaries.joinPositional]] (the same hot-head broadcast +
    * shuffle-tail join the pipeline encodes with), then decode. The only
    * wide shuffle is the final join back on the stable (conv_id, turn_idx)
    * key. */
  private def withDecodedTextDistributed(rows: DataFrame): DataFrame = {
    val key = Seq("conv_id", "turn_idx")
    // same codegen'd placeholder walk as the broadcast mode: one
    // clp_split_vars call yields the encoded subsequence AND the dictionary
    // ids; positions within the dict-id subsequence are enough to restore
    // order after the join, so nothing here needs an interpreted UDF
    val missing = graft.functions.ClpRuntime.missingIdMessage("logtype_dict", "%s")
    val withLt = rows
      .join(logtypeDictDf, Seq("logtype_id"), "left")
      .withColumn("logtype", when(col("logtype").isNull,
          raise_error(format_string(missing, col("logtype_id"))))
        .otherwise(col("logtype")))
      .withColumn("_sv", clp_split_vars(col("logtype"), col("vars")))
    val dictVals = Dictionaries.joinPositional(withLt, key, col("_sv.dict_ids"), varDictDf,
      from = "var_id", to = "value", out = "dict_vals", hotHeadSize)
    withLt.join(dictVals, key, "left") // the single wide shuffle
      .withColumn("text", clp_decode(col("logtype"), col("_sv.enc_vars"),
        coalesce(col("dict_vals"), array().cast("array<string>"))))
      .drop("logtype", "_sv", "dict_vals")
  }

  /** Wildcard probe of the var dictionary (Q4) — driver-resident like the
    * reference's in-memory dicts under the threshold, a filter job above it. */
  private def varDictScan(pattern: String, caseSensitive: Boolean): Seq[Long] =
    if (useDriverMaps)
      varDict.iterator.collect {
        case (value, id) if Wildcard.matches(value, pattern, caseSensitive) => id
      }.toSeq
    else
      varDictDf
        .filter(wildcard_match(col("value"), lit(pattern), lit(caseSensitive)))
        .select("var_id").limit(MaxIdSet + 1).collect().map(_.getLong(0)).toSeq

  /** Exact probe of the var dictionary (Q3). */
  private def varDictLookup(token: String): Option[Long] =
    if (useDriverMaps) varDict.get(token)
    else varDictDf.filter(col("value") === lit(token))
      .select("var_id").collect().headOption.map(_.getLong(0))

  /** Largest dictionary-ID set worth materializing into an `isin`/overlap
    * constraint; beyond it the constraint is dropped and the decoded-text
    * verify pass takes over (correctness preserved, bounded driver memory —
    * the no-driver-map contract holds even for `*e*`-style probes). */
  private val MaxIdSet = 10000

  /** Wildcard scan of the logtype dictionary (Q5) → (logtype_id, sink_id);
    * capped at MaxIdSet+1 rows — a longer result only ever means "too many
    * to enumerate", never a pruning decision. */
  private def logtypeScan(pattern: String, caseSensitive: Boolean): Array[(Long, Int)] =
    if (useDriverMaps)
      logtypeDict.collect {
        case (id, lt, sink) if Wildcard.matches(lt, pattern, caseSensitive) => (id, sink)
      }
    else
      logtypeDictFullDf
        .filter(wildcard_match(col("logtype"), lit(pattern), lit(caseSensitive)))
        .select("logtype_id", "sink_id").limit(MaxIdSet + 1).collect()
        .map(r => (r.getLong(0), r.getInt(1)))

  /** Per-sink [min_ts, max_ts] from the archive's stats table — the
    * timestamp index the reference consults to answer "no match" without
    * touching data (clp_s/search/EvaluateTimestampIndex.cpp:1-130,
    * TimestampEntry.hpp:92-93). One tiny row per sink; None when the archive
    * carries no stats (e.g. a streaming append dir). */
  private lazy val sinkTsBounds: Option[Array[(Int, java.sql.Timestamp, java.sql.Timestamp)]] =
    try Some(spark.read.parquet(s"$outDir/sink_stats")
      .select("sink_id", "min_ts", "max_ts").collect()
      .map(r => (r.getAs[Number]("sink_id").intValue, r.getTimestamp(1), r.getTimestamp(2))))
    catch { case _: org.apache.spark.sql.AnalysisException => None }

  /** Sinks whose ts range overlaps [tsLo, tsHi]; None = no index / no bound. */
  private def tsAdmissibleSinks(tsLo: Option[java.sql.Timestamp],
                                tsHi: Option[java.sql.Timestamp]): Option[Set[Int]] =
    if (tsLo.isEmpty && tsHi.isEmpty) None
    else sinkTsBounds.map(_.collect {
      // null bounds (a sink whose rows all lack timestamps) cannot be pruned
      // by time: always admissible — the per-row ts predicate still applies
      case (sid, mn, mx) if ClpCatalog.tsOverlaps(Option(mn), Option(mx), tsLo, tsHi) => sid
    }.toSet)

  /** Core: candidate rows for a query, in the encoded domain; `None` when the
    * dictionaries (or the timestamp index) prove no row can match
    * (WontMatch short-circuit). */
  def candidates(query: String, caseSensitive: Boolean = true,
                 tsLo: Option[java.sql.Timestamp] = None,
                 tsHi: Option[java.sql.Timestamp] = None): Option[(DataFrame, Boolean)] = {
    // R3 timestamp-index pruning first: an out-of-range query never compiles
    // a scan at all
    val admissible = tsAdmissibleSinks(tsLo, tsHi)
    if (admissible.exists(_.isEmpty)) return None
    WildcardQueryCompiler.compile(query, varDictLookup(_),
        varDictScan(_, caseSensitive), caseSensitive) match {
      case WildcardQueryCompiler.WontMatch => None
      case WildcardQueryCompiler.Plan(c) =>
        var df = routed
        admissible.foreach(s =>
          df = df.filter(col("sink_id").isin(s.toSeq.map(_.asInstanceOf[Any]): _*)))
        tsLo.foreach(lo => df = df.filter(col("ts") >= lit(lo)))
        tsHi.foreach(hi => df = df.filter(col("ts") <= lit(hi)))
        if (c.matchAll) return Some((df, false))
        // per subquery: Q5 wildcard scan of the logtype dictionary → logtype
        // set, then encoded-domain var constraints (R12: no decode yet); the
        // query is the OR of its subqueries, evaluated in one scan (J1).
        // Oversized ID sets (loose '*' subplans, broad probes) drop their
        // constraint and force the decoded-text verify instead — constraints
        // only ever PRUNE, so loosening is always sound.
        var forceVerify = false
        def varConds(sp: WildcardQueryCompiler.SubPlan): Column = {
          var cond = lit(true)
          if (sp.exactVars.nonEmpty)
            cond = cond && subseq_match(col("vars"), typedLit(sp.exactVars))
          sp.anyOfVarSets.foreach { ids =>
            if (ids.size > MaxIdSet) forceVerify = true
            else cond = cond && arrays_overlap(col("vars"), typedLit(ids))
          }
          cond
        }
        // (condition, Some(sink set) | None = all sinks)
        val compiled: Seq[(Column, Option[Seq[Int]])] = c.subplans.flatMap { sp =>
          if (Wildcard.cleanUp(sp.logtypePattern) == "*") {
            // loose subplan: matches every template — never enumerate the
            // dictionary for it (the distributed no-driver-map contract)
            forceVerify = true
            Some((varConds(sp), None))
          } else {
            val matched = logtypeScan(sp.logtypePattern, caseSensitive)
            if (matched.isEmpty) None
            else if (matched.length > MaxIdSet) {
              forceVerify = true
              Some((varConds(sp), None))
            } else
              Some((col("logtype_id").isin(matched.map(_._1.asInstanceOf[Any]): _*)
                && varConds(sp), Some(matched.map(_._2).toSeq)))
          }
        }
        if (compiled.isEmpty) return None
        // J2 segment-set intersection: dictionary-derived sinks ∩ ts-admissible
        // (skipped when any subplan may touch every sink)
        if (compiled.forall(_._2.isDefined)) {
          val sinks = compiled.flatMap(_._2.get).distinct
            .filter(s => admissible.forall(_.contains(s)))
          if (sinks.isEmpty) return None
          df = df.filter(col("sink_id").isin(sinks.map(_.asInstanceOf[Any]): _*))
        }
        df = df.filter(compiled.map(_._1).reduce(_ || _))
        Some((df, c.verifyText || forceVerify))
    }
  }

  /** Full search: decoded matching rows (conv_id, turn_idx, ts, text). */
  def search(query: String, caseSensitive: Boolean = true,
             tsLo: Option[java.sql.Timestamp] = None,
             tsHi: Option[java.sql.Timestamp] = None,
             limit: Option[Int] = None): DataFrame = {
    candidates(query, caseSensitive, tsLo, tsHi) match {
      case None => ClpSearch.emptyResults(spark)
      case Some((df, verify)) =>
        val cleaned = Wildcard.cleanUp(query)
        var out = withDecodedText(df)
        if (verify)
          out = out.filter(wildcard_match(col("text"), lit(cleaned), lit(caseSensitive)))
        out = out.select("conv_id", "turn_idx", "ts", "text")
        limit.map(out.limit).getOrElse(out)
    }
  }

  /** KQL over the decoded rows (the `clp-s s` surface on a text archive):
    * the predicate compiles against the routed columns plus `text`, and the
    * answer is (conv_id, turn_idx, ts, text) like [[search]]'s. */
  def kql(kql: String): DataFrame =
    KqlCompiler.filter(withDecodedText(routed), kql)
      .select("conv_id", "turn_idx", "ts", "text")

  /** Top-k latest results by timestamp — the results-cache semantics
    * (clo/OutputHandler.hpp:121-224) as TakeOrderedAndProject. */
  def topK(query: String, k: Int, caseSensitive: Boolean = true): DataFrame =
    search(query, caseSensitive)
      .orderBy(desc("ts"), col("conv_id"), col("turn_idx")).limit(k)

  /** Distributed count (A1) — partial/final agg is Spark-native. */
  def count(query: String, caseSensitive: Boolean = true): Long =
    search(query, caseSensitive).count()

  /** Count-by-time (A2) of a query's matches: see [[ClpSearch.bucketCounts]]. */
  def countByTime(query: String, bucketMs: Long, caseSensitive: Boolean = true): DataFrame =
    ClpSearch.bucketCounts(search(query, caseSensitive), bucketMs)
}

object ClpSearch {
  /** Per-bucket counts `(bucket, cnt)` of a results frame with a `ts`
    * column: bucket = floor(ts_ms / bucket_ms) * bucket_ms, ordered by
    * bucket. The result holds one row per bucket, so it is sorted in one
    * partition: a global `orderBy` would add a range-sampling job and a
    * second shuffle for a handful of rows. */
  def bucketCounts(results: DataFrame, bucketMs: Long): DataFrame =
    results
      .withColumn("bucket",
        (floor(unix_millis(col("ts")) / lit(bucketMs)) * lit(bucketMs)))
      .groupBy("bucket")
      .agg(count(lit(1)).as("cnt"))
      .coalesce(1)
      .sortWithinPartitions("bucket")

  /** The search-result schema with zero rows — the WontMatch answer, shared
    * by every layer that can prove emptiness before compiling a scan. */
  def emptyResults(spark: SparkSession): DataFrame =
    spark.emptyDataFrame
      .withColumn("conv_id", lit("")).withColumn("turn_idx", lit(0))
      .withColumn("ts", lit(null).cast("timestamp")).withColumn("text", lit(""))
      .limit(0).select("conv_id", "turn_idx", "ts", "text")
}
