package graft.pipeline

import org.apache.spark.broadcast.Broadcast
import org.apache.spark.sql.{Column, DataFrame, Dataset, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StructField, StructType}

import graft.functions.ClpFunctions.{clp_merge_vars, clp_resolve, dict_id}

/**
 * Every dictionary decision of the engine, shared by the batch pipeline,
 * streaming ingest and search. CLP keeps an archive's two dictionaries
 * bounded and memory-resident (streaming_archive/writer/Archive.cpp
 * target_data_size_of_dicts); graft re-expresses that as two modes, chosen
 * by ONE rule ([[driverMode]]):
 *
 *   driver maps   the logtype and var dictionaries TOGETHER hold at most the
 *                 threshold's entries: values sort on the driver and rows
 *                 resolve through broadcast hash maps inside codegen'd
 *                 expressions
 *   distributed   above it nothing dictionary-sized lands on the driver: ids
 *                 come from a distributed sort, rows resolve through the
 *                 hot-head broadcast + shuffle-tail positional join
 *
 * Both modes assign the same dense rank-by-value ids ([[rankIds]]), so an
 * archive is identical whichever mode built it.
 */
object Dictionaries {

  /** Default size of the hot head in the distributed positional join. */
  val HotHeadSize: Int = 100000

  /** The mode rule: driver maps iff `entries`, the logtype and var
    * dictionary sizes SUMMED, is within `threshold` — driver mode holds both
    * maps, so a max would admit twice the budget. */
  def driverMode(entries: Long, threshold: Long): Boolean = entries <= threshold

  /** The mode rule over an archive's dictionary tables (parquet counts are
    * footer reads). */
  def driverMode(logtypeDict: DataFrame, varDict: DataFrame, threshold: Long): Boolean =
    driverMode(logtypeDict.count() + varDict.count(), threshold)

  /** Parsed rows (conv_id, turn_idx, role, tool, ts, n_bytes, logtype,
    * dict_vars, encoded_vars) resolve to these columns in either mode; `vars`
    * is the merged CLP-order var stream. */
  private val RowCols = Seq("conv_id", "turn_idx", "role", "tool", "ts", "n_bytes")
  private val Resolved = RowCols ++ Seq("logtype_id", "sink_id", "vars")

  sealed trait Mode
  /** Driver mode's encode-side broadcast maps: logtype → (id, sink), var → id. */
  final case class DriverMaps(
      logtypes: Broadcast[java.util.HashMap[String, (Long, Int)]],
      vars: Broadcast[java.util.HashMap[String, java.lang.Long]]) extends Mode {
    /** Resolves parsed rows with one codegen'd clp_resolve per row — a single
      * pass, no dictionary shuffle. */
    def resolve(parsed: DataFrame): DataFrame =
      parsed
        .withColumn("e", clp_resolve(col("logtype"), col("dict_vars"), col("encoded_vars"),
          logtypes, vars))
        .select(RowCols.map(col) ++ Seq(col("e.logtype_id").as("logtype_id"),
          col("e.sink_id").as("sink_id"), col("e.vars").as("vars")): _*)
  }
  case object Distributed extends Mode

  /** Builds the encode-side broadcast maps from (value, id, sink) logtype
    * rows and (value, id) var rows — presized java maps: hash probes without
    * an immutable-Map tree walk, and a fraction of its build and
    * serialization cost at millions of entries. */
  def driverMaps(spark: SparkSession, logtypes: Iterable[(String, Long, Int)],
                 vars: Iterable[(String, Long)]): DriverMaps = {
    val lt = new java.util.HashMap[String, (Long, Int)](logtypes.size * 2)
    logtypes.foreach { case (v, id, sink) => lt.put(v, (id, sink)) }
    val vm = new java.util.HashMap[String, java.lang.Long](vars.size * 2)
    vars.foreach { case (v, id) => vm.put(v, java.lang.Long.valueOf(id)) }
    DriverMaps(spark.sparkContext.broadcast(lt), spark.sparkContext.broadcast(vm))
  }

  /** The mode of an archive's written dictionaries; in driver mode the maps
    * are collected from (value, id, sink) and (value, id) rows. */
  def mode(logtypeDict: DataFrame, varDict: DataFrame, threshold: Long): Mode =
    if (!driverMode(logtypeDict, varDict, threshold)) Distributed
    else {
      val spark = logtypeDict.sparkSession
      import spark.implicits._
      driverMaps(spark,
        logtypeDict.select("logtype", "logtype_id", "sink_id").as[(String, Long, Int)].collect(),
        varDict.select("value", "var_id").as[(String, Long)].collect())
    }

  /** The order of every id assignment: Unicode code point order, which is
    * the byte order of UTF-8 and so the order Spark sorts strings in.
    * `String.compareTo` compares UTF-16 units, which puts U+E000..U+FFFF
    * after supplementary characters, so a driver sort with it would number
    * such values differently from the distributed sort. */
  val ValueOrder: Ordering[String] = new Ordering[String] {
    // surrogates (supplementary code points) above every other BMP unit
    private def rank(c: Char): Int =
      if (c < 0xD800) c else if (c >= 0xE000) c - 0x800 else c + 0x2000
    def compare(a: String, b: String): Int = {
      val n = math.min(a.length, b.length)
      var i = 0
      while (i < n && a.charAt(i) == b.charAt(i)) i += 1
      if (i == n) a.length - b.length else rank(a.charAt(i)) - rank(b.charAt(i))
    }
  }

  /** Dense rank-by-value ids from `base`, driver version: entries sorted by
    * value, numbered base, base+1, … Unlike first-seen order the ids are
    * reproducible under any parallelism. */
  def rankIds[A](entries: Array[A], base: Long)(value: A => String): Array[(Long, A)] =
    entries.sorted(Ordering.by(value)(ValueOrder))
      .iterator.zipWithIndex.map { case (e, i) => (base + i, e) }.toArray

  /** Dense rank-by-value ids from `base`, distributed version: a range-
    * partitioned sort on the first column (the value) plus zipWithIndex
    * partition offsets; `idCol` is prepended to `entries`' columns. */
  def rankIds(entries: DataFrame, idCol: String, base: Long): DataFrame = {
    val withIds = entries.orderBy(entries.columns.head).rdd.zipWithIndex()
      .map { case (r, i) => Row.fromSeq((base + i) +: r.toSeq) }
    entries.sparkSession.createDataFrame(withIds,
      StructType(StructField(idCol, LongType, nullable = false) +: entries.schema.fields))
  }

  /** Hottest first: count descending, ties by value. */
  private val Hottest: Ordering[(Long, String, Long)] =
    Ordering.by[(Long, String, Long), Long](-_._3).orElseBy(_._2)(ValueOrder)

  /** GLT sink assignment (components/core/src/glt/streaming_archive/writer/
    * GLTSegment.cpp): the `maxSinks - 1` hottest of the (id, logtype, cnt)
    * candidates get dedicated sinks 1.., the long tail shares the combined
    * sink 0. */
  private def sinks(candidates: Array[(Long, String, Long)], maxSinks: Int): Map[Long, Int] =
    candidates.sorted(Hottest).take(maxSinks - 1)
      .zipWithIndex.map { case ((id, _, _), i) => id -> (i + 1) }.toMap

  private def withSinks(logtypes: DataFrame, sinkOf: Map[Long, Int]): DataFrame =
    logtypes.withColumn("sink_id",
      coalesce(try_element_at(typedLit(sinkOf), col("logtype_id")), lit(0)))

  /** An archive's dictionaries: `logtypes` (logtype_id, logtype, cnt,
    * sink_id) and `vars` (var_id, value, cnt), computed from counts that stay
    * persisted until [[release]]. */
  final class Built(val logtypes: DataFrame, val vars: DataFrame, val mode: Mode,
                    counts: Dataset[_]) {
    def release(): Unit = counts.unpersist()
  }

  /**
   * Builds both dictionaries of `parsed` from ONE scan: (kind, value) rows
   * for the logtype and var streams go through one salted two-phase count
   * (a hot value spreads over `saltParts` reducers before the merge), whose
   * size picks the mode BEFORE anything is collected.
   *
   * Driver mode collects the counts once: that one array yields the ids, the
   * sinks and the encode maps, and the dictionary tables take their ids from
   * the same broadcast maps on the executors — identical to the maps by
   * construction, and no dictionary-sized row set is serialized from the
   * driver. Distributed mode numbers each dictionary with the distributed
   * [[rankIds]] and narrows the sink candidates with a distributed top-k.
   */
  def build(parsed: DataFrame, saltParts: Int, maxSinks: Int, threshold: Long): Built = {
    val spark = parsed.sparkSession
    import spark.implicits._
    // union of two column-pruned scans (no struct materialization): the
    // logtype pass stays a cheap single-column read, the var pass the usual
    // explode — both feed ONE salted aggregation
    val kv = parsed.select(lit(0).as("kind"), col("logtype").as("value"))
      .unionByName(parsed.select(lit(1).as("kind"), explode(col("dict_vars")).as("value")))
    val counts = kv
      .withColumn("_salt", pmod(xxhash64(col("value"), spark_partition_id()), lit(saltParts)))
      .groupBy(col("_salt"), col("kind"), col("value")).agg(count(lit(1)).as("cnt"))
      .groupBy(col("kind"), col("value")).agg(sum(col("cnt")).as("cnt"))
      .as[(Int, String, Long)]
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    def entries(kind: Int, valueCol: String): DataFrame =
      counts.filter(col("kind") === kind).select(col("value").as(valueCol), col("cnt"))

    if (driverMode(counts.count(), threshold)) {
      val all = counts.collect()
      def ranked(kind: Int): Array[(Long, String, Long)] =
        rankIds(all.filter(_._1 == kind), 0L)(_._2).map { case (id, (_, v, c)) => (id, v, c) }
      val lts = ranked(0)
      val vars = ranked(1)
      val sinkOf = sinks(lts, maxSinks)
      val maps = driverMaps(spark,
        lts.view.map { case (id, v, _) => (v, id, sinkOf.getOrElse(id, 0)) },
        vars.view.map { case (id, v, _) => (v, id) })
      val ltDict = entries(0, "logtype")
        .select(dict_id(col("logtype"), maps.logtypes).as("logtype_id"), col("logtype"), col("cnt"))
      val varDict = entries(1, "value")
        .select(dict_id(col("value"), maps.vars).as("var_id"), col("value"), col("cnt"))
      new Built(withSinks(ltDict, sinkOf), varDict, maps, counts)
    } else {
      val ltDict = rankIds(entries(0, "logtype"), "logtype_id", 0L)
      val top = ltDict.as[(Long, String, Long)].rdd.takeOrdered(math.max(maxSinks - 1, 0))(Hottest)
      new Built(withSinks(ltDict, sinks(top, maxSinks)),
        rankIds(entries(1, "value"), "var_id", 0L), Distributed, counts)
    }
  }

  /**
   * Distributed mode's resolution of parsed rows to the same columns as
   * [[DriverMaps.resolve]]:
   *   1. logtype → (id, sink) by a shuffle join on a narrow projection (AQE's
   *      skew join splits the hot templates);
   *   2. dict vars → ids by the [[joinPositional]] hot-head + tail join;
   *   3. ONE wide join of the rows against that narrow resolution — the only
   *      shuffle that moves full rows.
   * At 10^8-10^9 distinct variables (UUIDs, IPs) no single map fits
   * anywhere, so resolution itself becomes a join.
   */
  def resolveDistributed(parsed: DataFrame, logtypeDict: DataFrame, varDict: DataFrame,
                         hotHeadSize: Int): DataFrame = {
    val key = Seq("conv_id", "turn_idx")
    val ltResolved = parsed.select(col("conv_id"), col("turn_idx"), col("logtype"))
      .join(logtypeDict.select("logtype", "logtype_id", "sink_id"), Seq("logtype"))
      .drop("logtype")
    val varIds = joinPositional(parsed, key, col("dict_vars"), varDict,
      from = "value", to = "var_id", out = "dict_var_ids", hotHeadSize)
    // rows with no dict vars come out of the left join with a NULL id array
    parsed.join(ltResolved.join(varIds, key, "left"), key) // the single wide shuffle
      .withColumn("vars", clp_merge_vars(col("logtype"), col("encoded_vars"),
        coalesce(col("dict_var_ids"), typedLit(Array.empty[Long]))))
      .select(Resolved.map(col): _*)
  }

  /**
   * The hot-head broadcast + shuffle-tail positional join: maps every
   * element of the array column `elems` of `rows` through the var dictionary
   * (var_id, value, cnt) from column `from` to column `to`, and regroups the
   * results by position into the array column `out` next to the `key`
   * columns. The `hotHeadSize` most frequent entries — the Zipf head that
   * covers most references — resolve through a broadcast join; only the
   * misses shuffle against the full dictionary. Rows whose array is empty
   * are absent from the result, so callers left-join it back on `key`.
   * Encoding joins value → var_id, decoding var_id → value.
   */
  def joinPositional(rows: DataFrame, key: Seq[String], elems: Column, varDict: DataFrame,
                     from: String, to: String, out: String, hotHeadSize: Int): DataFrame = {
    val keyCols = key.map(col)
    val exploded = rows.select(keyCols :+ posexplode(elems).as(Seq("pos", from)): _*)
    val hot = varDict.orderBy(desc("cnt"), asc("value")).limit(math.max(hotHeadSize, 0))
      .select(col(from), col(to).as("_hot"))
    val hotJoined = exploded.join(broadcast(hot), Seq(from), "left")
    val hits = hotJoined.filter(col("_hot").isNotNull)
      .select(keyCols ++ Seq(col("pos"), col("_hot").as(to)): _*)
    val misses = hotJoined.filter(col("_hot").isNull)
      .select(keyCols ++ Seq(col("pos"), col(from)): _*)
      .join(varDict.select(from, to), Seq(from))
      .select(keyCols ++ Seq(col("pos"), col(to)): _*)
    hits.unionByName(misses)
      .groupBy(keyCols: _*)
      .agg(sort_array(collect_list(struct(col("pos"), col(to)))).as("_pv"))
      .select(keyCols :+ transform(col("_pv"), p => p.getField(to)).as(out): _*)
  }
}
