package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

import graft.Dedup

/**
 * Online near-duplicate filtering of a document stream — the dedup twin of
 * [[StreamingPipeline]]'s dictionary growth: a continuously-ingesting corpus
 * (crawl snapshots, transcript firehose) must drop each incoming document
 * that near-duplicates anything ALREADY SEEN, without ever rescanning the
 * accumulated corpus text.
 *
 * State is a banded-MinHash signature store, exactly the batch family
 * ([[Dedup.minhashLshPairs]]) at production widths: per batch the incoming
 * docs compute their n-fn signatures in one codegen'd pass, their band keys
 * join the store's band keys on narrow (bucket, band, key) — cost scales
 * with the COLLIDING slice of the store, not the corpus — and candidates are
 * verified by signature-estimated Jaccard (matching-component fraction, the
 * standard online estimator: the store keeps 8-byte signatures, never
 * shingle sets, so verification needs no text re-read). A doc is dropped iff
 * a verified match exists in an earlier batch (store) or earlier in its own
 * batch (smaller doc_id). With globally-unique increasing ids this equals
 * the one-shot batch pass over the concatenated input — asserted in
 * `StreamingDedupSpec`.
 *
 * Exactly-once state under foreachBatch's at-least-once replay: every write
 * lands in a per-batch subdirectory (`…/batch_<id>`, overwrite mode) that
 * readers IGNORE until the batch marker commits — a crashed batch leaves
 * only invisible files and its replay overwrites them, so neither the store
 * nor the kept output can double-count (same manifest-gated visibility rule
 * as [[graft.pipeline.LakeTable]]).
 *
 * Docs too short to shingle (<3 tokens) pass through unfiltered — MinHash is
 * undefined on an empty shingle set; they belong to the exact-dedup path
 * (the same contract as the batch family).
 *
 * At 100 TB the store's band table is the only growing state and it is
 * parquet partitioned by `bucket` = hash(key) % `keyBuckets`: executors join
 * against it shuffle-free per bucket, and [[compactStore]] periodically
 * consolidates the accumulated per-batch deltas (marker-gated like every
 * other commit) so the read path never unions an unbounded dir list.
 */
final class StreamingDedup(spark: SparkSession, storeDir: String,
                           nFns: Int = 128, bandRows: Int = 2,
                           jMin: Double = 0.5, keyBuckets: Int = 64,
                           sigsOf: Option[org.apache.spark.sql.Column =>
                             org.apache.spark.sql.Column] = None) {
  require(nFns % bandRows == 0, "nFns must be a multiple of bandRows")
  private val nBands = nFns / bandRows
  private val (fa, fb) = Dedup.minhashFamily(nFns)
  /** shingle-array → array<long> of nFns signatures; the default is the
    * codegen'd production family, overridable with a cross-engine (mdHash)
    * family so a DuckDB oracle can recompute the whole run. */
  private val sigCol: org.apache.spark.sql.Column => org.apache.spark.sql.Column =
    sigsOf.getOrElse(sh =>
      graft.functions.ClpFunctions.minhash_sigs(sh, fa, fb, 1000033L))

  private val bandsPath = s"$storeDir/bands"
  private val sigsPath = s"$storeDir/sigs"
  private val keptPath = s"$storeDir/kept"

  // all store/marker IO goes through the Hadoop FS of the storeDir URI, so
  // the state machine works unchanged on HDFS/S3A — java.io.File would
  // silently see an empty store there (no markers, no cross-batch dedup)
  private def hPath(s: String) = new org.apache.hadoop.fs.Path(s)
  private lazy val fs = hPath(storeDir)
    .getFileSystem(spark.sparkContext.hadoopConfiguration)

  private def markedBatches: Seq[Long] = {
    val d = hPath(s"$storeDir/_batches")
    if (!fs.exists(d)) Seq.empty
    else fs.listStatus(d).toSeq.map(_.getPath.getName)
      // ignore stray non-marker entries (editor temp files, .nfs ghosts)
      .filter(n => n.nonEmpty && n.forall(_.isDigit)).map(_.toLong).sorted
  }

  /** True iff the delta directory exists AND holds at least one data file —
    * an all-short-docs or all-dropped batch legitimately commits an empty
    * delta (only _SUCCESS inside), which a parquet read cannot infer a
    * schema from and must skip. */
  private def hasData(dir: String): Boolean = {
    val p = hPath(dir)
    fs.exists(p) && fs.listStatus(p).exists(st =>
      st.isFile && st.getPath.getName.startsWith("part-") ||
        st.isDirectory && fs.listStatus(st.getPath)
          .exists(_.getPath.getName.startsWith("part-")))
  }

  /** Largest committed compaction watermark: batches 0..w are consolidated
    * into `<base>/compacted_<w>` dirs (see [[compactStore]]). */
  private def compactedUpTo: Option[Long] = {
    val d = hPath(s"$storeDir/_compactions")
    if (!fs.exists(d)) None
    else fs.listStatus(d).toSeq.map(_.getPath.getName)
      .filter(n => n.nonEmpty && n.forall(_.isDigit)).map(_.toLong)
      .sorted.lastOption
  }

  /** Union of the COMMITTED state under `base`: the newest committed
    * compaction (if any) plus the per-batch deltas after its watermark —
    * uncommitted (markerless) directories are invisible by construction.
    * `maxBatch` bounds the deltas considered; [[compactStore]] passes its
    * watermark snapshot so a batch committing concurrently mid-compaction
    * cannot be folded in AND read as a delta (it would double-count). */
  private def readMarked(base: String,
                         maxBatch: Long = Long.MaxValue): Option[DataFrame] = {
    val w = compactedUpTo
    val dirs = (w.map(u => s"$base/compacted_$u").toSeq ++
      markedBatches.filter(b => w.forall(b > _) && b <= maxBatch)
        .map(b => s"$base/batch_$b"))
      .filter(hasData)
    // per-dir reads unioned: each delta is its own partitioned root, so a
    // multi-path read would fail partition inference across batch dirs;
    // compactStore bounds the union width
    if (dirs.isEmpty) None
    else Some(dirs.map(spark.read.parquet(_)).reduce(_ unionByName _))
  }

  /** Consolidates all committed per-batch store deltas into one directory
    * per state table (the maintenance a long-running stream needs: without
    * it, a year of 30 s batches makes every processBatch union 10^6 delta
    * dirs). Readers are unaffected throughout — the consolidated dirs are
    * invisible until the compaction marker commits, a crash mid-way leaves
    * only invisible files, and every table's read is pinned to the same
    * watermark snapshot, so a batch committing concurrently is left as a
    * delta, never folded in. Row preservation is audited per table from
    * parquet footers BEFORE the marker commits (the [[graft.pipeline
    * .LakeTable.compact]] contract) — a lossy rewrite can never become the
    * canonical store. Each run rewrites the full accumulated state, so run
    * it at a cadence where an O(store) rewrite amortizes (daily, not
    * per-batch); size-tiered segments à la LakeTable.compact are the
    * upgrade path if rewrite bandwidth ever dominates. Superseded dirs are
    * reclaimed by [[expireStore]]. No-op (returns false) when nothing new
    * has committed since the last compaction. */
  def compactStore(): Boolean = markedBatches.lastOption match {
    case None => false
    case Some(upTo) if compactedUpTo.contains(upTo) => false
    case Some(upTo) =>
      Seq(bandsPath -> Seq("bucket"), sigsPath -> Seq.empty[String],
          keptPath -> Seq.empty[String], s"$storeDir/metrics" -> Seq.empty[String])
        .foreach { case (base, parts) =>
          readMarked(base, maxBatch = upTo).foreach { df =>
            val expected = df.count()
            val dest = s"$base/compacted_$upTo"
            val w = if (parts.isEmpty) df.write
                    else df.write.partitionBy(parts: _*)
            w.mode("overwrite").parquet(dest)
            val actual =
              if (hasData(dest)) spark.read.parquet(dest).count() else 0L
            require(actual == expected,
              s"compaction row mismatch in $dest: $actual != $expected")
          }
        }
      val m = hPath(s"$storeDir/_compactions/$upTo")
      fs.mkdirs(m.getParent)
      fs.create(m, true).close()
      true
  }

  /** Reclaims store state superseded by the newest committed compaction:
    * per-batch delta dirs and markers at or below the watermark, and older
    * compacted_* dirs — bounding both disk use and the per-read marker
    * listing.
    *
    * The grace window is ENFORCED, not advisory: a reader whose plan
    * resolved the superseded paths before the compaction committed (a
    * readKept/readMetrics union, or an in-flight processBatch join) would
    * fail on FileNotFound if the sweep ran immediately, so nothing is
    * deleted until the newest compaction marker is at least `graceMs` old —
    * the same rule as [[graft.pipeline.LakeTable]]'s orphan-heal grace.
    * Pass `graceMs = 0` only when no concurrent reader can exist (tests,
    * single-threaded maintenance). A too-early call is a silent no-op: the
    * sweep is retried on the next maintenance tick anyway. */
  def expireStore(graceMs: Long = StreamingDedup.ExpireGraceMs): Unit =
      compactedUpTo.foreach { w =>
    val markerAge = System.currentTimeMillis() -
      fs.getFileStatus(hPath(s"$storeDir/_compactions/$w")).getModificationTime
    if (markerAge < graceMs) return
    val bases =
      Seq(bandsPath, sigsPath, keptPath, s"$storeDir/metrics")
    bases.foreach { base =>
      markedBatches.filter(_ <= w).foreach { b =>
        fs.delete(hPath(s"$base/batch_$b"), true)
      }
      val d = hPath(base)
      if (fs.exists(d)) fs.listStatus(d).foreach { st =>
        val n = st.getPath.getName
        if (n.startsWith("compacted_") &&
            n.stripPrefix("compacted_").forall(_.isDigit) &&
            n.stripPrefix("compacted_").toLong < w)
          fs.delete(st.getPath, true)
      }
    }
    markedBatches.filter(_ <= w).foreach { b =>
      fs.delete(hPath(s"$storeDir/_batches/$b"), false)
    }
    val cd = hPath(s"$storeDir/_compactions")
    if (fs.exists(cd)) fs.listStatus(cd).foreach { st =>
      val n = st.getPath.getName
      if (n.forall(_.isDigit) && n.toLong < w) fs.delete(st.getPath, false)
    }
  }

  /** (doc_id, sigs) for every shingleable incoming doc. */
  private def signatures(docs: DataFrame): DataFrame =
    docs.select(col("doc_id").cast("long").as("doc_id"),
        array_distinct(graft.Dedup.shingles(split(col("text"), " "))).as("sh"))
      .filter(size(col("sh")) > 0)
      .withColumn("sigs", sigCol(col("sh")))
      .drop("sh")

  /** Narrow (bucket, band, key, doc_id) band-key stream. */
  private def banded(sigs: DataFrame): DataFrame =
    sigs.select(col("doc_id"),
        posexplode(transform(sequence(lit(0), lit(nBands - 1)), bnd =>
          xxhash64(bnd, slice(col("sigs"), bnd * bandRows + 1, lit(bandRows)))))
          .as(Seq("band", "key")))
      .withColumn("bucket", pmod(xxhash64(col("key")), lit(keyBuckets)).cast("int"))

  /** Signature-estimated Jaccard: fraction of matching components. */
  private def estJaccard(a: org.apache.spark.sql.Column,
                         b: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    aggregate(zip_with(a, b, (x, y) => when(x === y, 1).otherwise(0)),
      lit(0), (acc, v) => acc + v).cast("double") / lit(nFns.toDouble)

  /** Filters one micro-batch of (doc_id, text, …) rows against everything
    * seen so far, commits the batch's survivors and store delta atomically
    * (marker-last), and is a no-op on replayed batch ids. */
  def processBatch(docs: DataFrame, batchId: Long): Unit = {
    val marker = hPath(s"$storeDir/_batches/$batchId")
    if (fs.exists(marker)) return
    // an id at or below the compaction watermark is a replay of a batch the
    // compaction already consolidated (foreachBatch ids are strictly
    // increasing, so watermark w implies every id <= w committed — its
    // marker may have been reclaimed by expireStore): same no-op as the
    // marker check. Direct-API callers must use increasing ids — a FRESH
    // batch reusing a low id would be skipped here, not silently hidden.
    if (compactedUpTo.exists(batchId <= _)) return
    val sigs = signatures(docs).cache()
    val bnd = banded(sigs).cache()
    val emptyPairs = spark.range(0)
      .select(col("id").as("new_id"), col("id").as("old_id"))

    val fromStore = readMarked(bandsPath).fold(emptyPairs)(sb =>
      bnd.join(sb.select(col("bucket"), col("band"), col("key"),
          col("doc_id").as("old_id")), Seq("bucket", "band", "key"))
        .select(col("doc_id").as("new_id"), col("old_id")))
    val inBatch = bnd
      .select(col("bucket"), col("band"), col("key"), col("doc_id").as("old_id"))
      .join(bnd.select(col("bucket"), col("band"), col("key"),
        col("doc_id").as("new_id")), Seq("bucket", "band", "key"))
      .filter(col("old_id") < col("new_id"))
      .select("new_id", "old_id")
    // pair-dedup on the NARROW id keys before the signature re-join — the
    // band join can emit the same pair once per colliding band
    val cands = fromStore.unionByName(inBatch).distinct()

    val sigLookup = readMarked(sigsPath).fold(sigs)(_.unionByName(sigs))
    val dropped = cands
      .join(sigLookup.select(col("doc_id").as("old_id"), col("sigs").as("a")),
        Seq("old_id"))
      .join(sigs.select(col("doc_id").as("new_id"), col("sigs").as("b")),
        Seq("new_id"))
      .filter(estJaccard(col("a"), col("b")) >= jMin)
      .select(col("new_id").as("doc_id")).distinct()

    // ALL incoming signatures enter the store (kept or dropped): "earlier
    // doc" means earlier SEEN, so a dropped doc still suppresses its own
    // later near-dups — this is what makes the stream equal the batch pass
    sigs.write.mode("overwrite").parquet(s"$sigsPath/batch_$batchId")
    bnd.write.mode("overwrite").partitionBy("bucket")
      .parquet(s"$bandsPath/batch_$batchId")
    val keptDir = s"$keptPath/batch_$batchId"
    docs.join(dropped, Seq("doc_id"), "left_anti")
      .write.mode("overwrite").parquet(keptDir)
    // per-batch metrics row (the north rule's lineage+metrics contract):
    // committed with the same marker, so a metrics row exists iff its
    // batch is visible. n_kept comes from the just-written delta's parquet
    // FOOTERS (metadata-only, no data scan, and it audits the actual
    // output rows — exact even if a batch carries duplicate doc_id rows);
    // nothing here re-executes the candidate joins.
    val nIn = docs.count()
    val nKept = if (hasData(keptDir)) spark.read.parquet(keptDir).count() else 0L
    import spark.implicits._
    Seq((batchId, nIn, nKept, nIn - nKept))
      .toDF("batch_id", "n_in", "n_kept", "n_dropped")
      .coalesce(1).write.mode("overwrite").parquet(s"$storeDir/metrics/batch_$batchId")
    sigs.unpersist(); bnd.unpersist()
    fs.mkdirs(marker.getParent)
    fs.create(marker, true).close()
  }

  /** One audit row per committed batch: (batch_id, n_in, n_kept, n_dropped).
    * Batches committed by builds that predate the metrics table have no
    * row here (their kept/store deltas are still fully readable). */
  def readMetrics(): DataFrame = readMarked(s"$storeDir/metrics").getOrElse(
    throw new IllegalStateException(s"no committed batches under $storeDir"))

  /** The surviving corpus across all committed batches. */
  def readKept(): DataFrame = readMarked(keptPath).getOrElse(
    throw new IllegalStateException(s"no committed batches under $storeDir"))

  /** Wires a streaming source of (doc_id, text, …) rows into the filter. */
  def start(docsStream: DataFrame, checkpointDir: String): StreamingQuery =
    docsStream.writeStream
      .outputMode("append")
      .option("checkpointLocation", checkpointDir)
      .trigger(Trigger.AvailableNow())
      .foreachBatch((batch: DataFrame, id: Long) => processBatch(batch, id))
      .start()
}

object StreamingDedup {
  /** Default minimum age of the newest compaction marker before
    * [[StreamingDedup.expireStore]] deletes anything it superseded. */
  val ExpireGraceMs: Long =
    sys.props.get("graft.dedup.expireGraceMs").map(_.toLong).getOrElse(60000L)
}
