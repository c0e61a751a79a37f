package graft
package gates

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.functions.ClpFunctions._
import graft.gates.DedupGates.{minhashSigs, sqlMinhashCols}
import graft.gates.Gate.{sqlShinglesCte, t, withClp}

/** Streaming (W1/W3 over Structured Streaming): windowed counts, live
  * search, and online near-dup filtering with its per-batch audit. */
object StreamingGates {

  /** Streaming-gate scaffold shared by every stream_* query: expose the
    * single parquet file through a temp-dir symlink (the file-stream source
    * needs a directory), run `transform` on the stream, drain it into a
    * uniquely-named memory sink, and return the materialized table. */
  private def streamGate(s: SparkSession, d: String, table: String, mode: String)
                        (transform: DataFrame => DataFrame): DataFrame = {
    val schema = t(s, d, table).schema
    val streamDir = java.nio.file.Files.createTempDirectory("graft-stream")
    java.nio.file.Files.createSymbolicLink(
      streamDir.resolve(s"$table.parquet"),
      java.nio.file.Paths.get(s"$d/$table.parquet"))
    val sdf = s.readStream.schema(schema).parquet(streamDir.toString)
    val qname = "stream_" + java.util.UUID.randomUUID.toString.replace("-", "")
    val q = transform(sdf).writeStream
      .outputMode(mode).format("memory").queryName(qname).start()
    // materialize, then release the per-invocation resources — repeated
    // gate runs in one JVM must not accumulate memory-sink tables (which
    // pin every matched row) or graft-stream temp dirs; the cleanup runs
    // even when the stream itself fails
    try {
      try q.processAllAvailable() finally q.stop()
      val sink = s.table(qname)
      s.createDataFrame(java.util.Arrays.asList(sink.collect(): _*), sink.schema)
    } finally {
      s.catalog.dropTempView(qname)
      java.nio.file.Files.deleteIfExists(streamDir.resolve(s"$table.parquet"))
      java.nio.file.Files.deleteIfExists(streamDir)
    }
  }

  val gates: Seq[Gate] = Seq(
    Gate("stream_tumbling", (s, d) =>
      streamGate(s, d, "events", "complete")(sdf =>
        sdf.withColumn("ts", col("ts").cast("timestamp"))
          .groupBy(window(col("ts"), "1 hour"), col("event_type"))
          .agg(count(lit(1)).as("n")))
        .select(unix_millis(col("window.start")).as("bucket_ms"), col("event_type"), col("n"))
        .orderBy("bucket_ms", "event_type"),
      oracle = """SELECT CAST(floor(epoch_ms(ts)/3600000)*3600000 AS BIGINT) AS bucket_ms,
        |  event_type, count(*) AS n
        |FROM events GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin),
    Gate("stream_search", (s, d) => {
      // streaming search (the reference's real-time query path): the same
      // codegen'd wildcard predicate the batch engine compiles, applied to
      // a live file stream. A stateless filter — zero aggregation state at
      // any stream length, each match emitted exactly once in append mode.
      withClp(s)
      streamGate(s, d, "documents", "append")(sdf =>
        sdf.filter(wildcard_match(col("text"), lit("*spark*window*"), lit(true)))
          .select("doc_id", "lang"))
        .orderBy("doc_id")
    },
      oracle = """SELECT doc_id, lang FROM documents
        |WHERE text LIKE '%spark%window%' ORDER BY doc_id""".stripMargin),
    Gate("stream_dedup", (s, d) => {
      // Online near-dup filtering under the oracle: documents stream
      // through StreamingDedup in 3 id-ordered micro-batches at the
      // demo-width cross-engine family (4 mdHash MinHash fns, 1-row bands;
      // estJ >= 0.5 ⇔ >= 2 of 4 components match). Ids increase across
      // batches, so the DuckDB one-shot rule — drop a doc iff ANY
      // smaller-id doc matches — recomputes the entire stream, including
      // seen-not-kept semantics (a dropped doc still suppresses its own
      // later near-dups). StreamingDedupSpec asserts the same stream ≡
      // batch identity at production widths (128 fns, r=2).
      val dir = java.nio.file.Files.createTempDirectory("graft-stream-dedup").toString
      val eng = new graft.streaming.StreamingDedup(s, dir, nFns = 4, bandRows = 1,
        jMin = 0.5, sigsOf = Some(sh => minhashSigs(sh)))
      val docs = t(s, d, "documents").select("doc_id", "text")
      val maxRow = docs.agg(max("doc_id")).head
      if (maxRow.isNullAt(0)) docs.select("doc_id") // empty corpus: no batches
      else {
        val n = maxRow.getLong(0) + 1
        Seq((0L, n / 3), (n / 3, 2 * n / 3), (2 * n / 3, Long.MaxValue))
          .zipWithIndex.foreach { case ((lo, hi), b) =>
            eng.processBatch(docs.filter(col("doc_id") >= lo && col("doc_id") < hi), b.toLong)
          }
        eng.readKept().select("doc_id").orderBy("doc_id")
      }
    },
      oracle = s"""$sqlShinglesCte,
         |sig AS (SELECT doc_id, $sqlMinhashCols FROM s),
         |dropped AS (SELECT DISTINCT b.doc_id FROM sig a JOIN sig b ON a.doc_id < b.doc_id
         |  AND (CASE WHEN a.mh0=b.mh0 THEN 1 ELSE 0 END + CASE WHEN a.mh1=b.mh1 THEN 1 ELSE 0 END
         |     + CASE WHEN a.mh2=b.mh2 THEN 1 ELSE 0 END + CASE WHEN a.mh3=b.mh3 THEN 1 ELSE 0 END) >= 2)
         |SELECT doc_id FROM documents WHERE doc_id NOT IN (SELECT doc_id FROM dropped)
         |ORDER BY doc_id""".stripMargin),
    Gate("stream_dedup_metrics", (s, d) => {
      // the audit side of stream_dedup: per-batch (n_in, n_kept, n_dropped)
      // metrics rows, committed with each batch marker, must reconcile with
      // a DuckDB recomputation of the same three id-range batches — the
      // lineage+metrics contract extended to streaming state and ORACLE-
      // checked, not just sbt-asserted.
      val dir = java.nio.file.Files.createTempDirectory("graft-sdm").toString
      val eng = new graft.streaming.StreamingDedup(s, dir, nFns = 4, bandRows = 1,
        jMin = 0.5, sigsOf = Some(sh => minhashSigs(sh)))
      val docs = t(s, d, "documents").select("doc_id", "text")
      val maxRow = docs.agg(max("doc_id")).head
      if (maxRow.isNullAt(0)) {
        s.range(0).select(col("id").as("batch_id"), col("id").as("n_in"),
          col("id").as("n_kept"), col("id").as("n_dropped"))
      } else {
        val n = maxRow.getLong(0) + 1
        Seq((0L, n / 3), (n / 3, 2 * n / 3), (2 * n / 3, Long.MaxValue))
          .zipWithIndex.foreach { case ((lo, hi), b) =>
            eng.processBatch(docs.filter(col("doc_id") >= lo && col("doc_id") < hi), b.toLong)
          }
        eng.readMetrics().orderBy("batch_id")
      }
    },
      oracle = s"""$sqlShinglesCte,
         |sig AS (SELECT doc_id, $sqlMinhashCols FROM s),
         |dropped AS (SELECT DISTINCT b.doc_id FROM sig a JOIN sig b ON a.doc_id < b.doc_id
         |  AND (CASE WHEN a.mh0=b.mh0 THEN 1 ELSE 0 END + CASE WHEN a.mh1=b.mh1 THEN 1 ELSE 0 END
         |     + CASE WHEN a.mh2=b.mh2 THEN 1 ELSE 0 END + CASE WHEN a.mh3=b.mh3 THEN 1 ELSE 0 END) >= 2),
         |nn AS (SELECT max(doc_id)+1 AS n FROM documents),
         |bat AS (SELECT doc_id, CAST(CASE WHEN doc_id < n//3 THEN 0
         |          WHEN doc_id < 2*n//3 THEN 1 ELSE 2 END AS BIGINT) AS batch_id
         |        FROM documents, nn),
         |agg AS (SELECT batch_id, CAST(count(*) AS BIGINT) AS n_in,
         |  CAST(count(*) FILTER (WHERE doc_id NOT IN (SELECT doc_id FROM dropped)) AS BIGINT) AS n_kept,
         |  CAST(count(*) FILTER (WHERE doc_id IN (SELECT doc_id FROM dropped)) AS BIGINT) AS n_dropped
         |FROM bat GROUP BY batch_id)
         |-- all three batch ids emitted unconditionally: Spark commits an
         |-- n_in=0 metrics row for an id range that matched no docs (sparse
         |-- doc_id corpora), which a bare GROUP BY would omit here
         |SELECT ids.batch_id, CAST(COALESCE(n_in, 0) AS BIGINT) AS n_in,
         |  CAST(COALESCE(n_kept, 0) AS BIGINT) AS n_kept,
         |  CAST(COALESCE(n_dropped, 0) AS BIGINT) AS n_dropped
         |FROM (SELECT CAST(range AS BIGINT) AS batch_id FROM range(3), nn
         |      WHERE n IS NOT NULL) ids
         |LEFT JOIN agg USING (batch_id) ORDER BY batch_id""".stripMargin),
  )
}
