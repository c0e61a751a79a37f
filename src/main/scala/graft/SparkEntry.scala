package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Driver contract (SURVEY.md §7). Both maps derive from the one gate list
  * [[GraftQueries.gates]]: each [[graft.gates.Gate]] holds a query's Spark
  * body and its oracle, grouped by operator family under `graft/gates/`
  * (operator coverage per SURVEY §2). */
object SparkEntry {

  /** Flagship on sf0.001: the CLP round-trip gate over the documents table —
    * rows > 0 iff decode(encode(text)) == text holds for whole groups. */
  def entry(spark: SparkSession): DataFrame =
    GraftQueries.queries("clp_roundtrip")(spark, "/root/testdata/sf0.001")

  /** One entry per implemented operator from SURVEY.md §2. */
  def queries: Map[String, (SparkSession, String) => DataFrame] = GraftQueries.queries

  /** DuckDB-runnable oracle per query — every query has one. The
    * LSH/banding queries recompute their deterministic plane/signature sets
    * inside the SQL (inlined DOUBLE[] literals / per-band equality joins),
    * and the two k-means-backed gates (knn_ivf, dedup_semantic) run
    * seed-centroid indexes (iters = 0) whose assignment argmax is plain SQL,
    * so the pruned search paths are fully recomputable too. Their exact
    * twins (knn_ivf_all, dedup_semantic_all) stay gated as well, and
    * KnnIvfSpec / SemanticDedupSpec assert recall on the TRAINED path. */
  def oracleSql: Map[String, String] = GraftQueries.oracleSql
}
