package graft.search

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/**
 * Archive extraction — the reference's `clp x` / JsonConstructor path
 * (SURVEY §2.5 O3): reconstruct the original turns from a routed archive,
 * byte-exact, in stable `(conv_id, turn_idx)` order. The reference k-way
 * merges per-schema readers on log_event_idx
 * (components/core/src/clp_s/JsonConstructor.cpp:63-141); here the same
 * result is a range-partitioned sort over the decoded scan — Spark's sort
 * IS the distributed k-way merge.
 */
object Extract {

  /** Full-archive ordered reconstruction: (conv_id, turn_idx, ts, text). */
  def apply(spark: SparkSession, archiveDir: String): DataFrame = {
    val engine = new ClpSearch(spark, archiveDir)
    engine.withDecodedText(engine.routed)
      .select("conv_id", "turn_idx", "ts", "text")
      .orderBy("conv_id", "turn_idx")
  }

  /** Partial extraction by conversation-id range — the reference's chunked
    * decompression with [first_idx, last_idx) manifests; partition pruning
    * keeps it to the touched sinks only when combined with a search. */
  def range(spark: SparkSession, archiveDir: String,
            convLo: String, convHi: String): DataFrame =
    apply(spark, archiveDir).filter(col("conv_id").between(convLo, convHi))

  /** CLI-style entry: runMain graft.search.Extract <archiveDir> [outDir] —
    * writes reconstructed turns as per-conversation text lines. */
  def main(args: Array[String]): Unit = {
    require(args.nonEmpty, "usage: Extract <archiveDir> [outDir]")
    val spark = graft.GraftSession("graft-extract")
    val out = apply(spark, args(0))
    if (args.length > 1) {
      // globally sorted text output, one file per range partition of the
      // extraction sort — NOT partitionBy(conv_id), which would explode into
      // one directory per conversation (10^8 dirs at scale). conv_id rides
      // in-line; multi-line event texts are TSV-escaped (\\ then \n) so the
      // one-line-per-turn contract holds and the count reads the written
      // lines back (cheap) instead of re-running the decode job. \r is
      // escaped too — Hadoop's line reader treats a bare CR as a terminator.
      out.select(concat_ws("\t", col("conv_id"), col("turn_idx").cast("string"),
          regexp_replace(regexp_replace(regexp_replace(col("text"),
            "\\\\", "\\\\\\\\"), "\n", "\\\\n"), "\r", "\\\\r").as("text")).as("value"))
        .write.mode("overwrite").text(args(1))
      val n = spark.read.text(args(1)).count()
      println(s"extract: wrote $n turns to ${args(1)}")
    } else {
      println(s"extract: ${out.count()} turns; first rows:")
      out.show(5, truncate = 60)
    }
    spark.stop()
  }
}
