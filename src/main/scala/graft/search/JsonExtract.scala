package graft.search

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/**
 * `clp-s x --ordered` CLI twin: reconstruct a JSON archive's original JSONL
 * in global log_event_idx order, split into bounded chunks with
 * `<archive>_<first>_<last>.jsonl` names and a printed manifest line per
 * chunk — the reference's ordered chunked decompression
 * (components/core/src/clp_s/JsonConstructor.cpp:64-141 construct_in_order,
 * finalize_chunk; `print_ordered_chunk_stats`).
 *
 * Scale shape: chunk ids derive from log_event_idx arithmetic (no global
 * window), one shuffle on chunk id, records sorted within each chunk file;
 * the driver touches only the per-chunk (first, last) manifest rows.
 */
object JsonExtract {

  def main(args: Array[String]): Unit = {
    require(args.length >= 2, "usage: JsonExtract <archiveDir> <outDir> [chunkSize]")
    val Array(archiveDir, outDir) = args.take(2)
    val chunkSize = if (args.length > 2) args(2).toLong else 100000L
    val spark = graft.GraftSession("graft-json-extract")
    run(spark, archiveDir, outDir, chunkSize).foreach { case (path, first, last) =>
      println(s"""{"path":"$path","begin_msg_ix":$first,"end_msg_ix":$last}""")
    }
    spark.stop()
  }

  /** Core reconstruction: returns one (path, firstIdx, lastIdxExclusive)
    * manifest row per written chunk file, in chunk order. */
  def run(spark: SparkSession, archiveDir: String, outDir: String,
          chunkSize: Long): Seq[(String, Long, Long)] = {
    val archiveId = new java.io.File(archiveDir).getName
    // unordered: the chunked writer re-shuffles on chunk anyway, so the
    // extract contract's global sort would be paid and then thrown away.
    // Persisted because BOTH the chunk write and the manifest aggregation
    // consume it — without this the reserialize pass (the job's dominant
    // cost) runs twice.
    val recs = new JsonSearch(spark, archiveDir).extract(ordered = false)
      .withColumn("chunk", (col("log_event_idx") / chunkSize).cast("long"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)

    val staging = s"$outDir/_staging"
    recs.repartition(col("chunk"))
      .sortWithinPartitions("chunk", "log_event_idx")
      .select(col("chunk"), col("json"))
      .write.mode("overwrite").partitionBy("chunk").text(staging)

    // manifest: per-chunk [first, last] event range (last exclusive +1, the
    // reference's clp-compatible end index)
    val manifest = recs.groupBy("chunk")
      .agg(min("log_event_idx").as("first"), max("log_event_idx").as("last"))
      .orderBy("chunk").collect()
    recs.unpersist()
    // chunk renames + staging cleanup through the Hadoop FS — the write went
    // through it, and java.io.File silently no-ops on s3a://, hdfs://, or
    // file:/ outDirs (the chunk count here is manifest-sized, never data)
    val fs = new org.apache.hadoop.fs.Path(outDir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val out = manifest.toSeq.map { r =>
      val (chunk, first, last) = (r.getLong(0), r.getLong(1), r.getLong(2) + 1)
      val dir = new org.apache.hadoop.fs.Path(s"$staging/chunk=$chunk")
      val part = fs.listStatus(dir).map(_.getPath)
        .filter(_.getName.startsWith("part-"))
      require(part.length == 1, s"expected one file per chunk, got ${part.length}")
      val target = new org.apache.hadoop.fs.Path(
        s"$outDir/${archiveId}_${first}_$last.jsonl")
      require(fs.rename(part(0), target), s"rename failed for chunk $chunk")
      // a checksummed local FS renames the .crc sidecar along — the chunk
      // contract is "only the manifest's files in outDir", so drop it
      val crc = new org.apache.hadoop.fs.Path(
        target.getParent, s".${target.getName}.crc")
      if (fs.exists(crc)) fs.delete(crc, false)
      (target.toString, first, last)
    }
    // drop staging remnants (partition dirs + _SUCCESS)
    fs.delete(new org.apache.hadoop.fs.Path(staging), true)
    out
  }
}
