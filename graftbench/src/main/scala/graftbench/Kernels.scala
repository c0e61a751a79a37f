package graftbench

import org.apache.spark.sql.functions._

import graft.core.{ClpEncoding, JsonShape, Wildcard}
import graft.functions.ClpFunctions
import graft.search.ClpSearch

/** The kernel block of a traced run, on its own seeded inputs:
  * `graft.core` single-threaded, and the codegen'd `graft.functions`
  * expressions as Spark jobs at local[nproc]. Comparing a function's rows/s
  * with its kernel's rate times the core count gives Spark's share. */
object Kernels {

  val Msgs = 20000
  val JsonRecords = 5000
  val SparkRows = 50000
  val WarmMs = 200L
  val MeasureMs = 500L

  /** Items per second of `batch` (which returns the items it did), after a
    * JIT warm-up. */
  private def rate(batch: () => Int): Double = {
    val warmEnd = System.nanoTime() + WarmMs * 1000000
    while (System.nanoTime() < warmEnd) batch()
    var n = 0L
    val t0 = System.nanoTime()
    while (System.nanoTime() - t0 < MeasureMs * 1000000) n += batch()
    n / ((System.nanoTime() - t0) / 1e9)
  }

  def run(ctx: Ctx): Unit = {
    val turns = Gen.turns(ctx.seed + 1, Msgs)
    val texts = turns.map(_.text)
    val encoded = texts.map(ClpEncoding.encode)
    val patterns = Gen.queries(ctx.seed + 1, turns.toIndexedSeq).map(q => Wildcard.cleanUp(q.text))
    val lines = Gen.records(ctx.seed + 1, JsonRecords).map(_.line)
    var sink = 0L // consumed below, so no kernel call is dead code

    ctx.metric("core.encode_msgs_per_s", rate { () =>
      texts.foreach(t => sink += ClpEncoding.encode(t).logtype.length); texts.length
    }, "1/s")
    ctx.metric("core.decode_msgs_per_s", rate { () =>
      encoded.foreach(e => sink += ClpEncoding.decode(e.logtype, e.encodedVars, e.dictVars).length)
      encoded.length
    }, "1/s")
    ctx.metric("core.wildcard_matches_per_s", rate { () =>
      patterns.foreach(p => texts.foreach(t => if (Wildcard.matchesCaseSensitive(t, p)) sink += 1))
      patterns.length * texts.length
    }, "1/s")
    ctx.metric("core.json_leaves_records_per_s", rate { () =>
      lines.foreach(l => sink += JsonShape.typedLeaves(l, timestampKey = Some("ts")).length)
      lines.length
    }, "1/s")
    ctx.fact("kernel_sink", sink.toString)

    // functions: a cached text column through clp_encode, and an archive
    // of the same turns decoded through withDecodedText
    val turnsDir = ctx.path("kernel_turns")
    TextWorkloads.writeTurns(ctx, ctx.seed + 2, SparkRows, turnsDir)
    val textDf = ctx.spark.read.parquet(turnsDir).select("text").cache()
    textDf.count()
    def rowsPerS(job: () => Unit): Double = {
      job() // warm-up
      SparkRows / Stats.median((1 to 3).map(_ => Stats.timeMs(job())._2 / 1000))
    }
    ctx.metric("functions.clp_encode_rows_per_s", rowsPerS { () =>
      textDf.select(ClpFunctions.clp_encode(col("text")).as("e"))
        .write.format("noop").mode("overwrite").save()
    }, "1/s")
    textDf.unpersist()
    val archive = ctx.path("kernel_archive")
    TextWorkloads.runPipeline(ctx, turnsDir, archive)
    val engine = new ClpSearch(ctx.spark, archive)
    val routed = engine.routed.cache()
    routed.count()
    ctx.metric("functions.clp_decode_rows_per_s", rowsPerS { () =>
      engine.withDecodedText(routed).select("text").write.format("noop").mode("overwrite").save()
    }, "1/s")
    routed.unpersist()
    ctx.rmrf(archive)
    ctx.rmrf(turnsDir)
    ctx.log("kernels done")
  }
}
