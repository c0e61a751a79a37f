package graft.tools

import java.nio.file.{Files, Path}

import org.apache.spark.sql.functions._

import graft.pipeline.{ClpCatalog, ClpPipeline, LakeTable, TranscriptGen}

/** Dev-only: measured fleet-search behavior at 10^3+ archives — the design
  * point the catalog documents (10^4-10^5 archives) can't be exercised by
  * the gate fixtures (4-8 archives), so the bounded-fan-out claims need
  * numbers: admissible-set decision time over catalog metadata alone,
  * match-all `searchBatched` wall time (the query that defeats every prune —
  * driver plans stay O(batchSize), work stays O(archives)), tag-scoped and
  * Bloom-pruned searches that must stay near metadata-cost. Results recorded
  * in BENCH/BASELINE.md.
  *
  * Fleet construction: ONE real archive is built through the full pipeline,
  * then hard-linked N times (byte-identical archive dirs — parquet readers
  * pay identical per-archive open/probe costs) and registered through one
  * appendEntry (the real registration path, computing ts bounds + dict
  * Bloom from the archive) plus one bulk catalog append replicating that
  * row under fresh ids and round-robin tags. What is measured — per-archive
  * plan/probe/scan cost and catalog-metadata pruning — is therefore the
  * production shape; only archive CONTENT variety is synthetic (irrelevant
  * to driver-cost scaling, which is the claim under test).
  *
  * Usage: FleetScaleProbe [sizes] (default "256,1024")
  */
object FleetScaleProbe {

  private def linkTree(src: Path, dst: Path): Unit = {
    val it = Files.walk(src)
    try it.forEach { p =>
      val t = dst.resolve(src.relativize(p).toString)
      if (Files.isDirectory(p)) Files.createDirectories(t)
      else
        try Files.createLink(t, p)
        catch { case _: UnsupportedOperationException => Files.copy(p, t) }
    } finally it.close()
  }

  private def timed[A](f: => A): (A, Double) = {
    val t0 = System.nanoTime()
    val r = f
    (r, (System.nanoTime() - t0) / 1e9)
  }

  def main(args: Array[String]): Unit = {
    val sizes = args.headOption.getOrElse("256,1024")
      .split(",").map(_.trim.toInt).toSeq
    val spark = graft.GraftSession("graft-fleet-scale-probe")

    // one real archive through the full pipeline (~2k messages: big enough
    // that every sink/dict/stats file exists, small enough that the probe
    // measures fleet mechanics, not single-archive scan time)
    val tmpl = Files.createTempDirectory("graft-fleet-tmpl")
    ClpPipeline.run(spark, TranscriptGen.turns(spark, 2000, seed = 11L).toDF(),
      ClpPipeline.Config(s"$tmpl/arch", maxSinks = 4, saltParts = 4))

    sizes.foreach { n =>
      val fleet = Files.createTempDirectory(s"graft-fleet-$n")
      val ids = (0 until n).map(i => f"arch_$i%05d")
      val (_, tBuild) = timed {
        ids.foreach(id => linkTree(tmpl.resolve("arch"),
          fleet.resolve(s"archives/$id")))
        LakeTable.overwrite(spark, s"$fleet/catalog", ClpCatalog.emptyCatalog(spark))
        // real registration once (bounds + Bloom from the archive files),
        // then replicate the row under the remaining ids in ONE append —
        // catalog contents are identical to n appendEntry calls
        ClpCatalog.appendEntry(spark, fleet.toString, ids.head, Seq("t0"))
        val row = LakeTable.read(spark, s"$fleet/catalog")
        val more = row.crossJoin(
            spark.range(1, n).select(col("id").as("_i")))
          .withColumn("archive_id", format_string("arch_%05d", col("_i")))
          .withColumn("tags",
            array(concat(lit("t"), pmod(col("_i"), lit(16)).cast("string"))))
          .drop("_i")
          .select(row.columns.map(col).toIndexedSeq: _*)
        LakeTable.append(spark, s"$fleet/catalog", more)
      }

      // (a) admissible-set decision for a match-all query: catalog metadata
      // only, must admit all n
      val (adm, tAdmit) = timed {
        ClpCatalog.admissibleArchivesFor(spark, fleet.toString, "*",
          caseSensitive = true, None, None)
      }
      require(adm.size == n, s"expected $n admissible, got ${adm.size}")

      // (b) the worst case: match-all over the whole fleet, bounded batches
      // (driver plan never exceeds batchSize branches)
      val (rowsAll, tScanAll) = timed {
        ClpCatalog.searchBatched(spark, fleet.toString, "*", batchSize = 64)
          .count()
      }

      // (c) tag-scoped search: n/16 archives admitted through one union
      val (rowsTag, tTag) = timed {
        ClpCatalog.search(spark, fleet.toString, "*", tags = Some(Seq("t3")))
          .count()
      }

      // (d) Bloom-pruned token search: a token in no dictionary — the whole
      // fleet prunes from metadata, no archive dir opens
      val (rowsMiss, tMiss) = timed {
        ClpCatalog.searchBatched(spark, fleet.toString,
          "* zq9xv7kwfp3 *", batchSize = 64).count()
      }

      println(f"""{"fleet_archives":$n,"build_sec":$tBuild%.1f,""" +
        f""""admit_all_sec":$tAdmit%.2f,""" +
        f""""matchall_batched_sec":$tScanAll%.1f,"matchall_rows":$rowsAll,""" +
        f""""matchall_archives_per_sec":${n / tScanAll}%.1f,""" +
        f""""tag_scoped_sec":$tTag%.2f,"tag_rows":$rowsTag,""" +
        f""""bloom_miss_sec":$tMiss%.2f,"bloom_miss_rows":$rowsMiss}""")
    }
    spark.stop()
  }
}
