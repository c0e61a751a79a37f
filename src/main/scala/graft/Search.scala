package graft

/**
 * spark-submit entry for search — the `clg` / `clp-s s` surface over a
 * routed archive produced by [[Ingest]].
 *
 * {{{
 *   spark-submit --class graft.Search <jar> <archiveDir> <query>
 *     [--kql]                 query is KQL over the decoded rows (clp-s s)
 *     [--regex]               query is a regex (translated to wildcard)
 *     [--ignore-case] [--limit N] [--count] [--count-by-time <bucketMs>]
 *     [--ts-lo <epochMs>] [--ts-hi <epochMs>] [--out <dir>]
 * }}}
 *
 * Default query language is the CLP wildcard grammar; matching runs
 * compile → dictionary probe → sink/ts prune → encoded-domain filter →
 * decode → verify-iff-imprecise (SURVEY §3.1).
 */
object Search {

  def main(args: Array[String]): Unit = {
    require(args.length >= 2, "usage: Search <archiveDir> <query> [flags]")
    val archive = args(0)
    val rawQuery = args(1)
    val flags = args.drop(2)
    def flagVal(name: String): Option[String] =
      flags.sliding(2).collectFirst { case Array(`name`, v) => v }
    val spark = GraftSession("graft-search")

    val caseSensitive = !flags.contains("--ignore-case")
    val tsLo = flagVal("--ts-lo").map(ms => new java.sql.Timestamp(ms.toLong))
    val tsHi = flagVal("--ts-hi").map(ms => new java.sql.Timestamp(ms.toLong))
    val engine = new graft.search.ClpSearch(spark, archive)

    val results =
      if (flags.contains("--kql")) engine.kql(rawQuery) // clp-s style
      else {
        val query =
          if (flags.contains("--regex"))
            graft.search.RegexToWildcard.translate(rawQuery,
                graft.search.RegexToWildcard.Config(
                  caseInsensitive = !caseSensitive,
                  addPrefixSuffixWildcards = true))
              .fold(e => sys.error(s"untranslatable regex: $e"), identity)
          else rawQuery
        engine.search(query, caseSensitive, tsLo, tsHi,
          limit = flagVal("--limit").map(_.toInt))
      }

    (flagVal("--count-by-time"), flags.contains("--count")) match {
      case (Some(bucket), _) =>
        val byTime = graft.search.ClpSearch.bucketCounts(results, bucket.toLong)
        flagVal("--out") match {
          case Some(dir) => byTime.write.mode("overwrite").parquet(dir)
          case None => byTime.show(100, truncate = false)
        }
      case (None, true) => println(s"count: ${results.count()}")
      case _ =>
        flagVal("--out") match {
          case Some(dir) => results.write.mode("overwrite").parquet(dir)
          case None => results.orderBy("conv_id", "turn_idx").show(20, truncate = 80)
        }
    }
    spark.stop()
  }
}
