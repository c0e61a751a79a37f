package graft
package gates

import org.apache.spark.sql.{Column, DataFrame, SparkSession}

import graft.functions.ClpFunctions

/**
 * One oracle gate: a Spark body over the driver-generated test tables in an
 * input dir, and the DuckDB SQL that re-derives the same answer from the raw
 * tables. The driver's compare (columns by name, values as strings) holds
 * the two to the same rows, so a gate cannot exist without its oracle. The
 * catalogue is [[graft.GraftQueries.gates]]; the families are the sibling
 * `*Gates` objects.
 */
final case class Gate(name: String, spark: (SparkSession, String) => DataFrame, oracle: String)

object Gate {

  /** The families' gates in order; fails on a name that occurs twice
    * (a `Map` literal would silently keep the last of two equal keys). */
  def catalog(families: Seq[Gate]*): Seq[Gate] = {
    val gates = families.flatten
    val dup = gates.groupBy(_.name).collect { case (n, g) if g.size > 1 => n }
    require(dup.isEmpty, s"duplicate gate names: ${dup.toSeq.sorted.mkString(", ")}")
    gates
  }

  private[gates] def t(spark: SparkSession, dir: String, name: String): DataFrame =
    spark.read.parquet(s"$dir/$name.parquet")

  private[gates] def withClp(spark: SparkSession): SparkSession = {
    ClpFunctions.register(spark); spark
  }

  private val fixtures = scala.collection.mutable.Map.empty[(String, String), String]

  /** One fixture directory per (fixture, input) per JVM, built on first use
    * and shared by every gate of a Verify run that reads it. */
  private[gates] def memo(fixture: String, input: String)(build: => String): String =
    fixtures.synchronized(fixtures.getOrElseUpdate((fixture, input), build))

  /** Cross-engine token hash: first 15 hex chars of md5 as int64 (computable
    * identically in DuckDB: CAST('0x'||substr(md5(s),1,15) AS BIGINT)).
    * One fused expression (digest → 60-bit long, no hex-string round trip)
    * because the curation gates evaluate it inside interpreted HOF lambdas —
    * ClpExpressionsSpec pins it bit-equal to the 3-expression Spark chain. */
  private[gates] def mdHash(c: Column): Column = ClpFunctions.md5_prefix64(c)

  /** DuckDB form of [[mdHash]]. */
  private[gates] def sqlHash(e: String): String =
    s"CAST('0x'||substr(md5($e),1,15) AS BIGINT)"

  /** DuckDB twin of [[graft.Dedup.shingles]] (CTEs `w`, `s`). */
  private[gates] val sqlShinglesCte: String =
    """WITH w AS (SELECT doc_id, string_split(text, ' ') AS words FROM documents),
      |s AS (SELECT doc_id, list_transform(generate_series(1, len(words)-2),
      |        i -> words[i] || ' ' || words[i+1] || ' ' || words[i+2]) AS sh FROM w)""".stripMargin
}
