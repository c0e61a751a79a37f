package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.gates._

/**
 * The oracle-gate catalogue: one [[gates.Gate]] per gate, holding its Spark
 * body over the driver-generated test tables and its DuckDB oracle, grouped
 * by operator family under `graft/gates/`. Names map to SURVEY §2 operator
 * IDs (noted per gate). [[SparkEntry]] hands both maps to the driver.
 */
object GraftQueries {

  val gates: Seq[Gate] = Gate.catalog(
    RelationalGates.gates, ClpTextGates.gates, JsonGates.gates,
    StreamingGates.gates, DedupGates.gates, CurationGates.gates)

  val queries: Map[String, (SparkSession, String) => DataFrame] =
    gates.map(g => g.name -> g.spark).toMap

  val oracleSql: Map[String, String] = gates.map(g => g.name -> g.oracle).toMap
}
