package graft.pipeline

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths, StandardOpenOption}

/**
 * Per-stage lineage manifests for exact resume — the Spark re-expression of
 * the reference's chunk manifests (components/core/src/clp_s/JsonConstructor
 * .cpp:97-141): a stage is skippable iff its manifest says COMPLETE and its
 * outputs exist. Manifests are tiny JSON files next to the outputs; in a real
 * lake deployment these rows live in an Iceberg metadata table (see
 * SURVEY §7 on the LakeTable shim).
 */
final class Lineage(outDir: String) {
  private def path(stage: String) = Paths.get(s"$outDir/_lineage/$stage.json")

  def complete(stage: String, metrics: Map[String, Long]): Unit = {
    val p = path(stage)
    Files.createDirectories(p.getParent)
    val fields = (metrics + ("completed_at_ms" -> System.currentTimeMillis()))
      .map { case (k, v) => s""""$k": $v""" }
      .mkString(", ")
    val json = s"""{"stage": "$stage", "status": "COMPLETE", $fields}"""
    Files.write(p, json.getBytes(StandardCharsets.UTF_8),
      StandardOpenOption.CREATE, StandardOpenOption.TRUNCATE_EXISTING)
  }

  def isComplete(stage: String): Boolean =
    Files.exists(path(stage)) &&
      new String(Files.readAllBytes(path(stage)), StandardCharsets.UTF_8)
        .contains("\"COMPLETE\"")

  /** All numeric metrics recorded in a stage manifest (completed_at_ms
    * excluded — [[complete]] re-stamps it): later runs answer counts like
    * "how many input rows?" from them without re-reading (or even keeping)
    * the stage's data output, and a manifest can be extended without
    * discarding what an earlier run recorded. */
  def metrics(stage: String): Map[String, Long] =
    if (!Files.exists(path(stage))) Map.empty
    else {
      val json = new String(Files.readAllBytes(path(stage)), StandardCharsets.UTF_8)
      """"([A-Za-z0-9_]+)":\s*(-?\d+)""".r.findAllMatchIn(json)
        .map(m => m.group(1) -> m.group(2).toLong).toMap - "completed_at_ms"
    }
}
