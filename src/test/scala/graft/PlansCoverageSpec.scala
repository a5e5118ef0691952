package graft

/** PLANS.md is a derived artifact (graft.PlanDump audits every registry
  * query's physical plan) — this gate re-derives its section list from
  * the registry so coverage cannot drift: r13 shipped with 114 of 168
  * queries audited because the generator carried a hand-curated list.
  * If this fails, regenerate (graft.PlanDump), don't edit the report.
  */
class PlansCoverageSpec extends SparkSpec {

  private val plans = new String(java.nio.file.Files.readAllBytes(
    java.nio.file.Paths.get("PLANS.md")), "UTF-8")

  private val sections: Set[String] =
    "(?m)^## (\\S+)$".r.findAllMatchIn(plans).map(_.group(1)).toSet

  test("PLANS.md has one section per registry query, and no strays") {
    val registry = graft.queries.Registry.queries.keySet
    val missing = registry -- sections
    val stray = sections -- registry
    assert(missing.isEmpty,
      s"queries missing from PLANS.md (regenerate with graft.PlanDump): " +
        s"${missing.toSeq.sorted.mkString(", ")}")
    assert(stray.isEmpty,
      s"PLANS.md sections not in the registry: ${stray.toSeq.sorted.mkString(", ")}")
  }

  test("PLANS.md's own audited-count line matches the registry") {
    val n = graft.queries.Registry.queries.size
    val claimed = "(\\d+) queries audited".r.findFirstMatchIn(plans)
      .map(_.group(1).toInt)
    assert(claimed.contains(n),
      s"PLANS.md claims ${claimed.orNull} audited, registry has $n")
  }

  test("no audited plan failed to build") {
    assert(!plans.contains("PLAN FAILED"),
      "PLANS.md contains a PLAN FAILED section — a registry query's " +
        "builder threw during the audit")
  }
}
