package graft

/** Meter's counters are the deterministic evidence optimization A/Bs
  * lead with: two runs of one plan must count the same stages and
  * tasks, and every task-end event must be read before the counters
  * are (the per-stage task counts come from stage completions, the
  * total from task ends). */
class MeterSpec extends SparkSpec {

  private def measure(name: String): Meter.Metered = {
    spark.catalog.clearCache()
    Meter.measure(spark, sf0001, name)
  }

  test("two runs of one fixed plan count the same stages and tasks") {
    // AQE re-plans joins from the order in which stages finish: with
    // it on, repeated h16 runs in one JVM differ by one 1-task job
    // about half the time. With it off the plan is fixed, so any
    // difference left would be the meter's.
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    val Seq(a, b) =
      try Seq.fill(2)(measure("h16_components"))
      finally spark.conf.unset("spark.sql.adaptive.enabled")
    assert(a.stages.nonEmpty && a.tasks > 0)
    assert(a.stages.size == b.stages.size)
    assert(a.tasks == b.tasks)
    assert(a.stages.map(_.tasks).sorted == b.stages.map(_.tasks).sorted)
  }

  test("per-stage task counts add up to the query's task total") {
    val m = measure("h16_components")
    assert(m.stages.map(_.tasks).sum == m.tasks, m.stages.mkString("\n"))
  }

  test("an aggregating query reports shuffle write") {
    val m = measure("q01_pricing_summary")
    assert(m.shuffleWrite > 0, m)
  }
}
