package graft

/** Dump `.explain("formatted")` for named queries to individual files —
  * the per-query plan evidence the optimization rounds commit under
  * plans/rNN/ (<name>_<suffix>.txt).
  *
  * Usage: runMain graft.PlanDump <sfDir> <outDir> <suffix> <name>[,<name>...]
  */
object PlanDump {
  def main(args: Array[String]): Unit = {
    require(args.length >= 4,
      "usage: PlanDump <sfDir> <outDir> <suffix> <name>[,<name>...]")
    val Array(dir, out, suffix) = args.take(3)
    val names = args(3).split(",").map(_.trim).filter(_.nonEmpty)
    val spark = LocalSpark.session(logLevel = "ERROR")
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(out))
    names.foreach { name =>
      val df = SparkEntry.queries(name)(spark, dir)
      val plan = df.queryExecution.explainString(
        org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))
      val p = java.nio.file.Paths.get(out, s"${name}_$suffix.txt")
      java.nio.file.Files.writeString(p, plan)
      println(s"[plandump] wrote $p")
    }
    spark.stop()
  }
}
