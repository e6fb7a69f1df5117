package graft

import org.apache.spark.sql.SparkSession

/** The local-mode session every command-line main and spec builds, so
  * they all plan queries under the same settings. */
object LocalSpark {

  /** SPARK_GRAFT_CPUS when set, else the machine's core count. */
  def cores: Int = sys.env.get("SPARK_GRAFT_CPUS").map(_.trim.toInt)
    .getOrElse(Runtime.getRuntime.availableProcessors)

  def session(cores: Int = cores, logLevel: String = "WARN"): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("graft")
      .config("spark.sql.shuffle.partitions", cores)
      // TypedImperativeAggregate (TopKAgg/sketches) keys per partition
      // before sort-based fallback: the 128-row default externally sorts
      // every large pool stage (the measured 2M-decade spill)
      .config("spark.sql.objectHashAggregate.sortBased.fallbackThreshold", 262144)
      .config("spark.sql.extensions", "org.apache.spark.sql.graft.GraftExtensions")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel(logLevel)
    spark
  }
}
