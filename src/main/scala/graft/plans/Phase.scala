package graft.plans

import org.apache.spark.sql.SparkSession

/** Job labels. Every Spark job a block triggers on the calling thread
  * (and on the threads AQE and broadcasts capture it from) carries
  * `label` as its job description, so a listener, the Spark UI or
  * `graft.Meter`'s `[stage]` lines can tell which library phase ran
  * it. Labels read `operator.phase`, e.g. `graft.serve.lookup`.
  *
  * The caller's own description is restored when the block ends, and
  * the job group is left alone: a caller that groups jobs (the
  * benchmark's tracer does) keeps its grouping. */
object Phase {

  /** The local property Spark reads a job's description from. */
  private val DescriptionKey = "spark.job.description"

  def apply[T](spark: SparkSession, label: String)(body: => T): T = {
    val sc = spark.sparkContext
    val previous = sc.getLocalProperty(DescriptionKey)
    sc.setLocalProperty(DescriptionKey, label)
    try body
    finally sc.setLocalProperty(DescriptionKey, previous)
  }
}
