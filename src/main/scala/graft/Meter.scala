package graft

import scala.collection.mutable

import org.apache.spark.GraftBus
import org.apache.spark.scheduler.{SparkListener, SparkListenerStageCompleted, SparkListenerTaskEnd}
import org.apache.spark.sql.SparkSession

/** Per-query execution counters — the wall-noise-free complement to
  * Bench for optimization A/Bs (r17): stage/task counts and
  * shuffle/spill bytes move only when the PLAN moves, while wall-clock
  * on a shared VM swings 2-3x across back-to-back JVMs. AQE is the
  * exception: it re-plans joins from the order in which stages
  * finish, so a run can add a 1-task job (h16 at sf0.001,
  * local[4]: 39 or 40 stages); shuffle bytes do not move.
  *
  * Each query is materialized through the noop sink, as a caller that
  * reads every row would: `count()` lets Spark prune projections,
  * aggregates and sorts nothing reads.
  *
  * Usage: runMain graft.Meter <sfDir> <name>[,<name>...]
  * Prints one stdout line per query:
  *   [meter] <name> stages=N tasks=N shuffleRead=N shuffleWrite=N
  *           spill=N cpuSec=S runSec=S wall=S
  * and, before it, one stderr line per completed stage:
  *   [stage] id=N tasks=N wall=Ss cpu=Ss <stage name>
  */
object Meter {

  /** One completed stage attempt: its task count, its submit-to-complete
    * wall and the executor CPU its tasks spent. */
  final case class Stage(id: Int, tasks: Int, wallSec: Double, cpuSec: Double, name: String)

  /** One query's counters; `tasks` counts task-end events, so it equals
    * the stages' task sum only when every task event was read. */
  final case class Metered(name: String, stages: Seq[Stage], tasks: Int,
      shuffleRead: Long, shuffleWrite: Long, spill: Long,
      cpuSec: Double, runSec: Double, wallSec: Double)

  private final class Counter extends SparkListener {
    private val stages = mutable.ArrayBuffer.empty[Stage]
    private val cpuNsByStage = mutable.Map.empty[Int, Long].withDefaultValue(0L)
    private var tasks, shuffleRead, shuffleWrite, spill, cpuNs, runMs = 0L

    override def onTaskEnd(te: SparkListenerTaskEnd): Unit = synchronized {
      tasks += 1
      val m = te.taskMetrics
      if (m != null) {
        shuffleRead += m.shuffleReadMetrics.totalBytesRead
        shuffleWrite += m.shuffleWriteMetrics.bytesWritten
        spill += m.diskBytesSpilled
        cpuNs += m.executorCpuTime
        runMs += m.executorRunTime
        cpuNsByStage(te.stageId) += m.executorCpuTime
      }
    }

    override def onStageCompleted(sc: SparkListenerStageCompleted): Unit = synchronized {
      val i = sc.stageInfo
      val wall = (for { s <- i.submissionTime; c <- i.completionTime } yield (c - s) / 1e3)
        .getOrElse(-1.0)
      stages += Stage(i.stageId, i.numTasks, wall, cpuNsByStage(i.stageId) / 1e9,
        i.name.linesIterator.nextOption().getOrElse(""))
    }

    def result(name: String, wallSec: Double): Metered = synchronized {
      Metered(name, stages.toSeq, tasks.toInt, shuffleRead, shuffleWrite, spill,
        cpuNs / 1e9, runMs / 1e3, wallSec)
    }
  }

  /** Builds and runs one declared query, counting every job it starts,
    * eager fills during plan construction included. The listener bus is
    * drained before the counters are read, so late task-end events are
    * never missed. */
  def measure(spark: SparkSession, dir: String, name: String): Metered = {
    val sc = spark.sparkContext
    val counter = new Counter
    sc.addSparkListener(counter)
    try {
      val t0 = System.nanoTime()
      SparkEntry.queries(name)(spark, dir).write.format("noop").mode("overwrite").save()
      val wall = (System.nanoTime() - t0) / 1e9
      GraftBus.drain(sc)
      counter.result(name, wall)
    } finally sc.removeSparkListener(counter)
  }

  def main(args: Array[String]): Unit = {
    require(args.length >= 2, "usage: Meter <sfDir> <name>[,...]")
    val dir = args(0)
    val names = args(1).split(",").map(_.trim).filter(_.nonEmpty)
    val spark = LocalSpark.session()

    // one untimed warmup against the same dir (JIT, codegen)
    try measure(spark, dir, "q01_pricing_summary") catch { case _: Throwable => }
    spark.catalog.clearCache(); System.gc()

    names.foreach { name =>
      val m = measure(spark, dir, name)
      m.stages.foreach { s =>
        System.err.println(f"[stage] id=${s.id}%-4d tasks=${s.tasks}%-4d " +
          f"wall=${s.wallSec}%6.2fs cpu=${s.cpuSec}%6.2fs ${s.name}")
      }
      println(f"[meter] $name stages=${m.stages.size} tasks=${m.tasks} " +
        f"shuffleRead=${m.shuffleRead} shuffleWrite=${m.shuffleWrite} " +
        f"spill=${m.spill} cpuSec=${m.cpuSec}%.2f " +
        f"runSec=${m.runSec}%.2f wall=${m.wallSec}%.2f")
      spark.catalog.clearCache(); System.gc()
    }
    spark.stop()
  }
}
