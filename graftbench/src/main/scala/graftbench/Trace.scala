package graftbench

import scala.collection.mutable

import org.apache.spark.BenchBus
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession

/** Per-job-group totals from Spark's own task metrics. Every layer
  * call runs under a job group named after its span, so the totals
  * are the work that call made Spark do. */
final class GroupListener extends SparkListener {
  final class Totals {
    var jobs = 0L
    var tasks = 0L
    var cpuNanos = 0L
    var shuffleWriteBytes = 0L
    var spillBytes = 0L
    var taskWaitMs = 0L
    /** (start, end) wall-clock millis of each job. */
    val jobIntervals = mutable.ArrayBuffer.empty[(Long, Long)]
  }

  private val totals = mutable.Map.empty[String, Totals]
  private val jobs = mutable.Map.empty[Int, (String, Long)]
  private val stageGroup = mutable.Map.empty[Int, String]
  private val stageSubmitted = mutable.Map.empty[Int, Long]

  private def of(group: String) = totals.getOrElseUpdate(group, new Totals)

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    Option(e.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
      .foreach { g =>
        jobs(e.jobId) = (g, e.time)
        e.stageIds.foreach(stageGroup(_) = g)
        of(g).jobs += 1
      }
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobs.remove(e.jobId).foreach { case (g, t0) => of(g).jobIntervals += ((t0, e.time)) }
  }

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = synchronized {
    e.stageInfo.submissionTime.foreach(stageSubmitted(e.stageInfo.stageId) = _)
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    stageGroup.get(e.stageId).foreach { g =>
      val t = of(g)
      t.tasks += 1
      val m = e.taskMetrics
      if (m != null) {
        t.cpuNanos += m.executorCpuTime
        t.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
        t.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
      }
      stageSubmitted.get(e.stageId).foreach(s => t.taskWaitMs += math.max(0L, e.taskInfo.launchTime - s))
    }
  }

  def get(group: String): Option[Totals] = synchronized(totals.get(group))
  def groups: Seq[String] = synchronized(totals.keys.toSeq.sorted)
}

/** Spans around each call into a layer, kept in memory and written
  * out when the run ends. Disabled, a span is just its body: no job
  * group, no listener, nothing recorded. */
final class Tracer(spark: SparkSession, val enabled: Boolean) {
  final case class Span(id: Int, parent: Int, name: String, startNanos: Long,
      endNanos: Long, model: ModelCounters.Snapshot) {
    def seconds: Double = (endNanos - startNanos) / 1e9
  }

  private val sc = spark.sparkContext
  private val listener = new GroupListener
  private val spans = mutable.ArrayBuffer.empty[Span]
  private var stack = List.empty[(Int, String)]
  private var nextId = 0
  if (enabled) sc.addSparkListener(listener)

  def span[T](name: String)(body: => T): T =
    if (!enabled) body
    else {
      val id = nextId
      nextId += 1
      val parent = stack.headOption.map(_._1).getOrElse(-1)
      stack = (id, name) :: stack
      sc.setJobGroup(name, name)
      val m0 = ModelCounters.snapshot
      val t0 = System.nanoTime()
      try body
      finally {
        val t1 = System.nanoTime()
        spans += Span(id, parent, name, t0, t1, ModelCounters.snapshot - m0)
        stack = stack.tail
        stack.headOption match {
          case Some((_, p)) => sc.setJobGroup(p, p)
          case None => sc.clearJobGroup()
        }
      }
    }

  def close(): Unit = if (enabled) {
    BenchBus.drain(sc)
    sc.removeSparkListener(listener)
  }

  private def named(name: String) = spans.filter(_.name == name)

  def wallSeconds(name: String): Double = named(name).map(_.seconds).sum
  def model(name: String): ModelCounters.Snapshot =
    named(name).map(_.model).foldLeft(ModelCounters.Snapshot(0, 0, 0, 0)) { (a, b) =>
      ModelCounters.Snapshot(a.embed + b.embed, a.nli + b.nli, a.llm + b.llm,
        a.busyNanos + b.busyNanos)
    }

  /** Spark counters of a span name: wall, driver time (wall not
    * covered by any of its jobs), tasks, task wait, executor CPU and
    * shuffle write, summed over its calls. */
  def layer(name: String): Map[String, Double] = {
    val wall = wallSeconds(name)
    val t = listener.get(name)
    val jobSeconds = t.map(x => unionMillis(x.jobIntervals.toSeq) / 1e3).getOrElse(0.0)
    Map(
      "wall_s" -> wall,
      "driver_s" -> math.max(0.0, wall - jobSeconds),
      "tasks" -> t.map(_.tasks.toDouble).getOrElse(0.0),
      "task_wait_s" -> t.map(_.taskWaitMs / 1e3).getOrElse(0.0),
      "executor_cpu_s" -> t.map(_.cpuNanos / 1e9).getOrElse(0.0),
      "shuffle_write_mb" -> t.map(_.shuffleWriteBytes / 1048576.0).getOrElse(0.0))
  }

  private def unionMillis(iv: Seq[(Long, Long)]): Long =
    iv.sortBy(_._1).foldLeft((0L, Long.MinValue)) { case ((acc, end), (s, e)) =>
      if (e <= end) (acc, end)
      else (acc + e - math.max(s, end), e)
    }._1

  /** One JSON object per span: name, parent, start offset, duration
    * and self time (duration minus what its child spans cover); then
    * one per job group with the listener's totals. */
  def writeTo(path: String): Unit = {
    val childSeconds = spans.groupBy(_.parent).map { case (p, cs) => p -> cs.map(_.seconds).sum }
    val t0 = spans.map(_.startNanos).minOption.getOrElse(0L)
    val lines = spans.sortBy(_.id).map { s =>
      Json.obj(Seq(
        "id" -> s.id, "parent" -> s.parent, "name" -> s.name,
        "start_s" -> (s.startNanos - t0) / 1e9, "dur_s" -> s.seconds,
        "self_s" -> (s.seconds - childSeconds.getOrElse(s.id, 0.0)),
        "embed_calls" -> s.model.embed, "nli_calls" -> s.model.nli,
        "llm_calls" -> s.model.llm, "model_busy_s" -> s.model.busyNanos / 1e9))
    } ++ listener.groups.flatMap(g => listener.get(g).map { t =>
      Json.obj(Seq("group" -> g, "jobs" -> t.jobs, "tasks" -> t.tasks,
        "executor_cpu_s" -> t.cpuNanos / 1e9, "shuffle_write_mb" -> t.shuffleWriteBytes / 1048576.0,
        "spill_mb" -> t.spillBytes / 1048576.0, "task_wait_s" -> t.taskWaitMs / 1e3))
    })
    java.nio.file.Files.writeString(java.nio.file.Paths.get(path), lines.mkString("", "\n", "\n"))
  }
}
