package graftbench

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.api.Graft
import graft.functions.{HashEmbedder, HeuristicNli, TemplateLlm}

/** The benchmark's JVM side: sets up one workload from the generated
  * inputs, measures it with one closed-loop client (this thread), checks
  * the outputs, and writes raw samples as JSON for `run.py` to reduce.
  *
  * Args: --workload <name> --in <input dir> --work <work dir>
  *       --seconds <measure seconds> --trace <0|1> --out <result json>
  */
object Main {
  def main(args: Array[String]): Unit = {
    val opt = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val t0 = System.nanoTime()
    val cpus = Runtime.getRuntime.availableProcessors
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName("graftbench")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.objectHashAggregate.sortBased.fallbackThreshold", "262144")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"${opt("work")}/spark-local")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val run = new Run(spark, opt("in"), opt("work"), opt("seconds").toDouble, opt("trace") == "1")
    run.setup("session_s", secondsSince(t0))
    try {
      opt("workload") match {
        case "memory-loop" => new MemoryLoopWorkload(run).run()
        case "query-suite" => new SuiteWorkload(run).run()
        case w => throw new IllegalArgumentException(s"unknown workload $w")
      }
      java.nio.file.Files.writeString(java.nio.file.Paths.get(opt("out")), run.toJson)
    } finally spark.stop()
  }

  def secondsSince(t0: Long): Double = (System.nanoTime() - t0) / 1e9
}

/** Shared state of one benchmark run: the session, the samples taken,
  * and the operation and check counts behind `failed_ops_ratio`. */
final class Run(val spark: SparkSession, val in: String, val work: String,
    val seconds: Double, val traced: Boolean) {
  private val setupParts = mutable.LinkedHashMap.empty[String, Double]
  private val samples = mutable.LinkedHashMap.empty[String, mutable.ArrayBuffer[Double]]
  private val values = mutable.LinkedHashMap.empty[String, Double]
  private val layers = mutable.LinkedHashMap.empty[String, Double]
  private val failures = mutable.ArrayBuffer.empty[String]
  var attempted = 0L
  var failed = 0L

  /** Plain stubs for the measured runs; the same stubs behind counting
    * wrappers for the traced pass. */
  val graft = new Graft(spark)
  lazy val countingGraft = new Graft(spark, new CountingEmbedder(new HashEmbedder(64)),
    new CountingNli(new HeuristicNli), new CountingLlm(new TemplateLlm))

  def setup(name: String, v: Double): Unit = setupParts(name) = v
  def sample(name: String, v: Double): Unit =
    samples.getOrElseUpdate(name, mutable.ArrayBuffer.empty) += v
  def value(name: String, v: Double): Unit = values(name) = v
  def layer(name: String, v: Double): Unit = layers(name) = v
  def layerValue(name: String): Double = layers.getOrElse(name, 0.0)

  /** One operation the client sends: counted, and a throw is a failed
    * operation rather than a crashed run. */
  def op[T](what: String)(body: => T): Option[T] = {
    attempted += 1
    try Some(body)
    catch {
      case e: Exception =>
        fail(s"$what threw ${e.getClass.getSimpleName}: ${e.getMessage}")
        None
    }
  }

  /** One output check, counted with the operations. */
  def check(what: String)(ok: => Boolean): Unit = {
    attempted += 1
    try { if (!ok) fail(what) }
    catch { case e: Exception => fail(s"$what threw $e") }
  }

  private def fail(what: String): Unit = {
    failed += 1
    if (failures.size < 50) failures += what
  }

  def timed[T](body: => T): (T, Double) = {
    val t0 = System.nanoTime()
    val r = body
    (r, Main.secondsSince(t0))
  }

  def dir(name: String): String = {
    val d = new java.io.File(work, name)
    if (d.exists()) org.apache.commons.io.FileUtils.deleteDirectory(d)
    d.getPath
  }

  def readJsonl(name: String, schema: String): DataFrame =
    spark.read.schema(schema).json(s"$in/$name")

  /** Used heap after full collections, in MB: the least of three
    * readings, each after a collection and a pause that lets Spark's
    * context cleaner drop what the previous collection released. */
  def heapMb(): Double = {
    val mem = java.lang.management.ManagementFactory.getMemoryMXBean
    (1 to 3).map { _ =>
      System.gc()
      Thread.sleep(200)
      mem.getHeapMemoryUsage.getUsed / 1048576.0
    }.min
  }

  /** Persistent RDDs that belong to the inputs, not to graft calls. */
  private var inputRdds = Set.empty[Int]
  def markInputs(): Unit = inputRdds = spark.sparkContext.getPersistentRDDs.keySet.toSet

  /** Cached RDDs graft calls left behind since [[markInputs]]. */
  def leakedRdds: Seq[org.apache.spark.rdd.RDD[_]] =
    spark.sparkContext.getPersistentRDDs.toSeq.collect {
      case (id, rdd) if !inputRdds.contains(id) => rdd
    }

  /** Drop what graft calls left cached, so each pass starts alike. */
  def releaseLeaks(): Unit = leakedRdds.foreach(_.unpersist(blocking = true))

  def toJson: String = Json.obj(Seq(
    "setup" -> setupParts, "samples" -> samples, "values" -> values,
    "layers" -> layers, "attempted" -> attempted, "failed" -> failed,
    "failures" -> failures))

  /** Trace-mode protocol shared by the workloads: the same fixed work
    * runs untraced and then traced; the traced copy yields the
    * per-layer metrics, the pair the tracing overhead. Each side
    * returns the seconds of its work, checks excluded. */
  def tracedPair(untraced: () => Double, traced: Tracer => Double): Tracer = {
    val plain = untraced()
    releaseLeaks()
    val tracer = new Tracer(spark, enabled = true)
    val m0 = ModelCounters.snapshot
    val withTrace = tracer.span("pass")(traced(tracer))
    tracer.close()
    layer("functions.model_busy_s", (ModelCounters.snapshot - m0).busyNanos / 1e9)
    heapMb() // collect first: the context cleaner drops unreachable caches
    layer("plans.cached_rdds_left", leakedRdds.size.toDouble)
    layer("trace_overhead_ratio", (withTrace - plain) / plain)
    tracer.writeTo(s"$work/trace.jsonl")
    tracer
  }

  def exportLayers(tracer: Tracer, names: Seq[String], counters: Seq[String]): Unit =
    names.foreach { n =>
      val l = tracer.layer(n)
      counters.foreach(c => layer(s"$n.$c", l(c)))
    }
}

object Run {
  /** Bytes of all regular files under a directory. */
  def bytesUnder(dir: String): Long = {
    val walk = java.nio.file.Files.walk(java.nio.file.Paths.get(dir))
    try walk.filter(java.nio.file.Files.isRegularFile(_))
      .mapToLong(java.nio.file.Files.size(_)).sum()
    finally walk.close()
  }
}
