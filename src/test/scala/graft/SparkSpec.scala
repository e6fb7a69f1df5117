package graft

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.GraftBus
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.SparkSession
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** Shared local SparkSession for specs (one JVM-wide session). */
trait SparkSpec extends AnyFunSuite with BeforeAndAfterAll {
  lazy val spark: SparkSession = SparkSpec.session
  val sf0001 = "/root/testdata/sf0.001"
  val sf001 = "/root/testdata/sf0.01"

  /** Jobs a block starts, as their descriptions (null when unset). */
  def jobsOf[T](body: => T): (T, Seq[String]) = {
    val sc = spark.sparkContext
    val seen = ArrayBuffer.empty[String]
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = seen.synchronized {
        seen += Option(e.properties).map(_.getProperty("spark.job.description")).orNull
      }
    }
    GraftBus.drain(sc)
    sc.addSparkListener(listener)
    try {
      val out = body
      GraftBus.drain(sc)
      (out, seen.synchronized(seen.toList))
    } finally sc.removeSparkListener(listener)
  }
}

object SparkSpec {
  // A fixed local[4], whatever SPARK_GRAFT_CPUS says, so plans and
  // partition-seeded results do not vary with the machine.
  lazy val session: SparkSession = LocalSpark.session(cores = 4)
}
