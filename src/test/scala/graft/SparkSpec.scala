package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** One shared local session for the whole test JVM. */
object TestSession {
  lazy val spark: SparkSession = GraftSession.start(8)
}

abstract class SparkSpec extends AnyFunSuite {
  lazy val spark: SparkSession = TestSession.spark
  val sf0001 = "/root/testdata/sf0.001"

  /** `body`'s result and the number of Spark jobs it launched, counted by
    * a listener between two drains of the listener bus. */
  def countJobs[T](body: => T): (T, Int) = {
    val sc = spark.sparkContext
    val jobs = new java.util.concurrent.atomic.AtomicInteger()
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(
          e: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        jobs.incrementAndGet()
    }
    org.apache.spark.GraftTestBus.drain(sc)
    sc.addSparkListener(listener)
    try {
      val result = body
      org.apache.spark.GraftTestBus.drain(sc)
      (result, jobs.get)
    } finally sc.removeSparkListener(listener)
  }
}
