package graft

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.{GraftSqlBridge, SparkSession}
import org.scalatest.funsuite.AnyFunSuite

/** One shared local session per suite (lazy; reused across suites within
  * the forked test JVM via getOrCreate). */
trait SparkTestBase extends AnyFunSuite {
  lazy val spark: SparkSession = GraftSession.get("graft-test")

  /** `body`'s result and the Spark jobs it started: the listener bus is
    * drained before counting starts (earlier jobs' events stay out) and
    * after `body` returns (every start it caused has arrived). */
  def jobsDuring[A](body: => A): (A, Int) = {
    val sc = spark.sparkContext
    val jobs = new java.util.concurrent.atomic.AtomicInteger(0)
    val l = new SparkListener {
      override def onJobStart(js: SparkListenerJobStart): Unit =
        jobs.incrementAndGet(): Unit
    }
    GraftSqlBridge.drainListeners(sc)
    sc.addSparkListener(l)
    try {
      val a = body
      GraftSqlBridge.drainListeners(sc)
      (a, jobs.get())
    } finally sc.removeSparkListener(l)
  }
}
