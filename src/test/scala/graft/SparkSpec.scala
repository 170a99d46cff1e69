package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** Shared local SparkSession for specs. */
trait SparkSpec extends AnyFunSuite with BeforeAndAfterAll {
  lazy val spark: SparkSession = SparkSpec.session

  override def afterAll(): Unit = () // session shared across suites

  /** `body`'s result and the number of Spark jobs it launched. Listener
    * delivery is async but FIFO, so a group-tagged sentinel job marks the
    * end: every job of `body` arrives before it (suites run sequentially
    * in the forked test JVM — no foreign jobs interleave).
    */
  def jobsDuring[T](body: => T): (T, Int) = {
    val sentinel = s"jobs_sentinel_${java.util.UUID.randomUUID}"
    val groups = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(
          js: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        groups.add(Option(js.properties)
          .map(_.getProperty("spark.jobGroup.id", "")).getOrElse(""))
    }
    spark.sparkContext.addSparkListener(listener)
    try {
      val out = body
      spark.sparkContext.setJobGroup(sentinel, "sentinel")
      try spark.range(1).count()
      finally spark.sparkContext.clearJobGroup()
      val deadline = System.nanoTime() + 30L * 1000 * 1000 * 1000
      while (!groups.toArray.contains(sentinel) &&
          System.nanoTime() < deadline) Thread.sleep(20)
      (out, groups.toArray.takeWhile(_ != sentinel).length)
    } finally spark.sparkContext.removeSparkListener(listener)
  }
}

object SparkSpec {
  lazy val session: SparkSession = GraftSession(
    master = "local[4]", shufflePartitions = "4", logLevel = "ERROR")
}
