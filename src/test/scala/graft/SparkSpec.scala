package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Shared SparkSession base for all suites (one JVM, one session). */
trait SparkSpec extends AnyFunSuite {
  lazy val spark: SparkSession = SparkSpec.session
  val sfTiny = "/root/testdata/sf0.001"

  /** The job group of every Spark job started while `body` ran under job
    * group `group` on this thread, in start order ("" for no group). Two
    * sentinel jobs in their own groups bracket `body`; listener events
    * arrive in order, so once the closing sentinel is seen every job
    * started between them has been recorded. */
  def jobGroupsDuring(group: String)(body: => Unit): Seq[String] = {
    import scala.jdk.CollectionConverters._
    val sc = spark.sparkContext
    val (open, close) = (s"$group-open", s"$group-close")
    val seen = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val closed = new java.util.concurrent.CountDownLatch(1)
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(
          e: org.apache.spark.scheduler.SparkListenerJobStart): Unit = {
        val g = Option(e.properties)
          .flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
          .getOrElse("")
        seen.add(g)
        if (g == close) closed.countDown()
      }
    }
    def sentinel(g: String): Unit = {
      sc.setJobGroup(g, "sentinel")
      try sc.parallelize(Seq(1), 1).count() finally sc.clearJobGroup()
    }
    sc.addSparkListener(listener)
    try {
      sentinel(open)
      sc.setJobGroup(group, group)
      try body finally sc.clearJobGroup()
      sentinel(close)
      assert(closed.await(60, java.util.concurrent.TimeUnit.SECONDS),
        "closing sentinel job never reached the listener")
    } finally sc.removeSparkListener(listener)
    seen.asScala.toSeq.dropWhile(_ != open).drop(1).takeWhile(_ != close)
  }
}

object SparkSpec {
  lazy val session: SparkSession = Engine.session("4")
}
