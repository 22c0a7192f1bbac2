package graft

import java.util.concurrent.{ConcurrentHashMap, TimeUnit}

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart}
import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Shared test harness: one local SparkSession per suite. */
trait SparkSpec extends AnyFunSuite {
  lazy val spark: SparkSession = Tables.session("4")

  def sf001 = "/root/testdata/sf0.001"

  /** Jobs `body` submits, counted by a listener on a job group (threads
    * `body` starts inherit the group). A marker job closes the group:
    * listener events arrive in order, so once the marker's end is seen
    * every earlier job start has been.
    */
  def jobsOf(body: => Any): Int = {
    val sc = spark.sparkContext
    val group = s"jobs-of-${java.util.UUID.randomUUID()}"
    val started = ConcurrentHashMap.newKeySet[Int]()
    val ended = ConcurrentHashMap.newKeySet[Int]()
    val l = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (e.properties.getProperty("spark.jobGroup.id") == group)
          started.add(e.jobId)
      override def onJobEnd(e: SparkListenerJobEnd): Unit =
        if (started.contains(e.jobId)) ended.add(e.jobId)
    }
    sc.addSparkListener(l)
    try {
      sc.setJobGroup(group, group)
      try { body; sc.parallelize(Seq(1), 1).count() }
      finally sc.clearJobGroup()
      val deadline = System.nanoTime() + TimeUnit.SECONDS.toNanos(30)
      while ((started.isEmpty || ended.size < started.size) &&
          System.nanoTime() < deadline)
        Thread.sleep(20)
    } finally sc.removeSparkListener(l)
    assert(started.size >= 1 && ended.size == started.size,
      "the listener did not see the marker job end")
    started.size - 1
  }
}
