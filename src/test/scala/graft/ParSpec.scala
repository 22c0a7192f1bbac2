package graft

import java.util.concurrent.{ConcurrentLinkedQueue, TimeUnit}

import scala.jdk.CollectionConverters._

import org.apache.spark.TaskContext
import org.apache.spark.scheduler.{JobFailed, SparkListener, SparkListenerJobEnd, SparkListenerJobStart}

/** [[Par]]'s rules: a failing branch cancels its siblings' Spark jobs
  * at once and its exception reaches the caller; branch jobs keep the
  * caller's job group and carry their branch name and the scope's tag;
  * no pool thread outlives the call.
  */
class ParSpec extends SparkSpec {

  /** Records job starts and ends while `body` runs. */
  private def recording[A](body: (ConcurrentLinkedQueue[SparkListenerJobStart],
      ConcurrentLinkedQueue[SparkListenerJobEnd]) => A): A = {
    val starts = new ConcurrentLinkedQueue[SparkListenerJobStart]()
    val ends = new ConcurrentLinkedQueue[SparkListenerJobEnd]()
    val l = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = starts.add(e)
      override def onJobEnd(e: SparkListenerJobEnd): Unit = ends.add(e)
    }
    spark.sparkContext.addSparkListener(l)
    try body(starts, ends) finally spark.sparkContext.removeSparkListener(l)
  }

  private def eventually(what: String)(cond: => Boolean): Unit = {
    val deadline = System.nanoTime() + TimeUnit.SECONDS.toNanos(30)
    while (!cond && System.nanoTime() < deadline) Thread.sleep(20)
    assert(cond, what)
  }

  private def description(e: SparkListenerJobStart): String =
    e.properties.getProperty("spark.job.description")

  test("a failing branch cancels a sibling's running job and its exception reaches the caller") {
    recording { (starts, ends) =>
      val threads = new ConcurrentLinkedQueue[Thread]()
      val sc = spark.sparkContext
      val t0 = System.nanoTime()
      val e = intercept[IllegalStateException] {
        Par.scope(spark, 2) { p =>
          val slow = p.fork("parspec slow") {
            threads.add(Thread.currentThread())
            // 30 s of tasks unless killed
            sc.parallelize(1 to 2, 2).map { x =>
              var i = 0
              while (i < 300 && !TaskContext.get().isInterrupted()) {
                Thread.sleep(100); i += 1
              }
              x
            }.count()
          }
          val bad = p.fork("parspec bad") {
            threads.add(Thread.currentThread())
            eventually("the slow job starts") {
              starts.asScala.exists(description(_) == "parspec slow")
            }
            throw new IllegalStateException("branch failed")
          }
          // joined first: the cancelled sibling still surfaces the
          // failing branch's exception, not its own cancellation
          (slow.join(), bad.join())
        }
      }
      val sec = (System.nanoTime() - t0) / 1e9
      assert(e.getMessage == "branch failed")
      assert(sec < 15, s"the call took $sec s; the slow job runs 30 s")
      val slowIds = starts.asScala.filter(description(_) == "parspec slow")
        .map(_.jobId).toSet
      assert(slowIds.nonEmpty)
      eventually("the slow job ends JobFailed") {
        ends.asScala.exists(j => slowIds(j.jobId) && j.jobResult.isInstanceOf[JobFailed])
      }
      assert(threads.size == 2 && threads.asScala.forall(!_.isAlive))
    }
  }

  test("branch jobs keep the caller's job group, carry their name and share one tag") {
    val sc = spark.sparkContext
    recording { (starts, _) =>
      val threads = new ConcurrentLinkedQueue[Thread]()
      sc.setJobGroup("parspec-group", "parspec caller")
      val (a, b) = try Par.scope(spark, 2) { p =>
        val fa = p.fork("parspec a") {
          threads.add(Thread.currentThread())
          sc.parallelize(1 to 10, 2).count()
        }
        val fb = p.fork("parspec b") {
          threads.add(Thread.currentThread())
          sc.parallelize(1 to 5, 2).count()
        }
        (fa.join(), fb.join())
      } finally sc.clearJobGroup()
      assert((a, b) == (10L, 5L))
      assert(threads.size == 2 && threads.asScala.forall(!_.isAlive))
      val branchJobs = starts.asScala.filter(j =>
        Set("parspec a", "parspec b")(description(j))).toSeq
      assert(branchJobs.map(description).toSet == Set("parspec a", "parspec b"))
      assert(branchJobs.forall(
        _.properties.getProperty("spark.jobGroup.id") == "parspec-group"))
      val tags = branchJobs.map(_.properties.getProperty("spark.job.tags")).toSet
      assert(tags.size == 1 && tags.head.startsWith("graft-par-"), tags)
    }
    // the caller's own properties are untouched
    assert(sc.getLocalProperty("spark.job.description") == null)
    assert(sc.getJobTags().isEmpty)
  }
}
