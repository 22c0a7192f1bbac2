package graft.rbm

import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue, TimeUnit}
import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.HashPartitioner
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart, SparkListenerTaskEnd}

import graft.SparkSpec

/** Gates for the bitwise-reproducible aggregation mode behind q111's
  * golden-pinned oracle row: the result must be a pure function of the
  * DATA — independent of the source RDD's partition count, row order,
  * and run — or the pinned VALUES literals would flake.
  */
class ReproducibleSpec extends SparkSpec {
  import ReproducibleSpec.seqOp

  private def vecs(seed: Int): Seq[(Long, Array[Double])] =
    (0L until 97L).map { id =>
      val r = new java.util.Random(id * 7919 + seed)
      (id, Array.fill(8)(r.nextGaussian()))
    }

  private def fold(data: Seq[(Long, Array[Double])], slices: Int,
      shuffleSeed: Int, nParts: Int = 5): Seq[Double] = {
    val shuffled = new scala.util.Random(shuffleSeed).shuffle(data)
    val rdd = spark.sparkContext.parallelize(shuffled, slices)
    Reproducible.aggregate(Reproducible.canonicalize(rdd, nParts), 9)(seqOp).toSeq
  }

  test("aggregate is bit-identical across source partitionings, row " +
    "orders, and runs") {
    val data = vecs(42)
    val ref = fold(data, 3, 1)
    assert(fold(data, 3, 1) == ref, "re-run diverged")
    assert(fold(data, 7, 2) == ref, "partition-count/order sensitivity")
    assert(fold(data, 1, 3) == ref, "single-slice layout diverged")
    assert(ref.last == 97.0)
  }

  test("aggregate equals the canonical-order fold done on the driver: " +
    "pid ascending, id ascending within a pid, partials summed in pid order") {
    val data = vecs(42)
    val part = new HashPartitioner(32)
    val g = new Array[Double](9)
    data.groupBy { case (id, _) => part.getPartition(id) }.toSeq.sortBy(_._1)
      .foreach { case (_, rows) =>
        val acc = new Array[Double](9)
        rows.sortBy(_._1).foreach { case (id, x) => seqOp(acc, id, x) }
        var i = 0
        while (i < 9) { g(i) += acc(i); i += 1 }
      }
    assert(fold(data, 3, 1, nParts = 32) == g.toSeq)
  }

  test("the fold is one job of min(nParts, defaultParallelism) tasks") {
    val sc = spark.sparkContext
    for (nParts <- Seq(32, 2)) {
      val canon = Reproducible.canonicalize(
        sc.parallelize(vecs(42), 3), nParts).persist()
      canon.count()
      val group = s"reproducible-fold-$nParts"
      val jobs = new ConcurrentLinkedQueue[Int]()
      val ended = new ConcurrentLinkedQueue[Int]()
      val stages = ConcurrentHashMap.newKeySet[Int]()
      val tasks = new AtomicInteger()
      val l = new SparkListener {
        override def onJobStart(e: SparkListenerJobStart): Unit =
          if (e.properties.getProperty("spark.jobGroup.id") == group) {
            e.stageIds.foreach(stages.add)
            jobs.add(e.jobId)
          }
        override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
          if (stages.contains(e.stageId)) tasks.incrementAndGet()
        override def onJobEnd(e: SparkListenerJobEnd): Unit =
          if (jobs.contains(e.jobId)) ended.add(e.jobId)
      }
      sc.addSparkListener(l)
      try {
        sc.setJobGroup(group, group)
        try Reproducible.aggregate(canon, 9)(seqOp)
        finally sc.clearJobGroup()
        // listener events arrive after the action returns; task ends
        // reach a listener before their job's end
        val deadline = System.nanoTime() + TimeUnit.SECONDS.toNanos(30)
        while ((ended.isEmpty || ended.size < jobs.size) &&
            System.nanoTime() < deadline)
          Thread.sleep(20)
      } finally {
        sc.removeSparkListener(l)
        canon.unpersist()
      }
      assert(jobs.size == 1 && ended.size == 1, s"nParts=$nParts")
      assert(tasks.get == math.min(nParts, sc.defaultParallelism),
        s"nParts=$nParts defaultParallelism=${sc.defaultParallelism}")
    }
  }

  test("a single value change DOES change the result (the gate is " +
    "not vacuously constant)") {
    val data = vecs(42)
    val bumped = data.map { case (id, x) =>
      if (id == 50L) (id, x.updated(3, x(3) + 1e-9)) else (id, x)
    }
    assert(fold(bumped, 3, 1) != fold(data, 3, 1))
  }

  test("q111's trajectory is run-to-run identical at the fixture SF " +
    "(the property the golden VALUES oracle stands on)") {
    val q = graft.SparkEntry.queries("q111_backprop_finetune")
    val a = q(spark, sf001).collect().map(_.toSeq).toSeq
    val b = q(spark, sf001).collect().map(_.toSeq).toSeq
    assert(a == b, "q111 trajectory not reproducible")
    assert(a.size == 81)
  }
}

object ReproducibleSpec {
  // a deliberately order-SENSITIVE float fold (multiplies by a per-row
  // factor before adding) so any ordering freedom would actually show
  // up in the low bits; in the companion so task closures capture no spec
  def seqOp(acc: Array[Double], id: Long, x: Array[Double]): Unit = {
    var i = 0
    while (i < 8) { acc(i) += x(i) * math.sin(id.toDouble + i); i += 1 }
    acc(8) += 1.0
  }
}
