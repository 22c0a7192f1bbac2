package graft.rbm

import org.apache.spark.HashPartitioner
import org.apache.spark.rdd.RDD

import scala.reflect.ClassTag

/** The one gradient sum of the `rbm` package: a full-batch aggregation
  * whose every float add has a data-determined position, so CD-1
  * epochs, DBN stacks and 80-epoch momentum trajectories are
  * bit-identical across runs, input file layouts and core counts
  * (q111's golden VALUES oracle stands on it).
  *
  *  1. `canonicalize` hash-partitions by the LONG example id
  *     (`HashPartitioner` — a pure function of the id, independent of
  *     file layout, split count, or scale factor) and sorts each
  *     partition by id, so each partition's fold ORDER is a function
  *     of the data alone;
  *  2. [[aggregate]] folds each canonical partition sequentially into
  *     its own partial, collects the (pid, partial) pairs —
  *     model-sized × nParts — and merges them in PARTITION INDEX order
  *     on the driver.
  *
  * Canonical partitions set the fold ORDER; they do not set the task
  * count. The folds run in `min(nParts, defaultParallelism)` tasks,
  * each folding a few canonical partitions one after another (a
  * no-shuffle `coalesce` applied AFTER the per-partition fold, so
  * `pid` is still the canonical index). A job's fixed cost grows with
  * its task count, and an epoch loop pays it once per epoch: with 32
  * canonical partitions on 4 cores, 32 tasks per job cost about twice
  * what 4 do, for the same bits. The layout costs one O(rows)
  * shuffle+sort per training input; a loop persists the canonical RDD
  * and pays it once for all its epochs (and, in [[DBN]], all its
  * layers). Each epoch then ships nParts O(model) partials to the
  * driver — even 4096 × a 10 KB model is driver-trivial.
  */
object Reproducible {

  /** Canonical partition count of every training input. */
  private[rbm] val Parts = 32

  /** Canonical layout: partition = hash(id) % nParts, rows sorted by
    * id within each partition. Persist the result if it feeds a loop.
    */
  def canonicalize[V: ClassTag](rdd: RDD[(Long, V)],
      nParts: Int): RDD[(Long, V)] =
    rdd.repartitionAndSortWithinPartitions(new HashPartitioner(nParts))

  /** Fold `seqOp` over every partition of a [[canonicalize]]d RDD in
    * its sorted order, then sum the flat partials in partition-index
    * order. Every float add has a data-determined position — the
    * result is bit-identical across runs, JVMs, input file layouts and
    * core counts. One job of `min(nParts, defaultParallelism)` tasks.
    */
  def aggregate[V](canon: RDD[(Long, V)], size: Int)(
      seqOp: (Array[Double], Long, V) => Unit): Array[Double] = {
    val tasks = math.min(canon.getNumPartitions,
      canon.sparkContext.defaultParallelism)
    val partials = canon.mapPartitionsWithIndex { (pid, it) =>
      val acc = new Array[Double](size)
      it.foreach { case (id, v) => seqOp(acc, id, v) }
      Iterator((pid, acc))
    }.coalesce(tasks).collect().sortBy(_._1)
    val g = new Array[Double](size)
    partials.foreach { case (_, p) =>
      var i = 0
      while (i < size) { g(i) += p(i); i += 1 }
    }
    g
  }
}
