package graft.rbm

import org.apache.spark.HashPartitioner
import org.apache.spark.rdd.RDD

import scala.reflect.ClassTag

/** Bitwise-reproducible full-batch aggregation — the eval mode a
  * training-audit pipeline needs when a metric trajectory must be
  * EXACTLY rerunnable (golden-pinned CI gates, cross-run regression
  * hashes, the q111 CORRECTNESS row).
  *
  * `treeAggregate` (the throughput path of [[RBM.cd1Epoch]] /
  * [[Backprop.finetune]]) merges partition partials in task-COMPLETION
  * order, so float sums carry ~1e-16-relative run-to-run noise; one
  * epoch rounds that away, but an 80-epoch momentum loop amplifies it
  * chaotically (why q111 was declared no-oracle through round 12).
  * This path removes every ordering freedom instead of tolerating it:
  *
  *  1. `canonicalize` hash-partitions by the LONG example id
  *     (`HashPartitioner` — a pure function of the id, independent of
  *     file layout, split count, or scale factor) and sorts each
  *     partition by id, so each partition's fold ORDER is a function
  *     of the data alone;
  *  2. [[aggregate]] folds each canonical partition sequentially into
  *     its own partial, collects the (pid, partial) pairs —
  *     model-sized × nParts, the same driver budget as
  *     treeAggregate's root — and merges them in PARTITION INDEX order
  *     on the driver.
  *
  * Canonical partitions set the fold ORDER; they do not set the task
  * count. The folds run in `min(nParts, defaultParallelism)` tasks,
  * each folding a few canonical partitions one after another (a
  * no-shuffle `coalesce` applied AFTER the per-partition fold, so
  * `pid` is still the canonical index). A job's fixed cost grows with
  * its task count, and an epoch loop pays it once per epoch: with 32
  * canonical partitions on 4 cores, 32 tasks per job cost about twice
  * what 4 do, for the same bits. The remaining cost vs treeAggregate
  * is one shuffle+sort ONCE before the epoch loop (the canonical RDD is
  * persisted and reused by every epoch) and a driver merge of nParts
  * partials per epoch instead of a tree — partials are O(model), not
  * O(rows), so even 4096 × a 10 KB model is driver-trivial. The
  * determinism/throughput trade is the caller's: default paths keep
  * treeAggregate; reproducible-eval opts in.
  */
object Reproducible {

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
