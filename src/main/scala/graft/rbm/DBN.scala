package graft.rbm

import breeze.linalg.DenseMatrix
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Greedy layer-wise Deep Belief Network pre-training — the reference's
  * driver orchestration (`driver.java:64-287`): for each adjacent layer
  * pair, run `epochs` CD-1 sweeps, then forward-propagate the data
  * through the trained layer (quantized, reference
  * `propmapper.java:139-159`) to become the next layer's input.
  *
  * Spark translation of the control flow (SURVEY §3.1): the epoch loop
  * is a driver-side loop over [[RBM.epoch]] actions (weights live on
  * the driver between iterations, KB–MB scale, exactly like the
  * reference's `VishidMatrix`); the inter-layer HDFS re-materialization
  * (`driver.java:229`) becomes `persist()` of the propagated layer.
  */
object DBN {

  /** Forward-propagate + quantize one row: σ(x·W) per hidden unit,
    * re-quantized through the 0–255 integer channel exactly like the
    * reference's prop job output → next-layer parse chain (A11 write at
    * `propmapper.java:156` then A4 re-read `/255.0` at
    * `rbmmapper.java:116-119`): floor(σ·255)/255.
    */
  private def propagateRow(x: Array[Double], w: Array[Double],
      d: Int, h: Int): Array[Double] = {
    val out = new Array[Double](h)
    var j = 0
    while (j < h) {
      var s = 0.0
      var i = 0
      while (i < d) { s += x(i) * w(i * h + j); i += 1 }
      out(j) = math.floor(255.0 / (1.0 + math.exp(-s))) / 255.0
      j += 1
    }
    out
  }

  /** [[propagateRow]] over (`id` long, `x` array&lt;double&gt;) rows.
    *
    * Pure narrow `Dataset.map` — zero shuffles (the reference burned a
    * full identity-reduce shuffle per layer here, SURVEY §3.3). The
    * weights ride in the task closure as a flat row-major array, like
    * [[RBM.epoch]]'s.
    */
  def propagate(
      spark: SparkSession,
      data: DataFrame,
      w: DenseMatrix[Double]): DataFrame = {
    import spark.implicits._
    val d = w.rows
    val h = w.cols
    val wFlat = RBM.toFlat(w)
    data.select(col("id").cast("long"), col("x"))
      .as[(Long, Array[Double])]
      .map { case (id, x) => (id, propagateRow(x, wFlat, d, h)) }
      .toDF("id", "x")
  }

  /** Layer-wise pre-training over `layerSizes` (e.g. 64→16→8). Returns
    * the trained weight stack. Input `data`: (`id` long,
    * `x` array&lt;double&gt; of length layerSizes.head).
    */
  def pretrain(
      spark: SparkSession,
      data: DataFrame,
      layerSizes: Seq[Int],
      epochs: Int,
      seed: Long = 42L): Seq[DenseMatrix[Double]] =
    train(spark, data, layerSizes, epochs, seed)((_, _) => ())

  /** [[pretrain]], handing each propagated layer (persisted, in the
    * canonical layout) to `emit` with its layer index. `data` shuffles
    * once, into [[Reproducible]]'s canonical layout; each later layer is
    * a narrow `mapValues` of the one before, which keeps the
    * partitioner and the in-partition id order, so every layer's
    * epochs fold in canonical order with no further shuffle. The
    * result equals [[RBM.cd1Epoch]] / [[propagate]] chained layer by
    * layer, bit for bit.
    */
  private[rbm] def train(
      spark: SparkSession,
      data: DataFrame,
      layerSizes: Seq[Int],
      epochs: Int,
      seed: Long)(
      emit: (Int, RDD[(Long, Array[Double])]) => Unit): Seq[DenseMatrix[Double]] = {
    val cached = scala.collection.mutable.Buffer(RBM.canonical(spark, data).persist())
    // once an action has read the newest layer, it holds its own cache:
    // every earlier one can go (unpersisting it any earlier would
    // recompute the newest layer from the source)
    def dropOlder(): Unit = while (cached.length > 1) cached.remove(0).unpersist()
    try {
      for (layer <- 0 until layerSizes.length - 1) yield {
        val cfg = RBM.Config(layerSizes(layer), layerSizes(layer + 1),
          seed = seed + layer)
        var w = RBM.initWeights(cfg)
        val input = cached.last
        for (_ <- 0 until epochs) { w = RBM.epoch(input, w, cfg); dropOlder() }
        val wFlat = RBM.toFlat(w)
        val (d, h) = (cfg.numdims, cfg.numhid)
        cached += input.mapValues(x => propagateRow(x, wFlat, d, h)).persist()
        emit(layer, cached.last)
        w
      }
    } finally cached.foreach(_.unpersist())
  }
}
