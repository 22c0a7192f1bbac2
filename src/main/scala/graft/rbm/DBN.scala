package graft.rbm

import breeze.linalg.DenseMatrix
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Greedy layer-wise Deep Belief Network pre-training — the reference's
  * driver orchestration (`driver.java:64-287`): for each adjacent layer
  * pair, run `epochs` CD-1 sweeps, then forward-propagate the data
  * through the trained layer (quantized, reference
  * `propmapper.java:139-159`) to become the next layer's input.
  *
  * Spark translation of the control flow (SURVEY §3.1): the epoch loop
  * is a driver-side loop over [[RBM.cd1Epoch]] actions (weights live on
  * the driver between iterations, KB–MB scale, exactly like the
  * reference's `VishidMatrix`); the inter-layer HDFS re-materialization
  * (`driver.java:229`) becomes `persist()` of the propagated Dataset.
  */
object DBN {

  /** Forward-propagate + quantize: σ(x·W) per hidden unit, re-quantized
    * through the 0–255 integer channel exactly like the reference's
    * prop job output → next-layer parse chain (A11 write at
    * `propmapper.java:156` then A4 re-read `/255.0` at
    * `rbmmapper.java:116-119`): floor(σ·255)/255.
    *
    * Pure narrow `Dataset.map` — zero shuffles (the reference burned a
    * full identity-reduce shuffle per layer here, SURVEY §3.3). The
    * weights ride in the task closure as a flat row-major array, like
    * [[RBM.cd1Epoch]]'s.
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
      .map { case (id, x) =>
        val out = new Array[Double](h)
        var j = 0
        while (j < h) {
          var s = 0.0
          var i = 0
          while (i < d) { s += x(i) * wFlat(i * h + j); i += 1 }
          out(j) = math.floor(255.0 / (1.0 + math.exp(-s))) / 255.0
          j += 1
        }
        (id, out)
      }
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
      seed: Long = 42L): Seq[DenseMatrix[Double]] = {
    var input = data
    var prev: Option[DataFrame] = None
    val weights = Seq.newBuilder[DenseMatrix[Double]]
    for (layer <- 0 until layerSizes.length - 1) {
      val cfg = RBM.Config(layerSizes(layer), layerSizes(layer + 1),
        seed = seed + layer)
      var w = RBM.initWeights(cfg)
      // cache: every epoch re-reads this layer's input (driver.java:90)
      input.persist()
      if (epochs > 0) w = RBM.cd1Epoch(spark, input, w, cfg)
      // that epoch filled `input`'s cache from `prev`'s; unpersisting
      // `prev` any earlier would recompute `input` from the source scan
      prev.foreach(_.unpersist())
      for (_ <- 1 until epochs) w = RBM.cd1Epoch(spark, input, w, cfg)
      weights += w
      prev = Some(input)
      input = propagate(spark, input, w)
    }
    prev.foreach(_.unpersist())
    weights.result()
  }
}
