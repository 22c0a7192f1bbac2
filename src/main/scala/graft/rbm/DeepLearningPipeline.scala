package graft.rbm

import org.apache.spark.sql.SparkSession
import graft.sources.PixelText

/** The reference's end-to-end CLI workflow (reference `driver.java:26-29`:
  * `<input>/ <output>/ maxiter numLayer n0 n1 … [numCase]`), re-expressed:
  * read the layer-0 text table, greedily pre-train each RBM layer pair
  * for `maxEpoch` epochs, and materialize each propagated layer in the
  * reference's own text format so downstream reference tooling could
  * consume it unchanged.
  *
  * A user of the reference swaps `hadoop jar … DeepLearningDriver` for
  * `spark-submit --class graft.rbm.DeepLearningPipeline` with the same
  * argument shape. Differences by design (SURVEY §0/§4): corrected CD-1
  * semantics, one weight layout, full-precision weights (the reference
  * truncated to 3 decimals on every epoch round-trip), and no
  * per-epoch HDFS re-materialization — weights stay on the driver,
  * data stays cached.
  */
object DeepLearningPipeline {

  def run(
      spark: SparkSession,
      inputDir: String,
      outputDir: String,
      maxEpoch: Int,
      layerSizes: Seq[Int],
      seed: Long = 42L): Seq[breeze.linalg.DenseMatrix[Double]] = {
    require(layerSizes.length >= 2, "need at least one layer pair")
    var input = PixelText.read(spark, inputDir, layerSizes.head)
    val weights = Seq.newBuilder[breeze.linalg.DenseMatrix[Double]]
    for (layer <- 0 until layerSizes.length - 1) {
      val cfg = RBM.Config(layerSizes(layer), layerSizes(layer + 1), seed = seed + layer)
      var w = RBM.initWeights(cfg)
      input.persist()
      for (_ <- 0 until maxEpoch) w = RBM.cd1Epoch(spark, input, w, cfg)
      weights += w
      // persist BEFORE the write so the text materialization populates
      // the cache; without it, unpersisting the old input would force
      // the next layer's first action to recompute every prior
      // propagate back to the source (O(L²) passes for L layers)
      val next = DBN.propagate(spark, input, w).persist()
      // materialize layer k+1 in the reference's text form as a side
      // artifact (driver.java:229 chained output→input dirs), but keep
      // computing on `next` directly: re-reading the file would
      // re-assign ids and add a full text parse per layer for data we
      // already hold (write's floor(v*255) is an identity on
      // propagate's already-quantized output, so file and `next` agree)
      PixelText.write(next, s"$outputDir/layer${layer + 1}")
      input.unpersist()
      input = next
    }
    input.unpersist()
    val stack = weights.result()
    // final weight dump, full precision (vs DecimalFormat("#.###"))
    stack.zipWithIndex.foreach { case (w, i) =>
      RBM.weightsToDf(spark, w).coalesce(1)
        .write.mode("overwrite").parquet(s"$outputDir/weights_$i")
    }
    stack
  }

  def main(args: Array[String]): Unit = {
    require(args.length >= 4,
      "usage: <input> <output> maxEpoch numLayer n0 n1 … (driver.java:26-29)")
    val Array(in, out, maxEpoch, numLayer) = args.take(4)
    val sizes = args.slice(4, 4 + numLayer.toInt).map(_.toInt).toSeq
    val spark = graft.Tables.session(sys.env.getOrElse("SPARK_GRAFT_CPUS", "4"))
    spark.sparkContext.setLogLevel("WARN")
    try run(spark, in, out, maxEpoch.toInt, sizes)
    finally spark.stop()
  }
}
