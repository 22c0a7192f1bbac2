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
  * data stays cached in [[DBN.train]]'s canonical layout.
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
    import spark.implicits._
    val stack = DBN.train(spark, PixelText.read(spark, inputDir, layerSizes.head),
      layerSizes, maxEpoch, seed) { (layer, next) =>
      // materialize layer k+1 in the reference's text form as a side
      // artifact (driver.java:229 chained output→input dirs), but keep
      // computing on `next` directly: re-reading the file would add a
      // full text parse per layer for data we already hold (write's
      // floor(v*255) is an identity on the already-quantized layer, and
      // each line carries its id, so file and `next` agree)
      PixelText.write(next.toDF("id", "x"), s"$outputDir/layer${layer + 1}")
    }
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
