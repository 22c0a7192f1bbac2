package graft.rbm

import java.nio.file.Files
import graft.SparkSpec
import graft.sources.PixelText

/** End-to-end CLI-workflow test: text input → 2-layer DBN → text
  * layers + parquet weights, deterministic across runs.
  */
class PipelineSpec extends SparkSpec {

  test("pipeline reproduces the reference workflow shape end-to-end") {
    val in = Files.createTempDirectory("dbn_in").toString
    val out1 = Files.createTempDirectory("dbn_out1").toString
    val out2 = Files.createTempDirectory("dbn_out2").toString
    // 12 layer-0 examples of width 6, values 0-255
    val lines = (0 until 12).map { r =>
      (0 until 6).map(c => (r * 37 + c * 11) % 256).mkString(" ")
    }.mkString("", "\n", "\n")
    Files.writeString(java.nio.file.Paths.get(in, "part-0"), lines)

    val w1 = DeepLearningPipeline.run(spark, in, out1, maxEpoch = 2, Seq(6, 4, 2))
    val w2 = DeepLearningPipeline.run(spark, in, out2, maxEpoch = 2, Seq(6, 4, 2))

    assert(w1.map(m => (m.rows, m.cols)) == Seq((6, 4), (4, 2)))
    // layer outputs exist and parse back at the declared arity
    assert(PixelText.read(spark, s"$out1/layer1", 4).count() == 12)
    assert(PixelText.read(spark, s"$out1/layer2", 2).count() == 12)
    // deterministic end-to-end (seeded sampling + quantized channel)
    for ((a, b) <- w1.zip(w2); i <- 0 until a.rows; j <- 0 until a.cols)
      assert(a(i, j) == b(i, j), s"nondeterministic at ($i,$j)")
    // weight dumps written
    assert(spark.read.parquet(s"$out1/weights_0").count() == 24)
    assert(spark.read.parquet(s"$out1/weights_1").count() == 8)
  }

  test("pretrain reads its source once, matches the uncached " +
    "cd1Epoch/propagate chain, and leaves no cache behind") {
    import spark.implicits._
    val sizes = Seq(6, 4, 3, 2)
    val epochs = 2
    val seed = 7L
    val scanned = spark.sparkContext.longAccumulator("pretrain source rows")
    val src = spark.range(0, 40, 1, 5).map { id =>
      scanned.add(1)
      (id, Array.tabulate(6)(c => ((id * 37 + c * 11) % 256) / 255.0))
    }.toDF("id", "x")
    // only pretrain's own entries count; earlier suites share the session
    spark.catalog.clearCache()
    val persisted = spark.sparkContext.getPersistentRDDs.keySet
    val stack = DBN.pretrain(spark, src, sizes, epochs, seed)
    assert(spark.sharedState.cacheManager.isEmpty, "pretrain left a cache entry")
    assert(spark.sparkContext.getPersistentRDDs.keySet == persisted,
      "pretrain left a persisted RDD")
    // each layer's first epoch must read the previous layer's cache:
    // one source scan, not one per layer
    assert(scanned.value == 40L, s"source rows computed: ${scanned.value}")

    var input = src
    val chain = sizes.sliding(2).zipWithIndex.map { case (Seq(d, h), layer) =>
      val cfg = RBM.Config(d, h, seed = seed + layer)
      var w = RBM.initWeights(cfg)
      for (_ <- 0 until epochs) w = RBM.cd1Epoch(spark, input, w, cfg)
      input = DBN.propagate(spark, input, w)
      w
    }.toSeq
    assert(stack.map(RBM.toFlat(_).toSeq) == chain.map(RBM.toFlat(_).toSeq))
  }
}
