package graft.rbm

import breeze.linalg.DenseMatrix
import graft.SparkSpec

/** Pins the corrected CD-1 semantics of SURVEY §0 with an independent
  * scalar implementation (plain loops, no Breeze, no Spark): fixed
  * seed, tiny RBM d=4 h=3, 8 examples — elementwise 1e-9 agreement
  * required (SURVEY §5 item 4).
  */
class RbmGoldenSpec extends SparkSpec {

  private val d = 4
  private val h = 3
  private val cfg = RBM.Config(numdims = d, numhid = h, seed = 7L)

  /** 8 deterministic examples in [0,1]. */
  private val examples: Seq[(Long, Array[Double])] =
    (0L until 8L).map { id =>
      id -> Array.tabulate(d)(i => ((id * 31 + i * 17) % 256) / 255.0)
    }

  private def sigmoid(x: Double) = 1.0 / (1.0 + math.exp(-x))

  /** Independent re-statement of the engine's hash Bernoulli draw:
    * hex-string parse of the md5 (vs the engine's byte twiddling in
    * `RBM.HashDraw`) — a genuine cross-check of the 60-bit reduction.
    */
  private def drawThreshold(seed: Long, id: Long, j: Int): Double = {
    val md = java.security.MessageDigest.getInstance("MD5")
    val hex = md.digest(s"cd1:$seed:$id:$j".getBytes("UTF-8"))
      .map(b => f"$b%02x").mkString
    (java.lang.Long.parseLong(hex.take(15), 16) % 1000000L) / 1.0e6
  }

  /** Independent scalar CD-1: one epoch, mean-of-gradients update with
    * learning rate ε — mirrors reference rbmmapper.java:144-238
    * (corrected) + driver.java:204, written with flat arrays and
    * different loop structure than the engine's Breeze version.
    */
  private def scalarEpoch(w0: Array[Array[Double]]): Array[Array[Double]] = {
    val gradSum = Array.fill(d, h)(0.0)
    for ((id, x) <- examples) {
      val posprobs = Array.tabulate(h) { j =>
        sigmoid((0 until d).map(i => x(i) * w0(i)(j)).sum)
      }
      val states = Array.tabulate(h) { j =>
        if (posprobs(j) > drawThreshold(cfg.seed, id, j)) 1.0 else 0.0
      }
      val negdata = Array.tabulate(d) { i =>
        sigmoid((0 until h).map(j => states(j) * w0(i)(j)).sum)
      }
      val negprobs = Array.tabulate(h) { j =>
        sigmoid((0 until d).map(i => negdata(i) * w0(i)(j)).sum)
      }
      for (i <- 0 until d; j <- 0 until h)
        gradSum(i)(j) += x(i) * posprobs(j) - negdata(i) * negprobs(j)
    }
    Array.tabulate(d, h) { (i, j) =>
      w0(i)(j) + cfg.epsilon / examples.size * gradSum(i)(j)
    }
  }

  private def runEngine(partitions: Int): DenseMatrix[Double] = {
    import spark.implicits._
    val df = spark.createDataset(examples).toDF("id", "x")
      .repartition(partitions)
    RBM.cd1Epoch(spark, df, RBM.initWeights(cfg), cfg)
  }

  test("golden trajectory: engine CD-1 epoch matches scalar reference impl") {
    val w0 = RBM.initWeights(cfg)
    val expected = scalarEpoch(Array.tabulate(d, h)((i, j) => w0(i, j)))
    val got = runEngine(partitions = 1)
    for (i <- 0 until d; j <- 0 until h)
      assert(math.abs(got(i, j) - expected(i)(j)) < 1e-9,
        s"W($i,$j): got ${got(i, j)} expected ${expected(i)(j)}")
  }

  test("partitioning invariance: per-example seeding makes the epoch " +
    "independent of data distribution across partitions") {
    val a = runEngine(partitions = 1)
    for (p <- Seq(5, 7)) {
      val b = runEngine(partitions = p)
      for (i <- 0 until d; j <- 0 until h)
        assert(a(i, j) == b(i, j), s"W($i,$j) differs at $p partitions")
    }
  }

  test("gradient-sum linearity: epoch on duplicated data equals epoch " +
    "with halved learning-rate effect (A9 sum semantics)") {
    import spark.implicits._
    // duplicating every example doubles numCase and doubles the gradient
    // sum → identical weight update (sum/numCase is a mean).
    val once = runEngine(partitions = 2)
    val doubled = examples ++ examples.map { case (id, x) => (id, x) }
    val df = spark.createDataset(doubled).toDF("id", "x").repartition(3)
    val got = RBM.cd1Epoch(spark, df, RBM.initWeights(cfg), cfg)
    for (i <- 0 until d; j <- 0 until h)
      assert(math.abs(got(i, j) - once(i, j)) < 1e-12)
  }

  test("CD-1 actually learns: reconstruction error drops over epochs " +
    "on structured data") {
    import spark.implicits._
    val dd = 8; val hh = 4
    val protoA = Array(1.0, 1.0, 1.0, 1.0, 0.0, 0.0, 0.0, 0.0)
    val protoB = Array(0.0, 0.0, 0.0, 0.0, 1.0, 1.0, 1.0, 1.0)
    val data = (0L until 64L).map { id =>
      val proto = if (id % 2 == 0) protoA else protoB
      id -> proto.zipWithIndex.map { case (v, i) =>
        math.min(1.0, math.max(0.0, v + (((id * 31 + i * 7) % 11) - 5) / 50.0))
      }
    }
    val df = spark.createDataset(data).toDF("id", "x").cache()
    val cfg = RBM.Config(dd, hh, epsilon = 0.5, seed = 3L)

    def sigmoid(x: Double) = 1.0 / (1.0 + math.exp(-x))
    def reconError(w: breeze.linalg.DenseMatrix[Double]): Double = {
      data.map { case (_, x) =>
        val hid = Array.tabulate(hh)(j =>
          sigmoid((0 until dd).map(i => x(i) * w(i, j)).sum))
        val rec = Array.tabulate(dd)(i =>
          sigmoid((0 until hh).map(j => hid(j) * w(i, j)).sum))
        (0 until dd).map(i => math.pow(x(i) - rec(i), 2)).sum
      }.sum / data.size
    }

    var w = RBM.initWeights(cfg)
    val e0 = reconError(w)
    val curve = (1 to 40).map { _ =>
      w = RBM.cd1Epoch(spark, df, w, cfg)
      reconError(w)
    }
    df.unpersist()
    info(s"reconstruction error: $e0 -> ${curve.grouped(10).map(_.last).mkString(" -> ")}")
    // bias-free CD-1 (the reference's semantics) converges slowly and
    // has an error floor ≈ the sigmoid's inability to emit values near
    // 0/1 without visible biases — require steady improvement, not a
    // specific constant
    assert(curve.last < e0 * 0.9,
      s"CD-1 did not reduce reconstruction error: $e0 -> ${curve.last}")
    assert(curve.last <= curve.head,
      s"error increased over training: ${curve.head} -> ${curve.last}")
  }

  test("DBN pretrain returns bit-identical stacks for 1, 5 and 7 partitions") {
    import spark.implicits._
    val df = spark.createDataset(examples).toDF("id", "x")
    val stacks = Seq(1, 5, 7).map(p =>
      DBN.pretrain(spark, df.repartition(p), Seq(d, h, 2), epochs = 2, seed = 1L)
        .map(RBM.toFlat(_).toSeq))
    assert(stacks.distinct.length == 1, "stack depends on the partitioning")
  }

  test("DBN layer-wise pretrain runs and propagate quantizes to the " +
    "0-255/255 channel (A11 ∘ A4 round trip)") {
    import spark.implicits._
    val df = spark.createDataset(examples).toDF("id", "x")
    val stack = DBN.pretrain(spark, df, Seq(d, h, 2), epochs = 2, seed = 1L)
    assert(stack.map(m => (m.rows, m.cols)) == Seq((d, h), (h, 2)))
    val prop = DBN.propagate(spark, df, stack.head)
      .selectExpr("x").as[Array[Double]].collect()
    assert(prop.forall(_.forall(v =>
      v >= 0 && v <= 1 && (v * 255.0).round.toDouble / 255.0 == v)))
  }
}
