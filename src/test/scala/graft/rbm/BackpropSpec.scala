package graft.rbm

import breeze.linalg.DenseMatrix
import graft.SparkSpec
import org.apache.spark.sql.functions._

/** Pins the backprop fine-tune (q111) the way RbmGoldenSpec pins CD-1:
  * an independent scalar implementation (idiomatic collections code,
  * no shared loops with the engine's flat-array kernel) must agree
  * elementwise to 1e-9 on a tiny network; plus bit-exact partition
  * invariance and the verdict gate — fine-tuning IMPROVES on the pre-trained
  * stack's supervised metrics.
  */
class BackpropSpec extends SparkSpec {

  import spark.implicits._

  private val d = 4; private val h = 3; private val k = 2
  private val cfg = Backprop.Config(d = d, h = h, k = k,
    epsilon = 0.5, momentum = 0.6, epochs = 4, seed = 7L)

  /** 12 deterministic examples with a learnable rule (label = parity
    * of the dominant feature), values in [0,1].
    */
  private val examples: Seq[(Long, Array[Double], Int)] =
    (0L until 12L).map { id =>
      val x = Array.tabulate(d)(i => ((id * 29 + i * 13) % 256) / 255.0)
      (id, x, (id % 2).toInt)
    }

  private def sigmoid(x: Double) = 1.0 / (1.0 + math.exp(-x))

  /** Independent scalar epoch: returns (dW1, dW2, loss, correct),
    * written against the math (matrix comprehensions) rather than the
    * engine's accumulation loops.
    */
  private def scalarGrad(w1: Array[Array[Double]], w2: Array[Array[Double]])
      : (Array[Array[Double]], Array[Array[Double]], Double, Int) = {
    val dW1 = Array.fill(d, h)(0.0)
    val dW2 = Array.fill(h, k)(0.0)
    var loss = 0.0
    var correct = 0
    for ((_, x, label) <- examples) {
      val hidden = Array.tabulate(h)(j =>
        sigmoid((0 until d).map(i => x(i) * w1(i)(j)).sum))
      val logits = Array.tabulate(k)(c =>
        (0 until h).map(j => hidden(j) * w2(j)(c)).sum)
      val mx = logits.max
      val exps = logits.map(v => math.exp(v - mx))
      val z = exps.sum
      val p = exps.map(_ / z)
      loss += -math.log(p(label))
      if (p.indexOf(p.max) == label) correct += 1
      val delta2 = Array.tabulate(k)(c => p(c) - (if (c == label) 1.0 else 0.0))
      for (j <- 0 until h; c <- 0 until k) dW2(j)(c) += hidden(j) * delta2(c)
      val dpre = Array.tabulate(h) { j =>
        val dh = (0 until k).map(c => delta2(c) * w2(j)(c)).sum
        dh * hidden(j) * (1.0 - hidden(j))
      }
      for (i <- 0 until d; j <- 0 until h) dW1(i)(j) += x(i) * dpre(j)
    }
    (dW1, dW2, loss, correct)
  }

  private def df = spark.createDataset(examples).toDF("id", "x", "label")

  test("finetune matches an independent scalar backprop trajectory to 1e-9") {
    val w1init = DenseMatrix.tabulate(d, h)((i, j) => ((i * 3 + j) % 5 - 2) / 10.0)
    val (gw1, gw2, stats) = Backprop.finetune(spark, df, w1init, cfg)

    // scalar twin: same init, same momentum update rule
    var w1 = Array.tabulate(d, h)((i, j) => w1init(i, j))
    val head = Backprop.initHead(cfg)
    var w2 = Array.tabulate(h, k)((j, c) => head(j, c))
    val v1 = Array.fill(d, h)(0.0)
    val v2 = Array.fill(h, k)(0.0)
    val n = examples.size.toDouble
    val losses = Seq.newBuilder[(Double, Double)]
    for (epoch <- 0 to cfg.epochs) {
      val (dW1, dW2, loss, correct) = scalarGrad(w1, w2)
      losses += ((loss / n, correct / n))
      if (epoch < cfg.epochs) {
        for (i <- 0 until d; j <- 0 until h)
          v1(i)(j) = cfg.momentum * v1(i)(j) + cfg.epsilon / n * dW1(i)(j)
        for (j <- 0 until h; c <- 0 until k)
          v2(j)(c) = cfg.momentum * v2(j)(c) + cfg.epsilon / n * dW2(j)(c)
        w1 = Array.tabulate(d, h)((i, j) => w1(i)(j) - v1(i)(j))
        w2 = Array.tabulate(h, k)((j, c) => w2(j)(c) - v2(j)(c))
      }
    }
    val expected = losses.result()
    assert(stats.length == cfg.epochs + 1)
    stats.zip(expected).foreach { case (s, (el, ea)) =>
      assert(math.abs(s.loss - el) < 1e-9, s"loss@${s.epoch}: ${s.loss} vs $el")
      assert(math.abs(s.accuracy - ea) < 1e-9, s"acc@${s.epoch}")
      assert(s.n == examples.size)
    }
    for (i <- 0 until d; j <- 0 until h)
      assert(math.abs(gw1(i, j) - w1(i)(j)) < 1e-9, s"W1($i,$j)")
    for (j <- 0 until h; c <- 0 until k)
      assert(math.abs(gw2(j, c) - w2(j)(c)) < 1e-9, s"W2($j,$c)")
  }

  test("finetune is bit-identical across 1, 5 and 7 partitions") {
    val w1init = RBM.initWeights(RBM.Config(d, h, seed = 7L))
    val (a1, a2, as) = Backprop.finetune(spark, df.repartition(1), w1init, cfg)
    for (p <- Seq(5, 7)) {
      val (b1, b2, bs) = Backprop.finetune(spark, df.repartition(p), w1init, cfg)
      assert(as == bs, s"trajectory differs at $p partitions")
      assert(a1 == b1 && a2 == b2, s"weights differ at $p partitions")
    }
  }

  test("q111 on the fixture: loss decreases and accuracy improves over " +
    "the pre-trained stack (the capability the reference names but " +
    "never ships)") {
    val rows = RbmQueries.queries("q111_backprop_finetune")(spark, sf001)
      .orderBy(col("epoch")).collect()
    assert(rows.length == 81, "epochs 0..80")
    val losses = rows.map(_.getDouble(1))
    val accs = rows.map(_.getDouble(2))
    // decisive learning, not a marginal wiggle (measured: 2.31 → 1.72)
    assert(losses.last < losses.head - 0.3,
      s"fine-tuning must reduce loss: ${losses.head} -> ${losses.last}")
    // momentum may blip a step upward, but never above the start:
    // anything worse means the step size diverged
    assert(losses.max <= losses.head + 1e-6,
      s"loss exceeded its starting value: max ${losses.max}")
    // measured: 0.10 → 0.40; the gate sits well below the measurement
    // but far above epoch-0 (the pre-trained stack + untrained head)
    assert(accs.last >= accs.head + 0.15,
      s"fine-tuned accuracy ${accs.last} must beat epoch-0 ${accs.head}")
  }
}
