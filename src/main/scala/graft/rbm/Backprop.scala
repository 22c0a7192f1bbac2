package graft.rbm

import breeze.linalg.DenseMatrix
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.col

/** Supervised back-propagation fine-tuning over a pre-trained DBN
  * layer — the capability the reference NAMES
  * (`/root/reference/README.md:2` "back propagation") but never
  * implements (SURVEY §7.1 S6; the prop job only ever runs forward).
  * This closes that gap Spark-natively with the same distributed shape
  * as CD-1 pre-training ([[RBM.cd1Epoch]]): ship the weights in the
  * task closure, accumulate per-example gradients inside
  * [[Reproducible.aggregate]]'s fold over the input canonicalized once
  * (so the driver receives `nParts × O(d·h + h·k)` doubles per epoch
  * regardless of row count), update on the driver, loop.
  *
  * Network: `x[d] → hidden[h] = σ(x·W1) → logits[k] = hidden·W2 →
  * softmax`, cross-entropy loss. One backward pass updates BOTH the
  * softmax head W2 and the pre-trained layer W1 (true fine-tuning, not
  * a frozen-feature classifier like q34). Full-batch gradient descent
  * with classical momentum (the update rule of the original DBN
  * fine-tuning recipes — CD-1 initialization leaves hidden
  * pre-activations near zero, so plain GD crawls; momentum
  * accumulates the persistent gradient direction without the
  * overshoot a 10× step would cause). Deterministic — no sampling,
  * and a canonical-order gradient sum — so the loss trajectory is
  * bit-identical across runs and input layouts.
  */
object Backprop {

  case class Config(
      d: Int,              // input dims
      h: Int,              // hidden units (pre-trained layer width)
      k: Int,              // classes
      epsilon: Double = 0.5, // full-batch step size
      momentum: Double = 0.0, // classical momentum (v = μv + g)
      epochs: Int = 10,
      seed: Long = 42L)

  /** Per-epoch metrics, measured on the weights BEFORE that epoch's
    * update (epoch 0 = the pre-trained stack + seeded head, untouched).
    */
  case class EpochStat(epoch: Int, loss: Double, accuracy: Double, n: Long)

  /** Seeded 0.1·N(0,1) softmax-head init — same convention as
    * [[RBM.initWeights]], offset stream so W1/W2 never share draws.
    */
  def initHead(cfg: Config): DenseMatrix[Double] = {
    val rnd = new java.util.Random(cfg.seed ^ 0x5DEECE66DL)
    DenseMatrix.fill(cfg.h, cfg.k)(0.1 * rnd.nextGaussian())
  }

  /** Forward + backward for ONE example, accumulating into the flat
    * gradient buffer: `[0, d·h)` = ∂L/∂W1 (row-major), `[d·h, d·h+h·k)`
    * = ∂L/∂W2, then 3 tail slots: example count, summed loss, correct
    * count.
    */
  private def accumulateBackprop(
      acc: Array[Double],
      x: Array[Double],
      label: Int,
      w1: Array[Double], // row-major [d*h]
      w2: Array[Double], // row-major [h*k]
      d: Int, h: Int, k: Int): Unit = {
    val base2 = d * h
    val tail = d * h + h * k
    // forward: hidden = σ(x·W1)
    val hidden = new Array[Double](h)
    var j = 0
    while (j < h) {
      var s = 0.0
      var i = 0
      while (i < d) { s += x(i) * w1(i * h + j); i += 1 }
      hidden(j) = 1.0 / (1.0 + math.exp(-s))
      j += 1
    }
    // logits → stable softmax
    val p = new Array[Double](k)
    var mx = Double.NegativeInfinity
    var c = 0
    while (c < k) {
      var s = 0.0
      j = 0
      while (j < h) { s += hidden(j) * w2(j * k + c); j += 1 }
      p(c) = s
      if (s > mx) mx = s
      c += 1
    }
    var z = 0.0
    c = 0
    while (c < k) { p(c) = math.exp(p(c) - mx); z += p(c); c += 1 }
    var best = 0
    c = 0
    while (c < k) {
      p(c) /= z
      if (p(c) > p(best)) best = c
      c += 1
    }
    // backward: δ2 = p − onehot(label); dW2 = hiddenᵀδ2;
    // δ1 = (δ2·W2ᵀ) ⊙ σ′; dW1 = xᵀδ1
    val d1 = new Array[Double](h)
    c = 0
    while (c < k) {
      val delta = p(c) - (if (c == label) 1.0 else 0.0)
      j = 0
      while (j < h) {
        acc(base2 + j * k + c) += hidden(j) * delta
        d1(j) += delta * w2(j * k + c)
        j += 1
      }
      c += 1
    }
    j = 0
    while (j < h) {
      val dpre = d1(j) * hidden(j) * (1.0 - hidden(j))
      var i = 0
      while (i < d) { acc(i * h + j) += x(i) * dpre; i += 1 }
      j += 1
    }
    acc(tail) += 1.0
    acc(tail + 1) += -math.log(math.max(p(label), 1e-300))
    if (best == label) acc(tail + 2) += 1.0
  }

  /** Fine-tune `(w1, w2)` for `cfg.epochs` full-batch steps over
    * `data` (`id` long, `x` array&lt;double&gt;[d], `label` int).
    * Returns the updated weights and the per-epoch metric trajectory
    * (epochs+1 entries: index e holds metrics of the weights BEFORE
    * update e; the last entry is the final weights' metrics, measured
    * by one extra gradient pass whose update is discarded).
    */
  def finetune(
      spark: SparkSession,
      data: DataFrame,
      w1init: DenseMatrix[Double],
      cfg: Config): (DenseMatrix[Double], DenseMatrix[Double], Seq[EpochStat]) = {
    import spark.implicits._
    val d = cfg.d; val h = cfg.h; val k = cfg.k
    require(w1init.rows == d && w1init.cols == h, "W1 dims != config")
    val w1 = RBM.toFlat(w1init)
    val w2 = RBM.toFlat(initHead(cfg))
    // classical momentum velocity, driver-resident like the weights
    val vel = new Array[Double](d * h + h * k)
    val rows = data.select(col("id").cast("long"), col("x"),
      col("label").cast("int")).as[(Long, Array[Double], Int)]
    // canonicalize ONCE (shuffle+sort by id); every epoch folds over
    // the persisted canonical layout
    val canon = Reproducible.canonicalize(
      rows.rdd.map { case (id, x, l) => (id, (x, l)) }, Reproducible.Parts).persist()
    val stats = Seq.newBuilder[EpochStat]
    try {
      for (epoch <- 0 to cfg.epochs) {
        // the model is O(d·h + h·k) doubles (~10 KB here) — shipping it
        // in the task closure (serialized once per job, distributed via
        // the task-binary broadcast Spark already does) replaces the 2
        // explicit broadcast creations + 2 BLOCKING destroy round-trips
        // that each of the 81 epochs paid (round-15: per-job fixed cost
        // dominates this query). The closure snapshots the array at job
        // submit; driver-side updates happen strictly between jobs, so
        // tasks see exactly the values the broadcast carried —
        // bit-identical trajectory (golden oracle unchanged).
        val cw1 = w1; val cw2 = w2
        val g = Reproducible.aggregate(canon, d * h + h * k + 3) {
          case (acc, _, (x, label)) =>
            require(x.length == d, s"arity ${x.length} != numdims $d")
            require(label >= 0 && label < k, s"label $label outside [0,$k)")
            accumulateBackprop(acc, x, label, cw1, cw2, d, h, k)
        }
        val tail = d * h + h * k
        val n = g(tail).toLong
        require(n > 0, "finetune on empty input")
        stats += EpochStat(epoch, g(tail + 1) / n, g(tail + 2) / n, n)
        if (epoch < cfg.epochs) { // last pass is metrics-only
          val scale = cfg.epsilon / n
          var i = 0
          while (i < tail) {
            vel(i) = cfg.momentum * vel(i) + scale * g(i)
            if (i < d * h) w1(i) -= vel(i)
            else w2(i - d * h) -= vel(i)
            i += 1
          }
        }
      }
    } finally canon.unpersist()
    (RBM.fromFlat(w1, d, h), RBM.fromFlat(w2, h, k), stats.result())
  }
}
