package graft.rbm

import breeze.linalg.DenseMatrix
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.col

/** Restricted Boltzmann Machine trained with 1-step contrastive
  * divergence — the Spark-native re-expression of the reference's RBM
  * MapReduce job (reference `rbmmapper.java:144-238`,
  * `rbmreducer.java:20-30`, `driver.java:90-219`).
  *
  * Semantics implemented are the *corrected* ones per SURVEY §0:
  * learning rate ε=0.1, weight cost 0, biases fixed at zero
  * (hyper-parameters at reference `propmapper.java:70-75`), one
  * consistent row-major weight layout `W[visible][hidden]` (the
  * reference's column-packed re-read, `matrix.java:40-53`, scrambles
  * the matrix between iterations — a bug we do not replicate).
  *
  * Execution shape (SURVEY §3.2 Spark translation): ship the weight
  * matrix down in the task closure and compute the per-example CD-1
  * gradient inside [[Reproducible.aggregate]]'s per-partition fold —
  * this *fuses* the reference's explode-to-(weightId,delta) flatMap
  * (A8) with its per-key SUM (A9), so no `numCase×d×h`-row shuffle
  * ever materializes. The reference shipped that volume as text KV
  * pairs with no combiner (`driver.java:152-162`); here an epoch sends
  * `nParts × d×h` doubles to the driver, independent of row count —
  * the property that makes the job viable at 100 TB. The rows shuffle
  * once per training input, into [[Reproducible]]'s canonical layout,
  * which fixes the position of every float add.
  *
  * Determinism: the reference samples hidden states with an unseeded
  * per-record `new Random()` (`rbmmapper.java:169`) — SURVEY §7.2
  * explicitly allows choosing a reproducible scheme. We draw each
  * hidden unit's Bernoulli threshold as a pure hash of
  * `(seed, exampleId, unitIndex)` — md5 truncated to 60 bits, reduced
  * to integer millionths, the same residual technique as
  * q184/q185/q162 — so the epoch is reproducible under ANY
  * partitioning or executor count AND expressible in ANSI SQL
  * (`md5(...)`), which is what lets the CD-1 family (q15/q54) be
  * checked against the DuckDB oracle instead of a no-oracle gate.
  */
object RBM {

  case class Config(
      numdims: Int,
      numhid: Int,
      epsilon: Double = 0.1,    // reference propmapper.java:70
      weightcost: Double = 0.0, // reference propmapper.java:72
      seed: Long = 42L)

  @inline private def sigmoid(x: Double): Double = 1.0 / (1.0 + math.exp(-x))

  /** Pure hash Bernoulli draw for the hidden-state sample: the
    * threshold for (example `id`, hidden unit `j`) is
    * `md5("cd1:<seed>:<id>:<j>")`'s first 15 hex digits (60 bits)
    * mod 1e6, in millionths — one draw per hidden unit, keyed rather
    * than streamed, replacing the reference's unseeded per-record
    * `new Random()` (`rbmmapper.java:166-182`).
    *
    * Exactly `TextAnalysis.md5Int(s) % 1000000` on the Spark side and
    * `CAST('0x' || substr(md5(s),1,15) AS BIGINT) % 1000000` in
    * DuckDB, so the sample — and therefore the whole CD-1 epoch — has
    * a closed-form SQL twin. The threshold granularity is 1e-6; a
    * probability landing within one double ulp of a millionth boundary
    * could disagree across engines, but poshidprobs is a 64-term
    * sigmoid — the chance is ~1e-10 per draw and the oracle has never
    * to date produced such a boundary hit.
    *
    * Serializable with a transient digest: ship the tag, build the
    * MD5 instance lazily once per executor task (MessageDigest is not
    * thread-safe but tasks are single-threaded).
    */
  private[graft] final class HashDraw(seed: Long) extends Serializable {
    @transient private lazy val md =
      java.security.MessageDigest.getInstance("MD5")
    /** Threshold in integer millionths for (id, j). */
    def millionths(id: Long, j: Int): Long = {
      md.reset()
      val bytes = md.digest(
        s"cd1:$seed:$id:$j".getBytes(java.nio.charset.StandardCharsets.UTF_8))
      // first 15 hex digits = bytes 0..6 plus the high nibble of byte 7
      var v = 0L
      var k = 0
      while (k < 7) { v = (v << 8) | (bytes(k) & 0xffL); k += 1 }
      v = (v << 4) | ((bytes(7) & 0xf0L) >>> 4)
      v % 1000000L
    }
    /** Bernoulli threshold in [0,1): millionths / 1e6 (exact IEEE
      * division on both engines).
      */
    def threshold(id: Long, j: Int): Double = millionths(id, j) / 1.0e6
  }

  /** CD-1 gradient contribution of one example: posprods − negprods
    * (reference positive phase `rbmmapper.java:144-183`, negative phase
    * `rbmmapper.java:185-220`, assembly `propmapper.java:242-256`).
    * Accumulates into the flat row-major `acc[i*h + j]` in place; the
    * per-example kernel of [[epoch]]'s fold.
    */
  private def accumulateGradient(
      acc: Array[Double],
      x: Array[Double],
      w: Array[Double], // row-major [d*h]
      d: Int,
      h: Int,
      id: Long,
      draw: HashDraw): Unit = {
    // positive phase: poshidprobs = σ(xᵀW) (biases fixed 0)
    val poshidprobs = new Array[Double](h)
    var j = 0
    while (j < h) {
      var s = 0.0
      var i = 0
      while (i < d) { s += x(i) * w(i * h + j); i += 1 }
      poshidprobs(j) = sigmoid(s)
      j += 1
    }
    // Bernoulli sample hidden states: keyed hash threshold per unit
    val states = new Array[Double](h)
    j = 0
    while (j < h) {
      states(j) = if (poshidprobs(j) > draw.threshold(id, j)) 1.0 else 0.0
      j += 1
    }
    // negative phase: negdata = σ(states·Wᵀ); neghidprobs = σ(negdata·W)
    val negdata = new Array[Double](d)
    var i = 0
    while (i < d) {
      var s = 0.0
      j = 0
      while (j < h) { s += states(j) * w(i * h + j); j += 1 }
      negdata(i) = sigmoid(s)
      i += 1
    }
    val neghidprobs = new Array[Double](h)
    j = 0
    while (j < h) {
      var s = 0.0
      i = 0
      while (i < d) { s += negdata(i) * w(i * h + j); i += 1 }
      neghidprobs(j) = sigmoid(s)
      j += 1
    }
    // grad += x·poshidprobsᵀ − negdata·neghidprobsᵀ
    i = 0
    while (i < d) {
      j = 0
      while (j < h) {
        acc(i * h + j) += x(i) * poshidprobs(j) - negdata(i) * neghidprobs(j)
        j += 1
      }
      i += 1
    }
  }

  /** Row-major flattening helpers for the closure/API boundary. */
  private[rbm] def toFlat(w: DenseMatrix[Double]): Array[Double] =
    Array.tabulate(w.rows * w.cols)(k => w(k / w.cols, k % w.cols))
  private[rbm] def fromFlat(a: Array[Double], d: Int, h: Int): DenseMatrix[Double] =
    DenseMatrix.tabulate(d, h)((i, j) => a(i * h + j))

  /** Gaussian 0.1·N(0,1) weight init, deterministic (reference
    * `driver.java:76-83`).
    */
  def initWeights(cfg: Config): DenseMatrix[Double] = {
    val rnd = new java.util.Random(cfg.seed)
    DenseMatrix.fill(cfg.numdims, cfg.numhid)(0.1 * rnd.nextGaussian())
  }

  /** One CD-1 epoch: returns the updated weight matrix
    * `W + ε/numCase · Σ_examples grad` (reference `driver.java:204`).
    *
    * `data` must have columns (`id` long, `x` array&lt;double&gt;).
    * Canonicalizes `data` for this one epoch; a multi-epoch loop
    * canonicalizes once and calls [[epoch]] ([[DBN.pretrain]]).
    */
  def cd1Epoch(
      spark: SparkSession,
      data: DataFrame,
      w: DenseMatrix[Double],
      cfg: Config): DenseMatrix[Double] =
    epoch(canonical(spark, data), w, cfg)

  /** `data`'s (`id`, `x`) rows in [[Reproducible]]'s canonical layout. */
  private[rbm] def canonical(
      spark: SparkSession,
      data: DataFrame): RDD[(Long, Array[Double])] = {
    import spark.implicits._
    Reproducible.canonicalize(
      data.select(col("id").cast("long"), col("x")).as[(Long, Array[Double])].rdd,
      Reproducible.Parts)
  }

  /** One CD-1 epoch over a [[canonical]] input. The weight matrix ships
    * to the tasks (A3) as a flat array in the task closure — O(d×h)
    * doubles, serialized once per job into the task binary Spark
    * already broadcasts, so no explicit broadcast is created or
    * destroyed per epoch.
    */
  private[rbm] def epoch(
      canon: RDD[(Long, Array[Double])],
      w: DenseMatrix[Double],
      cfg: Config): DenseMatrix[Double] = {
    val d = cfg.numdims
    val h = cfg.numhid
    val wFlat = toFlat(w)
    val draw = new HashDraw(cfg.seed)
    // Buffer slot d*h carries the example count, fusing numCase into
    // the same single pass (the reference needed a separate driver-side
    // count; a naive port would call rows.count() first — one full
    // extra scan of the data per epoch).
    val gradFlat = Reproducible.aggregate(canon, d * h + 1) { (acc, id, x) =>
      require(x.length == d,
        s"arity ${x.length} != numdims $d") // rbmmapper.java:108-114
      acc(d * h) += 1.0
      accumulateGradient(acc, x, wFlat, d, h, id, draw)
    }
    val numCase = gradFlat(d * h).toLong
    require(numCase > 0,
      "cd1Epoch on empty input (scale = ε/0 would silently produce NaN weights)")
    val grad = fromFlat(gradFlat, d, h)
    val scale = cfg.epsilon / numCase.toDouble
    // W += ε/numCase · Σgrad − ε·weightcost·W (weightcost = 0 here)
    w + (grad *:* scale) - (w *:* (cfg.epsilon * cfg.weightcost))
  }

  /** Weight matrix → (i, j, w) DataFrame for inspection/oracle dumps,
    * its rows in (i, j) order.
    */
  def weightsToDf(spark: SparkSession, w: DenseMatrix[Double]): DataFrame = {
    import spark.implicits._
    val rows = for (i <- 0 until w.rows; j <- 0 until w.cols)
      yield (i, j, w(i, j))
    rows.toDF("i", "j", "w")
  }
}
