package graft.rbm

import org.apache.spark.sql.Encoder
import org.apache.spark.sql.expressions.Aggregator

/** The fused CD-1 gradient as a first-class typed `Aggregator`
  * (SURVEY §2.D: "the one genuine candidate for a custom UDAF"):
  * computes the per-example gradient and sums it inside the aggregate
  * buffer, replacing the reference's explode-then-sum (A8+A9,
  * reference `rbmmapper.java:259-268` + `rbmreducer.java:20-30`)
  * without ever materializing the `numCase × d×h` exploded rows.
  *
  * Same kernel as [[RBM.cd1Epoch]] (shared
  * [[RBM.accumulateGradient]]), but usable anywhere the Dataset
  * aggregation API reaches: `ds.select(agg.toColumn)`,
  * `groupByKey(...).agg(...)` for per-shard models, or SQL via
  * `udaf()` registration. Spark plans it as a partial+final aggregate,
  * so the map-side combine the reference forgot is automatic here too.
  *
  * @param weights row-major flat weight matrix (broadcast-sized: KBs)
  */
class CD1GradientAggregator(
    weights: Array[Double],
    numdims: Int,
    numhid: Int,
    seed: Long)
    extends Aggregator[(Long, Array[Double]), Array[Double], Array[Double]] {

  override def zero: Array[Double] = new Array[Double](numdims * numhid)

  private val draw = new RBM.HashDraw(seed)

  override def reduce(buf: Array[Double], in: (Long, Array[Double])): Array[Double] = {
    val (id, x) = in
    require(x.length == numdims, s"arity ${x.length} != numdims $numdims")
    RBM.accumulateGradient(buf, x, weights, numdims, numhid, id, draw)
  }

  override def merge(a: Array[Double], b: Array[Double]): Array[Double] = {
    var k = 0
    while (k < a.length) { a(k) += b(k); k += 1 }
    a
  }

  override def finish(buf: Array[Double]): Array[Double] = buf

  override def bufferEncoder: Encoder[Array[Double]] =
    org.apache.spark.sql.catalyst.encoders.ExpressionEncoder[Array[Double]]()
  override def outputEncoder: Encoder[Array[Double]] =
    org.apache.spark.sql.catalyst.encoders.ExpressionEncoder[Array[Double]]()
}
