package graft.functions

import graft.{SparkSpec, Tables}
import graft.functions.exprs.graft_theta_sketch_agg
import org.apache.spark.sql.functions._

/** The theta and KLL sketch TypedImperativeAggregates as first-class
  * aggregates: per-group sketches in a plain groupBy with the engine's
  * partial/final split, and estimates inside each sketch's own error
  * bound against exact answers.
  */
class ThetaAggSpec extends SparkSpec {

  test("groupBy theta sketches estimate per-group distinct counts " +
    "within their own 3-sigma bounds, through a partial+final plan") {
    val df = Tables.lineitem(spark, sf001)
      .groupBy(col("l_returnflag"))
      .agg(graft_theta_sketch_agg(col("l_suppkey"), 4096).as("sk"))
    // the planner must split the aggregate: partial sketches before
    // the shuffle, merge after — the whole point of the mergeable form
    val plan = df.queryExecution.executedPlan.toString()
    assert(plan.contains("partial_graft_theta_sketch_agg") ||
      plan.contains("Partial"), s"no partial aggregation phase:\n$plan")
    val exact = Tables.lineitem(spark, sf001)
      .groupBy(col("l_returnflag"))
      .agg(count_distinct(col("l_suppkey")).as("n"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val rows = df.collect()
    assert(rows.length == exact.size)
    rows.foreach { r =>
      val sk = org.apache.datasketches.theta.Sketches.wrapSketch(
        org.apache.datasketches.memory.Memory.wrap(r.getAs[Array[Byte]]("sk")))
      val ex = exact(r.getString(0)).toDouble
      assert(sk.getLowerBound(3) <= ex && ex <= sk.getUpperBound(3),
        s"${r.getString(0)}: exact $ex outside " +
          s"[${sk.getLowerBound(3)}, ${sk.getUpperBound(3)}]")
    }
  }

  test("groupBy KLL sketches honor the published rank-error bound " +
    "per group, through a partial+final plan") {
    import graft.functions.exprs.graft_kll_sketch_agg
    import org.apache.datasketches.kll.{KllDoublesSketch, KllSketch}
    import org.apache.datasketches.quantilescommon.QuantileSearchCriteria
    val df = Tables.orders(spark, sf001)
      .groupBy(col("o_orderpriority"))
      .agg(graft_kll_sketch_agg(col("o_totalprice"), 200).as("sk"))
    val plan = df.queryExecution.executedPlan.toString()
    assert(plan.contains("partial_graft_kll_sketch_agg") ||
      plan.contains("Partial"), s"no partial aggregation phase:\n$plan")
    val eps = 2.0 * KllSketch.getNormalizedRankError(200, false)
    val groups = df.collect()
    assert(groups.nonEmpty)
    groups.foreach { r =>
      val sk = KllDoublesSketch.heapify(
        org.apache.datasketches.memory.Memory.wrap(r.getAs[Array[Byte]]("sk")))
      val med = sk.getQuantile(0.5, QuantileSearchCriteria.INCLUSIVE)
      // tie-robust exact-rank interval check (the q217 gate), per group
      val vals = Tables.orders(spark, sf001)
        .filter(col("o_orderpriority") === r.getString(0))
        .select(col("o_totalprice")).collect().map(_.getDouble(0))
      val lo = vals.count(_ < med).toDouble / vals.length
      val hi = vals.count(_ <= med).toDouble / vals.length
      assert(lo - eps <= 0.5 && 0.5 <= hi + eps,
        s"${r.getString(0)}: median rank interval [$lo,$hi] misses 0.5+-$eps")
    }
  }
}
