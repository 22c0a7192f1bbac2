package graft

import java.nio.file.Files
import org.apache.spark.sql.functions._

/** Proves the bucketed co-located join story (SURVEY §4.3 / the 100 TB
  * posture): two fact tables bucketed by the same key into the same
  * bucket count join WITHOUT any Exchange — the shuffle happens once
  * at write time and is amortized over every subsequent join.
  */
class BucketingSpec extends SparkSpec {

  test("joins between co-bucketed tables plan with zero shuffles") {
    val wh = Files.createTempDirectory("bucketwh").toString
    val li = Tables.lineitem(spark, sf001)
      .select(col("l_orderkey"), col("l_quantity"), col("l_extendedprice"))
    val ord = Tables.orders(spark, sf001)
      .select(col("o_orderkey"), col("o_orderstatus"), col("o_totalprice"))

    li.write.mode("overwrite")
      .bucketBy(8, "l_orderkey").sortBy("l_orderkey")
      .option("path", s"$wh/li_b").saveAsTable("li_b")
    ord.write.mode("overwrite")
      .bucketBy(8, "o_orderkey").sortBy("o_orderkey")
      .option("path", s"$wh/ord_b").saveAsTable("ord_b")

    try Confs.withConfs(spark, Seq("spark.sql.autoBroadcastJoinThreshold" -> "-1")) {
      val joined = spark.table("li_b")
        .join(spark.table("ord_b"), col("l_orderkey") === col("o_orderkey"))
        .groupBy(col("o_orderstatus")).agg(sum(col("l_quantity")).as("q"))
      joined.collect()
      val plan = joined.queryExecution.executedPlan.toString()
      // the aggregation after the join still shuffles on its group key;
      // what bucketing eliminates is any exchange on the JOIN keys
      val joinExchanges = plan.linesIterator
        .filter(_.contains("Exchange hashpartitioning"))
        .filter(l => l.contains("l_orderkey") || l.contains("o_orderkey"))
        .toList
      assert(joinExchanges.isEmpty,
        s"bucketed join must not shuffle on the join key:\n${joinExchanges.mkString("\n")}")
      assert(plan.contains("SortMergeJoin"), plan)
      // and the result is right: same as the unbucketed join
      val expect = li.join(ord, col("l_orderkey") === col("o_orderkey"))
        .groupBy(col("o_orderstatus")).agg(sum(col("l_quantity")).as("q"))
        .collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
      val got = joined.collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
      assert(got == expect)
    } finally {
      spark.sql("DROP TABLE IF EXISTS li_b")
      spark.sql("DROP TABLE IF EXISTS ord_b")
    }
  }
}
