package graft

import org.apache.spark.sql.Row
import org.apache.spark.sql.execution.exchange.Exchange
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** The queries that answer in few rounds: q215's one grouped aggregate
  * gives the same exact counts as Spark's set operators, and q215, q000
  * and the driver-built dbn_train results run within their job budgets.
  */
class RoundsSpec extends SparkSpec {

  private def q(name: String, dir: String = sf001) =
    SparkEntry.queries(name)(spark, dir)

  test("q215's fused exact counts equal union / intersect / except over " +
    "the three distinct carves, with null texts, null ids and shared texts") {
    // (doc_id, text): the same text under ids in different snapshots
    // (A = id % 3 ≠ 0, B = id % 4 ≠ 0, C = id % 5 ≠ 0), null texts in
    // and out of the snapshots, and null ids, which are in none
    val shared = Seq[(java.lang.Long, String)](
      (3L, "shared"), (4L, "shared"), // in B via 3, in A but not B via 4
      (8L, "twice"), (9L, "twice"), (20L, "twice"), (16L, "a-only"), (28L, "a-only"),
      (1L, null), (12L, null), (60L, "in-none"),
      (null, "orphan"), (null, "shared"), (null, null))
    val fill = (100L until 400L).map(i => (Long.box(i), s"t${i % 53}"))
    val schema = StructType(Seq(StructField("doc_id", LongType),
      StructField("text", StringType)))
    val dir = Scratch.dir("q215_fused_")
    try {
      spark.createDataFrame(spark.sparkContext.parallelize(
          (shared ++ fill).map { case (i, t) => Row(i, t) }, 3), schema)
        .write.parquet(s"$dir/documents.parquet")
      val docs = spark.read.parquet(s"$dir/documents.parquet")
      def carve(mod: Int) =
        docs.filter(col("doc_id") % mod =!= 0).select(col("text")).distinct()
      val (a, b, c) = (carve(3), carve(4), carve(5))
      val want = Map(
        "a_intersect_b" -> a.intersect(b).count(),
        "a_minus_b" -> a.except(b).count(),
        "a_union_b_union_c" -> a.union(b).union(c).distinct().count())
      // the fixture separates set membership from row flags: counting
      // rows with a ∧ ¬b before grouping by text gives a larger count
      val rowFlagged = docs.filter(col("doc_id") % 3 =!= 0 && col("doc_id") % 4 === 0)
        .select(col("text")).distinct().count()
      assert(want("a_minus_b") > 0 && rowFlagged > want("a_minus_b"))
      val got = q("q215_theta_setops", dir.toString).collect()
      assert(got.map(_.getString(0)).toSeq == want.keys.toSeq.sorted, "rows in op order")
      got.foreach(r => assert(r.getLong(1) == want(r.getString(0)), r))
    } finally Scratch.deleteTree(dir)
  }

  test("q215 builds in at most 3 jobs and executes in 1") {
    q("q215_theta_setops") // the schema read of documents
    var df: org.apache.spark.sql.DataFrame = null
    assert(jobsOf { df = q("q215_theta_setops") } <= 3)
    assert(jobsOf(df.queryExecution.toRdd.count()) == 1)
  }

  test("a second q000 call runs no job and returns its rows in tbl order") {
    val first = q("q000_staging").collect().toSeq
    var df: org.apache.spark.sql.DataFrame = null
    assert(jobsOf { df = q("q000_staging") } == 0)
    val rows = df.collect().toSeq
    assert(rows == first && rows.size == 7)
    assert(rows.map(_.getString(0)) == rows.map(_.getString(0)).sorted)
    assert(rows.forall(_.getLong(1) > 0))
  }

  test("q15, q54 and q111 plan no Exchange and execute in one job") {
    for (name <- Seq("q15_rbm_cd1_epoch", "q54_dbn_pretrain", "q111_backprop_finetune")) {
      val df = q(name)
      val exchanges = PlanWalk.nodes(df.queryExecution.executedPlan)
        .collect { case e: Exchange => e }
      assert(exchanges.isEmpty, s"$name plans ${exchanges.map(_.nodeName)}")
      assert(jobsOf(df.queryExecution.toRdd.count()) == 1, name)
    }
  }

  test("parquetRowCount of a bare parquet scan equals its count, and " +
    "refuses any other frame") {
    val dir = Scratch.dir("footer_count_")
    try {
      val path = dir.resolve("t.parquet").toString
      spark.range(0, 1000, 1, 4).toDF("k").write.parquet(path)
      val df = Tables.parquet(spark, path)
      assert(jobsOf(assert(Tables.parquetRowCount(spark, df) == 1000)) == 0)
      intercept[IllegalArgumentException](
        Tables.parquetRowCount(spark, df.filter(col("k") > 5)))
    } finally Scratch.deleteTree(dir)
  }
}
