package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.ExplainMode

/** Physical-plan regression guards (the "is this the plan you'd want
  * at 100 TB" checks): column pruning and predicate pushdown reach the
  * parquet scan, dimension joins broadcast, narrow pipelines stay
  * shuffle-free, and hot paths stay inside whole-stage codegen.
  */
class PlanSpec extends SparkSpec {

  private def plan(name: String): String = {
    val df = SparkEntry.queries(name)(spark, sf001)
    df.queryExecution.explainString(ExplainMode.fromString("formatted"))
  }

  /** Executed-plan string: carries `*(n)` codegen-stage markers and
    * full Exchange partitioning arguments.
    */
  private def execPlan(name: String): String =
    SparkEntry.queries(name)(spark, sf001).queryExecution.executedPlan.toString()

  private def countOccurrences(s: String, sub: String): Int =
    s.sliding(sub.length).count(_ == sub)

  test("q01 scan is pruned to exactly the projected columns") {
    val p = plan("q01_scan_project")
    assert(p.contains("ReadSchema"))
    val read = p.linesIterator.find(_.contains("ReadSchema")).get
    assert(Seq("l_orderkey", "l_linenumber", "l_quantity", "l_extendedprice")
      .forall(read.contains), read)
    assert(!read.contains("l_shipdate") && !read.contains("l_returnflag"), read)
  }

  test("q02 filter is pushed into the parquet scan") {
    val p = plan("q02_filter_predicate")
    val pushed = p.linesIterator.find(_.contains("PushedFilters")).get
    assert(pushed.contains("l_quantity") || pushed.contains("Or"), pushed)
  }

  test("q08/q20/q21 broadcast their dimension sides") {
    assert(plan("q08_broadcast_join").contains("BroadcastHashJoin"))
    assert(plan("q20_theta_range_join").contains("BroadcastNestedLoopJoin"))
    val q21 = plan("q21_multiway_star_join")
    assert(countOccurrences(q21, "BroadcastHashJoin") >= 3,
      "star dims must broadcast:\n" + q21)
  }

  test("q118 large-large interval join plans as a shuffled EQUI-join " +
    "on the coarse bucket, band predicate demoted to a residual") {
    // At fixture scale the orders side is broadcastable, so the default
    // plan is a BroadcastHashJoin — still keyed on bucket, never a
    // nested loop. The large-large claim is what happens when NEITHER
    // side fits a broadcast: force that regime and the plan must
    // degrade to a sort-merge join on the bucket equi-key (linear
    // shuffle), not to q20's BroadcastNestedLoopJoin.
    val dflt = execPlan("q118_interval_bucket_join")
    assert(!dflt.contains("BroadcastNestedLoopJoin") && !dflt.contains("CartesianProduct"),
      s"interval join planned non-equi at default sizes:\n$dflt")
    Confs.withConfs(spark, Seq("spark.sql.autoBroadcastJoinThreshold" -> "-1")) {
      val p = execPlan("q118_interval_bucket_join")
      val smjLine = p.linesIterator.find(_.contains("SortMergeJoin"))
        .orElse(p.linesIterator.find(_.contains("ShuffledHashJoin")))
      assert(smjLine.isDefined, s"no shuffled join:\n$p")
      assert(smjLine.get.contains("bucket"),
        s"join not keyed on bucket:\n${smjLine.get}")
      assert(!p.contains("BroadcastNestedLoopJoin") && !p.contains("CartesianProduct"),
        s"interval join fell back to a non-equi physical plan:\n$p")
    }
  }

  test("q16 forward prop is a single narrow stage — zero shuffles") {
    val p = execPlan("q16_forward_prop")
    // the only exchange allowed is the final orderBy's range partition
    val exchanges = p.linesIterator.filter(_.contains("Exchange")).toList
    assert(exchanges.nonEmpty && exchanges.forall(_.contains("rangepartitioning")),
      s"unexpected shuffle:\n${exchanges.mkString("\n")}")
  }

  test("q05 aggregation does map-side partial aggregation") {
    val p = plan("q05_groupby_sum")
    assert(countOccurrences(p, "HashAggregate") >= 2,
      "expected partial+final HashAggregate:\n" + p)
  }

  test("q38 top-k compiles to TakeOrderedAndProject, not a global sort") {
    val p = plan("q38_embedding_cosine_dedup")
    assert(p.contains("TakeOrderedAndProject"), p)
  }

  test("q52 salted join actually joins on (key, salt)") {
    val p = execPlan("q52_salted_join")
    val joinLine = p.linesIterator.find(l =>
      l.contains("SortMergeJoin") || l.contains("ShuffledHashJoin") ||
        l.contains("BroadcastHashJoin")).get
    assert(joinLine.contains("salt"), s"salt missing from join keys: $joinLine")
  }

  test("q55 as-of join is one partitioned sort, not a range join") {
    val p = execPlan("q55_asof_join")
    assert(!p.contains("NestedLoop"), "as-of must not be a nested-loop range join")
    assert(p.contains("RunningWindowFunction") || p.contains("Window"), p)
  }

  test("scans and filters stay inside whole-stage codegen") {
    val df = SparkEntry.queries("q03_normalize_scale")(spark, sf001)
    df.collect() // finalize THIS plan (count() would plan a different one)
    val p = df.queryExecution.executedPlan.toString()
    assert(p.contains("*(1)"), s"no codegen stage markers:\n$p")
  }

  test("q80 tokenizes the corpus exactly once — df comes from a window, " +
    "not a second aggregation branch") {
    val p = execPlan("q80_tfidf")
    // executedPlan.toString prints the adaptive final + initial plans;
    // count explodes in the first (final) section only
    val firstSection = p.split("== Initial Plan ==").head
    assert(countOccurrences(firstSection, "Generate explode") == 1,
      s"corpus must be tokenized once:\n$firstSection")
  }

  test("a key filter on a partitioned table prunes partitions at plan " +
    "time — the 100 TB layout contract") {
    // At scale the fixture tables would be laid out hive-partitioned;
    // prove the engine's scans then skip non-matching partition dirs
    // entirely (PartitionFilters, zero data files touched), not just
    // push row-group filters.
    val dir = java.nio.file.Files.createTempDirectory("pruned").toString
    try {
      Tables.lineitem(spark, sf001)
        .write.mode("overwrite").partitionBy("l_returnflag").parquet(dir)
      val pruned = spark.read.parquet(dir)
        .filter(org.apache.spark.sql.functions.col("l_returnflag") === "R")
        .groupBy("l_linestatus")
        .count()
      pruned.collect()
      // AQE wraps the final plan in adaptive/query-stage nodes — walk
      // through them to the actual file scan
      import org.apache.spark.sql.execution.{FileSourceScanExec, SparkPlan}
      import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
      def findScan(p: SparkPlan): Option[FileSourceScanExec] = p match {
        case f: FileSourceScanExec => Some(f)
        case a: AdaptiveSparkPlanExec => findScan(a.executedPlan)
        case s: QueryStageExec => findScan(s.plan)
        case other => other.children.view.flatMap(findScan).headOption
      }
      val scan = findScan(pruned.queryExecution.executedPlan).get
      assert(scan.partitionFilters.exists(_.toString.contains("l_returnflag")),
        s"no partition filter on the scan: ${scan.partitionFilters}")
      val read = scan.metadata.get("Location").toString
      assert(scan.relation.partitionSchema.fieldNames.contains("l_returnflag"),
        read)
      // the scan must touch only files under the matching partition
      // dir — compare against that dir's own part-file count, not the
      // partition count (a partition may legitimately hold several
      // part files)
      assert(scan.inputRDDs().head.partitions.nonEmpty)
      val selected = scan.metrics.get("numFiles").map(_.value)
      val dirs = new java.io.File(dir).listFiles()
        .filter(f => f.isDirectory && f.getName.startsWith("l_returnflag="))
      assert(dirs.length == 3, s"expected 3 partition dirs, got ${dirs.length}")
      def partFiles(d: java.io.File): Int =
        d.listFiles().count(_.getName.endsWith(".parquet"))
      val matching = dirs.find(_.getName == "l_returnflag=R").get
      val totalFiles = dirs.map(partFiles).sum
      assert(selected.contains(partFiles(matching).toLong) &&
        partFiles(matching) < totalFiles,
        s"scan did not prune: numFiles=$selected, matching dir has " +
          s"${partFiles(matching)} of $totalFiles total files")
    } finally {
      org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(dir))
    }
  }

  test("q126's changelog is exchanged ONCE — the keep-latest window and " +
    "the merge join share the key partitioning, and the rank filter is " +
    "pushed to a WindowGroupLimit") {
    val p = execPlan("q126_cdc_merge")
    val firstSection = p.split("== Initial Plan ==").head
    // one hash exchange per join side; anything more means the window
    // output was re-partitioned for the join
    assert(countOccurrences(firstSection, "hashpartitioning") == 2,
      s"expected exactly 2 key exchanges (snapshot + changelog):\n$firstSection")
    // rn=1 must run as a group-limit (top-1 per key map-side + final),
    // not a full window materialization
    assert(firstSection.contains("WindowGroupLimit"),
      s"keep-latest rank filter not pushed down:\n$firstSection")
  }
}
