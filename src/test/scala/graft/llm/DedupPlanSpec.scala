package graft.llm

import graft.{SparkSpec, Tables}

/** Structural plan guards for the dedup cluster-extraction path
  * (q113/q117). Those two queries run eager jobs inside `components()`,
  * so the registry-wide PlanBudgetSpec legitimately skips them — this
  * spec audits the expensive internal stages directly instead:
  * the band-stage cache reuse, the candidate edge join shape, the
  * label-map join shape, the checkpointed-lineage bound of the
  * distributed fallback, and AQE's skew handling of a hot band bucket.
  */
class DedupPlanSpec extends SparkSpec {

  test("candidate edge join scans the cached band stage on BOTH sides " +
    "— the minhash pipeline is computed once per action, not twice") {
    val docs = Tables.documents(spark, sf001)
    val bands = Dedup.bandsOf(docs).persist()
    try {
      val edges = Dedup.candidateEdges(bands)
      val plan = edges.queryExecution.executedPlan.toString()
      val scans = plan.linesIterator.count(_.contains("InMemoryTableScan"))
      assert(scans == 2,
        s"expected both join sides to read the cached band stage, " +
          s"got $scans InMemoryTableScan(s):\n$plan")
      assert(!plan.contains("CartesianProduct"), s"cartesian edge join:\n$plan")
      assert(!plan.contains("BroadcastNestedLoopJoin"), s"BNLJ edge join:\n$plan")
    } finally bands.unpersist()
  }

  test("driver-path component labels join the corpus against a " +
    "BROADCAST label map (no shuffle of the docs side)") {
    val docs = Tables.documents(spark, sf001)
    val labels = Dedup.components(docs) // edge count << threshold → driver path
    val plan = labels.queryExecution.executedPlan.toString()
    assert(plan.contains("BroadcastHashJoin"),
      s"label map not broadcast:\n$plan")
    assert(!plan.contains("SortMergeJoin") && !plan.contains("ShuffledHashJoin"),
      s"docs side shuffled for the label join:\n$plan")
  }

  test("distributed-propagation labels carry an O(1) logical plan " +
    "(lineage localCheckpoint'd every round, not nested per round)") {
    val docs = Tables.documents(spark, sf001)
    val before = spark.sparkContext.getPersistentRDDs.size
    val labels = Dedup.components(docs, maxDriverEdges = -1L) // force fallback
    val nodes = labels.queryExecution.optimizedPlan.collect { case p => p }
    assert(nodes.size <= 4,
      s"plan grew with propagation rounds (${nodes.size} nodes):\n" +
        labels.queryExecution.optimizedPlan.toString())
    // superseded rounds must be FREED as the loop advances — unpersist()
    // on a checkpointed Dataset is a CacheManager no-op, so a naive loop
    // pins one full label snapshot per round; only the final round (the
    // returned labels) may remain
    val leaked = spark.sparkContext.getPersistentRDDs.size - before
    assert(leaked <= 1,
      s"$leaked persisted RDDs left behind by the propagation loop")
    // and the fallback still agrees with itself end-to-end
    assert(labels.count() == docs.count())
  }

  test("components() crossing maxDriverEdges takes the distributed path " +
    "and hash-equals the driver union-find on the same graph") {
    // The adaptive threshold means the 1000-executor path (distributed
    // min-label propagation) normally never faces fixture-sized edge
    // sets. Lower the cap to JUST UNDER the fixture's real edge count
    // so the same graph provably routes through BOTH paths, then
    // require identical (doc_id, comp) labelings — not just equal
    // partition counts: min-label propagation and union-find both
    // canonicalize a component to its minimum doc_id, so the full
    // labeling must match row-for-row.
    import org.apache.spark.sql.functions._
    val docs = Tables.documents(spark, sf001)
    val nEdges = Dedup.candidateEdges(Dedup.bandsOf(docs)).count()
    assert(nEdges > 1, s"fixture yields only $nEdges candidate edges — " +
      "the routing comparison needs a non-trivial graph")
    val driver = Dedup.components(docs, maxDriverEdges = nEdges)
    val dist = Dedup.components(docs, maxDriverEdges = nEdges - 1)
    val diff = driver.exceptAll(dist).count() + dist.exceptAll(driver).count()
    assert(diff == 0,
      s"distributed labels diverge from union-find on $diff rows " +
        s"($nEdges-edge graph)")
    // and the graph genuinely exercises merging: at least one
    // multi-doc component exists
    val multi = driver.groupBy("comp").count().filter(col("count") > 1).count()
    assert(multi > 0, "no multi-doc component — the equality is vacuous")
  }

  test("pointer jumping converges a 200-long chain within the round " +
    "budget (one-hop propagation alone would need 200 rounds)") {
    // a path graph is the worst case for per-round min-label
    // propagation: the min label crawls one hop per round. The jump
    // step compresses label chains exponentially, so 200 hops fit
    // comfortably inside maxRounds = 50 (log₂ 200 ≈ 8).
    val s = spark
    import s.implicits._
    val docIds = (0L to 200L).toDF("doc_id")
    val edges = (0L until 200L).map(i => (i, i + 1)).toDF("src", "dst")
    val labels = Dedup.propagateLabels(docIds, edges)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(labels.size == 201 && labels.values.forall(_ == 0L),
      "chain must collapse to a single component labeled 0")
  }

  test("AQE splits the hot band bucket a giant near-dup cluster creates " +
    "(skewed shuffle partition → skew=true join at runtime)") {
    // 200 identical docs → identical minhash signatures → 8 hot
    // (band_id, bsig) buckets of 200 rows each: the worst-case skew a
    // giant near-dup cluster creates, which the Dedup scaladoc claims
    // AQE covers — this test proves it. The three size thresholds
    // (skew threshold, advisory split size, coalesce minPartitionSize)
    // are scaled from their MB/256MB defaults down to fixture bytes;
    // the *ratios* are the defaults' shape. minPartitionSize matters:
    // left at its 1MB default, coalescing merges every fixture-sized
    // partition BEFORE the skew check and coalesced partitions are
    // exempt from splitting — at real scale a hot partition is GBs and
    // never coalesced, so the defaults trip on exactly this shape.
    val s = spark
    import s.implicits._
    val hot = Iterator.continually(
      "spark adaptive execution splits skewed shuffle partitions at runtime")
      .take(4).mkString(" ")
    val texts = (0 until 200).map(i => (i.toLong, hot)) ++
      (200 until 600).map(i => (i.toLong,
        s"unique document number $i with filler words about topic ${i % 37} " +
          s"and entropy ${i * 31} plus tail ${i * 7919}"))
    val docs = texts.toDF("doc_id", "text")
    graft.Confs.withConfs(spark, Seq(
      "spark.sql.autoBroadcastJoinThreshold" -> "-1", // force SMJ
      "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes" -> "100b",
      "spark.sql.adaptive.advisoryPartitionSizeInBytes" -> "100b",
      "spark.sql.adaptive.skewJoin.skewedPartitionFactor" -> "1",
      "spark.sql.adaptive.coalescePartitions.minPartitionSize" -> "100b",
      // the cluster's 8 hot band buckets must stand out against the
      // partition-size MEDIAN — at the suite default of 4 partitions
      // every partition absorbs ~2 hot buckets and nothing is skewed
      // relative to anything (exactly why a 1000-executor cluster runs
      // thousands of shuffle partitions, not 4)
      "spark.sql.shuffle.partitions" -> "37")) {
      val edges = Dedup.candidateEdges(Dedup.bandsOf(docs))
      // collect() executes THIS DataFrame's plan (count() would plan a
      // separate aggregate query and leave edges' own AQE plan unfinalized)
      val n = edges.collect().length
      assert(n >= 200 * 199 / 2, s"hot cluster pairs missing: $n")
      val plan = edges.queryExecution.executedPlan.toString()
      assert(plan.contains("skew=true"),
        s"AQE did not split the hot band bucket:\n$plan")
    }
  }

  test("contamination screen (q130) probes a BROADCAST benchmark set " +
    "via a semi join — the corpus is never shuffled for the probe") {
    val plan = graft.SparkEntry.queries("q130_contamination")(spark, sf001)
      .queryExecution.executedPlan.toString()
    assert(plan.contains("BroadcastHashJoin") && plan.contains("LeftSemi"),
      s"benchmark probe is not a broadcast semi join:\n$plan")
  }

  test("q188 winnowing: exact-duplicate docs always share ALL " +
    "fingerprints (overlap 1.0), the fingerprint subtree reuses its " +
    "exchange at runtime (PlanBudgetSpec override proof), and no pair " +
    "exceeds its own fingerprint budget") {
    import org.apache.spark.sql.functions._
    val df = graft.SparkEntry.queries("q188_winnow_dedup")(spark, sf001)
    val rows = df.collect()
    assert(rows.nonEmpty, "no dup pairs on a fixture with known exact dups")
    rows.foreach { r =>
      assert(r.getLong(2) >= 2)
      val ov = r.getDouble(3)
      assert(ov > 0.0 && ov <= 1.0, s"overlap out of range: $r")
    }
    val plan = df.queryExecution.executedPlan.toString()
    assert(plan.contains("ReusedExchange") || plan.contains("ReusedQueryStage"),
      s"no runtime exchange reuse in the final adaptive plan:\n$plan")
  }

  test("q188 winnowing guarantee, surgical: docs sharing a long exact " +
    "passage are caught regardless of chunk-grid alignment; unrelated " +
    "docs are not paired") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    // a 30-token passage planted in two docs at DIFFERENT offsets (1 vs
    // 4 leading tokens — the misalignment that defeats q127's fixed
    // 8-token chunk grid), plus an unrelated doc. 30 >= K + 3W tokens,
    // enough full windows inside the shared region to clear the
    // n_shared >= 2 output threshold.
    val passage = (0 until 30).map(i => s"shared${('a' + i % 26).toChar}$i")
      .mkString(" ")
    val fillerA = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    val fillerB = "one two three four five six seven eight nine ten"
    val fillerC = (0 until 24).map(i => s"unrelated${('a' + i % 26).toChar}$i")
      .mkString(" ")
    val docs = Seq(
      (1L, s"intro $passage $fillerA", "en", "t", 0L),
      (2L, s"lead in tokens $passage $fillerB", "en", "t", 0L),
      (3L, fillerC, "en", "t", 0L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    val dir = graft.Scratch.dir("winnow_surgical_")
    try {
      docs.coalesce(1).write.mode("overwrite")
        .parquet(s"$dir/documents.parquet")
      val got = graft.SparkEntry.queries("q188_winnow_dedup")(spark,
          dir.toString)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
      assert(got.map(t => (t._1, t._2)).toSeq == Seq((1L, 2L)),
        s"expected exactly the planted pair (1,2): ${got.mkString(",")}")
      assert(got.head._3 >= 2, s"shared fingerprints below threshold: $got")
    } finally graft.Scratch.deleteTree(dir)
  }

  test("q236 prefix filtering is EXACT at theta=0.9: candidate pruning " +
    "loses no pair vs the brute-force all-pairs Jaccard join") {
    // The prefix-filter principle (PPJoin): after sorting each doc's
    // shingle set by ascending global df, any pair with J >= theta must
    // collide inside the first |T| - ceil(theta*|T|) + 1 tokens. Unlike
    // the LSH families (q31/q36/q139) this is a zero-error candidate
    // generator, so the full output must EQUAL brute force — not just
    // overlap it.
    import org.apache.spark.sql.functions._
    val got = graft.SparkEntry.queries("q236_prefix_filter_join")(
        spark, sf001)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
      .toSeq.sortBy(t => (t._1, t._2))
    val alphaToks = array_remove(split(lower(col("text")), "[^a-z]+"), "")
    val sets = Tables.documents(spark, sf001).withColumn("ts", alphaToks)
      .filter(size(col("ts")) >= 2)
      .select(col("doc_id"), array_distinct(transform(
        sequence(lit(1), size(col("ts")) - 1),
        i => concat(element_at(col("ts"), i), lit(" "),
          element_at(col("ts"), i + 1)))).as("sh"))
    val bf = sets.as("a").crossJoin(sets.as("b"))
      .filter(col("a.doc_id") < col("b.doc_id"))
      .withColumn("inter", size(array_intersect(col("a.sh"), col("b.sh"))))
      .withColumn("jac", round(col("inter").cast("double") /
        (size(col("a.sh")) + size(col("b.sh")) - col("inter")), 6))
      .filter(col("jac") >= 0.9)
      .select(col("a.doc_id"), col("b.doc_id"), col("jac"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
      .toSeq.sortBy(t => (t._1, t._2))
    assert(bf.nonEmpty, "no >=0.9 pairs at sf0.001 — exactness vacuous")
    assert(got == bf,
      s"prefix filter diverged from brute force: " +
        s"missing=${bf.diff(got).take(5)} extra=${got.diff(bf).take(5)}")
  }

  test("the materialized pair table is executor-resident, not a " +
    "driver-built LocalRelation") {
    // Round 11 shipped the pair family through .collect() +
    // createDataFrame — correct at fixture SFs but driver-heap-bounded
    // at 100 TB where the pair table is data-proportional. The staged
    // replacement must keep rows off the driver: the returned plan
    // scans the staged parquet (a file relation), with NO LocalRelation
    // anywhere.
    for (name <- Seq("q236_prefix_filter_join", "q237_containment_join")) {
      val qe = graft.SparkEntry.queries(name)(spark, sf001).queryExecution
      val local = qe.optimizedPlan.collect {
        case l: org.apache.spark.sql.catalyst.plans.logical.LocalRelation => l
      }
      assert(local.isEmpty,
        s"$name: pair table came back as a driver-built LocalRelation")
      val scans = qe.optimizedPlan.collect {
        case r: org.apache.spark.sql.execution.datasources.LogicalRelation => r
      }
      assert(scans.nonEmpty, s"$name: expected a staged-parquet file scan")
    }
  }

  test("the sim-join family's shared stages are computed once per run " +
    "and re-read from staging") {
    // Six queries ride on dfSortedSets and four on the theta=0.7 pair
    // table; the staging cache must make every consumer after the
    // first a pure file read. Proof: q246 and q248 (theta=0.7
    // consumers) plan a scan of the staged pair parquet and contain NO
    // shingle lineage (no Generate/explode — the tokenize pass ran
    // once, inside the staging build). q246's narrow documents scan
    // for its lang join is expected and allowed.
    for (name <- Seq("q246_blocking_modularity", "q248_cluster_audit")) {
      val qe = graft.SparkEntry.queries(name)(spark, sf001).queryExecution
      val stagedScans = qe.optimizedPlan.collect {
        case r: org.apache.spark.sql.execution.datasources.LogicalRelation
          if (r.relation match {
            case f: org.apache.spark.sql.execution.datasources.HadoopFsRelation =>
              f.location.rootPaths.exists(_.toString.contains("simjoin_pairs"))
            case _ => false
          }) => r
      }
      assert(stagedScans.nonEmpty,
        s"$name does not scan the staged theta=0.7 pair table")
      assert(!qe.optimizedPlan.toString.contains("Generate"),
        s"$name re-derives shingle lineage instead of reading staging")
    }
  }

  test("the LSH band/edge/component family is computed once per run " +
    "and re-read from staging — no consumer re-derives minhash lineage") {
    // Round 12's only >2x bench flag (q159 at 2.48x) was this family
    // rebuilding the shingle→minhash→band→edge→label pipeline per
    // consumer while the sim-join family already read staged parquet.
    // Pin the fix: every band/component consumer plans a scan of its
    // staged file and carries NO Generate (the tokenize/explode pass
    // ran once, inside the staging build). q147 is checked for the
    // staged edge scan only — its exact-truth side legitimately
    // re-shingles the study subset.
    val pinned = Seq(
      "q31_minhash_dedup" -> "simjoin_bands",
      "q124_incremental_dedup" -> "simjoin_bands",
      "q113_dedup_components" -> "simjoin_comp",
      "q117_corpus_pipeline" -> "simjoin_comp",
      "q159_canonical_select" -> "simjoin_comp",
      "q161_source_dup_stats" -> "simjoin_comp")
    for ((name, key) <- pinned) {
      val qe = graft.SparkEntry.queries(name)(spark, sf001).queryExecution
      val stagedScans = qe.optimizedPlan.collect {
        case r: org.apache.spark.sql.execution.datasources.LogicalRelation
          if (r.relation match {
            case f: org.apache.spark.sql.execution.datasources.HadoopFsRelation =>
              f.location.rootPaths.exists(_.toString.contains(key))
            case _ => false
          }) => r
      }
      assert(stagedScans.nonEmpty, s"$name does not scan the staged $key table")
      assert(!qe.optimizedPlan.toString.contains("Generate"),
        s"$name re-derives shingle lineage instead of reading staging")
    }
    val q147 = graft.SparkEntry.queries("q147_lsh_pr_eval")(spark, sf001)
      .queryExecution
    val edgeScan = q147.optimizedPlan.collect {
      case r: org.apache.spark.sql.execution.datasources.LogicalRelation
        if (r.relation match {
          case f: org.apache.spark.sql.execution.datasources.HadoopFsRelation =>
            f.location.rootPaths.exists(_.toString.contains("simjoin_edges"))
          case _ => false
        }) => r
    }
    assert(edgeScan.nonEmpty,
      "q147's candidate side does not scan the staged edge table")
  }

  test("q357 fuzzy contamination, surgical: a LIGHTLY-EDITED benchmark " +
    "passage (one token changed mid-passage, different lead-in offset) " +
    "is flagged; an unrelated doc is not; and the exact screen (q130) " +
    "rates the edited leak no higher than the clean doc's noise floor") {
    import spark.implicits._
    // 30-token benchmark passage; the corpus leak shifts it by a
    // different lead-in length AND edits token 15 — leaving two >=14
    // token verbatim runs, each guaranteed >=1 winnowing fingerprint
    // (K+W-1 = 11), so the >=2 shared-fp contamination verdict fires.
    val passage = (0 until 30).map(i => s"bench${('a' + i % 26).toChar}$i")
    val edited = passage.updated(15, "paraphrased").mkString(" ")
    val benchDoc = s"intro ${passage.mkString(" ")} closing remarks here"
    val leakDoc = s"a very different lead in $edited trailing words"
    val cleanDoc = (0 until 24).map(i => s"clean${('a' + i % 26).toChar}$i")
      .mkString(" ")
    // doc_id 0 -> benchmark side (0 % 50 == 0); 1, 2 -> corpus side
    val docs = Seq(
      (0L, benchDoc, "en", "t", 0L),
      (1L, leakDoc, "en", "t", 0L),
      (2L, cleanDoc, "en", "t", 0L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    val dir = graft.Scratch.dir("fuzzy_contam_surgical_")
    try {
      docs.coalesce(1).write.mode("overwrite")
        .parquet(s"$dir/documents.parquet")
      val got = graft.SparkEntry.queries("q357_fuzzy_contamination")(
          spark, dir.toString)
        .collect().map(r => r.getLong(0) ->
          (r.getInt(2), r.getBoolean(4))).toMap
      assert(got(1L)._1 >= 2 && got(1L)._2,
        s"edited benchmark leak not flagged: $got")
      assert(got(2L)._1 == 0 && !got(2L)._2,
        s"unrelated doc falsely flagged: $got")
      // the exact-shingle screen sees only the bigrams that survived
      // verbatim — the edit plus offset dilute it below a usable
      // verdict (no threshold fires), which is the gap q357 closes
      val exact = graft.SparkEntry.queries("q130_contamination")(
          spark, dir.toString)
        .collect().map(r => r.getLong(0) -> r.getDouble(3)).toMap
      assert(exact(1L) < 1.0,
        "exact screen already saturates on the edited leak — " +
          s"the fuzzy twin would be redundant: $exact")
    } finally graft.Scratch.deleteTree(dir)
  }

  test("q237 probe-side prefix containment join is EXACT at theta=0.8: " +
    "output equals the brute-force all-ordered-pairs containment join") {
    // Containment's prefix bound lives on the PROBE side only (t =
    // ceil(0.8|Sa|) is a function of A alone); the index side is full
    // postings. Any pruning error would show as a missing ordered pair
    // here.
    import org.apache.spark.sql.functions._
    val got = graft.SparkEntry.queries("q237_containment_join")(
        spark, sf001)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
      .toSeq.sortBy(t => (t._1, t._2))
    val alphaToks = array_remove(split(lower(col("text")), "[^a-z]+"), "")
    val sets = Tables.documents(spark, sf001).withColumn("ts", alphaToks)
      .filter(size(col("ts")) >= 2)
      .select(col("doc_id"), array_distinct(transform(
        sequence(lit(1), size(col("ts")) - 1),
        i => concat(element_at(col("ts"), i), lit(" "),
          element_at(col("ts"), i + 1)))).as("sh"))
    val bf = sets.as("a").crossJoin(sets.as("b"))
      .filter(col("a.doc_id") =!= col("b.doc_id"))
      .withColumn("containment",
        round(size(array_intersect(col("a.sh"), col("b.sh")))
          .cast("double") / size(col("a.sh")), 6))
      .filter(col("containment") >= 0.8)
      .select(col("a.doc_id"), col("b.doc_id"), col("containment"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
      .toSeq.sortBy(t => (t._1, t._2))
    assert(bf.nonEmpty, "no >=0.8 containments at sf0.001 — vacuous")
    assert(got == bf,
      s"containment prefix filter diverged from brute force: " +
        s"missing=${bf.diff(got).take(5)} extra=${got.diff(bf).take(5)}")
  }

  test("q237 containment is genuinely ASYMMETRIC: a short doc planted " +
    "inside a long one is caught a->b only, and Jaccard (q236) misses it") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    // doc 1 = 12 tokens; doc 2 = those 12 + 30 unrelated tokens.
    // containment(1->2) = 1.0 but J = 11/41 ~ 0.27 — the quote/
    // extraction case symmetric Jaccard structurally misses.
    val core = (0 until 12).map(i => s"quoted${('a' + i).toChar}$i")
      .mkString(" ")
    val tail = (0 until 30).map(i => s"body${('a' + i % 26).toChar}$i")
      .mkString(" ")
    val docs = Seq(
      (1L, core, "en", "t", 0L),
      (2L, s"$core $tail", "en", "t", 0L),
      (3L, (0 until 20).map(i => s"other$i").mkString(" "), "en", "t", 0L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    val dir = graft.Scratch.dir("containment_surgical_")
    try {
      docs.coalesce(1).write.mode("overwrite")
        .parquet(s"$dir/documents.parquet")
      val got = graft.SparkEntry.queries("q237_containment_join")(spark,
          dir.toString)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
      assert(got == Seq((1L, 2L)),
        s"expected exactly the one-directional pair (1,2): $got")
      val jac = graft.SparkEntry.queries("q236_prefix_filter_join")(spark,
          dir.toString).count()
      assert(jac == 0, "Jaccard join caught the embedded doc — the " +
        "containment operator would be redundant")
    } finally graft.Scratch.deleteTree(dir)
  }
}
