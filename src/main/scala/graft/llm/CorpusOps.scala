package graft.llm

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.{QueryModule, Tables}

/** Corpus curation and monitoring operators a 100 TB training-data
  * pipeline runs AROUND the cleaning passes in [[TextAnalysis]] /
  * [[TextPipeline]]: reproducible pre-training shuffle+sharding,
  * token-budget data selection, robust (median/MAD) outlier flagging,
  * cross-source distribution-drift detection, bigram-LM scoring, and
  * corpus snapshot diffing.
  *
  * Scale posture, per query:
  *   - q162: the shuffle key is a pure narrow projection (md5 of a
  *     seeded doc id); the only exchange is the per-shard window, which
  *     is exactly the partitioning a training job wants on disk.
  *   - q163: the global "sort by quality, take until the token budget
  *     is spent" is re-expressed as the classic two-phase selection —
  *     a bucket histogram (≤101 rows after aggregation) picks the
  *     boundary bucket, and only the boundary bucket's docs need a
  *     per-doc running sum. No corpus-sized global sort or window.
  *   - q164/q165: per-source stats tables are |sources|-sized and
  *     broadcast; the KS grid is |sources|×|distinct lengths| (length
  *     is a bounded domain), so every post-aggregation step is tiny
  *     regardless of corpus size.
  *   - q166: model tables (bigram/context counts) shuffle by term key
  *     and broadcast into the scoring join — the same two-exchange
  *     shape as TF-IDF; at 100 TB the model would be trained once and
  *     reused, and the scoring pass is unchanged.
  *   - q167: a single full-outer sort-merge join keyed by doc_id; both
  *     snapshot scans prune to (doc_id, text).
  */
object CorpusOps extends QueryModule {

  /** Lowercased alpha tokens (the [[TextPipeline]] tokenizer). */
  private def alphaTokens =
    array_remove(split(lower(col("text")), "[^a-z]+"), "")

  private val alphaTokensSql =
    """list_filter(string_split_regex(lower(text), '[^a-z]+'), x -> x != '')"""

  /** q40's quality score (length + stopword-ratio mix), rounded 6dp. */
  private def quality =
    round(least(col("n_chars") / lit(500.0), lit(1.0)) * 0.5 +
      (lit(1.0) - col("stop_cnt").cast("double") / col("n_tok")) * 0.5, 6)

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // Weighted sampling WITHOUT replacement (Efraimidis–Spirakis
    // exponential race): every doc draws a deterministic uniform u
    // from a seeded md5 (millionths-quantized, the HashDraw idiom)
    // and the k smallest exponential keys -ln(u)/w win — exactly
    // equivalent to sequentially drawing k docs with probability
    // proportional to weight, never the same doc twice. Weight here is
    // n_chars (sample long docs preferentially — the "token-weighted
    // subsample" a mixture builder wants); any per-doc score slots in.
    // Scale: the key is a narrow codegen projection and the global
    // top-k plans TakeOrderedAndProject (per-partition partial top-k +
    // driver merge of k rows) — no corpus-wide sort, no window, no
    // shuffle of the corpus. Cross-engine note (the HashDraw
    // contract): u is millionths-quantized and ln/divide are IEEE
    // doubles on both engines; a selection flip needs the k-th and
    // (k+1)-th keys within ~1 ulp, documented-accepted like the
    // md5-millionths threshold.
    "q195_weighted_sample" -> ((s, d) => {
      val u = ((TextAnalysis.md5Int(
        concat(lit("ws:"), col("doc_id").cast("string"))) % 1000000)
        .cast("double") + 0.5) / 1000000.0
      val esKey = -log(u) / col("n_chars")
      Tables.documents(s, d)
        .select(col("doc_id"), col("lang"), col("n_chars"),
          esKey.as("es_key"))
        .orderBy(col("es_key"), col("doc_id"))
        .limit(100)
        .select(col("doc_id"), col("lang"), col("n_chars"))
        .orderBy(col("doc_id"))
    }),

    // Per-GROUP weighted reservoir — k docs per language, sampled
    // without replacement proportional to length (q195's global
    // Efraimidis–Spirakis race, per group; q116 stratifies by RATE,
    // this takes an exact-k reservoir per stratum): the race key is
    // deterministic (-ln(u)/w, seeded HashDraw u), and the k smallest
    // keys per group are kept by the collect_top_k HEAP aggregate —
    // per-group state is k rows through the partial phase, the
    // shuffle carries ≤k·|groups| rows, and there is NO per-group
    // window sort (q213's plan argument applied to sampling). This is
    // THE shape for "n examples per language/domain" eval-set
    // construction at corpus scale.
    "q219_grouped_reservoir" -> ((s, d) => {
      import graft.functions.exprs.graft_collect_top_k
      val k = 20
      val u = ((TextAnalysis.md5Int(
        concat(lit("gr:"), col("doc_id").cast("string"))) % 1000000)
        .cast("double") + 0.5) / 1000000.0
      Tables.documents(s, d)
        .select(col("lang"), col("doc_id"), col("n_chars"),
          (-log(u) / col("n_chars")).as("es_key"))
        .groupBy(col("lang"))
        .agg(graft_collect_top_k(
          struct(col("es_key"), col("doc_id"), col("n_chars")), k,
          reverse = true).as("res"))
        .select(col("lang"), posexplode(sort_array(col("res"))))
        .select(col("lang"), (col("pos") + 1).cast("int").as("rk"),
          col("col.doc_id").as("doc_id"), col("col.n_chars").as("n_chars"))
        .orderBy(col("lang"), col("rk"))
    }),

    // KMV (k-minimum-values) overlap sketch — "how much of crawl B is
    // already in crawl A" WITHOUT joining the crawls: each snapshot
    // keeps only its k smallest content hashes (a k-row sketch,
    // regardless of corpus size), and Jaccard is estimated from the k
    // smallest of the sketch UNION: est = |S_k(A∪B) ∩ S_A ∩ S_B| / k.
    // At 100 TB the sketches are k-row tables a coordinator compares
    // in milliseconds; here the exact Jaccard is computed alongside as
    // the demonstration baseline (q115's fp-rate pattern). Snapshots
    // are q167-style carves of documents (doc_id%3≠0 vs %4≠0 — true
    // J=|A∩B|/|A∪B|≈0.55 by construction); every number is integer
    // arithmetic over identical md5 hashes, so the oracle is exact
    // with no float boundary at all. Each sketch is a
    // TakeOrderedAndProject partial top-k (no corpus sort).
    "q198_kmv_overlap" -> ((s, d) => {
      val k = 64
      def h = TextAnalysis.md5Int(concat(lit("kmv:"), col("text")))
      def snap(mod: Int) = Tables.documents(s, d)
        .filter(col("doc_id") % mod =!= 0).select(h.as("h")).distinct()
      val a = snap(3)
      val b = snap(4)
      def sketch(df: DataFrame) = df.orderBy(col("h")).limit(k)
      val sa = sketch(a)
      val sb = sketch(b)
      val un = sketch(sa.union(sb).distinct())
      val m = un.join(sa, "h", "left_semi").join(sb, "h", "left_semi")
        .agg(count(lit(1)).as("m"))
      val ni = a.join(b, "h", "left_semi").agg(count(lit(1)).as("ni"))
      val nu = a.union(b).distinct().agg(count(lit(1)).as("nu"))
      m.crossJoin(ni).crossJoin(nu)
        .select(lit(k).as("k"),
          round(col("m").cast("double") / k, 4).as("est_jaccard"),
          round(col("ni").cast("double") / col("nu"), 4).as("true_jaccard"))
    }),

    // Theta-sketch set-operation ALGEBRA over N crawl snapshots —
    // q198's KMV estimates one pairwise Jaccard; theta sketches
    // (DataSketches, the library Spark's own hll_* functions ship
    // with) close the full union/intersect/difference algebra with
    // bounded memory, which is what cross-crawl overlap accounting
    // actually needs (|A∪B∪C|, |A∩B|, |A\B| from THREE ~32 KB
    // summaries instead of three corpus-sized joins). Each snapshot's
    // sketch is built by [[graft.functions.ThetaSketchAgg]] — a real
    // Catalyst TypedImperativeAggregate (the hll_sketch_agg machinery),
    // so the planner runs bounded k-entry partial sketches per
    // partition and merges them after the shuffle, and the same
    // aggregate drops into any groupBy (ThetaAggSpec) — the mergeable-
    // summary posture of q114's HLL; the set algebra then runs
    // entirely on the driver's three summaries. Correctness gate
    // (q114's bounded-error twin
    // pattern): each exact cardinality — computed here via DataFrame
    // set ops so DuckDB can twin it — must land inside the sketch's
    // OWN 3-standard-deviation interval, the estimator's published
    // guarantee (deterministic per fixture: theta's hash seed is
    // fixed, and a theta set is order-independent). Below k the
    // sketches are exact; at sf0.1 the unions run in genuine
    // estimation mode.
    "q215_theta_setops" -> ((s, d) => {
      import org.apache.datasketches.memory.Memory
      import org.apache.datasketches.theta.{SetOperation, Sketch, Sketches}
      import graft.functions.exprs.graft_theta_sketch_agg
      import s.implicits._
      val nom = 4096
      def h = TextAnalysis.md5Int(concat(lit("theta:"), col("text")))
      def snap(mod: Int) = Tables.documents(s, d)
        .filter(col("doc_id") % mod =!= 0).select(h.as("h"))
      def sketchOf(df: DataFrame): Sketch = {
        val bytes = df.agg(graft_theta_sketch_agg(col("h"), nom).as("sk"))
          .head().getAs[Array[Byte]]("sk")
        Sketches.wrapSketch(Memory.wrap(bytes))
      }
      // the 3 sketch builds and 3 exact set-op counts are six
      // INDEPENDENT driver actions — overlapped from a small pool
      // (guide §2.6, the q000 staging shape) so each tiny job's tail
      // back-fills the cores; per-job work and results are unchanged
      val (sa, sb, sc, exact) = graft.Par.scope(s, 4) { p =>
        val fa = p.fork("q215: sketch a")(sketchOf(snap(3)))
        val fb = p.fork("q215: sketch b")(sketchOf(snap(4)))
        val fc = p.fork("q215: sketch c")(sketchOf(snap(5)))
        def da = snap(3).distinct()
        def db = snap(4).distinct()
        def dc = snap(5).distinct()
        val fu = p.fork("q215: exact union")(da.union(db).union(dc).distinct().count())
        val fi = p.fork("q215: exact intersect")(da.intersect(db).count())
        val fm = p.fork("q215: exact minus")(da.except(db).count())
        (fa.join(), fb.join(), fc.join(), Map[String, Long](
          "a_union_b_union_c" -> fu.join(),
          "a_intersect_b" -> fi.join(),
          "a_minus_b" -> fm.join()))
      }
      val union3 = {
        val u = SetOperation.builder().setNominalEntries(nom).buildUnion()
        u.union(sa); u.union(sb); u.union(sc); u.getResult
      }
      val interAb = {
        val i = SetOperation.builder().setNominalEntries(nom)
          .buildIntersection()
        i.intersect(sa); i.intersect(sb); i.getResult
      }
      val aNotB = SetOperation.builder().buildANotB().aNotB(sa, sb)
      val ests: Map[String, Sketch] = Map(
        "a_union_b_union_c" -> union3,
        "a_intersect_b" -> interAb,
        "a_minus_b" -> aNotB)
      val rows = ests.keys.toSeq.sorted.map { op =>
        val sk = ests(op); val ex = exact(op)
        (op, ex,
          sk.getLowerBound(3) <= ex.toDouble && ex.toDouble <= sk.getUpperBound(3))
      }
      rows.toDF("op", "n_exact", "exact_within_bounds").orderBy("op")
    }),

    // Mergeable quantile sketch (KLL) — the distribution-summary leg
    // of the sketch family (q114 HLL cardinality, q208 Count-Min
    // frequency, q141 frequent-items, q215 theta set algebra): at
    // 100 TB, per-shard KLL summaries (a few KB each) merge into one
    // corpus length distribution with a PROVEN normalized-rank-error
    // bound — the scalable twin of q50/q99's exact percentiles and
    // q90's approx_percentile (Spark's own positional sketch),
    // maintainable incrementally where exact quantiles need a global
    // sort. Built by [[graft.functions.KllSketchAgg]] — a Catalyst
    // TypedImperativeAggregate, so the partial/final split and the
    // any-groupBy composition come from the planner (q215's
    // ThetaSketchAgg pattern). Gate: for each
    // probe rank, the merged sketch's quantile value must have a TRUE
    // rank interval [#(<v)/N, #(≤v)/N] overlapping the probe ±2×
    // the sketch's published rank error (tie-robust: n_chars has mass
    // points, so the value's exact rank is an interval, and KLL's
    // guarantee is on rank, not value). The oracle-checkable columns
    // are the EXACT disc percentiles (KLL compaction is randomized,
    // so the estimate itself is not cross-run stable; the guarantee
    // boolean is — at 2× the 99%-confidence bound a failure means a
    // broken merge, not sampling noise).
    "q217_kll_quantile_merge" -> ((s, d) => {
      import org.apache.datasketches.kll.{KllDoublesSketch, KllSketch}
      import org.apache.datasketches.memory.Memory
      import org.apache.datasketches.quantilescommon.QuantileSearchCriteria
      import graft.functions.exprs.graft_kll_sketch_agg
      import s.implicits._
      val k = 200
      val vals = Tables.documents(s, d)
        .select(col("n_chars").cast("double").as("v"))
      val merged = KllDoublesSketch.heapify(Memory.wrap(
        vals.agg(graft_kll_sketch_agg(col("v"), k).as("sk"))
          .head().getAs[Array[Byte]]("sk")))
      val eps = 2.0 * KllSketch.getNormalizedRankError(k, false)
      val probes = Seq(25 -> 0.25, 50 -> 0.50, 75 -> 0.75, 95 -> 0.95)
      val est = probes.map { case (tag, q) =>
        tag -> merged.getQuantile(q, QuantileSearchCriteria.INCLUSIVE)
      }.toMap
      // one corpus pass computes every probe's exact rank interval
      val aggs = probes.flatMap { case (tag, _) => Seq(
        sum(when(col("v") < est(tag), 1L).otherwise(0L)).as(s"lo_$tag"),
        sum(when(col("v") <= est(tag), 1L).otherwise(0L)).as(s"hi_$tag"))
      } :+ count(lit(1)).as("n")
      val r = vals.agg(aggs.head, aggs.tail: _*).head()
      val n = r.getAs[Long]("n").toDouble
      // exact disc percentiles — the deterministic, DuckDB-twinnable
      // face of the result (one aggregate over the same scan)
      val discAggs = probes.map { case (tag, q) =>
        expr(s"percentile_disc($q) WITHIN GROUP (ORDER BY v)")
          .cast("long").as(s"d_$tag")
      }
      val disc = vals.agg(discAggs.head, discAggs.tail: _*).head()
      val rows = probes.map { case (tag, q) =>
        val lo = r.getAs[Long](s"lo_$tag") / n
        val hi = r.getAs[Long](s"hi_$tag") / n
        (q, disc.getAs[Long](s"d_$tag"), lo - eps <= q && q <= hi + eps)
      }
      rows.toDF("qtile", "exact_disc", "rank_within_err").orderBy("qtile")
    }),

    // DSIR-style importance resampling (Xie et al. 2023) — the
    // published data-selection method q163/q195 bracket: pick raw-pool
    // docs whose HASHED-feature distribution looks most like a target
    // domain. Features are tokens hashed into 1024 buckets (DSIR's
    // hashed n-grams — the model is 1024 rows whatever the corpus, so
    // it broadcasts at any scale); importance = mean per-token
    // log-ratio of add-1-smoothed target vs raw bucket LMs; selection
    // is Gumbel-top-k (g = −ln(−ln u) from the seeded HashDraw
    // uniform, β=0.5) — the standard trick that turns weighted
    // sampling WITHOUT replacement into a plain top-k, which plans
    // TakeOrderedAndProject (per-partition heaps, no corpus sort; the
    // q195 race with a different key). Float parity: per-token
    // log-ratios are rounded to integer MICRO-NATS in the 1024-row
    // model, so the per-doc aggregation is an exact integer sum with
    // no fold-order boundary; only the final mean/Gumbel arithmetic
    // is floating (written identically on both engines; a selection
    // flip needs the k-th and k+1-th Gumbel keys within ~1 ulp —
    // documented-accepted like the md5-millionths threshold). The
    // target exemplar set is the docs carrying the fixture's one
    // lexically discriminative token ('dup', the near-dup family —
    // the fixture's langs share a vocabulary, so lang is NOT a
    // lexical signal); any exemplar predicate slots in.
    // CorpusOpsSpec asserts the selection is genuinely enriched in
    // target-like docs over the raw pool.
    "q218_dsir_resample" -> ((s, d) => {
      val nb = 1024L
      val k = 50
      val toks = Tables.spread(s, Tables.documents(s, d))
        .select(col("doc_id"), col("lang"), explode(alphaTokens).as("term"))
        .withColumn("b",
          TextAnalysis.md5Int(concat(lit("dsir:"), col("term"))) % nb)
      // per-(doc,bucket) tf — the one corpus-sized aggregate, shared
      // by the raw model, the target model, and the scoring join.
      // The exemplar marker ('dup' present) rides the same aggregate
      // as a per-group flag, so the target-doc carve never re-scans
      // (and re-tokenizes) the corpus: a doc carries the token iff
      // some (doc, bucket) group saw it.
      val tf = toks.groupBy(col("doc_id"), col("lang"), col("b"))
        .agg(count(lit(1)).as("tf"),
          max(when(col("term") === "dup", 1L).otherwise(0L)).as("hasdup"))
        .persist()
      try {
        val tgtDocs = tf.filter(col("hasdup") === 1L).select(col("doc_id"))
        val raw = tf.groupBy(col("b")).agg(sum(col("tf")).as("cr"))
        val tgt = tf.join(tgtDocs, Seq("doc_id"), "left_semi")
          .groupBy(col("b")).agg(sum(col("tf")).as("ct"))
        val model = raw.join(tgt, Seq("b"), "left").na.fill(0L, Seq("ct"))
          .crossJoin(broadcast(raw.agg(sum(col("cr")).as("nr"))))
          .crossJoin(broadcast(tgt.agg(sum(col("ct")).as("nt"))))
          .select(col("b"),
            round((log((col("ct") + 1).cast("double") / (col("nt") + nb)) -
              log((col("cr") + 1).cast("double") / (col("nr") + nb))) * 1e6)
              .cast("long").as("unit"))
        val u = ((TextAnalysis.md5Int(
          concat(lit("dsirg:"), col("doc_id").cast("string"))) % 1000000)
          .cast("double") + 0.5) / 1000000.0
        val scored = tf.join(broadcast(model), "b")
          .groupBy(col("doc_id"), col("lang"))
          .agg(sum(col("tf") * col("unit")).as("lw"),
            sum(col("tf")).as("n_tok"))
          .select(col("doc_id"), col("lang"),
            round(col("lw").cast("double") /
              (col("n_tok").cast("double") * 1e6), 6).as("imp"))
        val rows = scored
          .withColumn("gkey", col("imp") + lit(0.1) * -log(-log(u)))
          .orderBy(col("gkey").desc, col("doc_id")).limit(k)
          .select(col("doc_id"), col("lang"), col("imp"))
          .orderBy(col("doc_id")).collect()
        import scala.jdk.CollectionConverters._
        import org.apache.spark.sql.types._
        s.createDataFrame(rows.toSeq.asJava, StructType(Seq(
            StructField("doc_id", LongType), StructField("lang", StringType),
            StructField("imp", DoubleType)))).orderBy(col("doc_id"))
      } finally tf.unpersist()
    }),

    // Sampling-based approximate query processing — interactive
    // aggregates over a corpus too big to scan: a deterministic 5%
    // Bernoulli sample (md5-millionths threshold, the HashDraw idiom)
    // feeds Horvitz–Thompson estimators (est = sample_sum / p) with
    // proper 95% CIs (Var(est_sum) under Bernoulli sampling is
    // Σ_sample x²·(1−p)/p², so the error bar ships WITH the estimate —
    // an estimate without its CI is a guess). At 100 TB the sample is
    // materialized once and every exploratory aggregate runs 20×
    // cheaper; the true values ride along as the demonstration
    // baseline (q115's pattern) and AqpSpec asserts the nominal
    // coverage. Estimator arithmetic is one division per cell over
    // exact integer sums — no fold-order float boundary — so the
    // oracle is exact.
    "q203_aqp_estimate" -> ((s, d) => {
      val p = 0.05
      val inSample = (TextAnalysis.md5Int(
        concat(lit("aqp:"), col("doc_id").cast("string"))) % 1000000) <
        lit((p * 1000000).toLong)
      val docs = Tables.documents(s, d)
      val samp = docs.filter(inSample)
        .groupBy(col("lang"))
        .agg(count(lit(1)).as("n_s"), sum(col("n_chars")).as("sum_s"),
          // sum of squares through DECIMAL(38,0): n_chars² × N silently
          // wraps int64 at real corpus scale (1e6-char docs overflow
          // after ~9M rows); decimal accumulation is exact and matches
          // the twin's HUGEINT fold with no float-order boundary
          sum(col("n_chars").cast("decimal(19,0)")
            * col("n_chars").cast("decimal(19,0)")).as("sumsq_s"))
      val truth = docs.groupBy(col("lang"))
        .agg(count(lit(1)).as("true_docs"),
          sum(col("n_chars")).as("true_chars"))
      samp.join(truth, "lang")
        .select(col("lang"),
          round(col("n_s") / p, 2).as("est_docs"),
          round(col("sum_s") / p, 2).as("est_chars"),
          round(lit(1.96) * sqrt(col("sumsq_s") * (1 - p) / (p * p)), 2)
            .as("ci95_chars"),
          col("true_docs"), col("true_chars"))
        .orderBy(col("lang"))
    }),

    // Incremental aggregate maintenance — update per-lang corpus
    // stats from a CDC delta WITHOUT rescanning the corpus: the
    // previous stats table (|langs| rows) unions with the delta's
    // SIGNED contributions (+1/+chars per add, −1/−chars per remove)
    // and one tiny groupBy re-emits current stats. The merge touches
    // |keys| + |delta| rows; at 100 TB the base aggregate is a carried-
    // forward table and the nightly cost is the delta scan — this is
    // the algebra that makes q169-style corpus profiles maintainable
    // instead of recomputed. Snapshots are deterministic doc_id carves
    // (v1 = %5≠0, v2 = %7≠0: adds where %5=0∧%7≠0, removes where
    // %7=0∧%5≠0); the oracle recomputes the stats DIRECTLY from v2,
    // proving merge ≡ recompute — all integer arithmetic, no float
    // boundary.
    "q199_incremental_agg" -> ((s, d) => {
      val docs = Tables.documents(s, d)
      val base = docs.filter(col("doc_id") % 5 =!= 0)
        .groupBy(col("lang"))
        .agg(count(lit(1)).as("n_docs"), sum(col("n_chars")).as("sum_chars"))
      val adds = docs
        .filter(col("doc_id") % 5 === 0 && col("doc_id") % 7 =!= 0)
        .select(col("lang"), lit(1L).as("n_docs"),
          col("n_chars").as("sum_chars"))
      val removes = docs
        .filter(col("doc_id") % 7 === 0 && col("doc_id") % 5 =!= 0)
        .select(col("lang"), lit(-1L).as("n_docs"),
          (-col("n_chars")).as("sum_chars"))
      base.select(col("lang"), col("n_docs"), col("sum_chars"))
        .unionAll(adds).unionAll(removes)
        .groupBy(col("lang"))
        .agg(sum(col("n_docs")).as("n_docs"),
          sum(col("sum_chars")).as("sum_chars"))
        .filter(col("n_docs") > 0)
        .orderBy(col("lang"))
    }),

    // Contiguous global IDs without a global sort — the two-phase
    // ranking every 100 TB corpus needs to mint dense 0..N−1 doc ids:
    // a naive ROW_NUMBER() OVER (ORDER BY doc_id) funnels the corpus
    // through ONE partition (the partition-less-window anti-pattern
    // PlanBudgetSpec rejects registry-wide — this query passes that
    // gate where the naive form cannot). Phase 1: deterministic range
    // buckets from parquet FOOTER min/max (no data pass, q190's
    // technique) → per-bucket counts (≤nb rows, driver-folded into
    // exclusive offsets). Phase 2: gid = offset(bucket) + local rank
    // within the bucket — per-bucket windows over a broadcast offset
    // join, fully parallel. The oracle IS the naive global
    // ROW_NUMBER, proving the two-phase ids identical to a total
    // ordering.
    "q202_contiguous_ids" -> ((s, d) => {
      val nb = 16
      val (mn, mx) = Tables.parquetColumnMinMaxLong(s, d, "documents", "doc_id")
      val span = mx - mn + 1
      val docs = Tables.documents(s, d)
        .select(col("doc_id"),
          ((col("doc_id") - mn) * nb / span).cast("int").as("b"))
      val counts = docs.groupBy(col("b")).agg(count(lit(1)).as("c"))
        .orderBy(col("b"))
        .collect().map(r => (r.getInt(0), r.getLong(1)))
      val offsets = counts.scanLeft((0, 0L)) {
        case ((_, acc), (b, c)) => (b, acc + c)
      }.init.zip(counts).map { case ((_, off), (b, _)) => (b, off) }
      import s.implicits._
      val offDf = offsets.toSeq.toDF("b", "off")
      val w = Window.partitionBy(col("b")).orderBy(col("doc_id"))
      docs.join(broadcast(offDf), "b")
        .select(col("doc_id"),
          (col("off") + row_number().over(w) - 1).as("gid"))
        .orderBy(col("doc_id"))
    }),

    // Reproducible pre-training shuffle: every epoch of every training
    // run must see the same global order, so the "shuffle" is a pure
    // function of (seed, doc_id) — an md5-derived 60-bit key — not of
    // partitioning or arrival order. shard = key mod N is the file a
    // doc lands in; pos = its rank within the shard. The window is
    // per-shard (N bounded partitions of corpus/N docs each), which is
    // the exact layout a data loader consumes.
    "q162_deterministic_shuffle" -> ((s, d) => {
      val w = Window.partitionBy(col("shard"))
        .orderBy(col("shuffle_key"), col("doc_id"))
      Tables.documents(s, d)
        .select(col("doc_id"),
          TextAnalysis.md5Int(
            concat(lit("seed42:"), col("doc_id").cast("string")))
            .as("shuffle_key"))
        .withColumn("shard", (col("shuffle_key") % 8).cast("int"))
        .withColumn("pos", row_number().over(w))
        .orderBy(col("doc_id"))
    }),

    // Token-budget data selection: keep the highest-quality docs whose
    // token total fits a budget (50% of the corpus here) — the
    // "data selection under a compute budget" step of every curated
    // pretraining mix. Selection rule: quality is bucketed to 2dp;
    // whole buckets are taken best-first while they fit, and the
    // boundary bucket is filled greedily by doc_id. The bucket
    // histogram collapses to ONE array row (≤101 buckets), so the
    // cumulative-token arithmetic is expression-level work on a 1-row
    // broadcast — no global window, no corpus sort; only the boundary
    // bucket (1/|buckets| of the corpus) pays a per-doc running sum.
    "q163_token_budget_select" -> ((s, d) => {
      val ts = TextAnalysis.tokens(col("text"))
      val scored = Tables.documents(s, d)
        .withColumn("n_tok", size(ts).cast("long"))
        .withColumn("stop_cnt", size(filter(ts,
          t => t.isin(TextAnalysis.Stopwords: _*))))
        .select(col("doc_id"), col("n_tok"),
          round(quality, 2).as("bucket"))
      val bt = scored.groupBy(col("bucket"))
        .agg(sum(col("n_tok")).as("btok"))
      val budget = scored
        .agg(floor(sum(col("n_tok")) * 0.5).cast("long").as("budget"))
      // one row: buckets sorted best-first, running token totals, the
      // boundary index, the fully-kept bucket set, and the remainder
      val ctl = bt
        .agg(sort_array(collect_list(struct(
          (col("bucket") * -1).as("negb"), col("btok").as("btok"))))
          .as("arr"))
        .crossJoin(broadcast(budget))
        .withColumn("cums", transform(sequence(lit(1), size(col("arr"))),
          i => aggregate(slice(col("arr"), lit(1), i), lit(0L),
            (a, x) => a + x.getField("btok"))))
        .withColumn("idx",
          size(filter(col("cums"), c => c <= col("budget"))) + 1)
        .select(
          transform(slice(col("arr"), lit(1), col("idx") - 1),
            x => x.getField("negb") * -1).as("full_set"),
          (get(col("arr"), col("idx") - 1).getField("negb") * -1).as("bb"),
          (col("budget") -
            coalesce(get(col("cums"), col("idx") - 2), lit(0L))).as("rem"))
      val sel = scored.crossJoin(broadcast(ctl))
      val fullSel = sel.filter(array_contains(col("full_set"), col("bucket")))
        .select(col("doc_id"), col("bucket"), col("n_tok"))
      val wb = Window.partitionBy(col("bucket")).orderBy(col("doc_id"))
      val bndSel = sel.filter(col("bucket") === col("bb"))
        .withColumn("dcum", sum(col("n_tok")).over(wb))
        .filter(col("dcum") <= col("rem"))
        .select(col("doc_id"), col("bucket"), col("n_tok"))
      fullSel.union(bndSel).orderBy(col("doc_id"))
    }),

    // Robust length outliers: per-source median + MAD (median absolute
    // deviation), docs flagged when the MAD-normalized z exceeds 2.5 —
    // the outlier filter that, unlike mean/stddev, a few monster docs
    // cannot drag. Two exact-percentile aggregations over |sources|
    // groups; both stats tables broadcast back into the narrow scoring
    // pass. Zero MAD (a degenerate constant-length source) scores 0.
    "q164_mad_outliers" -> ((s, d) => {
      val docs = Tables.documents(s, d)
      val med = docs.groupBy(col("source"))
        .agg(round(expr("percentile(n_chars, 0.5D)"), 6).as("med"))
      val mad = docs.join(broadcast(med), "source")
        .groupBy(col("source"), col("med"))
        .agg(round(expr("percentile(abs(n_chars - med), 0.5D)"), 6)
          .as("mad"))
      // robust_z = 0.6745·(n − med)/mad is a RATIONAL of exact
      // quarter-integers (med is .0/.5-granular, mad .25-granular on
      // integer n_chars), and real rows land exactly on 6dp rounding
      // midpoints — where Spark's BigDecimal HALF_UP and DuckDB's
      // multiply-based round disagree (caught at sf0.1 by the
      // exact-mode oracle tool). So the round itself is minted in
      // EXACT INTEGER micro-units, half away from zero, identically
      // on both engines: z_µ = sign·((2·|num|·10⁶ + den) DIV (2·den))
      // with num = 6745·(4n − 4med), den = 10⁴·4mad — all BIGINT
      // (|num| ≤ ~8e7, 2·|num|·10⁶ ≤ ~2e14), nonnegative operands so
      // Spark DIV ≡ DuckDB // (they differ on negatives).
      docs.join(broadcast(mad), "source")
        .withColumn("m4", round(col("med") * 4).cast("long"))
        .withColumn("d4", round(col("mad") * 4).cast("long"))
        .withColumn("num", lit(6745L) * (lit(4L) * col("n_chars") - col("m4")))
        .withColumn("den", lit(10000L) * col("d4"))
        .withColumn("zmicro", when(col("d4") === 0, lit(0L)).otherwise(
          when(col("num") < 0, lit(-1L)).otherwise(lit(1L)) *
            expr("(2 * abs(num) * 1000000L + den) div (2 * den)")))
        .select(col("doc_id"), col("source"), col("n_chars"), col("med"),
          col("mad"),
          (col("zmicro").cast("double") / 1e6).as("robust_z"),
          (abs(col("zmicro")) > 2500000L).as("is_outlier"))
        .orderBy(col("doc_id"))
    }),

    // Distribution drift between sources: the exact two-sample
    // Kolmogorov–Smirnov statistic over the doc-length distribution,
    // for every source pair — the monitoring query that catches a
    // crawler or extractor silently changing behavior. Because length
    // is a bounded domain, the CDFs live on a |sources|×|values| grid
    // (tiny after the histogram aggregation), so the pairwise max-gap
    // self-join never touches corpus-sized data. The value-domain
    // cross join is bounded by construction (BNLJ allowlisted).
    "q165_ks_drift" -> ((s, d) => {
      val docs = Tables.documents(s, d)
      val vals = docs.select(col("n_chars").as("v")).distinct()
      val srcs = docs.groupBy(col("source")).agg(count(lit(1)).as("n"))
      val hist = docs.groupBy(col("source"), col("n_chars"))
        .agg(count(lit(1)).as("c"))
        .select(col("source").as("hsource"), col("n_chars").as("hv"),
          col("c"))
      val grid = srcs.crossJoin(broadcast(vals))
        .join(broadcast(hist),
          col("source") === col("hsource") && col("v") === col("hv"),
          "left")
        .select(col("source"), col("n"), col("v"),
          coalesce(col("c"), lit(0L)).as("c"))
      val w = Window.partitionBy(col("source")).orderBy(col("v"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val cdf = grid
        .withColumn("f", sum(col("c")).over(w).cast("double") / col("n"))
        .select(col("source"), col("v"), col("f"))
      val a = cdf.select(col("source").as("source_a"), col("v"),
        col("f").as("fa"))
      val b = cdf.select(col("source").as("source_b"), col("v").as("vb"),
        col("f").as("fb"))
      a.join(b, col("v") === col("vb") && col("source_a") < col("source_b"))
        .groupBy(col("source_a"), col("source_b"))
        .agg(round(max(abs(col("fa") - col("fb"))), 6).as("ks_stat"))
        .orderBy(col("source_a"), col("source_b"))
    }),

    // Bigram-LM quality scoring: per-doc mean log P(w2|w1) under the
    // corpus's own add-1-smoothed bigram model (exp(-avg) is the
    // perplexity proxy) — one step up from q136's unigram scorer, and
    // the cheapest LM-based filter that sees word ORDER. The model
    // tables shuffle by term key and broadcast into the scoring join;
    // the per-doc mean is the only corpus-keyed aggregation.
    "q166_bigram_ppl" -> ((s, d) => {
      val toks = Tables.documents(s, d)
        .withColumn("ts", alphaTokens)
        .filter(size(col("ts")) >= 2)
      val bi = toks.select(col("doc_id"), explode(transform(
          sequence(lit(1), size(col("ts")) - 1),
          i => struct(element_at(col("ts"), i).as("w1"),
            element_at(col("ts"), i + 1).as("w2")))).as("b"))
        .select(col("doc_id"), col("b.w1").as("w1"), col("b.w2").as("w2"))
      val bc = bi.groupBy(col("w1"), col("w2")).agg(count(lit(1)).as("nb"))
      val ctx = toks.select(explode(col("ts")).as("w"))
        .groupBy(col("w")).agg(count(lit(1)).as("nw"))
      val v = ctx.agg(count(lit(1)).as("v"))
      val logp = log((col("nb").cast("double") + 1) / (col("nw") + col("v")))
      bi.join(broadcast(bc), Seq("w1", "w2"))
        .join(broadcast(ctx.withColumnRenamed("w", "w1")), "w1")
        .crossJoin(broadcast(v))
        .groupBy(col("doc_id"))
        .agg(count(lit(1)).cast("int").as("n_bigrams"),
          round(avg(logp), 6).as("avg_logp"),
          round(exp(-avg(logp)), 6).as("ppl"))
        .orderBy(col("doc_id"))
    }),

    // Corpus snapshot diff: row-level added/removed/changed/unchanged
    // between two corpus versions — the batch twin of q126's streaming
    // CDC merge, and the audit every re-crawl runs before replacing a
    // corpus. Snapshots are carved deterministically from the fixture
    // (A = doc_id≢0 mod 7; B = doc_id≢0 mod 5 with every third doc's
    // text rewritten). One full-outer sort-merge join on doc_id; both
    // scans prune to (doc_id, text).
    "q167_snapshot_diff" -> ((s, d) => {
      val docs = Tables.documents(s, d)
      val a = docs.filter(col("doc_id") % 7 =!= 0)
        .select(col("doc_id").as("a_id"), col("text").as("a_text"))
      val b = docs.filter(col("doc_id") % 5 =!= 0)
        .select(col("doc_id").as("b_id"),
          when(col("doc_id") % 3 === 0, upper(col("text")))
            .otherwise(col("text")).as("b_text"))
      a.join(b, col("a_id") === col("b_id"), "full_outer")
        .select(coalesce(col("a_id"), col("b_id")).as("doc_id"),
          when(col("a_id").isNull, "added")
            .when(col("b_id").isNull, "removed")
            .when(col("a_text") =!= col("b_text"), "changed")
            .otherwise("unchanged").as("status"))
        .orderBy(col("doc_id"))
    }),

    // Recency weighting (exponential time decay, 7-day half-life):
    // per-user decayed sum and decayed weight mass — the curation
    // knob that upweights fresh data without a hard cutoff. The age
    // term stays in exact integer µs until the final division; the
    // 1-row max-timestamp anchor broadcasts back (BNLJ-allowlisted).
    // Rounded 6dp: per-term exp() ulp drift across engines is ~1e-13
    // relative, far below the rounding grain.
    "q179_time_decay_weight" -> ((s, d) => {
      val e = Tables.eventsUs(s, d)
        .select(col("user_id"), col("value"), col("ts_us").as("us"))
      val mx = e.agg(max(col("us")).as("max_us"))
      val halfLife = 604800000000.0 // 7 days in µs
      val w = exp(lit(-0.693147180559945) *
        (col("max_us") - col("us")) / lit(halfLife))
      e.crossJoin(broadcast(mx))
        .groupBy(col("user_id"))
        .agg(count(lit(1)).as("n"),
          round(sum(col("value") * w), 6).as("decayed_sum"),
          round(sum(w), 6).as("decayed_weight"))
        .orderBy(col("user_id"))
    }),

    // Quantile normalization: cross-source score calibration — each
    // doc's length is replaced by the mean of the same-rank lengths
    // across all sources, so every source ends up with an identical
    // marginal distribution (the batch-effect correction of corpus
    // curation; sources are equal-sized here, the classic QN setting).
    // The per-source rank is minted TWO-PHASE (q202's pattern applied
    // per source) instead of Window.partitionBy(source): a handful of
    // sources over 100 TB makes the per-source window a multi-TB
    // single-task sort. Phase 1: deterministic n_chars range buckets
    // from parquet FOOTER min/max → per-(source,bucket) row counts
    // (≤|sources|·nb rows, driver-folded into exclusive offsets in
    // rank order). Phase 2: rk = offset + row_number within the
    // (source,bucket) window — bucket order IS rank order because the
    // bucket is monotone in n_chars, so (bucket asc, n_chars asc,
    // doc_id) ≡ (n_chars asc, doc_id). Partitions are (source ×
    // bucket)-granular; nb scales with the corpus. The rank-keyed agg
    // builds the reference distribution (corpus/|sources| rows), and
    // the map joins back by rank. Ranks tiebreak on doc_id.
    "q181_quantile_normalize" -> ((s, d) => {
      val nb = 16
      val (mn, mx) = Tables.parquetColumnMinMaxLong(s, d, "documents", "n_chars")
      val span = mx - mn + 1
      // bucket 0 holds the SMALLEST n_chars (rank order = bucket asc)
      val docs = Tables.documents(s, d)
        .select(col("doc_id"), col("source"), col("n_chars"))
        .withColumn("b",
          floor((col("n_chars") - mn) * nb / span).cast("int"))
      val counts = docs.groupBy(col("source"), col("b"))
        .agg(count(lit(1)).as("c"))
        .collect().map(r => (r.getString(0), r.getInt(1), r.getLong(2)))
      val offsets = counts.groupBy(_._1).toSeq.flatMap { case (src, rows) =>
        val sorted = rows.sortBy(_._2)
        sorted.zip(sorted.scanLeft(0L)(_ + _._3).init).map {
          case ((_, b, _), off) => (src, b, off)
        }
      }
      import s.implicits._
      val offDf = broadcast(offsets.toDF("source", "b", "off"))
      val wr = Window.partitionBy(col("source"), col("b"))
        .orderBy(col("n_chars"), col("doc_id"))
      val r = docs.join(offDf, Seq("source", "b"))
        .withColumn("rk", col("off") + row_number().over(wr))
      val m = r.groupBy(col("rk"))
        .agg(round(avg(col("n_chars")), 6).as("calibrated"))
      r.join(m, "rk")
        .select(col("doc_id"), col("source"), col("n_chars"),
          col("rk").cast("int").as("rk"), col("calibrated"))
        .orderBy(col("doc_id"))
    }),

    // Epoch materialization with deterministic fractional upsampling —
    // the step AFTER the mix/quality scoring: actually EMIT one
    // training epoch at CCNet-style bucket weights (quality head
    // upsampled 1.6×, middle kept, tail downsampled to 0.4×; the
    // quality prior here is doc length — the cheapest Gopher signal —
    // bucketed at global tertiles; any scored column drops in). Every
    // doc gets its bucket's whole-copy count plus one more iff its
    // seeded md5 residual falls below the bucket's fractional part —
    // reproducible across reruns/partitioning (q162's determinism
    // contract), unbiased in expectation; zero-copy tail docs simply
    // vanish. The residual compare is INTEGER micro-units on both
    // engines (never `resid < w - floor(w)` in doubles: Spark's
    // 1.6 - 1.0 and DuckDB's DECIMAL 1.6 - 1 round to different
    // doubles, and a residual landing exactly between them would flip
    // the copy count — the parity-rule failure mode, at ~1e-6 per head
    // doc). The tertile bounds are a 1-row broadcast; the explode is
    // narrow — no shuffle beyond the output sort at any corpus size.
    "q184_epoch_materialize" -> ((s, d) => {
      val docs = Tables.documents(s, d)
      val bounds = docs.agg(
        expr("percentile(n_chars, 0.3333333333333333)").as("b1"),
        expr("percentile(n_chars, 0.6666666666666666)").as("b2"))
      val isHead = col("n_chars") >= col("b2")
      val isMiddle = !isHead && col("n_chars") >= col("b1")
      // (whole copies, fractional part in exact millionths)
      val base = when(isHead, 1).when(isMiddle, 1).otherwise(0)
      val fracK = when(isHead, 600000L).when(isMiddle, 0L).otherwise(400000L)
      val residK = TextAnalysis.md5Int(
        concat(lit("epoch0:"), col("doc_id").cast("string"))) % 1000000
      docs.select(col("doc_id"), col("source"), col("n_chars"))
        .crossJoin(broadcast(bounds))
        .select(col("doc_id"), col("source"),
          when(isHead, "head").when(isMiddle, "middle").otherwise("tail")
            .as("bucket"),
          when(isHead, 1.6).when(isMiddle, 1.0).otherwise(0.4).as("w"),
          (base + when(residK < fracK, 1).otherwise(0))
            .cast("int").as("n_copies"))
        .filter(col("n_copies") >= 1)
        .select(col("doc_id"), col("source"), col("bucket"), col("w"),
          col("n_copies"),
          explode(sequence(lit(1), col("n_copies"))).as("copy_id"))
        .orderBy(col("doc_id"), col("copy_id"))
    }),

    // Count-Min sketch heavy hitters: a depth-4 × width-256 CM sketch
    // over the token stream, probed at the exact top-20 terms so the
    // one-sided overcount (est ≥ exact, inflated only by hash
    // collisions) is oracle-visible. Built from the per-token count
    // table — mathematically identical to streaming updates (the
    // sketch is a linear projection of the count vector) and exactly
    // what map-side combine produces anyway. Scale: the sketch is
    // 1024 cells whatever the corpus (the entire point — a bounded-
    // memory frequency summary mergeable across shards by cell-wise
    // addition, where exact counts need vocab-sized state); the probe
    // join broadcasts 80 rows against it. All-integer arithmetic.
    // Join-SIZE estimation via Count-Min inner products (Alon–Matias–
    // Szegedy 1996 / Cormode–Muthukrishnan 2005 §4.2) — the planner
    // statistic a distributed optimizer wants BEFORE running an
    // expensive join: |A ⋈_u B| = Σ_u n_A(u)·n_B(u) is estimated from
    // two 4×256 CM sketches as est = min_d Σ_b cmA[d][b]·cmB[d][b] —
    // each side is ONE bounded-memory sketch pass (mergeable across
    // shards cell-wise, the q208 posture), the estimate is 4 integer
    // dot products of 256-cell rows, and the guarantee is one-sided:
    // est ≥ true always (collisions only ADD), est ≤ true +
    // 2·N_A·N_B/w per row w.p. ≥ ½, so the 4-row min misses the
    // Markov bound w.p. ≤ 2⁻⁴ — the `within_bound` gate checks the
    // INTEGER inequality (est−true)·128 ≤ N_A·N_B exactly. Hashes are
    // the q208 md5 family, so both engines build bit-identical
    // sketches and the exact ledger (true join size) is the oracle
    // face; everything stays in exact longs.
    "q267_cm_join_estimate" -> ((s, d) => {
      // ONE corpus pass: the per-user (n_A, n_B) pivot feeds the
      // sketches (cell value = Σ per-user counts in the bucket — the
      // same cells a raw-row build would produce), the exact ledger
      // Σ n_A·n_B, AND the totals — so both "sides" of the CM inner
      // product build in a single cell aggregation with no join at
      // all (same md5 bucket per user for A and B by construction).
      // The persisted pivot is |users|-sized; both consumers prune it
      // differently (q211's persist argument).
      val perUser = Tables.events(s, d)
        .filter(col("event_type").isin("click", "view"))
        .groupBy(col("user_id"))
        .agg(sum(when(col("event_type") === "click", 1L).otherwise(0L))
            .as("na"),
          sum(when(col("event_type") === "view", 1L).otherwise(0L))
            .as("nb"))
        .persist()
      try {
        val est = perUser
          .select(col("na"), col("nb"),
            explode(array((0 until 4).map(dep =>
              struct(lit(dep).as("d"),
                (TextAnalysis.md5Int(concat(lit(s"cmj$dep:"),
                  col("user_id"))) % 256).as("b"))): _*)).as("e"))
          .groupBy(col("e.d").as("d"), col("e.b").as("b"))
          .agg(sum(col("na")).as("ca"), sum(col("nb")).as("cb"))
          .groupBy(col("d"))
          .agg(sum(col("ca") * col("cb")).as("est_d"))
          // 4 rows, referenced twice (its own min + the output join):
          // truncate so the explode+double-aggregate over the pivot
          // runs once, not once per reference
          .localCheckpoint()
        val tru = perUser.agg(
          sum(col("na") * col("nb")).as("true_join"),
          sum(col("na")).as("n_a"), sum(col("nb")).as("n_b"))
        val mn = est.agg(min(col("est_d")).as("est"))
        val rows = est.crossJoin(broadcast(mn)).crossJoin(broadcast(tru))
          .select(col("d").cast("int").as("depth"), col("est_d"),
            col("est"), col("n_a"), col("n_b"), col("true_join"),
            (col("est") - col("true_join")).as("overcount"),
            ((col("est") - col("true_join")) * 128L <=
              col("n_a") * col("n_b")).as("within_bound"))
          .orderBy(col("depth")).collect()
        import scala.jdk.CollectionConverters._
        import org.apache.spark.sql.types._
        s.createDataFrame(rows.toSeq.asJava, StructType(Seq(
          StructField("depth", IntegerType, nullable = false),
          StructField("est_d", LongType), StructField("est", LongType),
          StructField("n_a", LongType), StructField("n_b", LongType),
          StructField("true_join", LongType),
          StructField("overcount", LongType),
          StructField("within_bound", BooleanType))))
          .orderBy(col("depth"))
      } finally perUser.unpersist()
    }),

    "q208_countmin_heavy" -> ((s, d) => {
      val depth = 4
      def bucket(dep: Int): org.apache.spark.sql.Column =
        TextAnalysis.md5Int(concat(lit(s"cm$dep:"), col("term"))) % 256
      val exact = Tables.documents(s, d)
        .select(explode(alphaTokens).as("term"))
        .groupBy(col("term")).agg(count(lit(1)).as("exact"))
      val cells = exact
        .select(explode(array((0 until depth).map(dep =>
            struct(lit(dep).as("d"), bucket(dep).as("b"),
              col("exact").as("c"))): _*)).as("e"))
        .groupBy(col("e.d").as("d"), col("e.b").as("b"))
        .agg(sum(col("e.c")).as("cell"))
      val probes = exact.orderBy(col("exact").desc, col("term")).limit(20)
        .select(col("term"), col("exact"),
          explode(array((0 until depth).map(dep =>
            struct(lit(dep).as("d"), bucket(dep).as("b"))): _*)).as("h"))
      probes.join(cells,
          col("h.d") === col("d") && col("h.b") === col("b"))
        .groupBy(col("term"), col("exact"))
        .agg(min(col("cell")).as("est"))
        .select(col("term"), col("exact"), col("est"),
          (col("est") - col("exact")).as("overcount"))
        .orderBy(col("term"))
    }),

    // Classifier-quality evaluation at corpus scale: ROC-AUC plus a
    // reliability (calibration) table for a quality score against a
    // ground-truth label — the eval loop every learned quality filter
    // (fastText/CCNet-style) needs before it gates 100 TB. Score is
    // the stopword ratio DISCRETIZED to 3dp millesimals (an INT in
    // 0..1000), label is the lexical near-dup marker (the fixture's
    // one discriminative token). Discretization is what makes AUC
    // scale-free: the per-score table is ≤1001 rows at ANY corpus
    // size, so the rank-sum reduces to one O(N) aggregation plus an
    // expression-level ascending fold over the collapsed histogram
    // (q163's one-array-row pattern — no global window, no driver
    // loop). The fold keeps 2×AUC's numerator in BIGINT (ties count
    // half via the ×2 trick), so there is no float-association risk;
    // the only division is the final auc/pos_rate/avg_score rounding.
    // Numerator magnitude is ≤2N² — switch the fold state to
    // DECIMAL(38,0) past ~10^26 docs (q203's pattern), far beyond any
    // real corpus.
    "q229_auc_calibration" -> ((s, d) => {
      val ts = TextAnalysis.tokens(col("text"))
      val base = Tables.documents(s, d)
        .withColumn("n_tok", size(ts))
        // guard the integer score division against zero-token docs
        // (fixture has none, but DuckDB's // would raise while Spark's
        // DIV yields NULL — a latent cross-engine divergence)
        .filter(col("n_tok") > 0)
        .withColumn("stop_cnt", size(filter(ts,
          t => t.isin(TextAnalysis.Stopwords: _*))))
        .withColumn("lab",
          when(array_contains(ts, "dup"), 1L).otherwise(0L))
        .select(expr("CAST((1000 * stop_cnt) DIV n_tok AS INT)").as("sm"),
          col("lab"))
      val g = base.groupBy(col("sm")).agg(
        sum(col("lab")).as("np"),
        (count(lit(1)) - sum(col("lab"))).as("nn"))
      val aucDf = g.agg(
          sort_array(collect_list(struct(col("sm"), col("np"), col("nn"))))
            .as("bs"),
          sum(col("np")).as("tp"), sum(col("nn")).as("tn"))
        .withColumn("num2", expr(
          "aggregate(bs, named_struct('cum', CAST(0 AS BIGINT), " +
            "'num', CAST(0 AS BIGINT)), " +
            "(a, x) -> named_struct('cum', a.cum + x.nn, " +
            "'num', a.num + x.np * (2 * a.cum + x.nn)), a -> a.num)"))
        .select(round(col("num2").cast("double") /
          (lit(2.0) * col("tp") * col("tn")), 6).as("auc"))
      val bins = base
        .groupBy(expr("sm DIV 100").cast("int").as("bin"))
        .agg(count(lit(1)).cast("int").as("n"),
          sum(col("lab")).as("npos"),
          sum(col("sm").cast("long")).as("sum_sm"))
        .select(col("bin"), col("n"),
          round(col("npos").cast("double") / col("n"), 6).as("pos_rate"),
          round(col("sum_sm").cast("double") / (lit(1000.0) * col("n")), 6)
            .as("avg_score"))
      bins.crossJoin(broadcast(aucDf)).orderBy(col("bin"))
    }),

    // Isotonic (PAV) calibration of the q229 quality score — the
    // monotone-regression step a production quality filter runs AFTER
    // q229's reliability table shows miscalibration: fit the best
    // non-decreasing pos-rate curve over the score deciles (Ayer 1955;
    // Zadrozny & Elkan 2002 for classifier calibration). Instead of
    // the sequential pool-adjacent-violators stack (an inherently
    // serial merge loop), the fit uses the greatest-convex-minorant
    // MINIMAX characterization: fitted_i = max_{j≤i} min_{k≥i}
    // weightedRate(j..k) — an O(B³) closed form over B ≤ 11 decile
    // bins, each candidate ONE double division of exact integer
    // cumulative sums, so both engines compute identical doubles and
    // identical max/min winners in any order. Corpus-sized work is
    // the single (bin,n,npos) aggregation (bounded output domain,
    // q251's argument); the fit is expression-level arithmetic on one
    // array row. IsotonicSpec pins minimax ≡ the classic PAV stack
    // and monotonicity.
    "q263_isotonic_calibration" -> ((s, d) => {
      val ts = TextAnalysis.tokens(col("text"))
      val base = Tables.documents(s, d)
        .withColumn("n_tok", size(ts))
        .filter(col("n_tok") > 0) // zero-token guard (q229's rationale)
        .withColumn("stop_cnt", size(filter(ts,
          t => t.isin(TextAnalysis.Stopwords: _*))))
        .withColumn("lab",
          when(array_contains(ts, "dup"), 1L).otherwise(0L))
        .select(expr("CAST((1000 * stop_cnt) DIV n_tok AS INT)").as("sm"),
          col("lab"))
      base.groupBy(expr("sm DIV 100").cast("int").as("bin"))
        .agg(count(lit(1)).as("n"), sum(col("lab")).as("np"))
        .agg(sort_array(collect_list(
          struct(col("bin"), col("n"), col("np")))).as("bs"))
        .withColumn("m", size(col("bs")))
        .withColumn("cn", expr("transform(sequence(1, m), " +
          "i -> aggregate(slice(bs, 1, i), 0L, (a, x) -> a + x.n))"))
        .withColumn("cp", expr("transform(sequence(1, m), " +
          "i -> aggregate(slice(bs, 1, i), 0L, (a, x) -> a + x.np))"))
        // cum-through-(j-1) spelled cum(j) - own(j): no 1-based edge
        // case, and the identical integer spelling in the oracle
        .withColumn("fit", expr(
          """transform(sequence(1, m), i ->
            |  array_max(transform(sequence(1, i), j ->
            |    array_min(transform(sequence(i, m), k ->
            |      cast(element_at(cp, k) - (element_at(cp, j)
            |        - element_at(bs, j).np) as double) /
            |      cast(element_at(cn, k) - (element_at(cn, j)
            |        - element_at(bs, j).n) as double))))))""".stripMargin))
        .select(posexplode(arrays_zip(col("bs"), col("fit"))))
        .select(col("col.bs.bin").as("bin"),
          col("col.bs.n").cast("int").as("n"),
          round(col("col.bs.np").cast("double") / col("col.bs.n"), 6)
            .as("pos_rate"),
          round(col("col.fit"), 6).as("iso_rate"))
        .orderBy(col("bin"))
    }),

    // Brier-score decomposition (Murphy 1973) of the binned quality
    // forecast — the PROPER-scoring-rule view completing the eval
    // family: q229 ranks (AUC), q263 recalibrates (isotonic), this
    // EXPLAINS the probabilistic loss as reliability − resolution +
    // uncertainty. Forecasts are the decile-DISCRETIZED score
    // f = (sm DIV 100)/10 — discretizing first is what makes Murphy's
    // identity EXACT (verified in-query: `identity_gap` must be 0 on
    // both engines, a free cross-check the hash compare enforces).
    // One corpus pass to the ≤11-row (bin, n, pos) table; REL and RES
    // are left-to-right folds over the bin-sorted array (identical
    // association on both engines; the 0.0 seed is IEEE-absorbed), f_b
    // and p̄ are single divisions of exact longs.
    "q270_brier_decomposition" -> ((s, d) => {
      val ts = TextAnalysis.tokens(col("text"))
      val bins = Tables.documents(s, d)
        .withColumn("n_tok", size(ts))
        .filter(col("n_tok") > 0) // zero-token guard (q229's rationale)
        .withColumn("stop_cnt", size(filter(ts,
          t => t.isin(TextAnalysis.Stopwords: _*))))
        .withColumn("lab",
          when(array_contains(ts, "dup"), 1L).otherwise(0L))
        .select(expr("CAST((1000 * stop_cnt) DIV n_tok AS INT) DIV 100")
          .as("bin"), col("lab"))
        .groupBy(col("bin"))
        .agg(count(lit(1)).as("n"), sum(col("lab")).as("np"))
      val g = bins
        .agg(sort_array(collect_list(struct(col("bin"), col("n"),
          col("np")))).as("bs"), sum(col("n")).as("nn"),
          sum(col("np")).as("pp"))
        .withColumn("pbar", col("pp").cast("double") / col("nn"))
        // REL = Σ n_b (f_b − p̄_b)², RES = Σ n_b (p̄_b − p̄)², and the
        // direct binned Brier Σ [np·(f−1)² + (n−np)·f²] — all folded
        // left-to-right over the bin-sorted array
        .withColumn("rel", expr(
          """aggregate(bs, cast(0.0 as double), (a, x) -> a +
            |  x.n * (cast(x.bin as double) / 10.0
            |         - cast(x.np as double) / x.n)
            |      * (cast(x.bin as double) / 10.0
            |         - cast(x.np as double) / x.n))""".stripMargin))
        .withColumn("res", expr(
          """aggregate(bs, cast(0.0 as double), (a, x) -> a +
            |  x.n * (cast(x.np as double) / x.n - pbar)
            |      * (cast(x.np as double) / x.n - pbar))""".stripMargin))
        .withColumn("direct", expr(
          """aggregate(bs, cast(0.0 as double), (a, x) -> a +
            |  x.np * (cast(x.bin as double) / 10.0 - 1.0)
            |       * (cast(x.bin as double) / 10.0 - 1.0)
            |  + (x.n - x.np) * (cast(x.bin as double) / 10.0)
            |                 * (cast(x.bin as double) / 10.0))"""
            .stripMargin))
      g.select(col("nn").cast("int").as("n_docs"),
          round(col("pbar"), 6).as("base_rate"),
          round(col("rel") / col("nn"), 6).as("reliability"),
          round(col("res") / col("nn"), 6).as("resolution"),
          round(col("pbar") * (lit(1.0) - col("pbar")), 6)
            .as("uncertainty"),
          round(col("direct") / col("nn"), 6).as("brier"),
          // + 0.0 normalizes IEEE -0.0 (the residual is ~1e-17 and
          // its sign differs across engines; the driver's hash
          // distinguishes signed zeros)
          (round(col("direct") / col("nn") -
            (col("rel") / col("nn") - col("res") / col("nn") +
              col("pbar") * (lit(1.0) - col("pbar"))), 9) + lit(0.0))
            .as("identity_gap"))
    }),

    // Cohen's κ inter-rater agreement (1960) between two independent
    // quality heuristics — the "do my filters even agree" audit a
    // pipeline runs before ensembling them (q158 stacks filters
    // assuming complementarity; κ quantifies it): rater A = stopword
    // density ≥ its fixture median, rater B = bigram repetition ratio
    // ≥ 0.95, BOTH as pure integer comparisons (1000·stops ≥ 60·n and
    // 20·n_dbi ≥ 19·n_bi — no float threshold can split a doc
    // differently across engines). One corpus pass to the 2×2
    // confusion ledger; κ = (p_o − p_e)/(1 − p_e) from four exact
    // longs with the marginal products in exact integer arithmetic
    // (pe numerator = r0·c0 + r1·c1 over N²), banded per Landis–Koch
    // on the 6dp-rounded κ.
    "q273_cohens_kappa" -> ((s, d) => {
      val ts = TextAnalysis.tokens(col("text"))
      val bi = graft.functions.exprs.graft_adjacent_pairs(col("ts"))
      val rated = Tables.documents(s, d)
        .withColumn("ts", ts)
        .filter(size(col("ts")) >= 2)
        .withColumn("n", size(col("ts")).cast("long"))
        .withColumn("stops", size(filter(col("ts"),
          t => t.isin(TextAnalysis.Stopwords: _*))).cast("long"))
        .withColumn("ndbi", size(array_distinct(bi)).cast("long"))
        .select(
          (lit(1000L) * col("stops") >= lit(60L) * col("n")).as("ra"),
          (lit(20L) * col("ndbi") >= lit(19L) * (col("n") - 1L)).as("rb"))
      val g = rated.agg(
        sum(when(col("ra") && col("rb"), 1L).otherwise(0L)).as("n11"),
        sum(when(col("ra") && !col("rb"), 1L).otherwise(0L)).as("n10"),
        sum(when(!col("ra") && col("rb"), 1L).otherwise(0L)).as("n01"),
        sum(when(!col("ra") && !col("rb"), 1L).otherwise(0L)).as("n00"))
      val n = col("n11") + col("n10") + col("n01") + col("n00")
      val po = (col("n11") + col("n00")).cast("double") / n
      val pe = ((col("n11") + col("n10")) * (col("n11") + col("n01")) +
        (col("n01") + col("n00")) * (col("n10") + col("n00")))
        .cast("double") / (n * n).cast("double")
      val kappa = round((po - pe) / (lit(1.0) - pe), 6)
      g.select(n.cast("int").as("n_docs"),
          col("n11").cast("int").as("n11"),
          col("n10").cast("int").as("n10"),
          col("n01").cast("int").as("n01"),
          col("n00").cast("int").as("n00"),
          round(po, 6).as("p_observed"), round(pe, 6).as("p_expected"),
          kappa.as("kappa"),
          when(kappa < 0.0, "poor").when(kappa <= 0.2, "slight")
            .when(kappa <= 0.4, "fair").when(kappa <= 0.6, "moderate")
            .when(kappa <= 0.8, "substantial").otherwise("near_perfect")
            .as("landis_koch"))
    }),

    // Stupid Backoff trigram LM scoring (Brants et al. 2007, "Large
    // Language Models in Machine Translation") — the n-gram LM family's
    // third member (q136 unigram logprob, q166 add-one bigram PPL):
    // score(w₃|w₁w₂) backs off tri→bi→uni with a fixed α=0.4 penalty
    // per level and NO normalization — exactly the formulation chosen
    // for distributed corpora because each level is a pure count
    // ratio (no discounting state to share). Counts come from the
    // 80% train carve (doc_id %5 ≠ 0) and score the held-out 20%, so
    // backoff genuinely fires on unseen n-grams. All model tables are
    // model-sized (vocabulary-bounded) → broadcast into the one
    // corpus-sized scan of eval positions; per-doc avg log-score and
    // the branch-usage histogram come from one doc-keyed aggregation.
    // OOV floor: α³/N (a deterministic, documented constant).
    "q230_backoff_trigram_lm" -> ((s, d) => {
      val toks = Tables.documents(s, d).withColumn("ts", alphaTokens)
      val train = toks.filter(col("doc_id") % 5 =!= 0)
      def grams(df: DataFrame, n: Int) = {
        val cols = (1 to n).map(j =>
          element_at(col("ts"), col("i") + (j - 1)).as(s"w$j"))
        df.filter(size(col("ts")) >= n)
          .select(col("doc_id"),
            explode(sequence(lit(1), size(col("ts")) - (n - 1))).as("i"),
            col("ts"))
          .select(col("doc_id") +: cols: _*)
      }
      val tri = grams(train, 3).groupBy(col("w1"), col("w2"), col("w3"))
        .agg(count(lit(1)).as("tc"))
      val bi = grams(train, 2).groupBy(col("w1"), col("w2"))
        .agg(count(lit(1)).as("bc"))
      val uni = train.select(explode(col("ts")).as("w"))
        .groupBy(col("w")).agg(count(lit(1)).as("uc"))
      val tot = uni.agg(sum(col("uc")).as("n"))
      val pos = grams(toks.filter(col("doc_id") % 5 === 0), 3)
      val joined = pos
        .join(broadcast(tri), Seq("w1", "w2", "w3"), "left")
        .join(broadcast(bi.select(col("w1"), col("w2"),
          col("bc").as("bcx"))), Seq("w1", "w2"), "left")
        .join(broadcast(bi.select(col("w1").as("w2"),
          col("w2").as("w3"), col("bc").as("bc2"))), Seq("w2", "w3"), "left")
        .join(broadcast(uni.select(col("w").as("w2"),
          col("uc").as("uc2"))), Seq("w2"), "left")
        .join(broadcast(uni.select(col("w").as("w3"),
          col("uc").as("uc3"))), Seq("w3"), "left")
        .crossJoin(broadcast(tot))
      val sc = when(col("tc").isNotNull,
          col("tc").cast("double") / col("bcx"))
        .when(col("bc2").isNotNull,
          lit(0.4) * (col("bc2").cast("double") / col("uc2")))
        .when(col("uc3").isNotNull,
          lit(0.16) * (col("uc3").cast("double") / col("n")))
        .otherwise(lit(0.064) / col("n"))
      joined
        .withColumn("branch", when(col("tc").isNotNull, "tri")
          .when(col("bc2").isNotNull, "bi")
          .when(col("uc3").isNotNull, "uni").otherwise("oov"))
        .withColumn("logs", log(sc))
        .groupBy(col("doc_id"))
        .agg(count(lit(1)).cast("int").as("n_scored"),
          sum(when(col("branch") === "tri", 1).otherwise(0)).cast("int")
            .as("n_tri"),
          sum(when(col("branch") === "bi", 1).otherwise(0)).cast("int")
            .as("n_bi"),
          sum(when(col("branch").isin("uni", "oov"), 1).otherwise(0))
            .cast("int").as("n_uni"),
          round(avg(col("logs")), 6).as("avg_logs"))
        .orderBy(col("doc_id"))
    }),

    // Poisson bootstrap (Chamandy et al., "Estimating Uncertainty for
    // Massive Data Streams" — the Google formulation) for per-source
    // mean doc length: each of R=20 resamples weights every row by an
    // independent Poisson(1) draw, so a replicate is ONE map-side-
    // combined aggregation — no N-sized with-replacement
    // materialization per replicate, which is what makes bootstrap
    // CIs tractable at 100 TB (the shuffle carries |sources|×R
    // partial rows however big the corpus is). The draw is a pure
    // function of (resample, doc_id): md5-millionths inverted through
    // the exact Poisson(1) CDF ladder (thresholds in integer
    // millionths, so the branch is integer compare — no float parity
    // surface). Replicate means are exact-integer-sum ratios; the CI
    // is the percentile-bootstrap [m₍₂₎, m₍₁₉₎] (central 90% of 20
    // sorted replicate means, a deterministic order statistic — no
    // interpolation rule to disagree on).
    "q231_bootstrap_ci" -> ((s, d) => {
      val rs = 20
      val docs = Tables.documents(s, d)
        .select(col("source"), col("doc_id"), col("n_chars"))
      val draws = docs
        .select(col("source"), col("doc_id"), col("n_chars"),
          explode(sequence(lit(1), lit(rs))).as("r"))
        .withColumn("u", TextAnalysis.md5Int(
          concat(lit("bs"), col("r").cast("string"), lit(":"),
            col("doc_id").cast("string"))) % 1000000L)
        .withColumn("k",
          when(col("u") < 367879L, 0L).when(col("u") < 735759L, 1L)
            .when(col("u") < 919699L, 2L).when(col("u") < 981012L, 3L)
            .when(col("u") < 996340L, 4L).when(col("u") < 999406L, 5L)
            .when(col("u") < 999917L, 6L).otherwise(7L))
      val means = draws.groupBy(col("source"), col("r"))
        .agg(sum(col("k") * col("n_chars")).as("skx"),
          sum(col("k")).as("sk"))
        .select(col("source"),
          when(col("sk") === 0, lit(null))
            .otherwise(col("skx").cast("double") / col("sk")).as("m"))
        .filter(col("m").isNotNull)
      val cis = means.groupBy(col("source"))
        .agg(sort_array(collect_list(col("m"))).as("ms"))
        .select(col("source"),
          round(element_at(col("ms"), 2), 6).as("ci_lo"),
          round(element_at(col("ms"), rs - 1), 6).as("ci_hi"))
      val base = docs.groupBy(col("source"))
        .agg(count(lit(1)).cast("int").as("n"),
          round(sum(col("n_chars")).cast("double") / count(lit(1)), 6)
            .as("mean_chars"))
      base.join(cis, "source").orderBy(col("source"))
    }),

    // Per-group OLS trend fit: slope/intercept/R² of token count vs
    // doc length for every source, from the five classical
    // sufficient statistics (n, Σx, Σy, Σxy, Σx², Σy²) — ONE
    // map-side-combined aggregation per source, the closed-form that
    // makes regression a streaming-mergeable O(N) scan at any corpus
    // size (and the reason no gradient loop or matrix solve appears).
    // The centered moments S_xx = nΣx²−(Σx)² etc stay exact BIGINT
    // (magnitudes ≤ n²·max(x)² ≈ 10¹³ at fixture scale; past ~10¹⁸
    // switch the sums to DECIMAL(38,0) — q203's pattern); the only
    // doubles are the three final ratios, identical single IEEE
    // divisions on both engines. Degenerate sources (constant x or y)
    // yield NULL slope/R² instead of a division error.
    "q232_ols_trend" -> ((s, d) => {
      val stats = Tables.documents(s, d)
        .select(col("source"), col("n_chars").as("x"),
          size(alphaTokens).cast("long").as("y"))
        .groupBy(col("source"))
        .agg(count(lit(1)).as("n"), sum(col("x")).as("sx"),
          sum(col("y")).as("sy"),
          sum(col("x") * col("x")).as("sxx_"),
          sum(col("y") * col("y")).as("syy_"),
          sum(col("x") * col("y")).as("sxy_"))
        .withColumn("sxx", col("n") * col("sxx_") - col("sx") * col("sx"))
        .withColumn("syy", col("n") * col("syy_") - col("sy") * col("sy"))
        .withColumn("sxy", col("n") * col("sxy_") - col("sx") * col("sy"))
      stats.select(col("source"), col("n").cast("int").as("n"),
          when(col("sxx") === 0, lit(null)).otherwise(
            round(col("sxy").cast("double") / col("sxx"), 6)).as("slope"),
          when(col("sxx") === 0, lit(null)).otherwise(
            round((col("sy").cast("double") -
              (col("sxy").cast("double") / col("sxx")) * col("sx")) /
              col("n"), 6)).as("intercept"),
          when(col("sxx") === 0 || col("syy") === 0, lit(null)).otherwise(
            round((col("sxy").cast("double") * col("sxy")) /
              (col("sxx").cast("double") * col("syy")), 6)).as("r2"))
        .orderBy(col("source"))
    }),

    // Chi-squared term–source association (the classic feature-
    // selection statistic): for every (source, term) 2×2 contingency
    // table, χ² = N(O₁₁O₂₂−O₁₂O₂₁)²/(R₁R₂C₁C₂), then the top-5
    // most source-discriminative terms per source. The cell/margin
    // tables are vocabulary-bounded (broadcast); the corpus is
    // touched exactly once by the tokenize pass. Top-k per source
    // uses the graft_collect_top_k heap aggregate (q213) — ≤5 rows
    // per source cross the shuffle, no constant-cardinality window
    // partition. Ordering is (rounded χ², term) descending — the
    // round-first rule keeps a float boundary from ever deciding
    // cross-engine rank.
    "q233_chi2_terms" -> ((s, d) => {
      import graft.functions.exprs.graft_collect_top_k
      val tok = Tables.documents(s, d)
        .select(col("source"), explode(alphaTokens).as("term"))
      // margins derive from the aggregated cell table, NOT from fresh
      // corpus passes: the corpus is tokenized and shuffled exactly
      // once (into vocabulary-bounded cells); everything downstream is
      // model-sized, and the repeated cell subtree reuses its exchange
      // at runtime (CorpusOpsSpec)
      val cell = tok.groupBy(col("source"), col("term"))
        .agg(count(lit(1)).as("o11"))
      val bySrc = cell.groupBy(col("source")).agg(sum(col("o11")).as("ts_"))
      val byTerm = cell.groupBy(col("term")).agg(sum(col("o11")).as("tt"))
      val tot = cell.agg(sum(col("o11")).as("n"))
      val scored = cell.join(broadcast(bySrc), "source")
        .join(broadcast(byTerm), "term")
        .crossJoin(broadcast(tot))
        .withColumn("o12", col("tt") - col("o11"))
        .withColumn("o21", col("ts_") - col("o11"))
        .withColumn("o22",
          col("n") - col("ts_") - col("tt") + col("o11"))
        .withColumn("d1",
          col("o11").cast("double") * col("o22") -
            col("o12").cast("double") * col("o21"))
        .withColumn("chi2", round(
          col("n").cast("double") * (col("d1") * col("d1")) /
            (((col("ts_").cast("double") * col("tt")) *
              (col("n").cast("double") - col("ts_"))) *
              (col("n").cast("double") - col("tt"))), 6))
      scored.groupBy(col("source"))
        .agg(graft_collect_top_k(
          struct(col("chi2"), col("term"), col("o11")), 5, false).as("top"))
        .select(col("source"), posexplode(sort_array(col("top"), asc = false)))
        .select(col("source"), (col("pos") + 1).cast("int").as("rn"),
          col("col.term").as("term"),
          col("col.o11").cast("int").as("n_in_source"),
          col("col.chi2").as("chi2"))
        .orderBy(col("source"), col("rn"))
    }),

    // Rendezvous (highest-random-weight) sharding — the elastic
    // resharding answer to q149's static balance and q162's mod-N
    // layout: every doc goes to argmax over shards of h(shard, doc),
    // so REMOVING a shard moves exactly the docs that lived on it
    // (1/S of the corpus) while mod-N resharding moves ~(S−1)/S of
    // everything. Both assignments and both movement counts are
    // computed side by side: hrw8→hrw7 (drop shard 7) vs mod8→mod7.
    // The argmax is a max_by over an exploded 8-row-per-doc relation
    // — one doc-keyed map-side-combinable aggregation, no window, no
    // driver state; h is the md5-60-bit integer (pure function, no
    // float parity surface).
    "q234_rendezvous_shard" -> ((s, d) => {
      val nsh = 8
      val h = Tables.documents(s, d).select(col("doc_id"))
        .select(col("doc_id"),
          explode(sequence(lit(0), lit(nsh - 1))).as("s"))
        .withColumn("h", TextAnalysis.md5Int(
          concat(lit("hrw:"), col("s").cast("string"), lit(":"),
            col("doc_id").cast("string"))))
      val assign = h.groupBy(col("doc_id"))
        .agg(max_by(col("s"), col("h")).as("hrw8"),
          max_by(when(col("s") < nsh - 1, col("s")),
            when(col("s") < nsh - 1, col("h"))).as("hrw7"))
        .select(col("doc_id"), col("hrw8"), col("hrw7"),
          (col("doc_id") % nsh).cast("int").as("mod8"),
          (col("doc_id") % (nsh - 1)).cast("int").as("mod7"))
      val g1 = assign.groupBy(col("hrw8").as("shard"))
        .agg(count(lit(1)).cast("int").as("n_hrw"),
          sum(when(col("hrw8") =!= col("hrw7"), 1).otherwise(0))
            .cast("int").as("moved_hrw"))
      val g2 = assign.groupBy(col("mod8").as("shard"))
        .agg(count(lit(1)).cast("int").as("n_mod"),
          sum(when(col("mod8") =!= col("mod7"), 1).otherwise(0))
            .cast("int").as("moved_mod"))
      g1.join(g2, "shard")
        .select(col("shard").cast("int").as("shard"), col("n_hrw"),
          col("moved_hrw"), col("n_mod"), col("moved_mod"))
        .orderBy(col("shard"))
    }),

    // Two-proportion z-test (pooled) on event conversion — the A/B
    // readout every experimentation pipeline computes: variant =
    // user-hash parity, success = purchase. ONE aggregation produces
    // both arms' (n, conversions); the z statistic is pure expression
    // arithmetic on the 1-row result — at 100 TB this is a single
    // map-side-combined count pass, nothing else. Significance is
    // decided on the 6dp-ROUNDED z (round-first rule) so a boundary
    // ulp can't flip the boolean across engines.
    "q235_ab_proportion_test" -> ((s, d) => {
      val r = Tables.events(s, d)
        .select((col("user_id") % 2).cast("int").as("variant"),
          when(col("event_type") === "purchase", 1L).otherwise(0L)
            .as("conv"))
        .agg(
          sum(when(col("variant") === 0, 1L).otherwise(0L)).as("n0"),
          sum(when(col("variant") === 0, col("conv"))).as("c0"),
          sum(when(col("variant") === 1, 1L).otherwise(0L)).as("n1"),
          sum(when(col("variant") === 1, col("conv"))).as("c1"))
      val p0 = col("c0").cast("double") / col("n0")
      val p1 = col("c1").cast("double") / col("n1")
      val pp = (col("c0").cast("double") + col("c1")) /
        (col("n0") + col("n1"))
      val z = (p1 - p0) / sqrt((pp * (lit(1.0) - pp)) *
        (lit(1.0) / col("n0") + lit(1.0) / col("n1")))
      r.select(col("n0").cast("int").as("n0"),
          col("c0").cast("int").as("c0"),
          col("n1").cast("int").as("n1"),
          col("c1").cast("int").as("c1"),
          round(p0, 6).as("p0"), round(p1, 6).as("p1"),
          round(z, 6).as("z"))
        .withColumn("significant", abs(col("z")) > 1.96)
    }),

    // Wilson-interval ranking (z=1.96): per-cohort purchase rates
    // ranked by the Wilson LOWER bound instead of the raw rate — the
    // small-sample-robust ranking rule (a 2/3 cohort outranks a
    // 600/1000 cohort on raw rate but not on evidence; the lower
    // bound prices the sample size in). ONE map-side-combined count
    // pass yields every cohort's (n, s); the interval arithmetic is
    // |cohorts|-row expression work with the z² constant inlined as
    // the exact decimal 3.8416 on BOTH engines and every
    // multiply/divide association written identically (q235's
    // discipline) — ranks compare 6dp-rounded bounds, cohort
    // tiebreak.
    "q253_wilson_ranking" -> ((s, d) => {
      val g = Tables.events(s, d)
        .select((col("user_id") % 8).cast("int").as("cohort"),
          when(col("event_type") === "purchase", 1L).otherwise(0L).as("c"))
        .groupBy(col("cohort"))
        .agg(count(lit(1)).as("n"), sum(col("c")).as("s"))
      val p = col("s").cast("double") / col("n")
      val wlb = (p + lit(3.8416) / (lit(2.0) * col("n")) -
        lit(1.96) * sqrt(p * (lit(1.0) - p) / col("n") +
          lit(3.8416) / (lit(4.0) * col("n") * col("n")))) /
        (lit(1.0) + lit(3.8416) / col("n"))
      val scored = g.select(col("cohort"), col("n").cast("int").as("n"),
        col("s").cast("int").as("s"),
        round(p, 6).as("p"), round(wlb, 6).as("wilson_lb"))
      // ranks via the one-array-row sort (q82's pattern — no global
      // window even on the |cohorts|-row aggregate)
      def rankOf(key: String, as: String) = scored
        .agg(sort_array(collect_list(struct((-col(key)).as("nk"),
          col("cohort").as("cohort")))).as("a"))
        .select(posexplode(col("a")))
        .select((col("pos") + 1).cast("int").as(as),
          col("col.cohort").as("cohort"))
      scored
        .join(rankOf("p", "rank_raw"), "cohort")
        .join(rankOf("wilson_lb", "rank_wilson"), "cohort")
        .select(col("cohort"), col("n"), col("s"), col("p"),
          col("wilson_lb"), col("rank_raw"), col("rank_wilson"))
        .orderBy(col("cohort"))
    }),

    // Pareto SKYLINE (maximize quality, minimize length): the docs no
    // other doc beats on both axes — the "best quality at every length
    // budget" frontier a curation pipeline reads before picking a
    // length/quality tradeoff. The classic distributed-skyline shape:
    // a naive formulation is the O(N²) dominance anti-join (the
    // oracle); here the 2-D case reduces to a CUMULATIVE MAX over the
    // length order, minted two-phase exactly like q202's ranks —
    // footer-stat range buckets, per-bucket max quality driver-folded
    // into EXCLUSIVE prefix maxima (≤nb rows), then one range-frame
    // window per bucket — so no partition-less window and no pair
    // join at any corpus size. skyline ⇔ q > max{q' : len' < len} ∧
    // q = max{q' : len' = len}, evaluated as q > mlt ∧ q ≥ mle on
    // 6dp-rounded qualities (both engines compare identical rounded
    // doubles; ties on both axes are kept on both sides).
    "q238_skyline" -> ((s, d) => {
      val ts = TextAnalysis.tokens(col("text"))
      val scored = Tables.documents(s, d)
        .withColumn("n_tok", size(ts))
        .withColumn("stop_cnt", size(filter(ts,
          t => t.isin(TextAnalysis.Stopwords: _*))))
        .filter(col("n_tok") > 0)
        .select(col("doc_id"), col("n_chars"), quality.as("q"))
      val nb = 16
      val (mn, mx) = Tables.parquetColumnMinMaxLong(s, d, "documents",
        "n_chars")
      val span = mx - mn + 1
      // materialize the scored table once: the bucket-max collect AND
      // the final window/join both consume it, and each reference
      // otherwise re-runs the corpus tokenize pass (guide §2.4 — the
      // q244 reuse shape; 4 narrow columns, corpus-bounded)
      val bd = scored.withColumn("b",
        ((col("n_chars") - mn) * nb / span).cast("int"))
        .localCheckpoint()
      val bmax = bd.groupBy(col("b")).agg(max(col("q")).as("bq"))
        .orderBy(col("b")).collect().map(r => (r.getInt(0), r.getDouble(1)))
      // exclusive prefix max: the best quality in any STRICTLY earlier
      // (= strictly shorter) bucket; quality lives in [0,1] so -1 is a
      // safe identity
      var acc = -1.0
      val pm = bmax.map { case (bb, bq) =>
        val row = (bb, acc); acc = math.max(acc, bq); row
      }
      import s.implicits._
      val pmDf = pm.toSeq.toDF("b", "pm")
      val wLt = Window.partitionBy(col("b")).orderBy(col("n_chars"))
        .rangeBetween(Window.unboundedPreceding, -1)
      val wLe = Window.partitionBy(col("b")).orderBy(col("n_chars"))
        .rangeBetween(Window.unboundedPreceding, 0)
      bd.join(broadcast(pmDf), "b")
        .withColumn("mlt", greatest(
          coalesce(max(col("q")).over(wLt), lit(-1.0)), col("pm")))
        .withColumn("mle", greatest(max(col("q")).over(wLe), col("pm")))
        .filter(col("q") > col("mlt") && col("q") >= col("mle"))
        .select(col("doc_id"), col("n_chars"), col("q").as("quality"))
        .orderBy(col("n_chars"), col("doc_id"))
    }),

    // PSI (population stability index) drift over the doc-length
    // distribution — the standard ML-monitoring drift score (PSI>0.25
    // = "investigate") comparing a reference carve (even doc_id) to
    // the current carve (odd): Σ (p_cur−p_ref)·ln(p_cur/p_ref) over
    // FIXED-width bins minted from parquet footer min/max (no data
    // pass for the grid, q190's technique; fixed bins are what makes
    // the score comparable run-over-run). One conditional aggregation
    // produces both carves' counts; the ≤nbins result is expression
    // arithmetic. Per-bin contributions are each ONE IEEE expression
    // on integer counts (add-½ smoothing so empty bins stay finite) —
    // no float fold crosses the engine boundary, so no total row:
    // the per-bin table IS the deliverable (the total is a trivial
    // consumer-side sum of 10 numbers).
    "q239_psi_drift" -> ((s, d) => {
      val nbins = 10
      val (mn, mx) = Tables.parquetColumnMinMaxLong(s, d, "documents",
        "n_chars")
      val span = mx - mn + 1
      // integer DIV (DuckDB `//` twin) — bin is an output column, so
      // the boundary arithmetic must be integer-exact on both engines
      val counts = Tables.documents(s, d)
        .select(expr(s"CAST((n_chars - $mn) * $nbins DIV $span AS INT)")
            .as("bin"),
          (col("doc_id") % 2 === 0).as("is_ref"))
        .groupBy(col("bin")).agg(
          sum(when(col("is_ref"), 1L).otherwise(0L)).as("n_ref"),
          sum(when(!col("is_ref"), 1L).otherwise(0L)).as("n_cur"))
      val tot = counts.agg(sum(col("n_ref")).as("t_ref"),
        sum(col("n_cur")).as("t_cur"))
      val pr = (col("n_ref") + lit(0.5)) /
        (col("t_ref") + lit(0.5) * nbins)
      val pc = (col("n_cur") + lit(0.5)) /
        (col("t_cur") + lit(0.5) * nbins)
      counts.crossJoin(broadcast(tot))
        .select(col("bin"),
          col("n_ref").cast("int").as("n_ref"),
          col("n_cur").cast("int").as("n_cur"),
          round(pr, 6).as("p_ref"), round(pc, 6).as("p_cur"),
          round((pc - pr) * log(pc / pr), 6).as("psi_contrib"))
        .orderBy(col("bin"))
    }),

    // Term-distribution KL drift between two crawl carves — the
    // lexical analogue of q165's numeric KS and q239's binned PSI:
    // D(P_ref ‖ P_cur) contributions per term with add-1 smoothing
    // over the union vocabulary, surfaced as the top-15 terms by
    // |contribution| (the "what changed in the language" report).
    // ONE tokenize pass with a conditional aggregation yields both
    // carves' term counts (the corpus is never scanned twice); the
    // per-term table is vocabulary-bounded, totals are a 1-row
    // broadcast, each contribution is a single IEEE expression on
    // exact integer counts, and the top-15 is TakeOrderedAndProject
    // on (6dp-rounded |contrib|, term) — round-first so a float ulp
    // never decides cross-engine rank.
    // Jensen–Shannon divergence between the two corpus carves (Lin
    // 1991) — the SYMMETRIC, BOUNDED (≤ ln 2) drift metric that fixes
    // KL's two operational problems at 100 TB: q240's KL is
    // direction-dependent (ref→cur ≠ cur→ref, so alert thresholds
    // don't transfer) and unbounded (one vanishing q blows the
    // statistic). Same add-1-smoothed unigram models as q240; per
    // term, js = ½p·ln(p/m) + ½q·ln(q/m) with m = (p+q)/2 — identical
    // IEEE association on both engines (q240's ln-parity precedent).
    // The GLOBAL total is the order-free form: per-term contributions
    // rounded 6dp, summed as DECIMAL(18,6) — exact under any
    // partial-agg order, where a raw double Σ over the vocabulary
    // would be association-dependent across partitions. One tokenize
    // shuffle; everything after is vocabulary-bounded.
    "q276_js_divergence" -> ((s, d) => {
      val counts = Tables.documents(s, d)
        .select((col("doc_id") % 2 === 0).as("is_ref"),
          explode(alphaTokens).as("term"))
        .groupBy(col("term")).agg(
          sum(when(col("is_ref"), 1L).otherwise(0L)).as("c_ref"),
          sum(when(!col("is_ref"), 1L).otherwise(0L)).as("c_cur"))
        .persist() // feeds the totals, the top-10 and the global sum
      try {
        val tot = counts.agg(sum(col("c_ref")).as("t_ref"),
          sum(col("c_cur")).as("t_cur"), count(lit(1)).as("v"))
        val p = (col("c_ref") + 1).cast("double") /
          (col("t_ref") + col("v"))
        val q = (col("c_cur") + 1).cast("double") /
          (col("t_cur") + col("v"))
        val m = (p + q) / 2.0
        val contrib = round(lit(0.5) * (p * log(p / m)) +
          lit(0.5) * (q * log(q / m)), 6)
        val scored = counts.crossJoin(broadcast(tot))
          .select(col("term"), col("c_ref").cast("int").as("c_ref"),
            col("c_cur").cast("int").as("c_cur"),
            contrib.as("js_contrib"))
        val total = scored
          .agg(sum(col("js_contrib").cast("decimal(18,6)")).as("t"))
        val rows = scored
          .orderBy(col("js_contrib").desc, col("term")).limit(10)
          .crossJoin(broadcast(total))
          .select(col("term"), col("c_ref"), col("c_cur"),
            col("js_contrib"),
            round(col("t").cast("double"), 6).as("jsd_total"))
          .orderBy(col("js_contrib").desc, col("term")).collect()
        import scala.jdk.CollectionConverters._
        import org.apache.spark.sql.types._
        s.createDataFrame(rows.toSeq.asJava, StructType(Seq(
            StructField("term", StringType),
            StructField("c_ref", IntegerType),
            StructField("c_cur", IntegerType),
            StructField("js_contrib", DoubleType),
            StructField("jsd_total", DoubleType))))
          .orderBy(col("js_contrib").desc, col("term"))
      } finally counts.unpersist()
    }),

    "q240_term_kl_drift" -> ((s, d) => {
      val counts = Tables.documents(s, d)
        .select((col("doc_id") % 2 === 0).as("is_ref"),
          explode(alphaTokens).as("term"))
        .groupBy(col("term")).agg(
          sum(when(col("is_ref"), 1L).otherwise(0L)).as("c_ref"),
          sum(when(!col("is_ref"), 1L).otherwise(0L)).as("c_cur"))
      val tot = counts.agg(sum(col("c_ref")).as("t_ref"),
        sum(col("c_cur")).as("t_cur"), count(lit(1)).as("v"))
      val pr = (col("c_ref") + 1).cast("double") / (col("t_ref") + col("v"))
      val pc = (col("c_cur") + 1).cast("double") / (col("t_cur") + col("v"))
      counts.crossJoin(broadcast(tot))
        .select(col("term"), col("c_ref").cast("int").as("c_ref"),
          col("c_cur").cast("int").as("c_cur"),
          round(pr, 6).as("p_ref"), round(pc, 6).as("p_cur"),
          round(pr * log(pr / pc), 6).as("kl_contrib"))
        .orderBy(abs(col("kl_contrib")).desc, col("term")).limit(15)
    }),

    // ε-differentially-private count release (ε=1, Laplace mechanism):
    // the noisy per-(source,lang) doc counts a data steward can
    // publish — each cell gets Laplace(1/ε) noise via the exact
    // inverse-CDF −sign(u−½)·ln(1−2|u−½|) on a deterministic
    // md5-millionths uniform (the HashDraw idiom: u=(m+½)/10⁶ keeps u
    // strictly inside (0,1) so the log never sees 0 — and makes the
    // "draw" a pure function both engines compute bit-identically,
    // which is what lets a DP mechanism face a DuckDB oracle at all;
    // a production release would draw real randomness and drop the
    // n_true column — it is exposed here as the oracle face). The
    // aggregation is one map-side-combined count; noise is
    // release-sized expression work.
    // Higher-moment distribution stats (skewness + excess kurtosis of
    // doc length per source) from EXACT integer power sums — q232's
    // sufficient-statistics discipline extended to 3rd/4th moments:
    // one map-side-combined aggregation collects (n, Σx..Σx⁴) as
    // DECIMAL(38,0) (HUGEINT on the oracle side — both exact), the
    // scaled central moments A2=nΣx²−(Σx)², A3=n²Σx³−3nΣxΣx²+2(Σx)³,
    // A4=n³Σx⁴−4n²ΣxΣx³+6n(Σx)²Σx²−3(Σx)⁴ are computed in exact integer
    // arithmetic (n cancels: skew=A3/A2^1.5, kurt=A4/A2²−3), and the
    // only floats are the final divisions — with A2^1.5 spelled
    // a·sqrt(a) because sqrt is correctly rounded everywhere while
    // pow() is not (the cross-engine parity trap the round-first rule
    // exists for). Built-in skewness()/kurtosis() stream float
    // partials whose fold order is nondeterministic — this shape is
    // the mergeable-exact alternative. Magnitudes ≤ n³·max(x)⁴ ≈ 10²⁶
    // at fixture scale; 38 digits carries to ~10¹² docs.
    "q245_higher_moments" -> ((s, d) => {
      val dec = "decimal(38,0)"
      val x = col("n_chars").cast(dec)
      val stats = Tables.documents(s, d)
        .groupBy(col("source"))
        .agg(count(lit(1)).cast(dec).as("n"),
          sum(x).as("s1"), sum(x * x).as("s2"),
          sum(x * x * x).as("s3"), sum(x * x * x * x).as("s4"))
      val a2 = (col("n") * col("s2") - col("s1") * col("s1")).cast("double")
      val a3 = (col("n") * col("n") * col("s3") -
        lit(3).cast(dec) * col("n") * col("s1") * col("s2") +
        lit(2).cast(dec) * col("s1") * col("s1") * col("s1")).cast("double")
      val a4 = (col("n") * col("n") * col("n") * col("s4") -
        lit(4).cast(dec) * col("n") * col("n") * col("s1") * col("s3") +
        lit(6).cast(dec) * col("n") * col("s1") * col("s1") * col("s2") -
        lit(3).cast(dec) * col("s1") * col("s1") * col("s1") * col("s1"))
        .cast("double")
      stats.select(col("source"), col("n").cast("int").as("n"),
          round(col("s1").cast("double") / col("n").cast("double"), 6)
            .as("mean_chars"),
          round(a3 / (a2 * sqrt(a2)), 6).as("skewness"),
          round(a4 / (a2 * a2) - 3.0, 6).as("kurtosis_excess"))
        .orderBy(col("source"))
    }),

    // ROLLING 3-day distinct users per event type via theta-sketch
    // union algebra — the sliding-window COUNT(DISTINCT) problem that
    // exact methods cannot pre-aggregate (distinct does not decompose
    // over overlapping windows: every window re-touches 3 days of raw
    // ids). With per-(type, day) sketches the raw data is scanned
    // ONCE; each rolling window is a union of ≤3 few-KB summaries
    // (q215's algebra applied over a time grid) — at 100 TB the
    // summary table is |types|×|days| rows and any window/range query
    // is summary-side arithmetic. Gate per window = the union
    // sketch's own 3σ interval contains the exact rolling distinct
    // (computed here by the 3-day grid-explode re-aggregation the
    // sketches exist to avoid — the fixture-priced demonstration
    // baseline, q215's convention).
    "q252_rolling_distinct_sketch" -> ((s, d) => {
      import org.apache.datasketches.memory.Memory
      import org.apache.datasketches.theta.{SetOperation, Sketches}
      import graft.functions.exprs.graft_theta_sketch_agg
      val nom = 4096
      val daily = Tables.eventsUs(s, d)
        .select(col("event_type"), expr("ts_us div 86400000000").as("day"),
          col("user_id"))
      val sk = daily.groupBy(col("event_type"), col("day"))
        .agg(graft_theta_sketch_agg(col("user_id"), nom).as("sk"))
        .collect()
        .map(r => ((r.getString(0), r.getLong(1)),
          r.getAs[Array[Byte]]("sk"))).toMap
      val exact = daily
        .select(col("event_type"), col("user_id"),
          explode(expr("sequence(day, day + 2)")).as("wday"))
        .groupBy(col("event_type"), col("wday"))
        .agg(count_distinct(col("user_id")).as("n_exact"))
        .collect()
        .map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
      val rows = exact
        .filter { case (t, wd, _) => sk.contains((t, wd)) }
        .map { case (t, wd, ex) =>
          val u = SetOperation.builder().setNominalEntries(nom).buildUnion()
          (wd - 2 to wd).foreach { dd =>
            sk.get((t, dd)).foreach(b =>
              u.union(Sketches.wrapSketch(Memory.wrap(b))))
          }
          val r = u.getResult
          (t, wd, ex,
            r.getLowerBound(3) <= ex.toDouble &&
              ex.toDouble <= r.getUpperBound(3))
        }.sortBy(t => (t._1, t._2))
      import s.implicits._
      rows.toSeq.toDF("event_type", "day", "n_exact", "within_bounds")
        .orderBy(col("event_type"), col("day"))
    }),

    // EXACT rank selection (p50/p95/p999 of doc length) WITHOUT a
    // global sort — the two-phase bucket-descent selection classic:
    // phase 1 aggregates per-range-bucket (count, min, max) — one
    // map-side-combined pass, ≤256 rows to the driver — and exact
    // integer cumulative sums locate each target rank's bucket and its
    // LOCAL rank; phase 2 re-scans ONLY the located buckets (the
    // bmin/bmax range predicates push down to the parquet scan) for
    // per-value counts, and the driver walks ≤bucket-width entries to
    // the exact value. Two linear passes, no corpus sort, no window —
    // where q50/q99's percentile_disc sorts every group. Ranks are
    // minted in EXACT integer per-mille arithmetic r=⌈qpm·N/1000⌉
    // ((qpm·N+999) DIV 1000 — never qpm/1000 as a double, where
    // 0.95·N can land an ulp above an integer and ceil overshoots);
    // the oracle is the naive global ROW_NUMBER at the same integer
    // ranks, proving the descent exact.
    // Hill tail-index estimator (Hill 1975) over the doc-length
    // distribution — the heavy-tail audit behind packing/sharding
    // policy (q135/q149 assume the length tail is Pareto-ish; this
    // MEASURES its index): α̂(k) = k / Σ_{i≤k} (ln x_(i) − ln x_(k+1))
    // at k ∈ {10,25,50,100}, the standard Hill-plot rungs. Scale
    // shape: the ONLY corpus-sized op is a distributed top-101
    // (TakeOrderedAndProject — per-partition heaps, no global sort,
    // no partition-less window; ranks come from one sort_array/
    // posexplode over the bounded 101-row result, q154's pattern).
    // Determinism: per-value ln is rounded once to 9dp, the k-sums
    // fold in DECIMAL, and each α̂ is one division on identical
    // doubles.
    "q285_hill_tail" -> ((s, d) =>
      hillRungs(Tables.documents(s, d))),

    "q247_exact_rank_select" -> ((s, d) => {
      val probes = Seq(("p50", 500L), ("p95", 950L), ("p999", 999L))
      val nb = 256
      val (mn, mx) = Tables.parquetColumnMinMaxLong(s, d, "documents",
        "n_chars")
      val span = mx - mn + 1
      val vals = Tables.documents(s, d).select(col("n_chars").as("v"))
      val bcounts = vals
        .select(expr(s"CAST((v - $mn) * $nb DIV $span AS INT)").as("b"),
          col("v"))
        .groupBy(col("b")).agg(count(lit(1)).as("c"),
          min(col("v")).as("bmin"), max(col("v")).as("bmax"))
        .orderBy(col("b")).collect()
      val n = bcounts.map(_.getAs[Long]("c")).sum
      val cum = bcounts.scanLeft(0L)((a, r) => a + r.getAs[Long]("c"))
      val located = probes.map { case (tag, qpm) =>
        val r = (qpm * n + 999) / 1000
        val i = bcounts.indices
          .find(i => cum(i) < r && r <= cum(i) + bcounts(i).getAs[Long]("c"))
          .get
        (tag, r, i, r - cum(i))
      }
      val needed = located.map(_._3).distinct
      val scanPred = needed.map { i =>
        col("v") >= bcounts(i).getAs[Long]("bmin") &&
          col("v") <= bcounts(i).getAs[Long]("bmax")
      }.reduce(_ || _)
      val perValue = vals.filter(scanPred)
        .groupBy(col("v")).agg(count(lit(1)).as("c"))
        .orderBy(col("v")).collect()
        .map(r => (r.getAs[Long]("v"), r.getAs[Long]("c")))
      val rows = located.map { case (tag, r, i, localRank) =>
        // walk this bucket's value histogram to the local rank
        val lo = bcounts(i).getAs[Long]("bmin")
        val hi = bcounts(i).getAs[Long]("bmax")
        var remaining = localRank
        val vcs = perValue.filter(t => t._1 >= lo && t._1 <= hi)
        val value = vcs.find { case (_, c) =>
          if (remaining <= c) true else { remaining -= c; false }
        }.get._1
        (tag, r, value)
      }
      import s.implicits._
      rows.toDF("tag", "rank", "value").orderBy(col("tag"))
    }),

    "q241_dp_counts" -> ((s, d) => {
      val m = TextAnalysis.md5Int(
        concat(lit("dp1:"), col("source"), lit(":"), col("lang"))) % 1000000L
      val u = (m.cast("double") + 0.5) / 1000000.0
      val lap = -signum(u - 0.5) * log(lit(1.0) - lit(2.0) * abs(u - 0.5))
      Tables.documents(s, d)
        .groupBy(col("source"), col("lang"))
        .agg(count(lit(1)).as("n_true"))
        .select(col("source"), col("lang"), col("n_true").cast("int")
            .as("n_true"),
          round(col("n_true") + lap, 6).as("n_noisy"))
        .orderBy(col("source"), col("lang"))
    })
  )

  /** q285's Hill-estimator pipeline over any (doc_id, n_chars)
    * relation — package-visible so HillSpec can run it on a planted
    * exact-Pareto sample and gate the estimate against the true index
    * (a property the fixture-bound oracle can't express).
    */
  private[llm] def hillRungs(src: DataFrame): DataFrame = {
    val top = src
      .filter(col("n_chars") > 0)
      .select(col("doc_id"), col("n_chars"))
      .orderBy(col("n_chars").desc, col("doc_id"))
      .limit(101)
    val ranked = top
      .agg(sort_array(collect_list(struct(
        (-col("n_chars")).as("ng"), col("doc_id").as("did")))).as("arr"))
      .select(posexplode(col("arr")).as(Seq("pos", "st")))
      .select((col("pos") + 1).cast("int").as("rk"),
        (-col("st.ng")).as("x"))
      .withColumn("l9", round(log(col("x").cast("double")), 9)
        .cast("decimal(18,9)"))
    val a = ranked.agg(
      sum(when(col("rk") <= 10, col("l9"))).as("s10"),
      max(when(col("rk") === 11, col("l9"))).as("r10"),
      max(when(col("rk") === 11, col("x"))).as("x10"),
      sum(when(col("rk") <= 25, col("l9"))).as("s25"),
      max(when(col("rk") === 26, col("l9"))).as("r25"),
      max(when(col("rk") === 26, col("x"))).as("x25"),
      sum(when(col("rk") <= 50, col("l9"))).as("s50"),
      max(when(col("rk") === 51, col("l9"))).as("r50"),
      max(when(col("rk") === 51, col("x"))).as("x50"),
      sum(when(col("rk") <= 100, col("l9"))).as("s100"),
      max(when(col("rk") === 101, col("l9"))).as("r100"),
      max(when(col("rk") === 101, col("x"))).as("x100"))
    a.selectExpr(
        """stack(4,
          |  10, s10, r10, x10,
          |  25, s25, r25, x25,
          |  50, s50, r50, x50,
          |  100, s100, r100, x100) AS (k, sk, rk1, xk1)""".stripMargin)
      .select(col("k").cast("int").as("k"),
        col("xk1").cast("long").as("x_k1"),
        round(col("k").cast("double") /
          (col("sk") - col("k") * col("rk1")).cast("double"), 6)
          .as("alpha_hat"))
      .orderBy(col("k"))
  }

  def oracle: Map[String, String] = Map(
    // q285: identical top-101 (same desc/doc_id tiebreak), identical
    // 9dp-round-then-DECIMAL log sums, one division per rung
    "q285_hill_tail" ->
      """WITH top AS (
        |  SELECT n_chars AS x, doc_id FROM documents
        |  WHERE n_chars > 0
        |  ORDER BY n_chars DESC, doc_id LIMIT 101),
        |r AS (
        |  SELECT x, CAST(ROW_NUMBER() OVER (ORDER BY x DESC, doc_id)
        |    AS INT) AS rk
        |  FROM top),
        |l AS (
        |  SELECT rk, x,
        |    CAST(ROUND(ln(CAST(x AS DOUBLE)), 9) AS DECIMAL(18,9)) AS l9
        |  FROM r),
        |ks(k) AS (VALUES (10), (25), (50), (100)),
        |m AS (
        |  SELECT ks.k,
        |    SUM(CASE WHEN l.rk <= ks.k THEN l.l9 END) AS sk,
        |    MAX(CASE WHEN l.rk = ks.k + 1 THEN l.l9 END) AS rk1,
        |    MAX(CASE WHEN l.rk = ks.k + 1 THEN l.x END) AS xk1
        |  FROM ks, l GROUP BY ks.k)
        |SELECT CAST(k AS INT) AS k, CAST(xk1 AS BIGINT) AS x_k1,
        |  ROUND(CAST(k AS DOUBLE) / CAST(sk - k * rk1 AS DOUBLE), 6)
        |    AS alpha_hat
        |FROM m ORDER BY k""".stripMargin,

    // the identical sketch restated: same md5 row-hashes, same
    // cell-wise sums, same min-over-depths probe — pure integer
    // arithmetic, exact
    // q273: identical integer rater thresholds, identical 2×2 ledger,
    // identical po/pe divisions and κ association, same band ladder
    "q273_cohens_kappa" -> {
      val tokensSql = TextAnalysis.tokensSql
      s"""WITH t AS (
         |  SELECT ts, CAST(len(ts) AS BIGINT) AS n,
         |    CAST(len(list_filter(ts, x -> x IN
         |      ('the','a','of','and','to','in','is'))) AS BIGINT)
         |      AS stops,
         |    CAST(len(list_distinct(list_transform(
         |      range(1, CAST(len(ts) AS INT)),
         |      i -> ts[i] || ' ' || ts[i + 1]))) AS BIGINT) AS ndbi
         |  FROM (SELECT $tokensSql AS ts FROM documents) z
         |  WHERE len(ts) >= 2),
         |r AS (
         |  SELECT (1000 * stops >= 60 * n) AS ra,
         |    (20 * ndbi >= 19 * (n - 1)) AS rb
         |  FROM t),
         |g AS (
         |  SELECT
         |    SUM(CASE WHEN ra AND rb THEN 1 ELSE 0 END) AS n11,
         |    SUM(CASE WHEN ra AND NOT rb THEN 1 ELSE 0 END) AS n10,
         |    SUM(CASE WHEN NOT ra AND rb THEN 1 ELSE 0 END) AS n01,
         |    SUM(CASE WHEN NOT ra AND NOT rb THEN 1 ELSE 0 END) AS n00
         |  FROM r),
         |k AS (
         |  SELECT n11, n10, n01, n00,
         |    n11 + n10 + n01 + n00 AS n,
         |    CAST(n11 + n00 AS DOUBLE) / (n11 + n10 + n01 + n00) AS po,
         |    CAST((n11 + n10) * (n11 + n01) + (n01 + n00) * (n10 + n00)
         |      AS DOUBLE) / CAST((n11 + n10 + n01 + n00)
         |        * (n11 + n10 + n01 + n00) AS DOUBLE) AS pe
         |  FROM g),
         |f AS (
         |  SELECT CAST(n AS INT) AS n_docs, CAST(n11 AS INT) AS n11,
         |    CAST(n10 AS INT) AS n10, CAST(n01 AS INT) AS n01,
         |    CAST(n00 AS INT) AS n00,
         |    ROUND(po, 6) AS p_observed, ROUND(pe, 6) AS p_expected,
         |    ROUND((po - pe) / (1.0 - pe), 6) AS kappa
         |  FROM k)
         |SELECT n_docs, n11, n10, n01, n00, p_observed, p_expected,
         |  kappa,
         |  CASE WHEN kappa < 0.0 THEN 'poor'
         |       WHEN kappa <= 0.2 THEN 'slight'
         |       WHEN kappa <= 0.4 THEN 'fair'
         |       WHEN kappa <= 0.6 THEN 'moderate'
         |       WHEN kappa <= 0.8 THEN 'substantial'
         |       ELSE 'near_perfect' END AS landis_koch
         |FROM f""".stripMargin
    },

    // q270: identical bin table, identical left-to-right folds
    // (list_reduce's first-element seed ≡ Spark's 0.0 seed under
    // IEEE), identical single-division f_b/p̄ and final assembly
    "q270_brier_decomposition" -> {
      val stops = "('the','a','of','and','to','in','is')"
      val tokensSql = TextAnalysis.tokensSql
      s"""WITH t AS (
         |  SELECT CAST((1000 * CAST(len(list_filter(ts,
         |      t -> t IN $stops)) AS BIGINT)) // len(ts) AS INT) // 100
         |      AS bin,
         |    CASE WHEN list_contains(ts, 'dup') THEN 1 ELSE 0 END AS lab
         |  FROM (SELECT $tokensSql AS ts FROM documents) z
         |  WHERE len(ts) > 0),
         |b AS (
         |  SELECT bin, COUNT(*) AS n, SUM(lab) AS np FROM t GROUP BY 1),
         |g AS (
         |  SELECT list(struct_pack(bin := bin, n := n, np := np)
         |           ORDER BY bin) AS bs,
         |    SUM(n) AS nn, SUM(np) AS pp
         |  FROM b),
         |g2 AS (
         |  SELECT bs, nn, CAST(pp AS DOUBLE) / nn AS pbar FROM g),
         |f AS (
         |  SELECT nn, pbar,
         |    list_reduce(list_transform(bs, x -> x.n *
         |      (CAST(x.bin AS DOUBLE) / 10.0
         |        - CAST(x.np AS DOUBLE) / x.n) *
         |      (CAST(x.bin AS DOUBLE) / 10.0
         |        - CAST(x.np AS DOUBLE) / x.n)), (a, b) -> a + b)
         |      AS rel,
         |    list_reduce(list_transform(bs, x -> x.n *
         |      (CAST(x.np AS DOUBLE) / x.n - pbar) *
         |      (CAST(x.np AS DOUBLE) / x.n - pbar)), (a, b) -> a + b)
         |      AS res,
         |    list_reduce(list_transform(bs, x ->
         |      x.np * (CAST(x.bin AS DOUBLE) / 10.0 - 1.0)
         |           * (CAST(x.bin AS DOUBLE) / 10.0 - 1.0)
         |      + (x.n - x.np) * (CAST(x.bin AS DOUBLE) / 10.0)
         |                     * (CAST(x.bin AS DOUBLE) / 10.0)),
         |      (a, b) -> a + b) AS direct
         |  FROM g2)
         |SELECT CAST(nn AS INT) AS n_docs, ROUND(pbar, 6) AS base_rate,
         |  ROUND(rel / nn, 6) AS reliability,
         |  ROUND(res / nn, 6) AS resolution,
         |  ROUND(pbar * (1.0 - pbar), 6) AS uncertainty,
         |  ROUND(direct / nn, 6) AS brier,
         |  ROUND(direct / nn - (rel / nn - res / nn
         |    + pbar * (1.0 - pbar)), 9) + 0.0 AS identity_gap
         |FROM f""".stripMargin
    },

    // q267: identical md5 hash family → bit-identical sketches on
    // both engines; the estimate, the exact ledger, and the Markov
    // gate are all exact-integer arithmetic
    "q267_cm_join_estimate" -> {
      def bucketSql(dep: Int): String =
        s"${TextAnalysis.md5IntSql(s"'cmj$dep:' || CAST(user_id AS VARCHAR)")} % 256"
      def cmSql(t: String): String = (0 until 4).map(dep =>
        s"SELECT $dep AS d, ${bucketSql(dep)} AS b, COUNT(*) AS c " +
          s"FROM events WHERE event_type = '$t' GROUP BY 1, 2")
        .mkString("\n  UNION ALL ")
      s"""WITH ca AS (
         |  ${cmSql("click")}),
         |cb AS (
         |  ${cmSql("view")}),
         |est AS (
         |  SELECT ca.d, SUM(ca.c * cb.c) AS est_d
         |  FROM ca JOIN cb ON cb.d = ca.d AND cb.b = ca.b
         |  GROUP BY ca.d),
         |na AS (SELECT user_id, COUNT(*) AS na FROM events
         |       WHERE event_type = 'click' GROUP BY 1),
         |nb AS (SELECT user_id, COUNT(*) AS nb FROM events
         |       WHERE event_type = 'view' GROUP BY 1),
         |tru AS (
         |  SELECT (SELECT SUM(na.na * nb.nb) FROM na JOIN nb
         |            USING (user_id)) AS true_join,
         |    (SELECT SUM(na) FROM na) AS n_a,
         |    (SELECT SUM(nb) FROM nb) AS n_b),
         |mn AS (SELECT MIN(est_d) AS est FROM est)
         |SELECT CAST(est.d AS INT) AS depth,
         |  CAST(est.est_d AS BIGINT) AS est_d,
         |  CAST(mn.est AS BIGINT) AS est,
         |  CAST(tru.n_a AS BIGINT) AS n_a, CAST(tru.n_b AS BIGINT) AS n_b,
         |  CAST(tru.true_join AS BIGINT) AS true_join,
         |  CAST(mn.est - tru.true_join AS BIGINT) AS overcount,
         |  ((mn.est - tru.true_join) * 128 <= tru.n_a * tru.n_b)
         |    AS within_bound
         |FROM est CROSS JOIN mn CROSS JOIN tru
         |ORDER BY depth""".stripMargin
    },

    "q208_countmin_heavy" -> {
      def bucketSql(dep: Int): String =
        s"${TextAnalysis.md5IntSql(s"'cm$dep:' || term")} % 256"
      val cellSel = (0 until 4).map(dep =>
        s"SELECT $dep AS d, ${bucketSql(dep)} AS b, cnt AS c FROM ex")
        .mkString("\n  UNION ALL ")
      val probeSel = (0 until 4).map(dep =>
        s"SELECT term, cnt, $dep AS d, ${bucketSql(dep)} AS b FROM top")
        .mkString("\n  UNION ALL ")
      s"""WITH toks AS (
         |  SELECT unnest($alphaTokensSql) AS term FROM documents),
         |ex AS (SELECT term, COUNT(*) AS cnt FROM toks GROUP BY term),
         |cells AS (
         |  SELECT d, b, CAST(SUM(c) AS BIGINT) AS cell FROM (
         |  $cellSel) z GROUP BY d, b),
         |top AS (SELECT term, cnt FROM ex
         |        ORDER BY cnt DESC, term LIMIT 20),
         |pb AS (
         |  $probeSel)
         |SELECT pb.term, pb.cnt AS exact,
         |  MIN(cells.cell) AS est,
         |  MIN(cells.cell) - pb.cnt AS overcount
         |FROM pb JOIN cells ON pb.d = cells.d AND pb.b = cells.b
         |GROUP BY pb.term, pb.cnt ORDER BY pb.term""".stripMargin
    },

    // same md5-derived 60-bit key (TextAnalysis.md5IntSql)
    // identical estimator arithmetic over identical integer sums —
    // one division per cell, no float-fold boundary
    "q203_aqp_estimate" ->
      s"""WITH samp AS (
         |  SELECT lang, COUNT(*) AS n_s,
         |    CAST(SUM(n_chars) AS BIGINT) AS sum_s,
         |    SUM(CAST(n_chars AS HUGEINT) * n_chars) AS sumsq_s
         |  FROM documents
         |  WHERE ${graft.llm.TextAnalysis.md5IntSql("'aqp:' || CAST(doc_id AS VARCHAR)")}
         |    % 1000000 < 50000
         |  GROUP BY lang),
         |tru AS (
         |  SELECT lang, COUNT(*) AS true_docs,
         |    CAST(SUM(n_chars) AS BIGINT) AS true_chars
         |  FROM documents GROUP BY lang)
         |SELECT lang,
         |  ROUND(n_s / 0.05, 2) AS est_docs,
         |  ROUND(sum_s / 0.05, 2) AS est_chars,
         |  ROUND(1.96 * sqrt(sumsq_s * (1 - 0.05) / (0.05 * 0.05)), 2)
         |    AS ci95_chars,
         |  true_docs, true_chars
         |FROM samp JOIN tru USING (lang) ORDER BY lang""".stripMargin,

    // the naive total ordering IS the oracle: the two-phase ids must
    // equal a global ROW_NUMBER exactly
    "q202_contiguous_ids" ->
      """SELECT doc_id,
        |  CAST(ROW_NUMBER() OVER (ORDER BY doc_id) - 1 AS BIGINT) AS gid
        |FROM documents ORDER BY doc_id""".stripMargin,

    // the v2 snapshot aggregated DIRECTLY — the oracle IS the
    // recompute the delta-merge must equal
    "q199_incremental_agg" ->
      """SELECT lang, COUNT(*) AS n_docs,
        |  CAST(SUM(n_chars) AS BIGINT) AS sum_chars
        |FROM documents WHERE doc_id % 7 <> 0
        |GROUP BY lang HAVING COUNT(*) > 0 ORDER BY lang""".stripMargin,

    // the identical sketch restated: same md5 hashes, same k-min
    // selection, pure integer arithmetic — exact, no float boundary
    // q215: DuckDB twins the EXACT set-op cardinalities over the same
    // md5 hash carves; the sketch-interval booleans are the Spark
    // side's own guarantee check (q114's bounded-error twin pattern)
    "q215_theta_setops" ->
      s"""WITH a AS (SELECT DISTINCT
         |    ${TextAnalysis.md5IntSql("'theta:' || text")} AS h
         |  FROM documents WHERE doc_id % 3 <> 0),
         |b AS (SELECT DISTINCT
         |    ${TextAnalysis.md5IntSql("'theta:' || text")} AS h
         |  FROM documents WHERE doc_id % 4 <> 0),
         |c AS (SELECT DISTINCT
         |    ${TextAnalysis.md5IntSql("'theta:' || text")} AS h
         |  FROM documents WHERE doc_id % 5 <> 0)
         |SELECT 'a_intersect_b' AS op,
         |  (SELECT COUNT(*) FROM
         |    (SELECT h FROM a INTERSECT SELECT h FROM b)) AS n_exact,
         |  true AS exact_within_bounds
         |UNION ALL
         |SELECT 'a_minus_b' AS op,
         |  (SELECT COUNT(*) FROM
         |    (SELECT h FROM a EXCEPT SELECT h FROM b)) AS n_exact,
         |  true AS exact_within_bounds
         |UNION ALL
         |SELECT 'a_union_b_union_c' AS op,
         |  (SELECT COUNT(*) FROM
         |    (SELECT h FROM a UNION SELECT h FROM b
         |     UNION SELECT h FROM c)) AS n_exact,
         |  true AS exact_within_bounds
         |ORDER BY op""".stripMargin,

    // q219: the heap-reservoir must equal the windowed race rule
    // exactly (same seeded u, same key, same tiebreak)
    "q219_grouped_reservoir" ->
      s"""WITH keyed AS (
         |  SELECT lang, doc_id, n_chars,
         |    -ln((${TextAnalysis.md5IntSql("'gr:' || CAST(doc_id AS VARCHAR)")}
         |         % 1000000 + 0.5) / 1000000.0) / n_chars AS es_key
         |  FROM documents)
         |SELECT lang,
         |  CAST(ROW_NUMBER() OVER (PARTITION BY lang
         |    ORDER BY es_key, doc_id) AS INT) AS rk,
         |  doc_id, n_chars
         |FROM keyed
         |QUALIFY rk <= 20
         |ORDER BY lang, rk""".stripMargin,

    // q217: DuckDB twins the exact disc percentiles; the rank-error
    // boolean is the sketch's own guarantee (q114/q215 pattern).
    // DuckDB's quantile_disc at q returns the element at
    // ceil(q*n)-ish lower rank — identical to Spark's
    // percentile_disc (both pick the first value whose cumulative
    // rank ≥ q) on any input
    "q217_kll_quantile_merge" ->
      """SELECT 0.25 AS qtile,
        |  CAST(quantile_disc(n_chars, 0.25) AS BIGINT) AS exact_disc,
        |  true AS rank_within_err FROM documents
        |UNION ALL
        |SELECT 0.50, CAST(quantile_disc(n_chars, 0.50) AS BIGINT), true
        |FROM documents
        |UNION ALL
        |SELECT 0.75, CAST(quantile_disc(n_chars, 0.75) AS BIGINT), true
        |FROM documents
        |UNION ALL
        |SELECT 0.95, CAST(quantile_disc(n_chars, 0.95) AS BIGINT), true
        |FROM documents
        |ORDER BY qtile""".stripMargin,

    // q218: identical hashed-bucket LMs (integer micro-nat model →
    // exact integer doc sums), identical Gumbel-top-k arithmetic;
    // DOUBLE-cast float literals so both engines run the same IEEE ops
    "q218_dsir_resample" ->
      s"""WITH tok AS (
         |  SELECT doc_id, lang,
         |    ${TextAnalysis.md5IntSql("'dsir:' || term")} % 1024 AS b
         |  FROM (SELECT doc_id, lang,
         |      unnest(list_filter(string_split_regex(lower(text), '[^a-z]+'),
         |        t -> t != '')) AS term
         |    FROM documents) z),
         |tf AS (SELECT doc_id, lang, b, COUNT(*) AS tf
         |       FROM tok GROUP BY 1, 2, 3),
         |raw AS (SELECT b, CAST(SUM(tf) AS BIGINT) AS cr FROM tf GROUP BY b),
         |tgtdocs AS (
         |  SELECT doc_id FROM documents
         |  WHERE list_contains(list_filter(
         |    string_split_regex(lower(text), '[^a-z]+'), t -> t != ''),
         |    'dup')),
         |tgt AS (SELECT b, CAST(SUM(tf) AS BIGINT) AS ct FROM tf
         |        WHERE doc_id IN (SELECT doc_id FROM tgtdocs) GROUP BY b),
         |nr AS (SELECT CAST(SUM(cr) AS BIGINT) AS nr FROM raw),
         |nt AS (SELECT CAST(SUM(ct) AS BIGINT) AS nt FROM tgt),
         |model AS (
         |  SELECT raw.b,
         |    CAST(ROUND((ln(CAST(COALESCE(ct, 0) + 1 AS DOUBLE) / (nt + 1024))
         |      - ln(CAST(cr + 1 AS DOUBLE) / (nr + 1024))) * 1e6) AS BIGINT)
         |      AS unit
         |  FROM raw LEFT JOIN tgt ON raw.b = tgt.b, nr, nt),
         |scored AS (
         |  SELECT tf.doc_id, tf.lang,
         |    ROUND(CAST(SUM(tf.tf * model.unit) AS DOUBLE) /
         |      (CAST(SUM(tf.tf) AS DOUBLE) * 1e6), 6) AS imp
         |  FROM tf JOIN model ON tf.b = model.b
         |  GROUP BY 1, 2),
         |sel AS (
         |  SELECT doc_id, lang, imp
         |  FROM (SELECT *,
         |      imp + CAST(0.1 AS DOUBLE) * -ln(-ln(
         |        (${TextAnalysis.md5IntSql("'dsirg:' || CAST(doc_id AS VARCHAR)")}
         |         % 1000000 + 0.5) / 1000000.0)) AS gkey
         |    FROM scored)
         |  ORDER BY gkey DESC, doc_id LIMIT 50)
         |SELECT doc_id, lang, imp FROM sel ORDER BY doc_id""".stripMargin,

    "q198_kmv_overlap" ->
      s"""WITH a AS (SELECT DISTINCT
         |    ${TextAnalysis.md5IntSql("'kmv:' || text")} AS h
         |  FROM documents WHERE doc_id % 3 <> 0),
         |b AS (SELECT DISTINCT
         |    ${TextAnalysis.md5IntSql("'kmv:' || text")} AS h
         |  FROM documents WHERE doc_id % 4 <> 0),
         |sa AS (SELECT h FROM a ORDER BY h LIMIT 64),
         |sb AS (SELECT h FROM b ORDER BY h LIMIT 64),
         |un AS (SELECT h FROM
         |  (SELECT h FROM sa UNION SELECT h FROM sb) u ORDER BY h LIMIT 64),
         |est AS (SELECT COUNT(*) AS m FROM un
         |  WHERE h IN (SELECT h FROM sa) AND h IN (SELECT h FROM sb)),
         |ex AS (SELECT
         |  (SELECT COUNT(*) FROM
         |    (SELECT h FROM a INTERSECT SELECT h FROM b)) AS ni,
         |  (SELECT COUNT(*) FROM
         |    (SELECT h FROM a UNION SELECT h FROM b)) AS nu)
         |SELECT CAST(64 AS INT) AS k,
         |  ROUND(CAST(m AS DOUBLE) / 64, 4) AS est_jaccard,
         |  ROUND(CAST(ni AS DOUBLE) / nu, 4) AS true_jaccard
         |FROM est, ex""".stripMargin,

    // the identical exponential race restated: same seeded md5 draw,
    // same -ln(u)/w key, same (key, doc_id) tiebreak
    "q195_weighted_sample" ->
      s"""WITH keyed AS (
         |  SELECT doc_id, lang, n_chars,
         |    -ln((${TextAnalysis.md5IntSql("'ws:' || CAST(doc_id AS VARCHAR)")}
         |         % 1000000 + 0.5) / 1000000.0) / n_chars AS es_key
         |  FROM documents),
         |top AS (
         |  SELECT doc_id, lang, n_chars FROM keyed
         |  ORDER BY es_key, doc_id LIMIT 100)
         |SELECT doc_id, lang, n_chars FROM top ORDER BY doc_id""".stripMargin,

    "q162_deterministic_shuffle" ->
      s"""WITH keyed AS (
         |  SELECT doc_id,
         |    ${TextAnalysis.md5IntSql("'seed42:' || CAST(doc_id AS VARCHAR)")}
         |      AS shuffle_key
         |  FROM documents)
         |SELECT doc_id, shuffle_key, CAST(shuffle_key % 8 AS INT) AS shard,
         |  CAST(ROW_NUMBER() OVER (PARTITION BY shuffle_key % 8
         |    ORDER BY shuffle_key, doc_id) AS INT) AS pos
         |FROM keyed ORDER BY doc_id""".stripMargin,

    // the oracle states the rule directly with windows (DuckDB can
    // afford the global cumsum at oracle scale); boundary bucket =
    // cum > budget AND cum - btok <= budget, identical to the Spark
    // side's array arithmetic
    "q163_token_budget_select" ->
      """WITH scored AS (
        |  SELECT doc_id,
        |    CAST(len(list_filter(string_split_regex(text, '\s+'),
        |      t -> t <> '')) AS BIGINT) AS n_tok,
        |    ROUND(LEAST(n_chars / 500.0, 1.0) * 0.5 +
        |      (1.0 - CAST(len(list_filter(
        |          list_filter(string_split_regex(text, '\s+'), t -> t <> ''),
        |          t -> t IN ('the','a','of','and','to','in','is')))
        |        AS DOUBLE)
        |       / len(list_filter(string_split_regex(text, '\s+'),
        |           t -> t <> ''))) * 0.5, 6) AS quality
        |  FROM documents),
        |b AS (SELECT doc_id, n_tok, ROUND(quality, 2) AS bucket FROM scored),
        |bt AS (SELECT bucket, SUM(n_tok) AS btok FROM b GROUP BY bucket),
        |cum AS (SELECT bucket, btok,
        |          SUM(btok) OVER (ORDER BY bucket DESC) AS cum FROM bt),
        |budget AS (SELECT CAST(FLOOR(SUM(n_tok) * 0.5) AS BIGINT) AS budget
        |           FROM b),
        |bound AS (SELECT bucket AS bb, cum - btok AS spent FROM cum, budget
        |          WHERE cum > budget AND cum - btok <= budget),
        |full_sel AS (SELECT b.doc_id, b.bucket, b.n_tok
        |             FROM b JOIN cum USING (bucket), budget
        |             WHERE cum <= budget),
        |bnd_sel AS (
        |  SELECT doc_id, bucket, n_tok FROM (
        |    SELECT b.doc_id, b.bucket, b.n_tok,
        |      SUM(b.n_tok) OVER (ORDER BY b.doc_id) AS dcum,
        |      budget.budget - bound.spent AS rem
        |    FROM b JOIN bound ON b.bucket = bound.bb, budget)
        |  WHERE dcum <= rem)
        |SELECT doc_id, bucket, n_tok FROM full_sel
        |UNION ALL SELECT doc_id, bucket, n_tok FROM bnd_sel
        |ORDER BY doc_id""".stripMargin,

    // DuckDB median = interpolated percentile_cont, the twin of
    // Spark's exact `percentile`; MAD over the 6dp-rounded median
    "q164_mad_outliers" ->
      """WITH med AS (
        |  SELECT source, ROUND(median(n_chars), 6) AS med
        |  FROM documents GROUP BY source),
        |mad AS (
        |  SELECT d.source, m.med, ROUND(median(ABS(d.n_chars - m.med)), 6)
        |    AS mad
        |  FROM documents d JOIN med m ON d.source = m.source
        |  GROUP BY d.source, m.med),
        |z AS (
        |  SELECT d.doc_id, d.source, d.n_chars, m.med, m.mad,
        |    CAST(ROUND(m.med * 4) AS BIGINT) AS m4,
        |    CAST(ROUND(m.mad * 4) AS BIGINT) AS d4
        |  FROM documents d JOIN mad m ON d.source = m.source),
        |zz AS (
        |  SELECT doc_id, source, n_chars, med, mad,
        |    CASE WHEN d4 = 0 THEN 0
        |      ELSE (CASE WHEN 6745 * (4 * n_chars - m4) < 0
        |              THEN -1 ELSE 1 END) *
        |        ((2 * ABS(6745 * (4 * n_chars - m4)) * 1000000
        |          + 10000 * d4) // (2 * 10000 * d4)) END AS zmicro
        |  FROM z)
        |SELECT doc_id, source, n_chars, med, mad,
        |  CAST(zmicro AS DOUBLE) / 1e6 AS robust_z,
        |  (ABS(zmicro) > 2500000) AS is_outlier
        |FROM zz ORDER BY doc_id""".stripMargin,

    // identical grid construction: per-source CDFs on the union of
    // observed lengths, pairwise sup-gap
    "q165_ks_drift" ->
      """WITH vals AS (SELECT DISTINCT n_chars AS v FROM documents),
        |srcs AS (SELECT source, COUNT(*) AS n FROM documents GROUP BY source),
        |hist AS (SELECT source, n_chars AS v, COUNT(*) AS c
        |         FROM documents GROUP BY 1, 2),
        |grid AS (
        |  SELECT s.source, s.n, g.v, COALESCE(h.c, 0) AS c
        |  FROM srcs s CROSS JOIN vals g
        |  LEFT JOIN hist h ON h.source = s.source AND h.v = g.v),
        |cdf AS (
        |  SELECT source, v,
        |    CAST(SUM(c) OVER (PARTITION BY source ORDER BY v) AS DOUBLE) / n
        |      AS f
        |  FROM grid)
        |SELECT a.source AS source_a, b.source AS source_b,
        |  ROUND(MAX(ABS(a.f - b.f)), 6) AS ks_stat
        |FROM cdf a JOIN cdf b ON a.v = b.v AND a.source < b.source
        |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,

    // same tokenizer/bigram construction as q134's oracle; add-1
    // smoothing over first-word context counts + vocab size
    "q166_bigram_ppl" ->
      """WITH t AS (
        |  SELECT doc_id, ts FROM (
        |    SELECT doc_id, list_filter(
        |      string_split_regex(lower(text), '[^a-z]+'), x -> x != '') AS ts
        |    FROM documents)
        |  WHERE len(ts) >= 2),
        |bi AS (
        |  SELECT doc_id, unnest(list_slice(ts, 1, len(ts) - 1)) AS w1,
        |         unnest(list_slice(ts, 2, len(ts))) AS w2 FROM t),
        |bc AS (SELECT w1, w2, COUNT(*) AS nb FROM bi GROUP BY 1, 2),
        |ctx AS (SELECT w, COUNT(*) AS nw
        |        FROM (SELECT unnest(ts) AS w FROM t) GROUP BY 1),
        |v AS (SELECT COUNT(*) AS v FROM ctx)
        |SELECT bi.doc_id, CAST(COUNT(*) AS INT) AS n_bigrams,
        |  ROUND(AVG(ln((CAST(bc.nb AS DOUBLE) + 1) / (ctx.nw + v.v))), 6)
        |    AS avg_logp,
        |  ROUND(EXP(-AVG(ln((CAST(bc.nb AS DOUBLE) + 1) / (ctx.nw + v.v)))),
        |    6) AS ppl
        |FROM bi JOIN bc ON bi.w1 = bc.w1 AND bi.w2 = bc.w2
        |JOIN ctx ON bi.w1 = ctx.w CROSS JOIN v
        |GROUP BY bi.doc_id ORDER BY bi.doc_id""".stripMargin,

    // same deterministic snapshot carving + full-outer status join
    "q167_snapshot_diff" ->
      """WITH snap_a AS (
        |  SELECT doc_id, text FROM documents WHERE doc_id % 7 <> 0),
        |snap_b AS (
        |  SELECT doc_id,
        |    CASE WHEN doc_id % 3 = 0 THEN upper(text) ELSE text END AS text
        |  FROM documents WHERE doc_id % 5 <> 0)
        |SELECT COALESCE(a.doc_id, b.doc_id) AS doc_id,
        |  CASE WHEN a.doc_id IS NULL THEN 'added'
        |       WHEN b.doc_id IS NULL THEN 'removed'
        |       WHEN a.text <> b.text THEN 'changed'
        |       ELSE 'unchanged' END AS status
        |FROM snap_a a FULL OUTER JOIN snap_b b ON a.doc_id = b.doc_id
        |ORDER BY doc_id""".stripMargin,

    // same integer-µs age arithmetic and decay constant; 6dp rounding
    // absorbs cross-engine exp() ulp drift
    "q179_time_decay_weight" ->
      """WITH e AS (
        |  SELECT user_id, value, epoch_ns(ts)//1000 AS us FROM events),
        |mx AS (SELECT MAX(us) AS max_us FROM e)
        |SELECT user_id, CAST(COUNT(*) AS BIGINT) AS n,
        |  ROUND(SUM(value * EXP(-0.693147180559945 * (mx.max_us - us)
        |    / 604800000000.0)), 6) AS decayed_sum,
        |  ROUND(SUM(EXP(-0.693147180559945 * (mx.max_us - us)
        |    / 604800000000.0)), 6) AS decayed_weight
        |FROM e, mx GROUP BY user_id ORDER BY user_id""".stripMargin,

    // same tertile bounds (quantile_cont twin of percentile, q142's
    // precedent), same bucket weights, same INTEGER-millionths residual
    // rule (see the query comment — a double-arithmetic threshold would
    // disagree between engines at the 1e-6 boundary); range(1, n+1)
    // twins sequence(1, n) and an empty unnest drops 0-copy docs just
    // like the Spark-side filter
    "q184_epoch_materialize" ->
      s"""WITH b AS (
         |  SELECT quantile_cont(n_chars, 0.3333333333333333) AS b1,
         |         quantile_cont(n_chars, 0.6666666666666666) AS b2
         |  FROM documents),
         |c AS (
         |  SELECT doc_id, source,
         |    CASE WHEN n_chars >= b2 THEN 'head'
         |         WHEN n_chars >= b1 THEN 'middle'
         |         ELSE 'tail' END AS bucket,
         |    CASE WHEN n_chars >= b2 THEN 1.6
         |         WHEN n_chars >= b1 THEN 1.0
         |         ELSE 0.4 END AS w,
         |    CASE WHEN n_chars >= b2 THEN 1
         |         WHEN n_chars >= b1 THEN 1 ELSE 0 END AS base,
         |    CASE WHEN n_chars >= b2 THEN 600000
         |         WHEN n_chars >= b1 THEN 0 ELSE 400000 END AS frac_k,
         |    ${TextAnalysis.md5IntSql(
               "'epoch0:' || CAST(doc_id AS VARCHAR)")} % 1000000 AS resid_k
         |  FROM documents, b),
         |k AS (
         |  SELECT doc_id, source, bucket, w,
         |    CAST(base + CASE WHEN resid_k < frac_k
         |      THEN 1 ELSE 0 END AS INT) AS n_copies
         |  FROM c)
         |SELECT doc_id, source, bucket, w, n_copies,
         |  CAST(unnest(range(1, n_copies + 1)) AS INT) AS copy_id
         |FROM k ORDER BY doc_id, copy_id""".stripMargin,

    // same per-source ranking (doc_id tiebreak) + same-rank mean map
    "q181_quantile_normalize" ->
      """WITH r AS (
        |  SELECT doc_id, source, n_chars,
        |    ROW_NUMBER() OVER (PARTITION BY source
        |      ORDER BY n_chars, doc_id) AS rk
        |  FROM documents),
        |m AS (
        |  SELECT rk, ROUND(AVG(n_chars), 6) AS calibrated
        |  FROM r GROUP BY rk)
        |SELECT r.doc_id, r.source, r.n_chars, CAST(r.rk AS INT) AS rk,
        |  m.calibrated
        |FROM r JOIN m USING (rk) ORDER BY doc_id""".stripMargin,

    // q229: identical integer-exact rank-sum — cum runs over the same
    // ≤1001-row score histogram (a window here; the engine uses the
    // collapsed-array fold), 2×AUC numerator stays integral
    "q229_auc_calibration" -> {
      val stops = "('the','a','of','and','to','in','is')"
      val tokensSql = TextAnalysis.tokensSql
      s"""WITH t AS (
         |  SELECT CAST((1000 * CAST(len(list_filter(ts,
         |      t -> t IN $stops)) AS BIGINT)) // len(ts) AS INT) AS sm,
         |    CASE WHEN list_contains(ts, 'dup') THEN 1 ELSE 0 END AS lab
         |  FROM (SELECT $tokensSql AS ts FROM documents) z
         |  WHERE len(ts) > 0),
         |g AS (
         |  SELECT sm, SUM(lab) AS np, COUNT(*) - SUM(lab) AS nn
         |  FROM t GROUP BY sm),
         |c AS (
         |  SELECT sm, np, nn,
         |    COALESCE(SUM(nn) OVER (ORDER BY sm
         |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cum
         |  FROM g),
         |a AS (
         |  SELECT ROUND(CAST(SUM(np * (2 * cum + nn)) AS DOUBLE) /
         |    (2.0 * SUM(np) * SUM(nn)), 6) AS auc FROM c),
         |b AS (
         |  SELECT sm // 100 AS bin, CAST(COUNT(*) AS INT) AS n,
         |    SUM(lab) AS npos, SUM(sm) AS sum_sm
         |  FROM t GROUP BY 1)
         |SELECT CAST(bin AS INT) AS bin, n,
         |  ROUND(CAST(npos AS DOUBLE) / n, 6) AS pos_rate,
         |  ROUND(CAST(sum_sm AS DOUBLE) / (1000.0 * n), 6) AS avg_score,
         |  a.auc AS auc
         |FROM b, a ORDER BY bin""".stripMargin
    },

    // q263: the same minimax over the same exact-integer cumulative
    // sums, spelled as bounded self-joins over the ≤11-row bin grid
    // (cum-through-(j-1) = cum(j) − own(j) on both engines) — every
    // candidate ratio is the identical single double division, so
    // MIN/MAX pick identical winners
    "q263_isotonic_calibration" -> {
      val stops = "('the','a','of','and','to','in','is')"
      val tokensSql = TextAnalysis.tokensSql
      s"""WITH t AS (
         |  SELECT CAST((1000 * CAST(len(list_filter(ts,
         |      t -> t IN $stops)) AS BIGINT)) // len(ts) AS INT) AS sm,
         |    CASE WHEN list_contains(ts, 'dup') THEN 1 ELSE 0 END AS lab
         |  FROM (SELECT $tokensSql AS ts FROM documents) z
         |  WHERE len(ts) > 0),
         |b AS (
         |  SELECT sm // 100 AS bin, COUNT(*) AS n, SUM(lab) AS np
         |  FROM t GROUP BY 1),
         |c AS (
         |  SELECT bin, n, np,
         |    SUM(n) OVER (ORDER BY bin) AS cn,
         |    SUM(np) OVER (ORDER BY bin) AS cp,
         |    ROW_NUMBER() OVER (ORDER BY bin) AS i
         |  FROM b),
         |r AS (
         |  SELECT cj.i AS j, ck.i AS k,
         |    CAST(ck.cp - (cj.cp - cj.np) AS DOUBLE) /
         |    CAST(ck.cn - (cj.cn - cj.n) AS DOUBLE) AS ratio
         |  FROM c cj JOIN c ck ON ck.i >= cj.i),
         |mn AS (
         |  SELECT ci.i AS i, r.j AS j, MIN(r.ratio) AS mnr
         |  FROM c ci JOIN r ON r.j <= ci.i AND r.k >= ci.i
         |  GROUP BY ci.i, r.j),
         |f AS (SELECT i, MAX(mnr) AS fit FROM mn GROUP BY i)
         |SELECT CAST(c.bin AS INT) AS bin, CAST(c.n AS INT) AS n,
         |  ROUND(CAST(c.np AS DOUBLE) / c.n, 6) AS pos_rate,
         |  ROUND(f.fit, 6) AS iso_rate
         |FROM c JOIN f USING (i) ORDER BY c.bin""".stripMargin
    },

    // q230: same train carve, same count ratios, same CASE ladder —
    // the only floats are the per-level ratios (identical IEEE ops)
    // and the per-doc AVG of logs (q166's precedent: 6dp rounding
    // absorbs summation-order ulp drift)
    "q230_backoff_trigram_lm" ->
      s"""WITH tk AS (
         |  SELECT doc_id, $alphaTokensSql AS ts FROM documents),
         |tr AS (SELECT ts FROM tk WHERE doc_id % 5 <> 0),
         |tri AS (
         |  SELECT w1, w2, w3, COUNT(*) AS tc FROM (
         |    SELECT unnest(list_slice(ts, 1, len(ts) - 2)) AS w1,
         |           unnest(list_slice(ts, 2, len(ts) - 1)) AS w2,
         |           unnest(list_slice(ts, 3, len(ts))) AS w3
         |    FROM tr WHERE len(ts) >= 3) GROUP BY 1, 2, 3),
         |bi AS (
         |  SELECT w1, w2, COUNT(*) AS bc FROM (
         |    SELECT unnest(list_slice(ts, 1, len(ts) - 1)) AS w1,
         |           unnest(list_slice(ts, 2, len(ts))) AS w2
         |    FROM tr WHERE len(ts) >= 2) GROUP BY 1, 2),
         |uni AS (SELECT w, COUNT(*) AS uc
         |        FROM (SELECT unnest(ts) AS w FROM tr) GROUP BY 1),
         |tot AS (SELECT SUM(uc) AS n FROM uni),
         |pos AS (
         |  SELECT doc_id,
         |    unnest(list_slice(ts, 1, len(ts) - 2)) AS w1,
         |    unnest(list_slice(ts, 2, len(ts) - 1)) AS w2,
         |    unnest(list_slice(ts, 3, len(ts))) AS w3
         |  FROM tk WHERE doc_id % 5 = 0 AND len(ts) >= 3),
         |j AS (
         |  SELECT p.doc_id,
         |    CASE WHEN t.tc IS NOT NULL THEN 'tri'
         |         WHEN b2.bc IS NOT NULL THEN 'bi'
         |         WHEN u3.uc IS NOT NULL THEN 'uni' ELSE 'oov' END AS branch,
         |    CASE WHEN t.tc IS NOT NULL THEN CAST(t.tc AS DOUBLE) / bx.bc
         |         WHEN b2.bc IS NOT NULL
         |           THEN 0.4 * (CAST(b2.bc AS DOUBLE) / u2.uc)
         |         WHEN u3.uc IS NOT NULL
         |           THEN 0.16 * (CAST(u3.uc AS DOUBLE) / tot.n)
         |         ELSE 0.064 / tot.n END AS sc
         |  FROM pos p
         |  LEFT JOIN tri t ON t.w1 = p.w1 AND t.w2 = p.w2 AND t.w3 = p.w3
         |  LEFT JOIN bi bx ON bx.w1 = p.w1 AND bx.w2 = p.w2
         |  LEFT JOIN bi b2 ON b2.w1 = p.w2 AND b2.w2 = p.w3
         |  LEFT JOIN uni u2 ON u2.w = p.w2
         |  LEFT JOIN uni u3 ON u3.w = p.w3
         |  CROSS JOIN tot)
         |SELECT doc_id, CAST(COUNT(*) AS INT) AS n_scored,
         |  CAST(SUM(CASE WHEN branch = 'tri' THEN 1 ELSE 0 END) AS INT)
         |    AS n_tri,
         |  CAST(SUM(CASE WHEN branch = 'bi' THEN 1 ELSE 0 END) AS INT)
         |    AS n_bi,
         |  CAST(SUM(CASE WHEN branch IN ('uni', 'oov') THEN 1 ELSE 0 END)
         |    AS INT) AS n_uni,
         |  ROUND(AVG(ln(sc)), 6) AS avg_logs
         |FROM j GROUP BY doc_id ORDER BY doc_id""".stripMargin,

    // q231: identical md5-millionths CDF ladder, identical integer
    // replicate sums; the only doubles are the final ratio and the
    // two order statistics
    "q231_bootstrap_ci" -> {
      val u = TextAnalysis.md5IntSql("'bs' || r || ':' || doc_id")
      s"""WITH draws AS (
         |  SELECT source, doc_id, n_chars, unnest(range(1, 21)) AS r
         |  FROM documents),
         |ku AS (
         |  SELECT source, r, n_chars, $u % 1000000 AS u FROM draws),
         |kk AS (
         |  SELECT source, r, n_chars,
         |    CASE WHEN u < 367879 THEN 0 WHEN u < 735759 THEN 1
         |         WHEN u < 919699 THEN 2 WHEN u < 981012 THEN 3
         |         WHEN u < 996340 THEN 4 WHEN u < 999406 THEN 5
         |         WHEN u < 999917 THEN 6 ELSE 7 END AS k
         |  FROM ku),
         |m AS (
         |  SELECT source, r,
         |    CASE WHEN SUM(k) = 0 THEN NULL
         |      ELSE CAST(SUM(k * n_chars) AS DOUBLE) / SUM(k) END AS m
         |  FROM kk GROUP BY source, r),
         |c AS (
         |  SELECT source, list_sort(list(m)) AS ms
         |  FROM m WHERE m IS NOT NULL GROUP BY source),
         |b AS (
         |  SELECT source, CAST(COUNT(*) AS INT) AS n,
         |    ROUND(CAST(SUM(n_chars) AS DOUBLE) / COUNT(*), 6)
         |      AS mean_chars
         |  FROM documents GROUP BY source)
         |SELECT b.source, b.n, b.mean_chars,
         |  ROUND(ms[2], 6) AS ci_lo, ROUND(ms[19], 6) AS ci_hi
         |FROM b JOIN c ON b.source = c.source ORDER BY b.source""".stripMargin
    },

    // q232: identical BIGINT sufficient statistics; the three final
    // ratios are the only doubles, written with matching association
    "q232_ols_trend" ->
      s"""WITH t AS (
         |  SELECT source, n_chars AS x,
         |    CAST(len($alphaTokensSql) AS BIGINT) AS y
         |  FROM documents),
         |g AS (
         |  SELECT source, COUNT(*) AS n, SUM(x) AS sx, SUM(y) AS sy,
         |    SUM(x * x) AS sxx_, SUM(y * y) AS syy_, SUM(x * y) AS sxy_
         |  FROM t GROUP BY source),
         |m AS (
         |  SELECT source, n,
         |    CAST(n * sxx_ - sx * sx AS BIGINT) AS sxx,
         |    CAST(n * syy_ - sy * sy AS BIGINT) AS syy,
         |    CAST(n * sxy_ - sx * sy AS BIGINT) AS sxy,
         |    sx, sy
         |  FROM g)
         |SELECT source, CAST(n AS INT) AS n,
         |  CASE WHEN sxx = 0 THEN NULL
         |    ELSE ROUND(CAST(sxy AS DOUBLE) / sxx, 6) END AS slope,
         |  CASE WHEN sxx = 0 THEN NULL
         |    ELSE ROUND((CAST(sy AS DOUBLE) -
         |      (CAST(sxy AS DOUBLE) / sxx) * sx) / n, 6) END AS intercept,
         |  CASE WHEN sxx = 0 OR syy = 0 THEN NULL
         |    ELSE ROUND((CAST(sxy AS DOUBLE) * sxy) /
         |      (CAST(sxx AS DOUBLE) * syy), 6) END AS r2
         |FROM m ORDER BY source""".stripMargin,

    // q233: same margins, same χ² association order; rank is a plain
    // window here (the engine uses the heap top-k aggregate), ordered
    // by the ROUNDED χ² then term, both descending
    "q233_chi2_terms" ->
      s"""WITH tok AS (
         |  SELECT source, unnest($alphaTokensSql) AS term FROM documents),
         |cell AS (
         |  SELECT source, term, COUNT(*) AS o11 FROM tok GROUP BY 1, 2),
         |bys AS (SELECT source, SUM(o11) AS ts FROM cell GROUP BY 1),
         |byt AS (SELECT term, SUM(o11) AS tt FROM cell GROUP BY 1),
         |tot AS (SELECT SUM(o11) AS n FROM cell),
         |sc AS (
         |  SELECT source, term, o11,
         |    ROUND(CAST(n AS DOUBLE) * (d1 * d1) /
         |      (((CAST(ts AS DOUBLE) * tt) * (CAST(n AS DOUBLE) - ts)) *
         |        (CAST(n AS DOUBLE) - tt)), 6) AS chi2
         |  FROM (
         |    SELECT c.source, c.term, c.o11, bys.ts, byt.tt, tot.n,
         |      CAST(c.o11 AS DOUBLE) * (tot.n - bys.ts - byt.tt + c.o11) -
         |        CAST(byt.tt - c.o11 AS DOUBLE) * (bys.ts - c.o11) AS d1
         |    FROM cell c JOIN bys USING (source) JOIN byt USING (term)
         |    CROSS JOIN tot)),
         |r AS (
         |  SELECT source, term, o11, chi2,
         |    ROW_NUMBER() OVER (PARTITION BY source
         |      ORDER BY chi2 DESC, term DESC) AS rn
         |  FROM sc)
         |SELECT source, CAST(rn AS INT) AS rn, term,
         |  CAST(o11 AS INT) AS n_in_source, chi2
         |FROM r WHERE rn <= 5 ORDER BY source, rn""".stripMargin,

    // q234: same md5 weights, arg_max twin of max_by; movement
    // booleans are integer compares
    "q234_rendezvous_shard" -> {
      val h = TextAnalysis.md5IntSql("'hrw:' || s || ':' || doc_id")
      s"""WITH e AS (
         |  SELECT doc_id, unnest(range(0, 8)) AS s FROM documents),
         |h AS (SELECT doc_id, s, $h AS h FROM e),
         |a AS (
         |  SELECT doc_id, arg_max(s, h) AS hrw8,
         |    arg_max(s, h) FILTER (WHERE s < 7) AS hrw7
         |  FROM h GROUP BY doc_id),
         |am AS (
         |  SELECT doc_id, hrw8, hrw7, doc_id % 8 AS mod8,
         |    doc_id % 7 AS mod7
         |  FROM a),
         |g1 AS (
         |  SELECT hrw8 AS shard, CAST(COUNT(*) AS INT) AS n_hrw,
         |    CAST(SUM(CASE WHEN hrw8 <> hrw7 THEN 1 ELSE 0 END) AS INT)
         |      AS moved_hrw
         |  FROM am GROUP BY 1),
         |g2 AS (
         |  SELECT mod8 AS shard, CAST(COUNT(*) AS INT) AS n_mod,
         |    CAST(SUM(CASE WHEN mod8 <> mod7 THEN 1 ELSE 0 END) AS INT)
         |      AS moved_mod
         |  FROM am GROUP BY 1)
         |SELECT CAST(g1.shard AS INT) AS shard, n_hrw, moved_hrw,
         |  n_mod, moved_mod
         |FROM g1 JOIN g2 ON g1.shard = g2.shard
         |ORDER BY shard""".stripMargin
    },

    // q235: identical pooled-z association; significance on the
    // rounded z
    "q235_ab_proportion_test" ->
      """WITH t AS (
        |  SELECT user_id % 2 AS variant,
        |    CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS conv
        |  FROM events),
        |g AS (
        |  SELECT
        |    SUM(CASE WHEN variant = 0 THEN 1 ELSE 0 END) AS n0,
        |    SUM(CASE WHEN variant = 0 THEN conv ELSE 0 END) AS c0,
        |    SUM(CASE WHEN variant = 1 THEN 1 ELSE 0 END) AS n1,
        |    SUM(CASE WHEN variant = 1 THEN conv ELSE 0 END) AS c1
        |  FROM t),
        |z AS (
        |  SELECT n0, c0, n1, c1,
        |    CAST(c0 AS DOUBLE) / n0 AS p0,
        |    CAST(c1 AS DOUBLE) / n1 AS p1,
        |    (CAST(c0 AS DOUBLE) + c1) / (n0 + n1) AS pp
        |  FROM g)
        |SELECT CAST(n0 AS INT) AS n0, CAST(c0 AS INT) AS c0,
        |  CAST(n1 AS INT) AS n1, CAST(c1 AS INT) AS c1,
        |  ROUND(p0, 6) AS p0, ROUND(p1, 6) AS p1,
        |  ROUND((p1 - p0) / sqrt((pp * (CAST(1 AS DOUBLE) - pp)) *
        |    (CAST(1 AS DOUBLE) / n0 + CAST(1 AS DOUBLE) / n1)), 6) AS z,
        |  ABS(ROUND((p1 - p0) / sqrt((pp * (CAST(1 AS DOUBLE) - pp)) *
        |    (CAST(1 AS DOUBLE) / n0 + CAST(1 AS DOUBLE) / n1)), 6)) > 1.96
        |    AS significant
        |FROM z""".stripMargin,

    // q238: the oracle is the NAIVE O(N²) dominance anti-join — the
    // definition itself — proving the two-phase cumulative-max
    // formulation exact; same 6dp-rounded quality on both sides
    "q238_skyline" ->
      """WITH scored AS (
        |  SELECT doc_id, n_chars,
        |    ROUND(LEAST(n_chars / 500.0, 1.0) * 0.5 +
        |      (1.0 - CAST(len(list_filter(
        |          list_filter(string_split_regex(text, '\s+'), t -> t <> ''),
        |          t -> t IN ('the','a','of','and','to','in','is')))
        |        AS DOUBLE)
        |       / len(list_filter(string_split_regex(text, '\s+'),
        |           t -> t <> ''))) * 0.5, 6) AS q
        |  FROM documents
        |  WHERE len(list_filter(string_split_regex(text, '\s+'),
        |    t -> t <> '')) > 0)
        |SELECT a.doc_id, a.n_chars, a.q AS quality
        |FROM scored a
        |WHERE NOT EXISTS (SELECT 1 FROM scored b
        |  WHERE b.n_chars <= a.n_chars AND b.q >= a.q
        |    AND (b.n_chars < a.n_chars OR b.q > a.q))
        |ORDER BY a.n_chars, a.doc_id""".stripMargin,

    // q239: same integer `//` bins from exact column min/max (the
    // parquet footer stats ARE the exact min/max for int64), same
    // add-half smoothing, each contribution one IEEE expression
    "q239_psi_drift" ->
      """WITH mm AS (
        |  SELECT MIN(n_chars) AS mn, MAX(n_chars) - MIN(n_chars) + 1 AS span
        |  FROM documents),
        |b AS (
        |  SELECT CAST((n_chars - mm.mn) * 10 // mm.span AS INT) AS bin,
        |    doc_id % 2 = 0 AS is_ref
        |  FROM documents, mm),
        |c AS (
        |  SELECT bin,
        |    SUM(CASE WHEN is_ref THEN 1 ELSE 0 END) AS n_ref,
        |    SUM(CASE WHEN is_ref THEN 0 ELSE 1 END) AS n_cur
        |  FROM b GROUP BY bin),
        |t AS (SELECT SUM(n_ref) AS t_ref, SUM(n_cur) AS t_cur FROM c)
        |SELECT bin, CAST(n_ref AS INT) AS n_ref, CAST(n_cur AS INT) AS n_cur,
        |  ROUND((n_ref + 0.5) / (t_ref + 5.0), 6) AS p_ref,
        |  ROUND((n_cur + 0.5) / (t_cur + 5.0), 6) AS p_cur,
        |  ROUND(((n_cur + 0.5) / (t_cur + 5.0) -
        |         (n_ref + 0.5) / (t_ref + 5.0)) *
        |    LN(((n_cur + 0.5) / (t_cur + 5.0)) /
        |       ((n_ref + 0.5) / (t_ref + 5.0))), 6) AS psi_contrib
        |FROM c, t ORDER BY bin""".stripMargin,

    // q240: same conditional term counts, same add-1 union-vocab
    // smoothing, rank on the ROUNDED contribution
    // q276: identical smoothed models and ln association (q240's
    // parity precedent); the global total is the same order-free
    // DECIMAL(18,6) sum of the 6dp-rounded contributions
    "q276_js_divergence" -> {
      val P = "(CAST(c_ref + 1 AS DOUBLE) / (t_ref + v))"
      val Q = "(CAST(c_cur + 1 AS DOUBLE) / (t_cur + v))"
      val M = s"(($P + $Q) / 2.0)"
      s"""WITH tk AS (
         |  SELECT doc_id % 2 = 0 AS is_ref, unnest($alphaTokensSql) AS term
         |  FROM documents),
         |c AS (
         |  SELECT term,
         |    SUM(CASE WHEN is_ref THEN 1 ELSE 0 END) AS c_ref,
         |    SUM(CASE WHEN is_ref THEN 0 ELSE 1 END) AS c_cur
         |  FROM tk GROUP BY term),
         |t AS (SELECT SUM(c_ref) AS t_ref, SUM(c_cur) AS t_cur,
         |        COUNT(*) AS v FROM c),
         |s AS (
         |  SELECT term, CAST(c_ref AS INT) AS c_ref,
         |    CAST(c_cur AS INT) AS c_cur,
         |    ROUND(0.5 * ($P * LN($P / $M)) +
         |          0.5 * ($Q * LN($Q / $M)), 6) AS js_contrib
         |  FROM c, t),
         |g AS (SELECT SUM(CAST(js_contrib AS DECIMAL(18,6))) AS t FROM s)
         |SELECT s.term, s.c_ref, s.c_cur, s.js_contrib,
         |  ROUND(CAST(g.t AS DOUBLE), 6) AS jsd_total
         |FROM s CROSS JOIN g
         |ORDER BY s.js_contrib DESC, s.term LIMIT 10""".stripMargin
    },

    "q240_term_kl_drift" -> s"""
        |WITH tk AS (
        |  SELECT doc_id % 2 = 0 AS is_ref, unnest($alphaTokensSql) AS term
        |  FROM documents),
        |c AS (
        |  SELECT term,
        |    SUM(CASE WHEN is_ref THEN 1 ELSE 0 END) AS c_ref,
        |    SUM(CASE WHEN is_ref THEN 0 ELSE 1 END) AS c_cur
        |  FROM tk GROUP BY term),
        |t AS (SELECT SUM(c_ref) AS t_ref, SUM(c_cur) AS t_cur,
        |        COUNT(*) AS v FROM c),
        |s AS (
        |  SELECT term, CAST(c_ref AS INT) AS c_ref,
        |    CAST(c_cur AS INT) AS c_cur,
        |    ROUND(CAST(c_ref + 1 AS DOUBLE) / (t_ref + v), 6) AS p_ref,
        |    ROUND(CAST(c_cur + 1 AS DOUBLE) / (t_cur + v), 6) AS p_cur,
        |    ROUND(CAST(c_ref + 1 AS DOUBLE) / (t_ref + v) *
        |      LN((CAST(c_ref + 1 AS DOUBLE) / (t_ref + v)) /
        |         (CAST(c_cur + 1 AS DOUBLE) / (t_cur + v))), 6) AS kl_contrib
        |  FROM c, t)
        |SELECT term, c_ref, c_cur, p_ref, p_cur, kl_contrib FROM s
        |ORDER BY ABS(kl_contrib) DESC, term LIMIT 15""".stripMargin,

    // q245: HUGEINT power sums (the engine's DECIMAL(38,0) twin —
    // both exact integers, both round-to-nearest on the final double
    // cast), identical A2/A3/A4 integer algebra, sqrt not pow
    "q245_higher_moments" ->
      """WITH g AS (
        |  SELECT source, CAST(COUNT(*) AS HUGEINT) AS n,
        |    SUM(CAST(n_chars AS HUGEINT)) AS s1,
        |    SUM(CAST(n_chars AS HUGEINT) * n_chars) AS s2,
        |    SUM(CAST(n_chars AS HUGEINT) * n_chars * n_chars) AS s3,
        |    SUM(CAST(n_chars AS HUGEINT) * n_chars * n_chars * n_chars)
        |      AS s4
        |  FROM documents GROUP BY source),
        |a AS (
        |  SELECT source, n, s1,
        |    CAST(n * s2 - s1 * s1 AS DOUBLE) AS a2,
        |    CAST(n * n * s3 - 3 * n * s1 * s2 + 2 * s1 * s1 * s1
        |      AS DOUBLE) AS a3,
        |    CAST(n * n * n * s4 - 4 * n * n * s1 * s3 +
        |      6 * n * s1 * s1 * s2 - 3 * s1 * s1 * s1 * s1
        |      AS DOUBLE) AS a4
        |  FROM g)
        |SELECT source, CAST(n AS INT) AS n,
        |  ROUND(CAST(s1 AS DOUBLE) / CAST(n AS DOUBLE), 6) AS mean_chars,
        |  ROUND(a3 / (a2 * sqrt(a2)), 6) AS skewness,
        |  ROUND(a4 / (a2 * a2) - 3.0, 6) AS kurtosis_excess
        |FROM a ORDER BY source""".stripMargin,

    // q253: identical Wilson arithmetic (3.8416 inlined, same
    // association), ranks on the rounded bound
    "q253_wilson_ranking" ->
      """WITH g AS (
        |  SELECT CAST(user_id % 8 AS INT) AS cohort, COUNT(*) AS n,
        |    SUM(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS s
        |  FROM events GROUP BY 1),
        |w AS (
        |  SELECT cohort, CAST(n AS INT) AS n, CAST(s AS INT) AS s,
        |    ROUND(CAST(s AS DOUBLE) / n, 6) AS p,
        |    ROUND((CAST(s AS DOUBLE) / n + 3.8416 / (2.0 * n) -
        |      1.96 * sqrt(CAST(s AS DOUBLE) / n *
        |        (1.0 - CAST(s AS DOUBLE) / n) / n +
        |        3.8416 / (4.0 * n * n))) /
        |      (1.0 + 3.8416 / n), 6) AS wilson_lb
        |  FROM g)
        |SELECT cohort, n, s, p, wilson_lb,
        |  CAST(ROW_NUMBER() OVER (ORDER BY p DESC, cohort) AS INT)
        |    AS rank_raw,
        |  CAST(ROW_NUMBER() OVER (ORDER BY wilson_lb DESC, cohort) AS INT)
        |    AS rank_wilson
        |FROM w ORDER BY cohort""".stripMargin,

    // q252: exact rolling distinct per (type, window-end day) — the
    // re-aggregation the sketches avoid; within_bounds pinned true (at
    // 2× the 99%-confidence width a miss means a broken union, not
    // sampling noise)
    "q252_rolling_distinct_sketch" ->
      """WITH ev AS (
        |  SELECT event_type, epoch_ns(ts)//1000 // 86400000000 AS day,
        |    user_id
        |  FROM events),
        |days AS (SELECT DISTINCT event_type, day FROM ev)
        |SELECT d.event_type, d.day,
        |  (SELECT COUNT(DISTINCT e.user_id) FROM ev e
        |   WHERE e.event_type = d.event_type
        |     AND e.day BETWEEN d.day - 2 AND d.day) AS n_exact,
        |  TRUE AS within_bounds
        |FROM days d ORDER BY d.event_type, d.day""".stripMargin,

    // q247: the naive global-sort selection at the SAME exact integer
    // per-mille ranks — proving the bucket descent picks the identical
    // order statistic
    "q247_exact_rank_select" ->
      """WITH vv AS (SELECT n_chars AS v FROM documents),
        |n AS (SELECT COUNT(*) AS n FROM vv),
        |t(tag, qpm) AS (VALUES ('p50', 500), ('p95', 950), ('p999', 999)),
        |r AS (SELECT tag, (qpm * n.n + 999) // 1000 AS rank FROM t, n),
        |s AS (SELECT v, ROW_NUMBER() OVER (ORDER BY v) AS rn FROM vv)
        |SELECT r.tag, CAST(r.rank AS BIGINT) AS rank, s.v AS value
        |FROM r JOIN s ON s.rn = r.rank
        |ORDER BY tag""".stripMargin,

    // q241: identical md5-millionths uniform + inverse-CDF Laplace —
    // a pure function of the group key, bit-identical on both engines
    "q241_dp_counts" -> {
      val mSql = TextAnalysis.md5IntSql("'dp1:' || source || ':' || lang") +
        " % 1000000"
      s"""WITH g AS (
         |  SELECT source, lang, COUNT(*) AS n_true FROM documents
         |  GROUP BY source, lang),
         |u AS (
         |  SELECT source, lang, n_true,
         |    (CAST($mSql AS DOUBLE) + 0.5) / 1000000.0 AS u
         |  FROM g)
         |SELECT source, lang, CAST(n_true AS INT) AS n_true,
         |  ROUND(n_true + (-SIGN(u - 0.5) *
         |    LN(CAST(1 AS DOUBLE) - CAST(2 AS DOUBLE) * ABS(u - 0.5))), 6)
         |    AS n_noisy
         |FROM u ORDER BY source, lang""".stripMargin
    }
  )
}
