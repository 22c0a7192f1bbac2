package graft.llm

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.{QueryModule, Tables}

/** Statistical-analysis operators over the events stream: survival
  * analysis (Kaplan–Meier), time-series diagnostics, and resampling
  * inference. Each query's corpus-sized work is ONE aggregation whose
  * output is bounded by a calendar/domain constant (days, lags,
  * cohorts) — the q251 shape — so the sequential statistical
  * recursion that follows runs over a model-sized array, never a fat
  * window partition, and the DuckDB twin replays the identical
  * IEEE-double recursion (same association order, rounded once at the
  * output boundary).
  */
object StatsOps extends QueryModule {

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(

    // Kaplan–Meier survival estimator (JASA 1958) — the
    // censoring-aware churn curve: per user, observation = days from
    // first to last event; users still active in the study's final
    // 2 days are right-CENSORED (their true lifetime exceeds what we
    // saw), everyone else churned at their last activity. S(t) is the
    // product-limit Π_{t_i ≤ t} (1 − d_i / n_i) over the distinct
    // duration days — naive "avg lifetime of churned users" both
    // underestimates (drops censored evidence) and biases (censored
    // users are the longest-lived); KM prices the at-risk set in.
    // Plan shape: the only corpus-sized pass is the per-user min/max
    // aggregation; durations then collapse to ≤ |study-days| rows (a
    // calendar constant whatever the event volume, q251's argument),
    // and the risk-set recursion n_{k+1} = n_k − d_k − c_k with the
    // running product runs as ONE ordered-array fold — no
    // partition-less window, no driver loop. The oracle replays the
    // identical left-to-right double recursion as a recursive CTE, so
    // s agrees bit-for-bit before the 6dp output rounding.
    "q255_kaplan_meier" -> ((s, d) => {
      val perUser = Tables.eventsUs(s, d)
        .groupBy(col("user_id"))
        .agg(min(col("ts_us")).as("fs"), max(col("ts_us")).as("ls"))
        .select(expr("(ls - fs) div 86400000000").as("dur"),
          expr("ls div 86400000000").as("last_day"))
      val g = perUser.crossJoin(broadcast(
          perUser.agg(max(col("last_day")).as("gmax"))))
        .select(col("dur"),
          (col("last_day") < col("gmax") - 2).as("observed"))
        .groupBy(col("dur"))
        .agg(sum(when(col("observed"), 1L).otherwise(0L)).as("d_cnt"),
          sum(when(col("observed"), 0L).otherwise(1L)).as("c_cnt"))
      g.agg(array_sort(collect_list(struct(col("dur"), col("d_cnt"),
          col("c_cnt")))).as("arr"))
        .withColumn("rows", expr(
          """aggregate(arr,
            |  named_struct(
            |    'n', cast(aggregate(arr, 0L,
            |           (a, x) -> a + x.d_cnt + x.c_cnt) as double),
            |    's', cast(1.0 as double),
            |    'out', cast(array() as
            |      array<struct<t:int,n_risk:int,d:int,c:int,surv:double>>)),
            |  (acc, x) -> named_struct(
            |    'n', acc.n - x.d_cnt - x.c_cnt,
            |    's', acc.s * (cast(1.0 as double)
            |                  - cast(x.d_cnt as double) / acc.n),
            |    'out', concat(acc.out, array(named_struct(
            |      't', cast(x.dur as int),
            |      'n_risk', cast(acc.n as int),
            |      'd', cast(x.d_cnt as int),
            |      'c', cast(x.c_cnt as int),
            |      'surv', acc.s * (cast(1.0 as double)
            |                       - cast(x.d_cnt as double) / acc.n))))),
            |  acc -> acc.out)""".stripMargin))
        .select(posexplode(col("rows")))
        .select(col("col.t").as("t"), col("col.n_risk").as("n_risk"),
          col("col.d").as("d"), col("col.c").as("c"),
          round(col("col.surv"), 6).as("surv"))
        .orderBy(col("t"))
    }),

    // Autocorrelation diagnostics + Ljung–Box portmanteau test (1978)
    // per event-type daily series — the seasonality/burstiness check a
    // pipeline runs before trusting q174/q251's i.i.d.-ish alarms.
    // ACF at lags 1..3 is computed from EXACT INTEGER sufficient
    // statistics: expanding Σ(x_t−m)(x_{t−k}−m) with m = S/n and
    // multiplying through by n² gives
    //   ρ_k = (n²A_k − nSB_k + (n−k)S²) / (n²Q − nS²)
    // with A_k = Σx_t·x_{t−k}, B_k = Σ(x_t+x_{t−k}), S = Σx, Q = Σx² —
    // every term an exact long (the fixture's magnitudes stay ≤ ~1e11;
    // a 100 TB deployment would widen to decimal128), so each ρ_k is
    // ONE double division of integers agreeing bit-for-bit across
    // engines, in ANY evaluation order. The lag products come from a
    // fold over the day-sorted array (≤ |study-days| entries — q251's
    // bounded-domain argument; day gaps would contract the lag index
    // identically on both engines since both fold the same sorted
    // array). Ljung–Box Q = n(n+2)Σρ_k²/(n−k) is assembled from the
    // 6dp-ROUNDED ρ_k in one shared association order, rounded 4dp
    // before the χ²₃(0.95) = 7.8147 rejection compare.
    "q257_autocorrelation" -> ((s, d) => {
      val daily = Tables.eventsUs(s, d)
        .select(col("event_type"), expr("ts_us div 86400000000").as("day"))
        .groupBy(col("event_type"), col("day"))
        .agg(count(lit(1)).as("cnt"))
      val g = daily.groupBy(col("event_type"))
        .agg(array_sort(collect_list(struct(col("day"), col("cnt"))))
            .as("a"),
          count(lit(1)).as("n"), sum(col("cnt")).as("sx"),
          sum(col("cnt") * col("cnt")).as("qx"))
        // types with fewer days than the max lag + 1: the oracle's
        // inner lag-joins drop them; without this filter Spark's
        // sequence(k+1, n) would step DOWNWARD (default step -1) and
        // read out-of-bounds positions — the q224 guard class
        .filter(col("n") >= 4)
      def lagSums(df: DataFrame, k: Int) = df
        .withColumn(s"a$k", expr(
          s"""aggregate(sequence(${k + 1}, cast(n as int)), 0L,
             |  (acc, i) -> acc + element_at(a, i).cnt
             |              * element_at(a, i - $k).cnt)""".stripMargin))
        .withColumn(s"b$k", expr(
          s"""aggregate(sequence(${k + 1}, cast(n as int)), 0L,
             |  (acc, i) -> acc + element_at(a, i).cnt
             |              + element_at(a, i - $k).cnt)""".stripMargin))
      val withLags = lagSums(lagSums(lagSums(g, 1), 2), 3)
      def acf(k: Int) = round(
        (col("n") * col("n") * col(s"a$k") -
          col("n") * col("sx") * col(s"b$k") +
          (col("n") - k) * col("sx") * col("sx")).cast("double") /
        (col("n") * col("n") * col("qx") -
          col("n") * col("sx") * col("sx")).cast("double"), 6)
      val scored = withLags.select(col("event_type"),
        col("n").cast("int").as("n_days"), col("n"),
        acf(1).as("acf1"), acf(2).as("acf2"), acf(3).as("acf3"))
      val lb = round(col("n").cast("double") * (col("n") + 2) * (
        col("acf1") * col("acf1") / (col("n") - 1) +
        col("acf2") * col("acf2") / (col("n") - 2) +
        col("acf3") * col("acf3") / (col("n") - 3)), 4)
      scored.withColumn("ljung_box", lb)
        .select(col("event_type"), col("n_days"),
          col("acf1"), col("acf2"), col("acf3"), col("ljung_box"),
          (col("ljung_box") > 7.8147).as("white_noise_rejected"))
        .orderBy(col("event_type"))
    }),

    // Kruskal–Wallis H test (1952) for a weekday effect in per-type
    // daily volumes — the k-group nonparametric ANOVA completing the
    // rank-based family (q262 two-group MWU): are Monday's daily
    // counts drawn from the same distribution as Sunday's? Midranks
    // over the daily counts stay EXACT INTEGER via the ×2 trick
    // (2·midrank(v) = 2·cntLess + cntEq + 1, minted from the
    // (type,value) histogram — a bounded calendar-sized grid, the
    // whitelisted q165 window shape), so the per-weekday rank sums
    // R2_w and the tie term T = Σ(t³−t) agree bit-for-bit across
    // engines. H = 12·ΣR_w²/n_w/(N(N+1)) − 3(N+1), tie-corrected by
    // 1−T/(N³−N), is then assembled from SEVEN EXPLICIT pivoted
    // terms in fixed weekday order — no engine-ordered float sum
    // anywhere — and rounded 4dp before the χ²₆(0.95) = 12.5916
    // compare. The uniform fixture showing NO weekday effect is the
    // correct negative.
    "q265_kruskal_wallis" -> ((s, d) => {
      import org.apache.spark.sql.expressions.Window
      val daily = Tables.eventsUs(s, d)
        .select(col("event_type"),
          expr("ts_us div 86400000000").as("day"))
        .groupBy(col("event_type"), col("day"))
        .agg(count(lit(1)).as("cnt"))
      val bv = daily.groupBy(col("event_type"), col("cnt").as("v"))
        .agg(count(lit(1)).as("n_v"))
      val w = Window.partitionBy(col("event_type")).orderBy(col("v"))
        .rowsBetween(Window.unboundedPreceding, -1)
      val cl = bv.withColumn("cum",
          coalesce(sum(col("n_v")).over(w), lit(0L)))
        // fresh attribute ids so the daily⋈histogram join is not a
        // self-referential ambiguity (cl derives from daily)
        .select(col("event_type").as("et"), col("v"),
          col("n_v").as("nv"), col("cum"))
      val mr = daily
        .join(cl, col("event_type") === col("et") &&
          col("cnt") === col("v"))
        .select(col("event_type"),
          pmod(col("day"), lit(7)).cast("int").as("wd"),
          (lit(2L) * col("cum") + col("nv") + 1L).as("m2"))
      val rw = mr.groupBy(col("event_type"), col("wd"))
        .agg(sum(col("m2")).as("r2"), count(lit(1)).as("nw"))
      val aggCols = (0 to 6).flatMap(i => Seq(
        max(when(col("wd") === i, col("r2"))).as(s"r2_$i"),
        max(when(col("wd") === i, col("nw"))).as(s"nw_$i")))
      val piv = rw.groupBy(col("event_type"))
        .agg(aggCols.head, aggCols.tail: _*)
      val st = bv.groupBy(col("event_type")).agg(
        sum(col("n_v")).as("n"),
        sum(col("n_v") * col("n_v") * col("n_v") - col("n_v")).as("tt"))
      // S as seven explicit terms in fixed weekday order — identical
      // association in the oracle's spelled-out sum
      val terms = (0 to 6).map(i =>
        when(coalesce(col(s"nw_$i"), lit(0L)) > 0L,
          (col(s"r2_$i") * col(s"r2_$i")).cast("double") /
            (lit(4L) * col(s"nw_$i")).cast("double"))
          .otherwise(lit(0.0)))
      val sSum = terms.reduce(_ + _)
      val n = col("n")
      val h0 = lit(12.0) * sSum / (n * (n + 1L)).cast("double") -
        (lit(3L) * (n + 1L)).cast("double")
      val h = round(h0 / (lit(1.0) -
        col("tt").cast("double") / (n * n * n - n).cast("double")), 4)
      st.join(piv, "event_type")
        .select(col("event_type"), col("n").cast("int").as("n_days"),
          h.as("h"), (h > 12.5916).as("weekday_effect"))
        .orderBy(col("event_type"))
    }),

    // Gini coefficient + Lorenz decile table of per-user spend
    // concentration (Gini 1912; Lorenz 1905) — the inequality gauge a
    // marketplace/abuse team reads before q209-style quotas: how much
    // of total spend the top deciles hold. The mean-absolute-
    // difference numerator collapses to value-histogram prefix
    // algebra: Σ_pairs |xᵢ−xⱼ| = 2·Σ_v cnt_v·(v·cumN(<v) − cumS(<v)),
    // ALL EXACT LONGS, so G = NG/(n·S) is one double division; Lorenz
    // shares use exact within-group attribution (the poorest r users'
    // spend = cumS(<v) + (r − cumN(<v))·v since a value group is
    // constant). Prefixes are minted with q262's two-phase range
    // buckets (driver-folded exclusive (N,S) offsets + bucket-
    // partitioned window — no partition-less window); the oracle runs
    // the naive global window, indistinguishable by exactness.
    "q277_gini_lorenz" -> ((s, d) => {
      import org.apache.spark.sql.expressions.Window
      val perUser = Tables.events(s, d)
        .select(col("user_id"),
          expr("cast(round(value * 100, 0) as bigint)").as("cents"))
        .groupBy(col("user_id")).agg(sum(col("cents")).as("v"))
      val byVal = perUser.groupBy(col("v")).agg(count(lit(1)).as("cnt"))
        .persist()
      try {
        val mm = byVal.agg(min(col("v")).as("mn"), max(col("v")).as("mx"))
          .head()
        val mn = mm.getAs[Long]("mn"); val mx = mm.getAs[Long]("mx")
        val span = mx - mn + 1
        val withB = byVal.withColumn("b",
          expr(s"CAST((v - ${mn}L) * 64 DIV ${span}L AS INT)"))
        val subs = withB.groupBy(col("b"))
          .agg(sum(col("cnt")).as("nc"),
            sum(col("cnt") * col("v")).as("sc"))
          .orderBy(col("b")).collect()
          .map(r => (r.getAs[Int]("b"), r.getAs[Long]("nc"),
            r.getAs[Long]("sc")))
        val offN = subs.scanLeft(0L)((a, t) => a + t._2)
        val offS = subs.scanLeft(0L)((a, t) => a + t._3)
        import s.implicits._
        val offDf = broadcast(subs.indices
          .map(i => (subs(i)._1, offN(i), offS(i)))
          .toDF("b", "offn", "offs"))
        val w = Window.partitionBy(col("b")).orderBy(col("v"))
          .rowsBetween(Window.unboundedPreceding, -1)
        val scored = withB.join(offDf, "b")
          .select(col("v"), col("cnt"),
            (coalesce(sum(col("cnt")).over(w), lit(0L)) + col("offn"))
              .as("cumn"),
            (coalesce(sum(col("cnt") * col("v")).over(w), lit(0L)) +
              col("offs")).as("cums"))
          .persist() // feeds the Gini aggregate AND the decile rows
        try {
          // the Gini totals ride back into the decile plan as a 1-row
          // broadcast instead of a separate driver round-trip — one
          // action over the persisted histogram instead of two, same
          // long→double arithmetic bit-for-bit
          val gAgg = scored.agg(
            sum(col("cnt") * (col("v") * col("cumn") - col("cums")))
              .as("ng"),
            sum(col("cnt")).as("n"),
            sum(col("cnt") * col("v")).as("s"))
          val rows = scored
            .select(col("v"), col("cnt"), col("cumn"), col("cums"),
              explode(expr("sequence(1, 10)")).as("j"))
            .crossJoin(broadcast(gAgg))
            .withColumn("rj", expr("(j * n + 9) DIV 10"))
            .filter(col("rj") > col("cumn") &&
              col("rj") <= col("cumn") + col("cnt"))
            .select(col("j").cast("int").as("decile"),
              col("rj").as("cum_users"), col("v").as("cutoff_cents"),
              round((col("cums") + (col("rj") - col("cumn")) * col("v"))
                .cast("double") / col("s").cast("double"), 6)
                .as("cum_spend_frac"),
              round(col("ng").cast("double") /
                (col("n") * col("s")).cast("double"), 6)
                .as("gini"))
            .orderBy(col("decile")).collect()
          import scala.jdk.CollectionConverters._
          import org.apache.spark.sql.types._
          s.createDataFrame(rows.toSeq.asJava, StructType(Seq(
              StructField("decile", IntegerType),
              StructField("cum_users", LongType),
              StructField("cutoff_cents", LongType),
              StructField("cum_spend_frac", DoubleType),
              StructField("gini", DoubleType))))
            .orderBy(col("decile"))
        } finally scored.unpersist()
      } finally byVal.unpersist()
    }),

    // Theil–Sen robust trend (Theil 1950; Sen 1968) on per-type daily
    // volumes — the median-of-pairwise-slopes estimator that shrugs
    // off the outlier days that drag q232's least-squares line (29.3%
    // breakdown point vs OLS's zero). The slope population is the
    // ≤C(|days|,2) day-pair grid — a bounded self-join of the daily
    // aggregate, never corpus-sized — and every slope is ONE double
    // division of exact integer differences, so both engines mint
    // identical doubles and sort them identically. The median rule is
    // spelled the same on both sides (average of the two middle
    // ORDER-position slopes, ties on value broken irrelevantly since
    // equal doubles are interchangeable) instead of leaning on either
    // engine's quantile interpolation.
    "q272_theil_sen" -> ((s, d) => {
      val daily = Tables.eventsUs(s, d)
        .select(col("event_type"), expr("ts_us div 86400000000").as("day"))
        .groupBy(col("event_type"), col("day"))
        .agg(count(lit(1)).as("cnt"))
      val b = daily.select(col("event_type").as("et2"),
        col("day").as("day2"), col("cnt").as("cnt2"))
      val slopes = daily.join(b,
          col("event_type") === col("et2") && col("day") < col("day2"))
        .select(col("event_type"),
          ((col("cnt2") - col("cnt")).cast("double") /
            (col("day2") - col("day")).cast("double")).as("slope"))
      slopes.groupBy(col("event_type"))
        .agg(sort_array(collect_list(col("slope"))).as("arr"),
          count(lit(1)).as("m"))
        .select(col("event_type"), col("m").cast("int").as("n_pairs"),
          round((element_at(col("arr"),
              expr("cast((m + 1) div 2 as int)")) +
            element_at(col("arr"),
              expr("cast(m div 2 + 1 as int)"))) / 2.0, 6)
            .as("slope_per_day"))
        .orderBy(col("event_type"))
    }),

    // Two-step HITS (Kleinberg, JACM 1999) over the user↔event-type
    // bipartite graph — mutual reinforcement scoring: a type is
    // authoritative if active users hit it, a user is a strong hub if
    // they hit authoritative types. The alternation h₁ = W·1,
    // a₁ = Wᵀh₁, h₂ = W·a₁, a₂ = Wᵀh₂ runs entirely in EXACT INTEGER
    // arithmetic (weights are event counts, a₀ = 1), so unlike the
    // classic L2-normalized float iteration there is NO
    // accumulation-order parity surface — normalization happens once
    // at the output boundary (a₂/max a₂, one double division). Every
    // matvec is one shuffled groupBy keyed by user or type with the
    // 5-row authority vector broadcast back — the W matrix never
    // materializes beyond the (user, type, w) edge aggregate, which is
    // the 100 TB shape (the fixture's longs would widen to decimal128
    // around 1e18 edge-weight mass). Per-type top hub is an
    // order-independent max_by on exact integers, min-user tiebreak.
    "q260_hits_bipartite" -> ((s, d) => {
      // The edge aggregate W feeds all four matvecs with different
      // column prunings — persisted once (q211/q236's argument: AQE
      // cannot dedupe differently-pruned subtrees), and the
      // |event_types|-row result is materialized before release.
      val w = Tables.events(s, d)
        .groupBy(col("user_id"), col("event_type"))
        .agg(count(lit(1)).as("w")).persist()
      try {
        val h1 = w.groupBy(col("user_id")).agg(sum(col("w")).as("h1"))
        // a1 and a2 are |event_types|-row vectors referenced twice each
        // (a1 feeds h2 AND the output join; a2 feeds its own max AND
        // the output) — truncate them so the corpus-keyed matvec chain
        // behind each runs ONCE, not once per reference (AQE cannot
        // dedupe the differently-pruned subtrees; q243's argument)
        val a1 = w.join(h1, "user_id")
          .groupBy(col("event_type"))
          .agg(sum(col("w") * col("h1")).as("a1"))
          .localCheckpoint()
        val h2 = w.join(broadcast(a1), "event_type")
          .groupBy(col("user_id"))
          .agg(sum(col("w") * col("a1")).as("h2"))
        val wh2 = w.join(h2, "user_id")
        val a2 = wh2.groupBy(col("event_type"))
          .agg(sum(col("w") * col("h2")).as("a2"),
            max(struct(col("h2"), (-col("user_id")).as("nu"))).as("tb"))
          .localCheckpoint()
        val rows = a2
          .crossJoin(broadcast(a2.agg(max(col("a2")).as("mx"))))
          .join(broadcast(a1), "event_type")
          .select(col("event_type"), col("a1"), col("a2"),
            round(col("a2").cast("double") / col("mx").cast("double"), 6)
              .as("auth_norm"),
            (-col("tb.nu")).as("top_hub"),
            col("tb.h2").as("top_hub_score"))
          .orderBy(col("event_type"))
          .collect()
        import scala.jdk.CollectionConverters._
        import org.apache.spark.sql.types._
        s.createDataFrame(rows.toSeq.asJava, StructType(Seq(
          StructField("event_type", StringType),
          StructField("a1", LongType), StructField("a2", LongType),
          StructField("auth_norm", DoubleType),
          StructField("top_hub", LongType),
          StructField("top_hub_score", LongType))))
      } finally w.unpersist()
    }),

    // Mann–Whitney U rank-sum test (1947) on per-user spend between
    // the two A/B variants — the rank-based nonparametric sibling of
    // q235 (normal z) and q261 (permutation): robust to the heavy
    // right tail spend always has. EVERYTHING upstream of one sqrt is
    // EXACT INTEGER: per-user cents (one corpus pass), per-value side
    // counts, then 2·U_a = Σ_v na_v·(2·cb(<v) + nb_v) and the tie term
    // T = Σ(t³−t) — so U and T agree across engines bit-for-bit under
    // ANY evaluation order, and the z-score is a single shared-
    // association expression with the tie-corrected variance
    // na·nb·(n³−n−T)/(12n(n−1)) and a ±1 continuity correction in
    // doubled units. The exclusive prefix cb(<v) is minted WITHOUT a
    // partition-less window: q247's two-phase shape — 64 range buckets
    // from a driver-collected min/max, per-bucket B-side subtotals
    // driver-folded into exclusive offsets (≤64 rows), then a window
    // partitioned by BUCKET (scale-following, never a fixture
    // dimension) adds the within-bucket prefix. The oracle runs the
    // naive global window — same integers by exactness, proving the
    // two-phase descent.
    "q262_mann_whitney_u" -> ((s, d) => {
      val g = mwSuffStats(s, d)
      val n = col("na") + col("nb")
      val num = greatest(abs(col("two_u") - col("na") * col("nb")) -
        lit(1L), lit(0L))
      val z = round(num.cast("double") / (lit(2.0) * sqrt(
        (col("na") * col("nb")).cast("double") *
          (n * n * n - n - col("tie_t")).cast("double") /
          (lit(12L) * n * (n - lit(1L))).cast("double"))), 6)
      g.select(col("na").cast("int").as("n_a"),
        col("nb").cast("int").as("n_b"),
        col("two_u"), col("tie_t"), z.as("z"),
        (z > 1.96).as("reject_95"))
    }),

    // Cliff's delta effect size (Cliff, Psychological Bulletin 1993)
    // between the q262 cohorts — the magnitude companion a significance
    // test needs (with big n, tiny effects reject; δ says HOW
    // separated the groups are): δ = (#(a>b) − #(b>a))/(n_a·n_b),
    // which is EXACTLY (2U_a − n_a·n_b)/(n_a·n_b), so it falls out of
    // the same exact-integer two-phase U machinery with one final
    // division. The magnitude ladder (|δ| < .147 negligible / .33
    // small / .474 medium / else large — Romano et al. 2006) compares
    // on the 6dp-settled value, so both engines bin identically.
    "q341_cliffs_delta" -> ((s, d) => {
      val g = mwSuffStats(s, d)
      val delta = round(
        (col("two_u") - col("na") * col("nb")).cast("double") /
          (col("na") * col("nb")).cast("double"), 6)
      g.select(col("na").cast("int").as("n_a"),
          col("nb").cast("int").as("n_b"), col("two_u"),
          delta.as("delta"))
        .withColumn("magnitude",
          when(abs(col("delta")) < 0.147, "negligible")
            .when(abs(col("delta")) < 0.33, "small")
            .when(abs(col("delta")) < 0.474, "medium")
            .otherwise("large"))
    }),

    // see [[bhFdr]]
    "q342_bh_fdr" -> ((s, d) => bhFdr(s, d)),

    // Jonckheere–Terpstra ordered-alternative trend test (Jonckheere
    // 1954) across weekday groups on daily spend — the ORDERED
    // sibling of q265's Kruskal–Wallis (KW asks "any difference", JT
    // asks "monotone in weekday order", strictly more powerful when
    // the alternative is a trend). 2·JT = Σ over cross-group day
    // pairs of (2·[x₂>x₁] + [x₂=x₁]) is an EXACT INTEGER ledger over
    // the calendar-bounded day-pair grid (q335's join shape); the H₀
    // moments are exact integer polynomials of the group sizes n_g
    // and the pooled TIE-group sizes t_j (the ledger scores ties, so
    // the variance must too — Hollander–Wolfe's corrected form):
    //   μ  = (n² − Σn_g²)/4
    //   σ² = (n(n−1)(2n+5) − Σn_g(n_g−1)(2n_g+5) − Σt(t−1)(2t+5))/72
    //      + Σn_g(n_g−1)(n_g−2)·Σt(t−1)(t−2) / (36n(n−1)(n−2))
    //      + Σn_g(n_g−1)·Σt(t−1) / (8n(n−1));
    // with no ties every t=1, the tie sums vanish and the first term
    // reduces to the familiar (n²(2n+3)−Σn_g²(2n_g+3))/72. All six
    // sums are exact BIGINTs; the z-score is ONE fixed-order float
    // expression of those integers (identical text on both engines).
    "q354_jonckheere" -> ((s, d) => {
      val daily = Tables.eventsUs(s, d)
        .select(expr("ts_us div 86400000000").as("day"),
          expr("cast(round(value * 100, 0) as bigint)").as("cents"))
        .groupBy(col("day"))
        .agg(sum(col("cents")).as("x"))
        .select(col("day"), pmod(col("day"), lit(7)).as("wd"), col("x"))
        .localCheckpoint() // |days| grid: feeds the pair join twice,
                           // the sizes pass and the tie census
      val b = daily.select(col("wd").as("wd2"), col("x").as("x2"))
      val jt2 = daily.join(b, col("wd") < col("wd2"))
        .agg(sum(when(col("x2") > col("x"), 2L)
          .when(col("x2") === col("x"), 1L).otherwise(0L)).as("jt2"))
      val sizes = daily.groupBy(col("wd"))
        .agg(count(lit(1)).as("ng"))
        .agg(sum(col("ng")).as("n"),
          sum(col("ng") * col("ng")).as("sq"),
          sum(col("ng") * (col("ng") - 1) * (lit(2L) * col("ng") + 5L))
            .as("a1"),
          sum(col("ng") * (col("ng") - 1) * (col("ng") - 2)).as("b1"),
          sum(col("ng") * (col("ng") - 1)).as("d1"))
      // pooled tie census: spend sums sharing an exact cent value
      val ties = daily.groupBy(col("x"))
        .agg(count(lit(1)).as("t"))
        .agg(sum(col("t") * (col("t") - 1) * (lit(2L) * col("t") + 5L))
            .as("a2"),
          sum(col("t") * (col("t") - 1) * (col("t") - 2)).as("b2"),
          sum(col("t") * (col("t") - 1)).as("e2"))
      jt2.crossJoin(broadcast(sizes)).crossJoin(broadcast(ties))
        .select(col("n").cast("int").as("n_days"), col("jt2"),
          // 2μ = (n² − Σn_g²)/2 exact (n²−Σn_g² is even: both sides
          // share parity); 72·term₁ exact
          expr("(n * n - sq) div 2").as("two_mu"),
          (col("n") * (col("n") - 1) * (lit(2L) * col("n") + 5L) -
            col("a1") - col("a2")).as("v72"),
          col("b1"), col("b2"), col("d1"), col("e2"), col("n"))
        .select(col("n_days"), col("jt2"), col("two_mu"),
          (round((col("jt2") - col("two_mu")).cast("double") /
            (lit(2.0) * sqrt(
              col("v72").cast("double") / lit(72.0) +
                (col("b1") * col("b2")).cast("double") /
                  (lit(36.0) * col("n") * (col("n") - 1) * (col("n") - 2)) +
                (col("d1") * col("e2")).cast("double") /
                  (lit(8.0) * col("n") * (col("n") - 1)))), 6) + lit(0.0))
            .as("z"))
        .withColumn("monotone_trend", abs(col("z")) > 1.96)
    }),

    // Partial correlation of daily volume and daily revenue
    // CONTROLLING for the linear time trend (r_xy·t) — the spurious-
    // correlation guard: two series that both grow with time correlate
    // even when causally unrelated; partialling out t asks what
    // co-movement remains. The three Pearson r's come from EXACT
    // DECIMAL(38,0) sufficient statistics over the calendar-bounded
    // day grid (q245's cross-multiplied polynomials), each settled at
    // 9dp; the partial formula (r_xy − r_xt·r_yt)/√((1−r_xt²)(1−r_yt²))
    // is one fixed-order float expression of the three settled values.
    "q356_partial_correlation" -> ((s, d) => {
      val dec = "decimal(38,0)"
      val daily = Tables.eventsUs(s, d)
        .select(expr("ts_us div 86400000000").as("t"),
          expr("cast(round(value * 100, 0) as bigint)").as("cents"))
        .groupBy(col("t"))
        .agg(count(lit(1)).as("x"), sum(col("cents")).as("y"))
      val g = daily.agg(count(lit(1)).cast(dec).as("n"),
        sum(col("x").cast(dec)).as("sx"), sum(col("y").cast(dec)).as("sy"),
        sum(col("t").cast(dec)).as("st"),
        sum(col("x").cast(dec) * col("x")).as("sxx"),
        sum(col("y").cast(dec) * col("y")).as("syy"),
        sum(col("t").cast(dec) * col("t")).as("stt"),
        sum(col("x").cast(dec) * col("y")).as("sxy"),
        sum(col("x").cast(dec) * col("t")).as("sxt"),
        sum(col("y").cast(dec) * col("t")).as("syt"))
      def r(sab: String, sa: String, sb: String, saa: String,
          sbb: String) =
        expr(s"""CAST(round(
          |  CAST(n * $sab - $sa * $sb AS DOUBLE) /
          |  (SQRT(CAST(n * $saa - $sa * $sa AS DOUBLE)) *
          |   SQRT(CAST(n * $sbb - $sb * $sb AS DOUBLE))), 9)
          |AS DECIMAL(12,9))""".stripMargin)
      g.select(col("n").cast("int").as("n_days"),
          r("sxy", "sx", "sy", "sxx", "syy").as("r_xy"),
          r("sxt", "sx", "st", "sxx", "stt").as("r_xt"),
          r("syt", "sy", "st", "syy", "stt").as("r_yt"))
        .select(col("n_days"),
          col("r_xy").cast("double").as("r_xy"),
          col("r_xt").cast("double").as("r_xt"),
          col("r_yt").cast("double").as("r_yt"),
          round((col("r_xy").cast("double") -
            col("r_xt").cast("double") * col("r_yt").cast("double")) /
            (sqrt(lit(1.0) - col("r_xt").cast("double") *
              col("r_xt").cast("double")) *
             sqrt(lit(1.0) - col("r_yt").cast("double") *
              col("r_yt").cast("double"))), 6).as("r_xy_given_t"))
    }),

    // QQ drift table between the two spend cohorts (the
    // distribution-level companion to q341's single-number δ and
    // q165's KS): the EXACT order statistic at ranks ⌈p·n⌉ for
    // p ∈ {5%,…,95%} in each cohort, paired by probability. Ranks are
    // exact integers ((p·n+99) div 100), the rank→value lookup rides
    // the two-phase bucketed exclusive prefix (q247/q262's machinery:
    // ≤128 (cohort, bucket) subtotals to the driver, per-bucket
    // windows), and every output is exact integer cents — no float
    // anywhere in this query.
    "q351_qq_drift" -> ((s, d) => {
      import org.apache.spark.sql.expressions.Window
      val perUser = Tables.events(s, d)
        .select(col("user_id"),
          expr("cast(round(value * 100, 0) as bigint)").as("cents"))
        .groupBy(col("user_id"))
        .agg(sum(col("cents")).as("v"))
        .select(col("v"), (col("user_id") % 2 === 0).as("isA"))
      val byVal = perUser.groupBy(col("isA"), col("v"))
        .agg(count(lit(1)).as("c")).persist()
      try {
        val mm = byVal.agg(min(col("v")).as("mn"), max(col("v")).as("mx"))
          .head()
        val mn = mm.getAs[Long]("mn"); val mx = mm.getAs[Long]("mx")
        val span = mx - mn + 1
        val withB = byVal.withColumn("b",
          expr(s"CAST((v - ${mn}L) * 64 DIV ${span}L AS INT)"))
        val subs = withB.groupBy(col("isA"), col("b"))
          .agg(sum(col("c")).as("cs"))
          .orderBy(col("isA"), col("b")).collect()
          .map(r => (r.getAs[Boolean]("isA"), r.getAs[Int]("b"),
            r.getAs[Long]("cs")))
        val offs = subs.groupBy(_._1).toSeq.flatMap { case (_, rows) =>
          var acc = 0L
          rows.sortBy(_._2).toSeq.map { case (sd, b, cs) =>
            val off = acc; acc += cs; (sd, b, off)
          }
        }
        import s.implicits._
        val offDf = broadcast(offs.toDF("isA", "b", "off"))
        val wB = Window.partitionBy(col("isA"), col("b"))
          .orderBy(col("v"))
          .rowsBetween(Window.unboundedPreceding, -1)
        val cum = withB.join(offDf, Seq("isA", "b"))
          .select(col("isA"), col("v"), col("c"),
            (coalesce(sum(col("c")).over(wB), lit(0L)) + col("off"))
              .as("cum"))
        val nAB = byVal.groupBy(col("isA")).agg(sum(col("c")).as("n"))
        val ranks = nAB
          .crossJoin(broadcast(s.range(1, 20)
            .select((col("id") * 5).as("p"))))
          .select(col("isA").as("side"), col("p"),
            expr("(p * n + 99) div 100").as("r"))
        cum.join(broadcast(ranks),
            col("isA") === col("side") &&
              col("cum") < col("r") && col("r") <= col("cum") + col("c"))
          .groupBy(col("p"))
          .agg(max(when(col("isA"), col("v"))).as("q_even_cents"),
            max(when(!col("isA"), col("v"))).as("q_odd_cents"))
          .select(col("p").cast("int").as("p_pct"), col("q_even_cents"),
            col("q_odd_cents"),
            (col("q_even_cents") - col("q_odd_cents")).as("diff_cents"))
          .orderBy(col("p_pct"))
          .localCheckpoint() // 19 rows; release the histogram safely
      } finally byVal.unpersist()
    }),

    // Seasonal-naive forecast backtest scored with MASE (Hyndman &
    // Koehler 2006) — the scale-free forecast-accuracy measure a
    // volume-forecasting pipeline reports instead of raw MAE (which
    // can't compare across series of different magnitude): forecast
    // day t as day t−7's count, score |error| against the one-step
    // naive walk's in-sample MAE. MASE < 1 ⟺ weekly seasonality
    // genuinely predicts — on the uniform fixture it hovers near 1,
    // the honest negative (q265's Kruskal–Wallis agrees). Both error
    // ledgers are EXACT INTEGER sums over positional lags of the
    // day-sorted array (q257's bounded-calendar fold; the oracle
    // re-mints them via ROW_NUMBER self-joins — exactness makes the
    // methods indistinguishable); the only floats are two MAE
    // divisions and their ratio in one shared association order.
    "q271_seasonal_backtest" -> ((s, d) => {
      val daily = Tables.eventsUs(s, d)
        .select(col("event_type"), expr("ts_us div 86400000000").as("day"))
        .groupBy(col("event_type"), col("day"))
        .agg(count(lit(1)).as("cnt"))
      val g = daily.groupBy(col("event_type"))
        .agg(array_sort(collect_list(struct(col("day"), col("cnt"))))
          .as("a"), count(lit(1)).as("n"))
        // < 8 days: oracle's lag-7 inner join drops the type; Spark's
        // sequence(8, n) would step downward (q257's guard rationale)
        .filter(col("n") >= 8)
        .withColumn("saf", expr(
          """aggregate(sequence(8, cast(n as int)), 0L,
            |  (acc, i) -> acc + abs(element_at(a, i).cnt
            |              - element_at(a, i - 7).cnt))""".stripMargin))
        .withColumn("san", expr(
          """aggregate(sequence(2, cast(n as int)), 0L,
            |  (acc, i) -> acc + abs(element_at(a, i).cnt
            |              - element_at(a, i - 1).cnt))""".stripMargin))
      val mase = round(
        (col("saf").cast("double") / (col("n") - 7L)) /
          (col("san").cast("double") / (col("n") - 1L)), 6)
      g.select(col("event_type"), col("n").cast("int").as("n_days"),
          col("saf").as("sae_seasonal"), col("san").as("sae_naive"),
          mase.as("mase"), (mase < 1.0).as("seasonal_helps"))
        .orderBy(col("event_type"))
    }),

    // Permutation test for a difference in per-user spend between the
    // two A/B variants — the nonparametric inference path when q235's
    // normal approximation is suspect. Exchangeability is at the USER
    // level, so the corpus-sized pass is one per-user aggregation to
    // integer cents (exact under any partial-agg order); the R = 200
    // resamples then explode |users| × R sufficient-stat rows —
    // bounded by the user dimension, never by event volume (the
    // 100 TB posture: permute sufficient statistics, not raw rows).
    // Each resample's side assignment is the md5 parity of
    // (user, r) — deterministic, engine-identical via the established
    // md5Int twin — and each diff-of-means is two double divisions of
    // exact longs. p = (1 + #{|diff_r| ≥ |diff_obs|}) / (R + 1), the
    // add-one Phipson–Smyth estimator; the ≥ compare runs on
    // 9dp-ROUNDED magnitudes so a ulp can't flip a count.
    "q261_permutation_test" -> ((s, d) => {
      val perUser = Tables.events(s, d)
        .select(col("user_id"),
          expr("cast(round(value * 100, 0) as bigint)").as("cents"))
        .groupBy(col("user_id"))
        .agg(sum(col("cents")).as("v"))
      val obs = perUser
        .select(when(col("user_id") % 2 === 0, lit(0)).otherwise(lit(1))
          .as("side"), col("v"))
        .groupBy().agg(
          sum(when(col("side") === 0, col("v"))).as("sa"),
          sum(when(col("side") === 0, 1L).otherwise(0L)).as("na"),
          sum(when(col("side") === 1, col("v"))).as("sb"),
          sum(when(col("side") === 1, 1L).otherwise(0L)).as("nb"))
        .select(col("na"), col("nb"),
          round(abs(col("sa").cast("double") / col("na") -
            col("sb").cast("double") / col("nb")), 9).as("obs_diff"))
      val perms = perUser
        .select(col("user_id"), col("v"),
          explode(expr("sequence(1, 200)")).as("r"))
        .select(col("r"), col("v"),
          pmod(TextAnalysis.md5Int(
            concat(col("user_id"), lit(":"), col("r"))), lit(2))
            .as("side"))
        .groupBy(col("r"))
        .agg(sum(when(col("side") === 0, col("v"))).as("sa"),
          sum(when(col("side") === 0, 1L).otherwise(0L)).as("na"),
          sum(when(col("side") === 1, col("v"))).as("sb"),
          sum(when(col("side") === 1, 1L).otherwise(0L)).as("nb"))
        .select(col("r"),
          round(abs(col("sa").cast("double") / col("na") -
            col("sb").cast("double") / col("nb")), 9).as("pdiff"))
      perms.crossJoin(broadcast(obs))
        .agg(max(col("na")).as("n_a"), max(col("nb")).as("n_b"),
          max(col("obs_diff")).as("od"),
          sum(when(col("pdiff") >= col("obs_diff"), 1L).otherwise(0L))
            .as("n_extreme"))
        .select(col("n_a").cast("int").as("n_a"),
          col("n_b").cast("int").as("n_b"),
          round(col("od") / 100.0, 6).as("obs_diff_dollars"),
          col("n_extreme").cast("int").as("n_extreme"),
          round((lit(1) + col("n_extreme")).cast("double") / 201.0, 6)
            .as("p_value"))
    }),

    // Spearman rank correlation between two per-user engagement
    // metrics (event count vs total spend) — the monotone-association
    // measure a feature-audit reports when Pearson is distorted by
    // heavy tails. Ranks are DOUBLED MIDRANKS (2·rank, exact longs —
    // q302's tie discipline), minted on the distinct-VALUE grid via
    // the two-phase bucketed prefix (q247/q262's machinery: ≤64
    // bucket subtotals to the driver, per-bucket window — never a
    // single-partition global window), once per variable. ρ is then
    // Pearson on the doubled midranks with DECIMAL(38,0) sufficient
    // statistics (q245's cross-multiplied polynomial), cast to double
    // once for the final sqrt/divide.
    "q334_spearman" -> ((s, d) => {
      val perUser = Tables.events(s, d)
        .groupBy(col("user_id"))
        .agg(count(lit(1)).as("x"),
          sum(expr("cast(round(value * 100, 0) as bigint)")).as("y"))
        .persist() // feeds both value grids + the rank join-back
      try {
        // the two variables' rank builds are independent multi-job
        // pipelines (min/max head + bucket-count collect + checkpoint
        // each) — overlapped from a 2-thread pool (guide §2.6, the
        // q000 staging shape); each build's jobs and results unchanged
        val (rx, ry) = graft.Par.scope(s, 2) { p =>
          val fx = p.fork("q334: ranks x")(doubledMidranks(s,
            perUser.groupBy(col("x").as("v")).agg(count(lit(1)).as("c")))
            .withColumnRenamed("rr", "rx"))
          val fy = p.fork("q334: ranks y")(doubledMidranks(s,
            perUser.groupBy(col("y").as("v")).agg(count(lit(1)).as("c")))
            .withColumnRenamed("rr", "ry"))
          (fx.join(), fy.join())
        }
        val dec = "decimal(38,0)"
        val ranked = perUser
          .join(rx, perUser("x") === rx("v"))
          .join(ry, perUser("y") === ry("v"))
          .select(col("rx").cast(dec).as("rx"),
            col("ry").cast(dec).as("ry"))
        val g = ranked.agg(count(lit(1)).cast(dec).as("n"),
          sum(col("rx")).as("sx"), sum(col("ry")).as("sy"),
          sum(col("rx") * col("rx")).as("sxx"),
          sum(col("ry") * col("ry")).as("syy"),
          sum(col("rx") * col("ry")).as("sxy"))
        g.select(col("n").cast("int").as("n_users"),
          round((col("n") * col("sxy") - col("sx") * col("sy"))
              .cast("double") /
            (sqrt((col("n") * col("sxx") - col("sx") * col("sx"))
              .cast("double")) *
             sqrt((col("n") * col("syy") - col("sy") * col("sy"))
              .cast("double"))), 6).as("rho"))
          .localCheckpoint() // 1 row; release the cache safely
      } finally perUser.unpersist()
    }),

    // Kendall τ-b between two daily series per event type (daily
    // volume vs daily spend) — the concordance-based association
    // measure that, unlike Spearman, prices TIES into its
    // denominator. The pair population is the C(|days|, 2) day-pair
    // grid of the DAILY AGGREGATE (q272's Theil–Sen shape:
    // calendar-bounded whatever the event volume, equi-joined on
    // event_type so no cartesian), and concordant/discordant/tied
    // counts are exact integers; τ-b's one float step is the final
    // (C−D)/(√(n₀−n₁)·√(n₀−n₂)) in one shared association order.
    "q335_kendall_daily" -> ((s, d) => {
      val daily = Tables.eventsUs(s, d)
        .select(col("event_type"),
          expr("ts_us div 86400000000").as("day"),
          expr("cast(round(value * 100, 0) as bigint)").as("cents"))
        .groupBy(col("event_type"), col("day"))
        .agg(count(lit(1)).as("x"), sum(col("cents")).as("y"))
      val b = daily.select(col("event_type").as("et2"),
        col("day").as("day2"), col("x").as("x2"), col("y").as("y2"))
      val sgn = (col("x2") - col("x")) * (col("y2") - col("y"))
      daily.join(b,
          col("event_type") === col("et2") && col("day") < col("day2"))
        .groupBy(col("event_type"))
        .agg(count(lit(1)).as("n_pairs"),
          sum(when(sgn > 0, 1L).otherwise(0L)).as("concordant"),
          sum(when(sgn < 0, 1L).otherwise(0L)).as("discordant"),
          sum(when(col("x2") === col("x"), 1L).otherwise(0L)).as("nx"),
          sum(when(col("y2") === col("y"), 1L).otherwise(0L)).as("ny"))
        .select(col("event_type"), col("n_pairs"), col("concordant"),
          col("discordant"),
          round((col("concordant") - col("discordant")).cast("double") /
            (sqrt((col("n_pairs") - col("nx")).cast("double")) *
             sqrt((col("n_pairs") - col("ny")).cast("double"))), 6)
            .as("tau_b"))
        .orderBy(col("event_type"))
    }),

    // One-way ANOVA F across event types on daily volumes — the
    // parametric sibling of q265's Kruskal–Wallis: does mean daily
    // count differ by type? F and η² are computed in EXACT RATIONAL
    // arithmetic: with per-group (n_g, S_g) and global (N, S, Q) as
    // exact integers, the group term A = Σ S_g²·(D/n_g) (D = Πn_g)
    // accumulates via one fold over the |types|-row sorted grid —
    // P' = P·n_g, A' = A·n_g + S_g²·P — all in DECIMAL(38,0); then
    // SSB·D·N = A·N − S²·D and SSW·D·N = Q·D·N − A·N share the scale
    // D·N, which CANCELS in both F = (SSB·(N−k))/(SSW·(k−1)) and
    // η² = SSB/(SSB+SSW), so each output is one division of two
    // exact decimals. The only corpus-sized pass is the (type, day)
    // count aggregation; the fold runs over ≤|types| rows.
    "q336_anova_f" -> ((s, d) => {
      val daily = Tables.eventsUs(s, d)
        .select(col("event_type"),
          expr("ts_us div 86400000000").as("day"))
        .groupBy(col("event_type"), col("day"))
        .agg(count(lit(1)).as("cnt"))
      val dec = "decimal(38,0)"
      val grp = daily.groupBy(col("event_type"))
        .agg(count(lit(1)).cast(dec).as("ng"),
          sum(col("cnt")).cast(dec).as("sg"))
      grp.agg(sort_array(collect_list(struct(col("event_type"),
            col("ng"), col("sg")))).as("g"),
          count(lit(1)).cast(dec).as("k"),
          sum(col("ng")).as("nn"), sum(col("sg")).as("ss"))
        .join(daily.agg(
          sum(col("cnt").cast(dec) * col("cnt").cast(dec)).as("qq")))
        .withColumn("pa", expr(
          """aggregate(g,
            |  named_struct('p', CAST(1 AS DECIMAL(38,0)),
            |               'a', CAST(0 AS DECIMAL(38,0))),
            |  (acc, x) -> named_struct(
            |    'p', CAST(acc.p * x.ng AS DECIMAL(38,0)),
            |    'a', CAST(acc.a * x.ng + x.sg * x.sg * acc.p
            |      AS DECIMAL(38,0))))""".stripMargin))
        .select(col("k").cast("int").as("k"),
          col("nn").cast("int").as("n_obs"),
          expr("CAST(pa.a * nn - ss * ss * pa.p AS DECIMAL(38,0))")
            .as("ssb_s"),
          expr("CAST(qq * pa.p * nn - pa.a * nn AS DECIMAL(38,0))")
            .as("ssw_s"))
        .select(col("k"), col("n_obs"),
          round((col("ssb_s") * (col("n_obs") - col("k")))
              .cast("double") /
            (col("ssw_s") * (col("k") - lit(1))).cast("double"), 6)
            .as("f_stat"),
          round(col("ssb_s").cast("double") /
            (col("ssb_s") + col("ssw_s")).cast("double"), 6)
            .as("eta_sq"))
    })
  )

  /** Benjamini–Hochberg FDR control (JRSS-B 1995) over PER-SOURCE
    * randomization tests — the multiple-comparisons discipline a
    * 20-source corpus audit needs: testing every source's mean doc
    * length at α=0.10 uncorrected expects 2 false flags. Per-test
    * p-values are EXACT RATIONALS from a joint label-randomization
    * null (q261's machinery generalized): each of R=200 resamples
    * re-assigns every doc a pseudo-source by md5 into the cumulative
    * source-size ranges (one deterministic hash per (doc, r); the
    * explode is |docs|×R SUFFICIENT-STAT rows, never corpus bytes),
    * the per-(resample, source) mean-vs-rest gaps replay the
    * observed statistic's exact form, and p_s = (1+k_s)/(R+1).
    *
    * Degenerate-resample convention: a resample in which a source
    * draws 0 docs (its (r, source) cell is simply absent from the
    * groupBy) or all nn docs (the mean-vs-rest gap has an empty
    * "rest") carries NO mean-vs-rest statistic, and is counted as
    * NON-extreme — the `when(nsr > 0 && nsr < nn, …)` guard yields a
    * NULL pdiff, which the k-ledger's `otherwise(0)` scores as 0.
    * This slightly UNDERSTATES p for tiny sources (an anti-
    * conservative bias bounded by P[degenerate draw], negligible at
    * the fixture's ≥19-doc sources); the conservative alternative —
    * scoring degenerates as extreme — would instead overstate p by
    * the same mass. Both engines implement the identical convention
    * (the oracle's CTE carries the same guard), so parity is exact
    * either way; the choice is declared here rather than silent.
    *
    * The BH step-up is then PURE INTEGER arithmetic on the sorted grid:
    * reject ranks 1..i* where i* = max{i : (1+k_(i))·10·m ≤ 201·i}
    * (α = 0.10 cross-multiplied) — no float ever orders the ladder.
    */
  private def bhFdr(s: SparkSession, d: String): DataFrame = {
    val R = 200
    // spread: the R=200 resample explode (one md5 + range probe per
    // (doc, r)) otherwise runs at the tiny corpus scan's single-split
    // parallelism
    val pu = Tables.spread(s, Tables.documents(s, d))
      .select(col("doc_id"), col("source"), col("n_chars").as("v"))
    val srcStats = pu.groupBy(col("source"))
      .agg(count(lit(1)).as("ns"), sum(col("v")).as("ss"))
      .localCheckpoint() // |sources| rows: feeds obs, ranges, totals
    val tot = srcStats.agg(sum(col("ns")).as("nn"),
      sum(col("ss")).as("stot"), count(lit(1)).as("m"))
    val obs = srcStats.crossJoin(broadcast(tot))
      .select(col("source"), col("ns").as("n_docs"),
        round(abs(col("ss").cast("double") / col("ns").cast("double") -
          (col("stot") - col("ss")).cast("double") /
          (col("nn") - col("ns")).cast("double")), 9).as("obs_diff"))
    // cumulative source-size ranges in source order (≤|sources| rows)
    val thr = srcStats
      .agg(sort_array(collect_list(struct(col("source"), col("ns"))))
        .as("g"))
      .select(col("g"), posexplode(col("g")))
      .select(col("col.source").as("psrc"),
        expr("aggregate(slice(g, 1, pos), 0L, (a, x) -> a + x.ns)")
          .as("lo"),
        expr("aggregate(slice(g, 1, pos + 1), 0L, (a, x) -> a + x.ns)")
          .as("hi"))
    val cells = pu
      .select(col("doc_id"), col("v"),
        explode(expr(s"sequence(1, $R)")).as("r"))
      .crossJoin(broadcast(tot.select(col("nn"))))
      .select(col("v"), col("r"),
        pmod(graft.llm.TextAnalysis.md5Int(
          concat(col("doc_id"), lit(":"), col("r"))), col("nn"))
          .as("u"))
      .join(broadcast(thr), col("u") >= col("lo") && col("u") < col("hi"))
      .groupBy(col("r"), col("psrc"))
      .agg(count(lit(1)).as("nsr"), sum(col("v")).as("ssr"))
    val perSrc = cells.crossJoin(broadcast(tot))
      .select(col("psrc"),
        when(col("nsr") > 0L && col("nsr") < col("nn"),
          round(abs(col("ssr").cast("double") / col("nsr").cast("double") -
            (col("stot") - col("ssr")).cast("double") /
            (col("nn") - col("nsr")).cast("double")), 9)).as("pdiff"))
      .join(obs, col("psrc") === col("source"))
      .groupBy(col("source"), col("n_docs"), col("obs_diff"))
      .agg(sum(when(col("pdiff") >= col("obs_diff"), 1L).otherwise(0L))
        .as("k"))
      .localCheckpoint() // |sources| rows: feeds the ladder AND output
    val ranked = perSrc
      .agg(sort_array(collect_list(struct(col("k"), col("source"))))
        .as("g"))
      .crossJoin(broadcast(tot.select(col("m"))))
      .withColumn("imax", expr(
        """aggregate(g, named_struct('i', 0L, 'best', 0L),
          |  (a, x) -> named_struct('i', a.i + 1L,
          |    'best', IF((1L + x.k) * 10L * m <= 201L * (a.i + 1L),
          |      a.i + 1L, a.best)),
          |  a -> a.best)""".stripMargin))
      .select(col("imax"), posexplode(col("g")))
      .select(col("col.source").as("src2"),
        (col("pos") + 1L).as("bh_rank"), col("imax"))
    perSrc.join(broadcast(ranked), col("source") === col("src2"))
      .select(col("source"), col("n_docs"), col("obs_diff"),
        col("k").cast("int").as("n_extreme"),
        round((lit(1L) + col("k")).cast("double") / 201.0, 6)
          .as("p_value"),
        col("bh_rank").cast("int").as("bh_rank"),
        (col("bh_rank") <= col("imax")).as("rejected"))
      .orderBy(col("source"))
  }

  /** Mann–Whitney sufficient statistics for the even/odd-user spend
    * cohorts — ONE row (na, nb, two_u = 2·U_a exact, tie_t = Σt³−t):
    * per-user cents ledger → distinct-value histogram → two-phase
    * bucketed exclusive prefix of the B side (≤64 bucket subtotals to
    * the driver, per-bucket window — q247's contract, no global-sort
    * window). Shared by q262 (z-test) and q341 (Cliff's δ): both
    * statistics are closed forms of the same exact integers.
    */
  private def mwSuffStats(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val perUser = Tables.events(s, d)
      .select(col("user_id"),
        expr("cast(round(value * 100, 0) as bigint)").as("cents"))
      .groupBy(col("user_id"))
      .agg(sum(col("cents")).as("v"))
      .select(col("v"), (col("user_id") % 2 === 0).as("isA"))
    val byVal = perUser.groupBy(col("v"))
      .agg(sum(when(col("isA"), 1L).otherwise(0L)).as("na_v"),
        sum(when(col("isA"), 0L).otherwise(1L)).as("nb_v"))
      .persist() // feeds the bucket subtotals AND the scored pass
    try {
      val mm = byVal.agg(min(col("v")).as("mn"), max(col("v")).as("mx"))
        .head()
      val mn = mm.getAs[Long]("mn"); val mx = mm.getAs[Long]("mx")
      val nBuck = 64L
      val span = mx - mn + 1
      val withB = byVal.withColumn("b",
        expr(s"CAST((v - ${mn}L) * $nBuck DIV ${span}L AS INT)"))
      // exclusive per-bucket offsets: ≤64 rows to the driver, exact
      // long fold (the q247/q228 phase-1 contract)
      val subs = withB.groupBy(col("b")).agg(sum(col("nb_v")).as("nbs"))
        .orderBy(col("b")).collect()
        .map(r => (r.getAs[Int]("b"), r.getAs[Long]("nbs")))
      val offs = subs.scanLeft((0, 0L)) { case ((_, acc), (b, nbs)) =>
        (b + 1, acc + nbs)
      }
      val offMap = subs.map(_._1).zip(offs.map(_._2)).toMap
      import s.implicits._
      val offDf = broadcast(offMap.toSeq.toDF("b", "off"))
      val wB = Window.partitionBy(col("b")).orderBy(col("v"))
        .rowsBetween(Window.unboundedPreceding, -1)
      val scored = withB.join(offDf, "b")
        .select(col("na_v"), col("nb_v"),
          (coalesce(sum(col("nb_v")).over(wB), lit(0L)) + col("off"))
            .as("cb"))
      val t = col("na_v") + col("nb_v")
      scored.agg(
          sum(col("na_v")).as("na"), sum(col("nb_v")).as("nb"),
          sum(col("na_v") * (lit(2L) * col("cb") + col("nb_v")))
            .as("two_u"),
          sum(t * t * t - t).as("tie_t"))
        .localCheckpoint() // 1 row; safe to unpersist the histogram
    } finally byVal.unpersist()
  }

  /** Doubled midranks (2·midrank, exact longs) of a distinct-value
    * grid — columns `v` (long) and `c` (count at v): the two-phase
    * bucketed exclusive prefix of q247/q262 (≤64 bucket subtotals to
    * the driver, per-bucket cumulative window partitioned by bucket —
    * a scale-following partition, never one global task). Returns
    * (v, rr) with rr = 2·(count below v) + (count at v) + 1.
    */
  private def doubledMidranks(s: SparkSession, grid: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val g = grid.persist()
    try {
      val mm = g.agg(min(col("v")).as("mn"), max(col("v")).as("mx")).head()
      val mn = mm.getAs[Long]("mn"); val mx = mm.getAs[Long]("mx")
      val nBuck = 64L
      val span = mx - mn + 1
      val withB = g.withColumn("b",
        expr(s"CAST((v - ${mn}L) * $nBuck DIV ${span}L AS INT)"))
      val subs = withB.groupBy(col("b")).agg(sum(col("c")).as("cs"))
        .orderBy(col("b")).collect()
        .map(r => (r.getAs[Int]("b"), r.getAs[Long]("cs")))
      val offs = subs.scanLeft((0, 0L)) { case ((_, acc), (b, cs)) =>
        (b + 1, acc + cs)
      }
      val offMap = subs.map(_._1).zip(offs.map(_._2)).toMap
      import s.implicits._
      val offDf = broadcast(offMap.toSeq.toDF("b", "off"))
      val wB = Window.partitionBy(col("b")).orderBy(col("v"))
        .rowsBetween(Window.unboundedPreceding, -1)
      withB.join(offDf, "b")
        .select(col("v"),
          (lit(2L) * (coalesce(sum(col("c")).over(wB), lit(0L)) +
            col("off")) + col("c") + lit(1L)).as("rr"))
        .localCheckpoint() // grid-sized; lets the caller unpersist g
    } finally g.unpersist()
  }

  def oracle: Map[String, String] = Map(

    // q334: the oracle's ranks come from one global window over the
    // value grid (windows are free in DuckDB); the engine's two-phase
    // bucketed prefix mints the identical doubled midranks. Sufficient
    // stats in HUGEINT ≡ the engine's DECIMAL(38,0) — exact on both.
    "q334_spearman" ->
      """WITH u AS (
        |  SELECT user_id, COUNT(*) AS x,
        |    SUM(CAST(ROUND(value * 100, 0) AS BIGINT)) AS y
        |  FROM events GROUP BY 1),
        |gx AS (SELECT x AS v, COUNT(*) AS c FROM u GROUP BY 1),
        |rx AS (SELECT v, 2 * COALESCE(SUM(c) OVER (ORDER BY v
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
        |    + c + 1 AS rr FROM gx),
        |gy AS (SELECT y AS v, COUNT(*) AS c FROM u GROUP BY 1),
        |ry AS (SELECT v, 2 * COALESCE(SUM(c) OVER (ORDER BY v
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
        |    + c + 1 AS rr FROM gy),
        |j AS (SELECT rx.rr AS rxv, ry.rr AS ryv
        |  FROM u JOIN rx ON rx.v = u.x JOIN ry ON ry.v = u.y),
        |s AS (SELECT CAST(COUNT(*) AS HUGEINT) AS n,
        |  SUM(CAST(rxv AS HUGEINT)) AS sx,
        |  SUM(CAST(ryv AS HUGEINT)) AS sy,
        |  SUM(CAST(rxv AS HUGEINT) * rxv) AS sxx,
        |  SUM(CAST(ryv AS HUGEINT) * ryv) AS syy,
        |  SUM(CAST(rxv AS HUGEINT) * ryv) AS sxy FROM j)
        |SELECT CAST(n AS INT) AS n_users,
        |  ROUND(CAST(n * sxy - sx * sy AS DOUBLE) /
        |    (SQRT(CAST(n * sxx - sx * sx AS DOUBLE)) *
        |     SQRT(CAST(n * syy - sy * sy AS DOUBLE))), 6) AS rho
        |FROM s""".stripMargin,

    // q335: same day-pair grid, exact integer concordance ledger,
    // identical final association order
    "q335_kendall_daily" ->
      """WITH daily AS (
        |  SELECT event_type, epoch_ns(ts)//1000//86400000000 AS day,
        |    COUNT(*) AS x,
        |    SUM(CAST(ROUND(value * 100, 0) AS BIGINT)) AS y
        |  FROM events GROUP BY 1, 2),
        |p AS (
        |  SELECT a.event_type, COUNT(*) AS n_pairs,
        |    SUM(CASE WHEN (b.x - a.x) * (b.y - a.y) > 0
        |      THEN 1 ELSE 0 END) AS concordant,
        |    SUM(CASE WHEN (b.x - a.x) * (b.y - a.y) < 0
        |      THEN 1 ELSE 0 END) AS discordant,
        |    SUM(CASE WHEN b.x = a.x THEN 1 ELSE 0 END) AS nx,
        |    SUM(CASE WHEN b.y = a.y THEN 1 ELSE 0 END) AS ny
        |  FROM daily a JOIN daily b ON b.event_type = a.event_type
        |    AND b.day > a.day
        |  GROUP BY 1)
        |SELECT event_type, CAST(n_pairs AS BIGINT) AS n_pairs,
        |  CAST(concordant AS BIGINT) AS concordant,
        |  CAST(discordant AS BIGINT) AS discordant,
        |  ROUND(CAST(concordant - discordant AS DOUBLE) /
        |    (SQRT(CAST(n_pairs - nx AS DOUBLE)) *
        |     SQRT(CAST(n_pairs - ny AS DOUBLE))), 6) AS tau_b
        |FROM p ORDER BY event_type""".stripMargin,

    // q336: the identical P/A fold as a recursive CTE over the
    // row-numbered group grid, HUGEINT ≡ DECIMAL(38,0)
    "q336_anova_f" ->
      """WITH RECURSIVE daily AS (
        |  SELECT event_type, epoch_ns(ts)//1000//86400000000 AS day,
        |    COUNT(*) AS x
        |  FROM events GROUP BY 1, 2),
        |grp AS (
        |  SELECT event_type, CAST(COUNT(*) AS HUGEINT) AS ng,
        |    CAST(SUM(x) AS HUGEINT) AS sg,
        |    ROW_NUMBER() OVER (ORDER BY event_type) AS rn
        |  FROM daily GROUP BY 1),
        |tot AS (SELECT CAST(COUNT(*) AS HUGEINT) AS k,
        |  SUM(ng) AS nn, SUM(sg) AS ss FROM grp),
        |gq AS (SELECT SUM(CAST(x AS HUGEINT) * x) AS qq FROM daily),
        |fold AS (
        |  SELECT 0 AS rn, CAST(1 AS HUGEINT) AS p,
        |    CAST(0 AS HUGEINT) AS a
        |  UNION ALL
        |  SELECT g.rn, f.p * g.ng, f.a * g.ng + g.sg * g.sg * f.p
        |  FROM fold f JOIN grp g ON g.rn = f.rn + 1),
        |lastf AS (SELECT p, a FROM fold ORDER BY rn DESC LIMIT 1),
        |scaled AS (
        |  SELECT t.k, t.nn,
        |    l.a * t.nn - t.ss * t.ss * l.p AS ssb_s,
        |    g2.qq * l.p * t.nn - l.a * t.nn AS ssw_s
        |  FROM lastf l, tot t, gq g2)
        |SELECT CAST(k AS INT) AS k, CAST(nn AS INT) AS n_obs,
        |  ROUND(CAST(ssb_s * (nn - k) AS DOUBLE) /
        |    CAST(ssw_s * (k - 1) AS DOUBLE), 6) AS f_stat,
        |  ROUND(CAST(ssb_s AS DOUBLE) /
        |    CAST(ssb_s + ssw_s AS DOUBLE), 6) AS eta_sq
        |FROM scaled""".stripMargin,

    // q255: the identical risk-set recursion as a recursive CTE over
    // 1-based duration indices — same double division, same
    // subtract-then-multiply association, same final 6dp rounding
    "q255_kaplan_meier" ->
      """WITH RECURSIVE pu AS (
        |  SELECT user_id,
        |    (MAX(epoch_ns(ts)//1000) - MIN(epoch_ns(ts)//1000))
        |      // 86400000000 AS dur,
        |    MAX(epoch_ns(ts)//1000) // 86400000000 AS last_day
        |  FROM events GROUP BY user_id),
        |gm AS (SELECT MAX(last_day) AS gmax FROM pu),
        |g AS (
        |  SELECT dur,
        |    SUM(CASE WHEN last_day < gmax - 2 THEN 1 ELSE 0 END) AS d_cnt,
        |    SUM(CASE WHEN last_day < gmax - 2 THEN 0 ELSE 1 END) AS c_cnt
        |  FROM pu, gm GROUP BY dur),
        |idx AS (
        |  SELECT dur, d_cnt, c_cnt,
        |    ROW_NUMBER() OVER (ORDER BY dur) AS i
        |  FROM g),
        |tot AS (SELECT CAST(SUM(d_cnt + c_cnt) AS DOUBLE) AS n0,
        |               COUNT(*) AS ni FROM g),
        |r AS (
        |  SELECT 0 AS i, (SELECT n0 FROM tot) AS n,
        |    CAST(1.0 AS DOUBLE) AS s, CAST(NULL AS BIGINT) AS t,
        |    CAST(NULL AS INT) AS n_risk, CAST(NULL AS INT) AS d,
        |    CAST(NULL AS INT) AS c, CAST(NULL AS DOUBLE) AS surv
        |  UNION ALL
        |  SELECT r.i + 1, r.n - idx.d_cnt - idx.c_cnt,
        |    r.s * (CAST(1.0 AS DOUBLE) - CAST(idx.d_cnt AS DOUBLE) / r.n),
        |    idx.dur, CAST(r.n AS INT), CAST(idx.d_cnt AS INT),
        |    CAST(idx.c_cnt AS INT),
        |    r.s * (CAST(1.0 AS DOUBLE) - CAST(idx.d_cnt AS DOUBLE) / r.n)
        |  FROM r JOIN idx ON idx.i = r.i + 1)
        |SELECT CAST(t AS INT) AS t, n_risk, d, c, ROUND(surv, 6) AS surv
        |FROM r WHERE i >= 1 ORDER BY t""".stripMargin,

    // q257: identical integer sufficient statistics (lag products via
    // a ROW_NUMBER self-join instead of the array fold — same exact
    // longs either way), identical single-division ρ_k, identical
    // Ljung–Box association order over the 6dp-rounded ρ_k
    "q257_autocorrelation" ->
      """WITH dc AS (
        |  SELECT event_type, epoch_ns(ts)//1000 // 86400000000 AS day,
        |    COUNT(*) AS cnt
        |  FROM events GROUP BY 1, 2),
        |idx AS (
        |  SELECT event_type, cnt,
        |    ROW_NUMBER() OVER (PARTITION BY event_type ORDER BY day) AS i
        |  FROM dc),
        |st AS (
        |  SELECT event_type, COUNT(*) AS n, SUM(cnt) AS sx,
        |    SUM(cnt * cnt) AS qx
        |  FROM dc GROUP BY 1),
        |l1 AS (
        |  SELECT a.event_type, SUM(a.cnt * b.cnt) AS a1,
        |    SUM(a.cnt + b.cnt) AS b1
        |  FROM idx a JOIN idx b
        |    ON b.event_type = a.event_type AND b.i = a.i - 1
        |  GROUP BY 1),
        |l2 AS (
        |  SELECT a.event_type, SUM(a.cnt * b.cnt) AS a2,
        |    SUM(a.cnt + b.cnt) AS b2
        |  FROM idx a JOIN idx b
        |    ON b.event_type = a.event_type AND b.i = a.i - 2
        |  GROUP BY 1),
        |l3 AS (
        |  SELECT a.event_type, SUM(a.cnt * b.cnt) AS a3,
        |    SUM(a.cnt + b.cnt) AS b3
        |  FROM idx a JOIN idx b
        |    ON b.event_type = a.event_type AND b.i = a.i - 3
        |  GROUP BY 1),
        |r AS (
        |  SELECT st.event_type, st.n,
        |    ROUND(CAST(st.n*st.n*l1.a1 - st.n*st.sx*l1.b1
        |               + (st.n-1)*st.sx*st.sx AS DOUBLE)
        |      / CAST(st.n*st.n*st.qx - st.n*st.sx*st.sx AS DOUBLE), 6)
        |      AS acf1,
        |    ROUND(CAST(st.n*st.n*l2.a2 - st.n*st.sx*l2.b2
        |               + (st.n-2)*st.sx*st.sx AS DOUBLE)
        |      / CAST(st.n*st.n*st.qx - st.n*st.sx*st.sx AS DOUBLE), 6)
        |      AS acf2,
        |    ROUND(CAST(st.n*st.n*l3.a3 - st.n*st.sx*l3.b3
        |               + (st.n-3)*st.sx*st.sx AS DOUBLE)
        |      / CAST(st.n*st.n*st.qx - st.n*st.sx*st.sx AS DOUBLE), 6)
        |      AS acf3
        |  FROM st JOIN l1 USING (event_type) JOIN l2 USING (event_type)
        |    JOIN l3 USING (event_type)),
        |f AS (
        |  SELECT event_type, CAST(n AS INT) AS n_days,
        |    acf1, acf2, acf3,
        |    ROUND(CAST(n AS DOUBLE) * (n + 2) * (
        |      acf1*acf1/(n-1) + acf2*acf2/(n-2) + acf3*acf3/(n-3)), 4)
        |      AS ljung_box
        |  FROM r)
        |SELECT event_type, n_days, acf1, acf2, acf3, ljung_box,
        |  (ljung_box > 7.8147) AS white_noise_rejected
        |FROM f ORDER BY event_type""".stripMargin,

    // q260: the same integer alternation unrolled as four joins; the
    // per-type top hub via ROW_NUMBER (≡ Spark's max_by on exact
    // integers with the same min-user tiebreak)
    "q260_hits_bipartite" ->
      """WITH w AS (
        |  SELECT user_id, event_type, COUNT(*) AS w
        |  FROM events GROUP BY 1, 2),
        |h1 AS (SELECT user_id, SUM(w) AS h1 FROM w GROUP BY 1),
        |a1 AS (
        |  SELECT w.event_type, SUM(w.w * h1.h1) AS a1
        |  FROM w JOIN h1 USING (user_id) GROUP BY 1),
        |h2 AS (
        |  SELECT w.user_id, SUM(w.w * a1.a1) AS h2
        |  FROM w JOIN a1 USING (event_type) GROUP BY 1),
        |wh AS (
        |  SELECT w.event_type, w.user_id, w.w, h2.h2
        |  FROM w JOIN h2 USING (user_id)),
        |a2 AS (SELECT event_type, SUM(w * h2) AS a2 FROM wh GROUP BY 1),
        |mx AS (SELECT MAX(a2) AS mx FROM a2),
        |th AS (
        |  SELECT event_type, user_id AS top_hub, h2 AS top_hub_score
        |  FROM (
        |    SELECT event_type, user_id, h2,
        |      ROW_NUMBER() OVER (PARTITION BY event_type
        |        ORDER BY h2 DESC, user_id) AS rn
        |    FROM wh)
        |  WHERE rn = 1)
        |SELECT a2.event_type, CAST(a1.a1 AS BIGINT) AS a1,
        |  CAST(a2.a2 AS BIGINT) AS a2,
        |  ROUND(CAST(a2.a2 AS DOUBLE) / CAST(mx.mx AS DOUBLE), 6)
        |    AS auth_norm,
        |  th.top_hub, CAST(th.top_hub_score AS BIGINT) AS top_hub_score
        |FROM a2 CROSS JOIN mx
        |  JOIN a1 ON a1.event_type = a2.event_type
        |  JOIN th ON th.event_type = a2.event_type
        |ORDER BY a2.event_type""".stripMargin,

    // q265: identical ×2 midranks off the same (type,value) histogram,
    // identical pivoted SEVEN-TERM sum in fixed weekday order (both
    // engines spell the sum t0+…+t6 — no engine-ordered float
    // reduction), identical tie-corrected assembly and 4dp round
    "q265_kruskal_wallis" -> {
      val pivCols = (0 to 6).map(i =>
        s"MAX(CASE WHEN wd = $i THEN r2 END) AS r2_$i,\n" +
          s"    MAX(CASE WHEN wd = $i THEN nw END) AS nw_$i")
        .mkString(",\n    ")
      val termSql = (0 to 6).map(i =>
        s"(CASE WHEN COALESCE(nw_$i, 0) > 0 THEN CAST(r2_$i * r2_$i " +
          s"AS DOUBLE) / CAST(4 * nw_$i AS DOUBLE) ELSE 0.0 END)")
        .mkString(" +\n      ")
      s"""WITH dc AS (
         |  SELECT event_type, epoch_ns(ts)//1000 // 86400000000 AS day,
         |    COUNT(*) AS cnt
         |  FROM events GROUP BY 1, 2),
         |bv AS (
         |  SELECT event_type, cnt AS v, COUNT(*) AS n_v
         |  FROM dc GROUP BY 1, 2),
         |cl AS (
         |  SELECT event_type, v, n_v,
         |    COALESCE(SUM(n_v) OVER (PARTITION BY event_type ORDER BY v
         |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
         |      AS cum
         |  FROM bv),
         |mr AS (
         |  SELECT dc.event_type, CAST(dc.day % 7 AS INT) AS wd,
         |    2 * cl.cum + cl.n_v + 1 AS m2
         |  FROM dc JOIN cl ON cl.event_type = dc.event_type
         |    AND cl.v = dc.cnt),
         |rw AS (
         |  SELECT event_type, wd, SUM(m2) AS r2, COUNT(*) AS nw
         |  FROM mr GROUP BY 1, 2),
         |piv AS (
         |  SELECT event_type,
         |    $pivCols
         |  FROM rw GROUP BY 1),
         |st AS (
         |  SELECT event_type, SUM(n_v) AS n,
         |    SUM(n_v * n_v * n_v - n_v) AS tt
         |  FROM bv GROUP BY 1),
         |f AS (
         |  SELECT st.event_type, st.n, st.tt,
         |    ($termSql) AS s
         |  FROM st JOIN piv USING (event_type)),
         |res AS (
         |  SELECT event_type, CAST(n AS INT) AS n_days,
         |    ROUND((12.0 * s / CAST(n * (n + 1) AS DOUBLE)
         |      - CAST(3 * (n + 1) AS DOUBLE)) /
         |      (1.0 - CAST(tt AS DOUBLE) / CAST(n*n*n - n AS DOUBLE)),
         |      4) AS h
         |  FROM f)
         |SELECT event_type, n_days, h, (h > 12.5916) AS weekday_effect
         |FROM res ORDER BY event_type""".stripMargin
    },

    // q277: identical value-histogram prefix algebra via the naive
    // global window (exactness ≡ the engine's two-phase buckets),
    // identical within-group Lorenz attribution and single divisions
    "q277_gini_lorenz" ->
      """WITH pu AS (
        |  SELECT user_id,
        |    SUM(CAST(round(value * 100, 0) AS BIGINT)) AS v
        |  FROM events GROUP BY user_id),
        |bv AS (SELECT v, COUNT(*) AS cnt FROM pu GROUP BY v),
        |cl AS (
        |  SELECT v, cnt,
        |    COALESCE(SUM(cnt) OVER (ORDER BY v
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
        |      AS cumn,
        |    COALESCE(SUM(cnt * v) OVER (ORDER BY v
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
        |      AS cums
        |  FROM bv),
        |g AS (
        |  SELECT SUM(cnt * (v * cumn - cums)) AS ng, SUM(cnt) AS n,
        |    SUM(cnt * v) AS s
        |  FROM cl),
        |dec AS (
        |  SELECT j.j AS decile, (j.j * g.n + 9) // 10 AS rj,
        |    cl.v, cl.cumn, cl.cums
        |  FROM cl CROSS JOIN g
        |    JOIN (SELECT unnest(range(1, 11)) AS j) j
        |    ON (j.j * g.n + 9) // 10 > cl.cumn
        |    AND (j.j * g.n + 9) // 10 <= cl.cumn + cl.cnt)
        |SELECT CAST(d.decile AS INT) AS decile,
        |  CAST(d.rj AS BIGINT) AS cum_users,
        |  CAST(d.v AS BIGINT) AS cutoff_cents,
        |  ROUND(CAST(d.cums + (d.rj - d.cumn) * d.v AS DOUBLE) /
        |    CAST(g.s AS DOUBLE), 6) AS cum_spend_frac,
        |  ROUND(CAST(g.ng AS DOUBLE) / CAST(g.n * g.s AS DOUBLE), 6)
        |    AS gini
        |FROM dec d CROSS JOIN g ORDER BY decile""".stripMargin,

    // q272: identical slope mint (one division of exact integer
    // deltas), the median spelled as the same two ORDER-position
    // picks averaged with /2.0 — no engine quantile interpolation
    "q272_theil_sen" ->
      """WITH dc AS (
        |  SELECT event_type, epoch_ns(ts)//1000 // 86400000000 AS day,
        |    COUNT(*) AS cnt
        |  FROM events GROUP BY 1, 2),
        |sl AS (
        |  SELECT a.event_type,
        |    CAST(b.cnt - a.cnt AS DOUBLE) / CAST(b.day - a.day AS DOUBLE)
        |      AS slope
        |  FROM dc a JOIN dc b
        |    ON b.event_type = a.event_type AND a.day < b.day),
        |idx AS (
        |  SELECT event_type, slope,
        |    ROW_NUMBER() OVER (PARTITION BY event_type ORDER BY slope)
        |      AS i,
        |    COUNT(*) OVER (PARTITION BY event_type) AS m
        |  FROM sl)
        |SELECT event_type, CAST(MAX(m) AS INT) AS n_pairs,
        |  ROUND((MAX(CASE WHEN i = (m + 1) // 2 THEN slope END) +
        |    MAX(CASE WHEN i = m // 2 + 1 THEN slope END)) / 2.0, 6)
        |    AS slope_per_day
        |FROM idx GROUP BY event_type
        |ORDER BY event_type""".stripMargin,

    // q271: error ledgers re-minted via ROW_NUMBER positional-lag
    // self-joins (≡ the engine's array fold on exact integers),
    // identical two-division MASE association
    "q271_seasonal_backtest" ->
      """WITH dc AS (
        |  SELECT event_type, epoch_ns(ts)//1000 // 86400000000 AS day,
        |    COUNT(*) AS cnt
        |  FROM events GROUP BY 1, 2),
        |idx AS (
        |  SELECT event_type, cnt,
        |    ROW_NUMBER() OVER (PARTITION BY event_type ORDER BY day) AS i
        |  FROM dc),
        |sf AS (
        |  SELECT a.event_type, SUM(ABS(a.cnt - b.cnt)) AS saf
        |  FROM idx a JOIN idx b
        |    ON b.event_type = a.event_type AND b.i = a.i - 7
        |  GROUP BY 1),
        |sn AS (
        |  SELECT a.event_type, SUM(ABS(a.cnt - b.cnt)) AS san
        |  FROM idx a JOIN idx b
        |    ON b.event_type = a.event_type AND b.i = a.i - 1
        |  GROUP BY 1),
        |st AS (SELECT event_type, COUNT(*) AS n FROM dc GROUP BY 1),
        |r AS (
        |  SELECT st.event_type, CAST(st.n AS INT) AS n_days,
        |    CAST(sf.saf AS BIGINT) AS sae_seasonal,
        |    CAST(sn.san AS BIGINT) AS sae_naive,
        |    ROUND((CAST(sf.saf AS DOUBLE) / (st.n - 7)) /
        |      (CAST(sn.san AS DOUBLE) / (st.n - 1)), 6) AS mase
        |  FROM st JOIN sf USING (event_type) JOIN sn USING (event_type))
        |SELECT event_type, n_days, sae_seasonal, sae_naive, mase,
        |  (mase < 1.0) AS seasonal_helps
        |FROM r ORDER BY event_type""".stripMargin,

    // q262: identical integer sufficient statistics (the oracle mints
    // cb via the naive GLOBAL window the Spark side's two-phase
    // bucketed prefix avoids — exactness makes the methods
    // indistinguishable, which is the proof), identical single-sqrt
    // z expression in one shared association order
    "q262_mann_whitney_u" ->
      """WITH pu AS (
        |  SELECT user_id,
        |    SUM(CAST(round(value * 100, 0) AS BIGINT)) AS v
        |  FROM events GROUP BY user_id),
        |bv AS (
        |  SELECT v,
        |    SUM(CASE WHEN user_id % 2 = 0 THEN 1 ELSE 0 END) AS na_v,
        |    SUM(CASE WHEN user_id % 2 = 0 THEN 0 ELSE 1 END) AS nb_v
        |  FROM pu GROUP BY v),
        |cum AS (
        |  SELECT na_v, nb_v,
        |    COALESCE(SUM(nb_v) OVER (ORDER BY v
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cb
        |  FROM bv),
        |g AS (
        |  SELECT SUM(na_v) AS na, SUM(nb_v) AS nb,
        |    SUM(na_v * (2 * cb + nb_v)) AS two_u,
        |    SUM((na_v+nb_v)*(na_v+nb_v)*(na_v+nb_v) - (na_v+nb_v))
        |      AS tie_t
        |  FROM cum),
        |z AS (
        |  SELECT CAST(na AS INT) AS n_a, CAST(nb AS INT) AS n_b,
        |    CAST(two_u AS BIGINT) AS two_u, CAST(tie_t AS BIGINT)
        |      AS tie_t,
        |    ROUND(CAST(GREATEST(ABS(two_u - na*nb) - 1, 0) AS DOUBLE) /
        |      (2.0 * SQRT(CAST(na*nb AS DOUBLE) *
        |        CAST((na+nb)*(na+nb)*(na+nb) - (na+nb) - tie_t
        |          AS DOUBLE) /
        |        CAST(12*(na+nb)*(na+nb-1) AS DOUBLE))), 6) AS z
        |  FROM g)
        |SELECT n_a, n_b, two_u, tie_t, z, (z > 1.96) AS reject_95
        |FROM z""".stripMargin,

    // q341: the same exact two_u ledger; δ and its magnitude ladder
    // are closed forms with one final division on settled 6dp
    "q341_cliffs_delta" ->
      """WITH pu AS (
        |  SELECT user_id,
        |    SUM(CAST(round(value * 100, 0) AS BIGINT)) AS v
        |  FROM events GROUP BY user_id),
        |bv AS (
        |  SELECT v,
        |    SUM(CASE WHEN user_id % 2 = 0 THEN 1 ELSE 0 END) AS na_v,
        |    SUM(CASE WHEN user_id % 2 = 0 THEN 0 ELSE 1 END) AS nb_v
        |  FROM pu GROUP BY v),
        |cum AS (
        |  SELECT na_v, nb_v,
        |    COALESCE(SUM(nb_v) OVER (ORDER BY v
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cb
        |  FROM bv),
        |g AS (
        |  SELECT SUM(na_v) AS na, SUM(nb_v) AS nb,
        |    SUM(na_v * (2 * cb + nb_v)) AS two_u
        |  FROM cum),
        |dd AS (
        |  SELECT CAST(na AS INT) AS n_a, CAST(nb AS INT) AS n_b,
        |    CAST(two_u AS BIGINT) AS two_u,
        |    ROUND(CAST(two_u - na * nb AS DOUBLE) /
        |      CAST(na * nb AS DOUBLE), 6) AS delta
        |  FROM g)
        |SELECT n_a, n_b, two_u, delta,
        |  CASE WHEN ABS(delta) < 0.147 THEN 'negligible'
        |       WHEN ABS(delta) < 0.33 THEN 'small'
        |       WHEN ABS(delta) < 0.474 THEN 'medium'
        |       ELSE 'large' END AS magnitude
        |FROM dd""".stripMargin,

    // q354: identical integer pair ledger and tie-corrected H0 moments
    "q354_jonckheere" ->
      """WITH daily AS (
        |  SELECT day, day % 7 AS wd, x FROM (
        |    SELECT epoch_ns(ts)//1000//86400000000 AS day,
        |      SUM(CAST(round(value * 100, 0) AS BIGINT)) AS x
        |    FROM events GROUP BY 1) z),
        |jt AS (
        |  SELECT SUM(CASE WHEN b.x > a.x THEN 2
        |    WHEN b.x = a.x THEN 1 ELSE 0 END) AS jt2
        |  FROM daily a JOIN daily b ON a.wd < b.wd),
        |sz AS (
        |  SELECT SUM(ng) AS n, SUM(ng * ng) AS sq,
        |    SUM(ng * (ng - 1) * (2 * ng + 5)) AS a1,
        |    SUM(ng * (ng - 1) * (ng - 2)) AS b1,
        |    SUM(ng * (ng - 1)) AS d1
        |  FROM (SELECT wd, COUNT(*) AS ng FROM daily GROUP BY 1) g),
        |tt AS (
        |  SELECT SUM(t * (t - 1) * (2 * t + 5)) AS a2,
        |    SUM(t * (t - 1) * (t - 2)) AS b2,
        |    SUM(t * (t - 1)) AS e2
        |  FROM (SELECT x, COUNT(*) AS t FROM daily GROUP BY 1) h),
        |zz AS (
        |  SELECT CAST(sz.n AS INT) AS n_days,
        |    CAST(jt.jt2 AS BIGINT) AS jt2,
        |    CAST((sz.n * sz.n - sz.sq) // 2 AS BIGINT) AS two_mu,
        |    ROUND(CAST(jt.jt2 - (sz.n * sz.n - sz.sq) // 2 AS DOUBLE) /
        |      (2.0 * SQRT(
        |        CAST(sz.n * (sz.n - 1) * (2 * sz.n + 5) - sz.a1 - tt.a2
        |          AS DOUBLE) / 72.0 +
        |        CAST(sz.b1 * tt.b2 AS DOUBLE) /
        |          (36.0 * sz.n * (sz.n - 1) * (sz.n - 2)) +
        |        CAST(sz.d1 * tt.e2 AS DOUBLE) /
        |          (8.0 * sz.n * (sz.n - 1)))), 6) + 0.0 AS z
        |  FROM jt, sz, tt)
        |SELECT n_days, jt2, two_mu, z,
        |  (ABS(z) > 1.96) AS monotone_trend
        |FROM zz""".stripMargin,

    // q356: identical HUGEINT sufficient stats, 9dp-settled r's, one
    // fixed-order partial formula
    "q356_partial_correlation" ->
      """WITH daily AS (
        |  SELECT epoch_ns(ts)//1000//86400000000 AS t,
        |    COUNT(*) AS x,
        |    SUM(CAST(round(value * 100, 0) AS BIGINT)) AS y
        |  FROM events GROUP BY 1),
        |g AS (
        |  SELECT CAST(COUNT(*) AS HUGEINT) AS n,
        |    SUM(CAST(x AS HUGEINT)) AS sx, SUM(CAST(y AS HUGEINT)) AS sy,
        |    SUM(CAST(t AS HUGEINT)) AS st,
        |    SUM(CAST(x AS HUGEINT) * x) AS sxx,
        |    SUM(CAST(y AS HUGEINT) * y) AS syy,
        |    SUM(CAST(t AS HUGEINT) * t) AS stt,
        |    SUM(CAST(x AS HUGEINT) * y) AS sxy,
        |    SUM(CAST(x AS HUGEINT) * t) AS sxt,
        |    SUM(CAST(y AS HUGEINT) * t) AS syt
        |  FROM daily),
        |rr AS (
        |  SELECT CAST(n AS INT) AS n_days,
        |    CAST(round(CAST(n * sxy - sx * sy AS DOUBLE) /
        |      (SQRT(CAST(n * sxx - sx * sx AS DOUBLE)) *
        |       SQRT(CAST(n * syy - sy * sy AS DOUBLE))), 9)
        |      AS DECIMAL(12,9)) AS r_xy,
        |    CAST(round(CAST(n * sxt - sx * st AS DOUBLE) /
        |      (SQRT(CAST(n * sxx - sx * sx AS DOUBLE)) *
        |       SQRT(CAST(n * stt - st * st AS DOUBLE))), 9)
        |      AS DECIMAL(12,9)) AS r_xt,
        |    CAST(round(CAST(n * syt - sy * st AS DOUBLE) /
        |      (SQRT(CAST(n * syy - sy * sy AS DOUBLE)) *
        |       SQRT(CAST(n * stt - st * st AS DOUBLE))), 9)
        |      AS DECIMAL(12,9)) AS r_yt
        |  FROM g)
        |SELECT n_days,
        |  CAST(r_xy AS DOUBLE) AS r_xy,
        |  CAST(r_xt AS DOUBLE) AS r_xt,
        |  CAST(r_yt AS DOUBLE) AS r_yt,
        |  ROUND((CAST(r_xy AS DOUBLE) -
        |    CAST(r_xt AS DOUBLE) * CAST(r_yt AS DOUBLE)) /
        |    (SQRT(1.0 - CAST(r_xt AS DOUBLE) * CAST(r_xt AS DOUBLE)) *
        |     SQRT(1.0 - CAST(r_yt AS DOUBLE) * CAST(r_yt AS DOUBLE))),
        |    6) AS r_xy_given_t
        |FROM rr""".stripMargin,

    // q351: the oracle's rank→value lookup is one global per-cohort
    // window; all integers
    "q351_qq_drift" ->
      """WITH pu AS (
        |  SELECT user_id,
        |    SUM(CAST(round(value * 100, 0) AS BIGINT)) AS v
        |  FROM events GROUP BY 1),
        |pv AS (SELECT (user_id % 2 = 0) AS isa, v FROM pu),
        |bv AS (SELECT isa, v, COUNT(*) AS c FROM pv GROUP BY 1, 2),
        |cum AS (
        |  SELECT isa, v, c,
        |    COALESCE(SUM(c) OVER (PARTITION BY isa ORDER BY v
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
        |      AS cum
        |  FROM bv),
        |nab AS (SELECT isa, SUM(c) AS n FROM bv GROUP BY 1),
        |ranks AS (
        |  SELECT nab.isa, pp.p, (pp.p * nab.n + 99) // 100 AS r
        |  FROM nab CROSS JOIN
        |    (SELECT unnest(generate_series(1, 19)) * 5 AS p) pp),
        |q AS (
        |  SELECT r.p, cum.isa, cum.v
        |  FROM cum JOIN ranks r ON r.isa = cum.isa
        |    AND cum.cum < r.r AND r.r <= cum.cum + cum.c)
        |SELECT CAST(p AS INT) AS p_pct,
        |  CAST(MAX(CASE WHEN isa THEN v END) AS BIGINT)
        |    AS q_even_cents,
        |  CAST(MAX(CASE WHEN NOT isa THEN v END) AS BIGINT)
        |    AS q_odd_cents,
        |  CAST(MAX(CASE WHEN isa THEN v END) -
        |    MAX(CASE WHEN NOT isa THEN v END) AS BIGINT) AS diff_cents
        |FROM q GROUP BY p ORDER BY p_pct""".stripMargin,

    // q342: identical md5 range assignment, exact-rational p's,
    // integer BH ladder
    "q342_bh_fdr" ->
      """WITH pu AS (
        |  SELECT doc_id, source, n_chars AS v FROM documents),
        |ss AS (
        |  SELECT source, COUNT(*) AS ns, SUM(v) AS sv
        |  FROM pu GROUP BY 1),
        |tot AS (
        |  SELECT SUM(ns) AS nn, SUM(sv) AS stot, COUNT(*) AS m FROM ss),
        |obs AS (
        |  SELECT source, ns AS n_docs,
        |    ROUND(ABS(CAST(sv AS DOUBLE) / CAST(ns AS DOUBLE) -
        |      CAST(tot.stot - sv AS DOUBLE) /
        |      CAST(tot.nn - ns AS DOUBLE)), 9) AS obs_diff
        |  FROM ss, tot),
        |thr AS (
        |  SELECT source AS psrc,
        |    COALESCE(SUM(ns) OVER (ORDER BY source
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
        |      AS lo,
        |    SUM(ns) OVER (ORDER BY source
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS hi
        |  FROM ss),
        |cells AS (
        |  SELECT t.r, thr.psrc, COUNT(*) AS nsr, SUM(pu.v) AS ssr
        |  FROM pu CROSS JOIN range(1, 201) t(r)
        |  CROSS JOIN tot
        |  JOIN thr ON
        |    (CAST('0x' || substr(md5(CAST(pu.doc_id AS VARCHAR) || ':'
        |      || CAST(t.r AS VARCHAR)), 1, 15) AS BIGINT) % tot.nn)
        |      >= thr.lo
        |    AND (CAST('0x' || substr(md5(CAST(pu.doc_id AS VARCHAR) ||
        |      ':' || CAST(t.r AS VARCHAR)), 1, 15) AS BIGINT) % tot.nn)
        |      < thr.hi
        |  GROUP BY 1, 2),
        |psr AS (
        |  SELECT psrc,
        |    CASE WHEN nsr > 0 AND nsr < tot.nn THEN
        |      ROUND(ABS(CAST(ssr AS DOUBLE) / CAST(nsr AS DOUBLE) -
        |        CAST(tot.stot - ssr AS DOUBLE) /
        |        CAST(tot.nn - nsr AS DOUBLE)), 9) END AS pdiff
        |  FROM cells, tot),
        |ks AS (
        |  SELECT o.source, o.n_docs, o.obs_diff,
        |    SUM(CASE WHEN p.pdiff >= o.obs_diff THEN 1 ELSE 0 END) AS k
        |  FROM psr p JOIN obs o ON o.source = p.psrc
        |  GROUP BY 1, 2, 3),
        |rk AS (
        |  SELECT source, k,
        |    ROW_NUMBER() OVER (ORDER BY k, source) AS bh_rank FROM ks),
        |im AS (
        |  SELECT COALESCE(MAX(CASE WHEN (1 + rk.k) * 10 * tot.m <=
        |    201 * rk.bh_rank THEN rk.bh_rank END), 0) AS imax
        |  FROM rk, tot)
        |SELECT ks.source, CAST(ks.n_docs AS BIGINT) AS n_docs,
        |  ks.obs_diff, CAST(ks.k AS INT) AS n_extreme,
        |  ROUND(CAST(1 + ks.k AS DOUBLE) / 201.0, 6) AS p_value,
        |  CAST(rk.bh_rank AS INT) AS bh_rank,
        |  (rk.bh_rank <= im.imax) AS rejected
        |FROM ks JOIN rk ON rk.source = ks.source, im
        |ORDER BY ks.source""".stripMargin,

    // q261: identical integer-cents sufficient statistics, identical
    // md5-parity resample assignment (the established md5Int twin),
    // identical two-division diff and 9dp round-before-compare
    "q261_permutation_test" ->
      """WITH pu AS (
        |  SELECT user_id,
        |    SUM(CAST(round(value * 100, 0) AS BIGINT)) AS v
        |  FROM events GROUP BY user_id),
        |obs AS (
        |  SELECT
        |    SUM(CASE WHEN user_id % 2 = 0 THEN v END) AS sa,
        |    SUM(CASE WHEN user_id % 2 = 0 THEN 1 ELSE 0 END) AS na,
        |    SUM(CASE WHEN user_id % 2 = 1 THEN v END) AS sb,
        |    SUM(CASE WHEN user_id % 2 = 1 THEN 1 ELSE 0 END) AS nb
        |  FROM pu),
        |od AS (
        |  SELECT na, nb,
        |    ROUND(abs(CAST(sa AS DOUBLE) / na - CAST(sb AS DOUBLE) / nb),
        |      9) AS obs_diff
        |  FROM obs),
        |pr AS (
        |  SELECT rr.r, pu.v,
        |    CAST('0x' || substr(md5(CAST(pu.user_id AS VARCHAR) || ':' ||
        |      CAST(rr.r AS VARCHAR)), 1, 15) AS BIGINT) % 2 AS side
        |  FROM pu CROSS JOIN (SELECT unnest(range(1, 201)) AS r) rr),
        |pd AS (
        |  SELECT r,
        |    ROUND(abs(
        |      CAST(SUM(CASE WHEN side = 0 THEN v END) AS DOUBLE)
        |        / SUM(CASE WHEN side = 0 THEN 1 ELSE 0 END)
        |      - CAST(SUM(CASE WHEN side = 1 THEN v END) AS DOUBLE)
        |        / SUM(CASE WHEN side = 1 THEN 1 ELSE 0 END)), 9) AS pdiff
        |  FROM pr GROUP BY r)
        |SELECT CAST(od.na AS INT) AS n_a, CAST(od.nb AS INT) AS n_b,
        |  ROUND(od.obs_diff / 100.0, 6) AS obs_diff_dollars,
        |  CAST(SUM(CASE WHEN pd.pdiff >= od.obs_diff THEN 1 ELSE 0 END)
        |    AS INT) AS n_extreme,
        |  ROUND(CAST(1 + SUM(CASE WHEN pd.pdiff >= od.obs_diff
        |    THEN 1 ELSE 0 END) AS DOUBLE) / 201.0, 6) AS p_value
        |FROM pd CROSS JOIN od
        |GROUP BY od.na, od.nb, od.obs_diff""".stripMargin
  )
}
