package graft.llm

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.{QueryModule, Tables}

/** Featurization + model-fitting operators for the quality-classifier
  * leg of a training-data pipeline: the hashing-trick featurizer (the
  * fastText / Vowpal-Wabbit representation a 100 TB corpus filter
  * actually ships), expected-calibration-error evaluation of the
  * resulting scores, and one exact full-batch logistic-regression
  * gradient step over interpretable document features.
  *
  * Determinism discipline (the q276/q280 totalization rule): every
  * corpus-sized reduction runs over exact integers or fixed-point
  * DECIMAL built from per-row values that were rounded ONCE at a
  * documented boundary — sums are association-free, so the DuckDB twin
  * feeds bit-identical doubles to each final division/transcendental.
  *
  * Reference scope: the reference's own pipeline stops at raw pixel
  * parsing (rbmmapper.java:116-119 normalizes `/255` and nothing
  * else); everything here is the §2.E training-data addendum surface.
  */
object FeatureOps extends QueryModule {

  private val NumBuckets = 64

  /** q229's deterministic per-mille stopword score + weak label —
    * shared by the calibration/eval family (q229/q263/q270/q282).
    */
  private def scoredDocs(s: SparkSession, d: String): DataFrame = {
    val ts = TextAnalysis.tokens(col("text"))
    Tables.documents(s, d)
      .withColumn("n_tok", size(ts))
      // zero-token guard (q229's rationale): Spark DIV yields NULL
      // where DuckDB // raises — keep the latent divergence out
      .filter(col("n_tok") > 0)
      .withColumn("stop_cnt", size(filter(ts,
        t => t.isin(TextAnalysis.Stopwords: _*))))
      .withColumn("lab", when(array_contains(ts, "dup"), 1L).otherwise(0L))
      .withColumn("sm", expr("CAST((1000 * stop_cnt) DIV n_tok AS INT)"))
  }

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(

    // Hashing-trick featurization + fixed linear scorer — fastText-
    // style quality-classifier INFERENCE (Weinberger et al. 2009,
    // "Feature Hashing for Large Scale Multitask Learning"): tokens
    // hash into 64 buckets (md5Int — the engine's portable
    // cross-engine hash, q42/q149's convention), bucket weights are
    // pseudorandom per-mille integers derived from the bucket id by
    // the same hash, and the doc score is the count-weighted sum.
    // At 100 TB this is the shape that matters: the weight "table" is
    // a pure expression of the bucket id (no join at all — a real
    // model's 2^k weights would be one broadcast array literal), the
    // only shuffle is the (doc, bucket) partial-agg groupBy, and the
    // score stays an exact BIGINT until one final division (corpus
    // token count × 1000 ≪ 2^63 at any plausible scale).
    "q281_hashed_features" -> ((s, d) => {
      val ts = TextAnalysis.tokens(col("text"))
      val cnts = Tables.documents(s, d)
        .select(col("doc_id"), explode(ts).as("tok"))
        .withColumn("bkt", pmod(TextAnalysis.md5Int(
          concat(lit("hf:"), col("tok"))), lit(NumBuckets.toLong)))
        .groupBy(col("doc_id"), col("bkt"))
        .agg(count(lit(1)).as("cnt"))
      cnts
        .withColumn("wm", pmod(TextAnalysis.md5Int(
          concat(lit("w:"), col("bkt").cast("string"))), lit(2001L)) - 1000L)
        .groupBy(col("doc_id"))
        .agg(count(lit(1)).cast("int").as("n_feat"),
          sum(col("cnt")).as("n_tok"),
          sum(col("cnt") * col("wm")).as("raw"))
        // 6dp score rounded in EXACT integer arithmetic (half away
        // from zero): score = raw/(1000·n_tok) lands exactly on a
        // .5 microunit boundary for some (raw, n_tok), where the two
        // engines' double-ROUND tie behavior diverges — integer DIV
        // of the doubled numerator cannot
        .withColumn("s6", expr(
          """CAST(CASE WHEN raw >= 0
            |  THEN (2 * raw * 1000 + n_tok) DIV (2 * n_tok)
            |  ELSE -((2 * (-raw) * 1000 + n_tok) DIV (2 * n_tok))
            |END AS BIGINT)""".stripMargin))
        .select(col("doc_id"), col("n_feat"), col("n_tok"),
          (col("s6") * lit(new java.math.BigDecimal("0.000001")))
            .cast("double").as("score"),
          (col("raw") > 0).as("pred"))
        .orderBy(col("doc_id"))
    }),

    // Expected-calibration-error reliability diagram (Guo et al. 2017)
    // over q229's per-mille stopword score vs the weak dup label —
    // the post-AUC calibration audit: per decile bin, confidence
    // (mean score) vs accuracy (positive rate) and their gap; global
    // ECE = Σ (n_b/N)·|gap|, MCE = max gap. One corpus pass to an
    // ≤11-row bin grid; conf/acc are rounded ONCE to 6dp then the
    // gap and the n-weighted ECE fold run in exact DECIMAL, so both
    // engines feed identical doubles to the final division.
    // Spiegelhalter's calibration z-test (Stat. Med. 1986) — the
    // SIGNIFICANCE companion to q282's ECE (which says how big the
    // calibration gap is, not whether it exceeds chance): with the
    // per-mille prediction p = sm/1000, Z = Σ(y−p)(1−2p) /
    // √(Σ(1−2p)²·p(1−p)). Because p is a 3dp rational, BOTH sums are
    // EXACT INTEGERS after clearing denominators — numerator·10⁶ =
    // Σ(1000y − sm)(1000 − 2sm), denominator²·10¹² = Σ(1000−2sm)²·
    // sm·(1000−sm) — and the 10⁶ scales cancel in Z exactly, so the
    // whole test is one corpus aggregation into two longs per lang,
    // one √, one division. |Z| > 1.96 flags languages where the
    // stopword-score "classifier" is provably miscalibrated.
    "q346_calibration_z" -> ((s, d) => {
      val t = scoredDocs(s, d)
        .select(col("lang"), col("sm").cast("long").as("sm"), col("lab"))
      val m = lit(1000L) - lit(2L) * col("sm")
      t.groupBy(col("lang"))
        .agg(count(lit(1)).as("n"),
          sum((lit(1000L) * col("lab") - col("sm")) * m).as("num"),
          sum(m * m * col("sm") * (lit(1000L) - col("sm"))).as("den"))
        .select(col("lang"), col("n"),
          when(col("den") > 0L, round(col("num").cast("double") /
            sqrt(col("den").cast("double")), 6)).as("z"))
        .withColumn("miscalibrated", abs(col("z")) > 1.96)
        .orderBy(col("lang"))
    }),

    "q282_ece_reliability" -> ((s, d) => {
      val bins = scoredDocs(s, d)
        .groupBy(expr("sm DIV 100").cast("int").as("bin"))
        .agg(count(lit(1)).as("n"), sum(col("lab")).as("npos"),
          sum(col("sm").cast("long")).as("sum_sm"))
        .withColumn("conf", round(col("sum_sm").cast("double") /
          (col("n").cast("double") * 1000.0), 6).cast("decimal(12,6)"))
        .withColumn("acc", round(col("npos").cast("double") /
          col("n").cast("double"), 6).cast("decimal(12,6)"))
        .withColumn("gap", abs(col("acc") - col("conf")))
      val g = bins.agg(
        round(sum(col("gap") * col("n")).cast("double") /
          sum(col("n")).cast("double"), 6).as("ece"),
        max(col("gap")).cast("double").as("mce"))
      bins.select(col("bin"), col("n").cast("int").as("n"),
          col("conf").cast("double").as("conf"),
          col("acc").cast("double").as("acc"),
          col("gap").cast("double").as("gap"))
        .crossJoin(broadcast(g))
        .orderBy(col("bin"))
    }),

    // One exact full-batch gradient-descent step of logistic
    // regression for the dup-quality classifier — the TRAINING twin
    // of q281's inference (a corpus-scale pipeline fits its filter on
    // the cluster; one synchronous full-batch step is the distributed
    // primitive every batch-GD / L-BFGS outer loop repeats). Features
    // per doc: bias, stopword per-mille (q229's sm), uppercase-token
    // per-mille, and round6(ln(1+n_tok)); label = contains "dup".
    // Arithmetic: z = w·x in EXACT DECIMAL (weights are decimal
    // literals, features integers or 6dp decimals — multiplication
    // only, no decimal division), the single transcendental σ(z) is
    // quantized to per-micro integer pm, and the gradient Σ(p−y)·x
    // folds as integers in micro² units inside DECIMAL(38,0) — the
    // one corpus reduction is association-free. Log-loss folds 6dp
    // per-row terms in DECIMAL. Output: per feature, w_old / grad /
    // w_new (lr = 0.1) + shared log-loss — a 4-row model update.
    "q287_logreg_gd_step" -> ((s, d) =>
      logregStep(s, d, Seq("0.1", "-0.2", "0.3", "0.05"))),

    // PSI drift over the HASHED FEATURE SPACE between corpus carves
    // (doc_id parity, q280's convention) — the input-distribution
    // monitor for q281's classifier: q239 watches a raw scalar, q280
    // the embedding space; this watches the exact representation the
    // model consumes, where drift means the fitted weights are stale.
    // One tokenize pass to the 64-bucket × carve count grid
    // (bucket-bounded, never corpus-bounded), q239's half-count
    // smoothing per bucket, and the GLOBAL PSI via q276's order-free
    // totalization (6dp-rounded contributions summed as DECIMAL).
    "q290_feature_psi" -> ((s, d) => {
      val counts = Tables.documents(s, d)
        .select(col("doc_id"),
          explode(TextAnalysis.tokens(col("text"))).as("tok"))
        .withColumn("bkt", pmod(TextAnalysis.md5Int(
          concat(lit("hf:"), col("tok"))), lit(NumBuckets.toLong)))
        .groupBy(col("bkt")).agg(
          sum(when(col("doc_id") % 2 === 0, 1L).otherwise(0L)).as("n_ref"),
          sum(when(col("doc_id") % 2 =!= 0, 1L).otherwise(0L)).as("n_cur"))
      val tot = counts.agg(sum(col("n_ref")).as("t_ref"),
        sum(col("n_cur")).as("t_cur"))
      val pr = (col("n_ref") + lit(0.5)) /
        (col("t_ref") + lit(0.5 * NumBuckets))
      val pc = (col("n_cur") + lit(0.5)) /
        (col("t_cur") + lit(0.5 * NumBuckets))
      val bins = counts.crossJoin(broadcast(tot))
        .select(col("bkt").cast("int").as("bkt"),
          col("n_ref"), col("n_cur"),
          round(pr, 6).as("p_ref"), round(pc, 6).as("p_cur"),
          round((pc - pr) * log(pc / pr), 6).cast("decimal(18,6)")
            .as("contrib"))
      val g = bins.agg(
        round(sum(col("contrib")).cast("double"), 6).as("psi"))
      bins.select(col("bkt"), col("n_ref"), col("n_cur"),
          col("p_ref"), col("p_cur"),
          col("contrib").cast("double").as("psi_contrib"))
        .crossJoin(broadcast(g))
        .orderBy(col("bkt"))
    }),

    // Five exact full-batch GD steps — the TRAJECTORY q287 takes one
    // step of, and the reference's own driver-iteration shape (A13:
    // driver.java:64,90 loops MapReduce jobs per epoch) restated for
    // model fitting: per step the cluster computes the exact gradient
    // aggregate, the DRIVER updates the 4-number model in exact
    // BigDecimal, and the next step re-broadcasts it — model state
    // driver-sized, data distributed, 5 corpus jobs. The double →
    // string round-trip of w_new is LOSSLESS (a ≤8-significant-digit
    // decimal is always its own shortest double repr), so the
    // driver's weights equal the oracle's DECIMAL(14,7) chain bit for
    // bit; the DuckDB twin replays all 5 steps as generated unrolled
    // CTEs. Output: (step, feature) grid of w_old/grad/w_new/loss —
    // the loss column is the descent curve.
    "q288_logreg_train" -> ((s, d) => {
      import s.implicits._
      var w = Seq("0.1", "-0.2", "0.3", "0.05")
      // one tokenize pass for all 5 steps: the features are
      // weight-independent (see logregFeatures); localCheckpoint
      // materializes the 4-column table and each step scans it
      val feat = logregFeatures(s, d).localCheckpoint()
      val rows = scala.collection.mutable.ArrayBuffer
        .empty[(Int, Int, String, Double, Double, Double, Double)]
      for (i <- 0 until 5) {
        val step = logregStepFromFeat(feat, w).collect()
          .sortBy(_.getAs[Int]("j"))
        rows ++= step.map(r => (i, r.getAs[Int]("j"),
          r.getAs[String]("feat"), r.getAs[Double]("w_old"),
          r.getAs[Double]("grad"), r.getAs[Double]("w_new"),
          r.getAs[Double]("log_loss")))
        w = step.map(r => new java.math.BigDecimal(
          r.getAs[Double]("w_new").toString).toPlainString).toSeq
      }
      rows.toSeq
        .toDF("step", "j", "feat", "w_old", "grad", "w_new", "log_loss")
        .orderBy(col("step"), col("j"))
    })
  )

  /** q287's full-batch GD step at arbitrary 6dp-decimal weights —
    * package-visible so FeatureOpsSpec can take a SECOND step from
    * the emitted w_new and gate that the log-loss actually decreased
    * (the descent property the single-step oracle can't express).
    * Weights are decimal strings so the exact-decimal z arithmetic is
    * preserved whatever the caller passes.
    */
  private[llm] def logregStep(
      s: SparkSession, d: String, w: Seq[String]): DataFrame =
    logregStepFromFeat(logregFeatures(s, d), w)

  /** The weight-INDEPENDENT per-doc feature table (sm, um, lab, l6)
    * of the logreg family — factored out of [[logregStep]] so q288's
    * 5-step trajectory tokenizes the corpus ONCE (guide §2.4 /
    * §1.2: the five GD steps differ only in the weight literals; the
    * features are a pure function of the text, so re-deriving them
    * per step was four redundant corpus passes).
    */
  private def logregFeatures(s: SparkSession, d: String): DataFrame = {
    val ts = TextAnalysis.tokens(col("text"))
    Tables.documents(s, d)
      .withColumn("tks", ts)
      .withColumn("n_tok", size(col("tks")))
      .filter(col("n_tok") > 0)
      .withColumn("sm", expr(
        "CAST((1000 * size(filter(tks, t -> t IN " +
          TextAnalysis.Stopwords.mkString("('", "','", "')") +
          "))) DIV n_tok AS INT)"))
      .withColumn("um", expr(
        "CAST((1000 * size(filter(tks, t -> t rlike '^[A-Z]'))) " +
          "DIV n_tok AS INT)"))
      .withColumn("lab",
        when(array_contains(col("tks"), "dup"), 1L).otherwise(0L))
      .withColumn("l6",
        round(log(lit(1.0) + col("n_tok").cast("double")), 6)
          .cast("decimal(12,6)"))
      .select(col("sm"), col("um"), col("lab"), col("l6"))
  }

  /** One exact full-batch GD step over a pre-built feature table —
    * the arithmetic of [[logregStep]] unchanged, input factored so
    * q288 can materialize the features once for all five steps.
    */
  private def logregStepFromFeat(feat: DataFrame, w: Seq[String]): DataFrame = {
    {
      val dec = (v: String) => lit(new java.math.BigDecimal(v))
      val Seq(w0, w1, w2, w3) = w.map(new java.math.BigDecimal(_))
      // z = w0 + w1·(sm/1000) + w2·(um/1000) + w3·l6 — exact decimal
      // (per-mille features scale through ·0.001, never a division)
      val z = lit(w0) + lit(w1) * col("sm") * dec("0.001") +
        lit(w2) * col("um") * dec("0.001") + lit(w3) * col("l6")
      val withP = feat
        .withColumn("zd", z.cast("double"))
        .withColumn("pm", round(lit(1000000.0) /
          (lit(1.0) + exp(-col("zd"))), 0).cast("long"))
        .withColumn("pd", (col("pm") * dec("0.000001")).cast("decimal(13,6)"))
        .withColumn("diff", col("pm") - col("lab") * 1000000L)
        .withColumn("lossr", round(-(col("lab").cast("double") *
            log(col("pd").cast("double")) +
          (lit(1.0) - col("lab").cast("double")) *
            log(lit(1.0) - col("pd").cast("double"))), 6)
          .cast("decimal(18,6)"))
      val agg = withP.agg(
        count(lit(1)).as("nn"),
        sum((col("diff") * 1000000L).cast("decimal(38,0)")).as("g0"),
        sum((col("diff") * (col("sm").cast("long") * 1000L))
          .cast("decimal(38,0)")).as("g1"),
        sum((col("diff") * (col("um").cast("long") * 1000L))
          .cast("decimal(38,0)")).as("g2"),
        sum((col("diff") * (col("l6") * dec("1000000")).cast("long"))
          .cast("decimal(38,0)")).as("g3"),
        sum(col("lossr")).as("lsum"))
      // DECIMAL(14,7), not (12,6): a step from 6dp weights produces
      // 7dp weights (w − 0.1·g6), and q288's trajectory feeds those
      // back in — 7dp is the FIXED POINT of the update (0.1·6dp = 7dp
      // always), so the precision never grows past this
      agg.selectExpr(
          s"""stack(4,
            |  0, 'bias',   CAST('${w0.toPlainString}' AS DECIMAL(14,7)), g0,
            |  1, 'stop',   CAST('${w1.toPlainString}' AS DECIMAL(14,7)), g1,
            |  2, 'upper',  CAST('${w2.toPlainString}' AS DECIMAL(14,7)), g2,
            |  3, 'logtok', CAST('${w3.toPlainString}' AS DECIMAL(14,7)), g3
            |) AS (j, feat, wo, graw)""".stripMargin, "nn", "lsum")
        .withColumn("g6", round(col("graw").cast("double") /
          (lit(1.0e12) * col("nn").cast("double")), 6)
          .cast("decimal(12,6)"))
        .select(col("j").cast("int").as("j"), col("feat"),
          col("wo").cast("double").as("w_old"),
          col("g6").cast("double").as("grad"),
          (col("wo") - dec("0.1") * col("g6")).cast("double").as("w_new"),
          round(col("lsum").cast("double") / col("nn").cast("double"), 6)
            .as("log_loss"))
        .orderBy(col("j"))
    }
  }

  private val stops = "('the','a','of','and','to','in','is')"

  /** Generated DuckDB twin of q288: the 5 GD steps unrolled as CTE
    * chains (w_i → per-row σ/diff at w_i → gradient aggregate →
    * rounded d_j → w_{i+1}), every step the identical arithmetic
    * q287's oracle spells once. Generated, like q197's pqOracleSql —
    * hand-maintaining 5 copies would drift.
    */
  private def logregTrainOracleSql: String = {
    val fCte =
      s"""f AS (
         |  SELECT CAST((1000 * CAST(len(list_filter(ts,
         |      t -> t IN $stops)) AS BIGINT)) // len(ts) AS INT) AS sm,
         |    CAST((1000 * CAST(len(list_filter(ts,
         |      t -> regexp_matches(t, '^[A-Z]'))) AS BIGINT)) // len(ts)
         |      AS INT) AS um,
         |    CASE WHEN list_contains(ts, 'dup') THEN 1 ELSE 0 END AS lab,
         |    CAST(ROUND(ln(1.0 + CAST(len(ts) AS DOUBLE)), 6)
         |      AS DECIMAL(12,6)) AS l6
         |  FROM (SELECT ${TextAnalysis.tokensSql} AS ts FROM documents) z
         |  WHERE len(ts) > 0)""".stripMargin
    val w0 =
      """w0(b, sw, u, t) AS (
        |  SELECT CAST(0.1 AS DECIMAL(14,7)), CAST(-0.2 AS DECIMAL(14,7)),
        |    CAST(0.3 AS DECIMAL(14,7)), CAST(0.05 AS DECIMAL(14,7)))"""
        .stripMargin
    val steps = (0 until 5).map { i =>
      s"""p$i AS (
         |  SELECT sm, um, lab, l6,
         |    CAST(ROUND(1000000.0 / (1.0 + exp(-CAST(
         |      w.b + w.sw * sm * 0.001 + w.u * um * 0.001 + w.t * l6
         |      AS DOUBLE))), 0) AS BIGINT) AS pm
         |  FROM f, w$i w),
         |q$i AS (
         |  SELECT sm, um, lab, l6, pm, pm - lab * 1000000 AS diff,
         |    CAST(pm * 0.000001 AS DECIMAL(13,6)) AS pd
         |  FROM p$i),
         |a$i AS (
         |  SELECT COUNT(*) AS nn,
         |    SUM(CAST(diff * 1000000 AS DECIMAL(38,0))) AS g0,
         |    SUM(CAST(diff * (sm * 1000) AS DECIMAL(38,0))) AS g1,
         |    SUM(CAST(diff * (um * 1000) AS DECIMAL(38,0))) AS g2,
         |    SUM(CAST(diff * CAST(l6 * 1000000 AS BIGINT)
         |      AS DECIMAL(38,0))) AS g3,
         |    SUM(CAST(ROUND(-(lab * ln(CAST(pd AS DOUBLE)) +
         |      (1 - lab) * ln(1.0 - CAST(pd AS DOUBLE))), 6)
         |      AS DECIMAL(18,6))) AS lsum
         |  FROM q$i),
         |d$i AS (
         |  SELECT nn, lsum,
         |    CAST(ROUND(CAST(g0 AS DOUBLE) / (1.0e12 * CAST(nn AS DOUBLE)),
         |      6) AS DECIMAL(12,6)) AS d0,
         |    CAST(ROUND(CAST(g1 AS DOUBLE) / (1.0e12 * CAST(nn AS DOUBLE)),
         |      6) AS DECIMAL(12,6)) AS d1,
         |    CAST(ROUND(CAST(g2 AS DOUBLE) / (1.0e12 * CAST(nn AS DOUBLE)),
         |      6) AS DECIMAL(12,6)) AS d2,
         |    CAST(ROUND(CAST(g3 AS DOUBLE) / (1.0e12 * CAST(nn AS DOUBLE)),
         |      6) AS DECIMAL(12,6)) AS d3
         |  FROM a$i),
         |w${i + 1}(b, sw, u, t) AS (
         |  SELECT CAST(w.b - 0.1 * g.d0 AS DECIMAL(14,7)),
         |    CAST(w.sw - 0.1 * g.d1 AS DECIMAL(14,7)),
         |    CAST(w.u - 0.1 * g.d2 AS DECIMAL(14,7)),
         |    CAST(w.t - 0.1 * g.d3 AS DECIMAL(14,7))
         |  FROM w$i w, d$i g)""".stripMargin
    }
    val feats = Seq((0, "'bias'", "b", "d0"), (1, "'stop'", "sw", "d1"),
      (2, "'upper'", "u", "d2"), (3, "'logtok'", "t", "d3"))
    val out = (0 until 5).flatMap { i =>
      feats.map { case (j, feat, wc, dc) =>
        s"""SELECT $i AS step, $j AS j, $feat AS feat,
           |  CAST(w.$wc AS DOUBLE) AS w_old, CAST(g.$dc AS DOUBLE) AS grad,
           |  CAST(w.$wc - 0.1 * g.$dc AS DOUBLE) AS w_new,
           |  ROUND(CAST(g.lsum AS DOUBLE) / CAST(g.nn AS DOUBLE), 6)
           |    AS log_loss
           |FROM w$i w, d$i g""".stripMargin
      }
    }.mkString("\nUNION ALL\n")
    s"""WITH $fCte,
       |$w0,
       |${steps.mkString(",\n")}
       |SELECT * FROM (
       |$out
       |) z ORDER BY step, j""".stripMargin
  }

  def oracle: Map[String, String] = Map(
    // q281: identical md5-derived bucket + weight integers (md5IntSql
    // twin), identical exact-BIGINT score fold, one final division
    "q281_hashed_features" ->
      s"""WITH tk AS (
         |  SELECT doc_id, unnest(${TextAnalysis.tokensSql}) AS tok
         |  FROM documents),
         |c AS (
         |  SELECT doc_id,
         |    ${TextAnalysis.md5IntSql("'hf:' || tok")} % 64 AS bkt,
         |    COUNT(*) AS cnt
         |  FROM tk GROUP BY 1, 2),
         |g AS (
         |  SELECT doc_id, CAST(COUNT(*) AS INT) AS n_feat,
         |    SUM(cnt) AS n_tok,
         |    SUM(cnt * (${TextAnalysis.md5IntSql(
            "'w:' || CAST(bkt AS VARCHAR)")} % 2001 - 1000)) AS raw
         |  FROM c GROUP BY doc_id)
         |SELECT doc_id, n_feat, CAST(n_tok AS BIGINT) AS n_tok,
         |  CAST((CASE WHEN raw >= 0
         |    THEN (2 * raw * 1000 + n_tok) // (2 * n_tok)
         |    ELSE -((2 * (-raw) * 1000 + n_tok) // (2 * n_tok))
         |  END) * 0.000001 AS DOUBLE) AS score,
         |  (raw > 0) AS pred
         |FROM g ORDER BY doc_id""".stripMargin,

    // q282: q229's integer score/label, identical 6dp-round-then-
    // DECIMAL conf/acc/gap, identical n-weighted DECIMAL ECE fold
    // q346: identical cleared-denominator integer sums
    "q346_calibration_z" ->
      s"""WITH t AS (
         |  SELECT lang,
         |    CAST((1000 * CAST(len(list_filter(ts,
         |      t -> t IN $stops)) AS BIGINT)) // len(ts) AS BIGINT) AS sm,
         |    CASE WHEN list_contains(ts, 'dup') THEN 1 ELSE 0 END AS lab
         |  FROM (SELECT lang, ${TextAnalysis.tokensSql} AS ts
         |        FROM documents) z
         |  WHERE len(ts) > 0),
         |g AS (
         |  SELECT lang, COUNT(*) AS n,
         |    SUM((1000 * lab - sm) * (1000 - 2 * sm)) AS num,
         |    SUM((1000 - 2 * sm) * (1000 - 2 * sm) * sm * (1000 - sm))
         |      AS den
         |  FROM t GROUP BY 1)
         |SELECT lang, CAST(n AS BIGINT) AS n,
         |  CASE WHEN den > 0 THEN ROUND(CAST(num AS DOUBLE) /
         |    SQRT(CAST(den AS DOUBLE)), 6) END AS z,
         |  (ABS(CASE WHEN den > 0 THEN ROUND(CAST(num AS DOUBLE) /
         |    SQRT(CAST(den AS DOUBLE)), 6) END) > 1.96)
         |    AS miscalibrated
         |FROM g ORDER BY lang""".stripMargin,

    "q282_ece_reliability" ->
      s"""WITH t AS (
         |  SELECT CAST((1000 * CAST(len(list_filter(ts,
         |      t -> t IN $stops)) AS BIGINT)) // len(ts) AS INT) AS sm,
         |    CASE WHEN list_contains(ts, 'dup') THEN 1 ELSE 0 END AS lab
         |  FROM (SELECT ${TextAnalysis.tokensSql} AS ts FROM documents) z
         |  WHERE len(ts) > 0),
         |b AS (
         |  SELECT sm // 100 AS bin, COUNT(*) AS n, SUM(lab) AS npos,
         |    SUM(sm) AS sum_sm
         |  FROM t GROUP BY 1),
         |e AS (
         |  SELECT bin, n,
         |    CAST(ROUND(CAST(sum_sm AS DOUBLE) /
         |      (CAST(n AS DOUBLE) * 1000.0), 6) AS DECIMAL(12,6)) AS conf,
         |    CAST(ROUND(CAST(npos AS DOUBLE) / CAST(n AS DOUBLE), 6)
         |      AS DECIMAL(12,6)) AS acc
         |  FROM b),
         |e2 AS (SELECT bin, n, conf, acc, ABS(acc - conf) AS gap FROM e),
         |g AS (
         |  SELECT ROUND(CAST(SUM(gap * n) AS DOUBLE) /
         |    CAST(SUM(n) AS DOUBLE), 6) AS ece,
         |    CAST(MAX(gap) AS DOUBLE) AS mce
         |  FROM e2)
         |SELECT CAST(bin AS INT) AS bin, CAST(n AS INT) AS n,
         |  CAST(conf AS DOUBLE) AS conf, CAST(acc AS DOUBLE) AS acc,
         |  CAST(gap AS DOUBLE) AS gap, g.ece, g.mce
         |FROM e2, g ORDER BY bin""".stripMargin,

    // q287: identical integer features, the same exact-decimal z, the
    // same per-micro σ quantization, the same micro²-integer gradient
    // folds in DECIMAL — the 4 model rows via UNION ALL over the
    // 1-row aggregate (DuckDB has no stack())
    "q287_logreg_gd_step" ->
      s"""WITH f AS (
         |  SELECT CAST((1000 * CAST(len(list_filter(ts,
         |      t -> t IN $stops)) AS BIGINT)) // len(ts) AS INT) AS sm,
         |    CAST((1000 * CAST(len(list_filter(ts,
         |      t -> regexp_matches(t, '^[A-Z]'))) AS BIGINT)) // len(ts)
         |      AS INT) AS um,
         |    CASE WHEN list_contains(ts, 'dup') THEN 1 ELSE 0 END AS lab,
         |    CAST(ROUND(ln(1.0 + CAST(len(ts) AS DOUBLE)), 6)
         |      AS DECIMAL(12,6)) AS l6
         |  FROM (SELECT ${TextAnalysis.tokensSql} AS ts FROM documents) z
         |  WHERE len(ts) > 0),
         |p AS (
         |  SELECT sm, um, lab, l6,
         |    CAST(ROUND(1000000.0 / (1.0 + exp(-CAST(
         |      0.1 - 0.0002 * sm + 0.0003 * um + 0.05 * l6
         |      AS DOUBLE))), 0) AS BIGINT) AS pm
         |  FROM f),
         |p2 AS (
         |  SELECT sm, um, lab, l6, pm,
         |    pm - lab * 1000000 AS diff,
         |    CAST(pm * 0.000001 AS DECIMAL(13,6)) AS pd
         |  FROM p),
         |a AS (
         |  SELECT COUNT(*) AS nn,
         |    SUM(CAST(diff * 1000000 AS DECIMAL(38,0))) AS g0,
         |    SUM(CAST(diff * (sm * 1000) AS DECIMAL(38,0))) AS g1,
         |    SUM(CAST(diff * (um * 1000) AS DECIMAL(38,0))) AS g2,
         |    SUM(CAST(diff * CAST(l6 * 1000000 AS BIGINT)
         |      AS DECIMAL(38,0))) AS g3,
         |    SUM(CAST(ROUND(-(lab * ln(CAST(pd AS DOUBLE)) +
         |      (1 - lab) * ln(1.0 - CAST(pd AS DOUBLE))), 6)
         |      AS DECIMAL(18,6))) AS lsum
         |  FROM p2),
         |m(j, feat, wo, graw, nn, lsum) AS (
         |  SELECT 0, 'bias',   CAST(0.1  AS DECIMAL(12,6)), g0, nn, lsum FROM a
         |  UNION ALL
         |  SELECT 1, 'stop',   CAST(-0.2 AS DECIMAL(12,6)), g1, nn, lsum FROM a
         |  UNION ALL
         |  SELECT 2, 'upper',  CAST(0.3  AS DECIMAL(12,6)), g2, nn, lsum FROM a
         |  UNION ALL
         |  SELECT 3, 'logtok', CAST(0.05 AS DECIMAL(12,6)), g3, nn, lsum FROM a),
         |m2 AS (
         |  SELECT j, feat, wo, nn, lsum,
         |    CAST(ROUND(CAST(graw AS DOUBLE) /
         |      (1.0e12 * CAST(nn AS DOUBLE)), 6) AS DECIMAL(12,6)) AS g6
         |  FROM m)
         |SELECT CAST(j AS INT) AS j, feat,
         |  CAST(wo AS DOUBLE) AS w_old,
         |  CAST(g6 AS DOUBLE) AS grad,
         |  CAST(wo - 0.1 * g6 AS DOUBLE) AS w_new,
         |  ROUND(CAST(lsum AS DOUBLE) / CAST(nn AS DOUBLE), 6) AS log_loss
         |FROM m2 ORDER BY j""".stripMargin,

    "q288_logreg_train" -> logregTrainOracleSql,

    // q290: identical md5 buckets, q239's smoothing spelled inline,
    // q276's decimal totalization for the global PSI
    "q290_feature_psi" ->
      s"""WITH tk AS (
         |  SELECT doc_id, unnest(${TextAnalysis.tokensSql}) AS tok
         |  FROM documents),
         |c AS (
         |  SELECT ${TextAnalysis.md5IntSql("'hf:' || tok")} % 64 AS bkt,
         |    SUM(CASE WHEN doc_id % 2 = 0 THEN 1 ELSE 0 END) AS n_ref,
         |    SUM(CASE WHEN doc_id % 2 <> 0 THEN 1 ELSE 0 END) AS n_cur
         |  FROM tk GROUP BY 1),
         |t AS (SELECT SUM(n_ref) AS t_ref, SUM(n_cur) AS t_cur FROM c),
         |e AS (
         |  SELECT bkt, n_ref, n_cur,
         |    ROUND((n_ref + 0.5) / (t_ref + 32.0), 6) AS p_ref,
         |    ROUND((n_cur + 0.5) / (t_cur + 32.0), 6) AS p_cur,
         |    CAST(ROUND(((n_cur + 0.5) / (t_cur + 32.0) -
         |           (n_ref + 0.5) / (t_ref + 32.0)) *
         |      LN(((n_cur + 0.5) / (t_cur + 32.0)) /
         |         ((n_ref + 0.5) / (t_ref + 32.0))), 6)
         |      AS DECIMAL(18,6)) AS contrib
         |  FROM c, t),
         |g AS (SELECT ROUND(CAST(SUM(contrib) AS DOUBLE), 6) AS psi FROM e)
         |SELECT CAST(bkt AS INT) AS bkt,
         |  CAST(n_ref AS BIGINT) AS n_ref, CAST(n_cur AS BIGINT) AS n_cur,
         |  p_ref, p_cur, CAST(contrib AS DOUBLE) AS psi_contrib, g.psi
         |FROM e, g ORDER BY bkt""".stripMargin
  )
}
