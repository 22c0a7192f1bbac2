package graft.llm

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.{QueryModule, Tables}

/** Text-analysis operators for a large-scale training-data pipeline:
  * per-language corpus stats, heuristic language ID, quality scoring,
  * token counting, and document fingerprinting — all pure narrow
  * projections + one aggregation, no UDFs (everything stays inside
  * whole-stage codegen), so they scale linearly with document count.
  *
  * Cross-engine conventions: tokenization is `split on \s+, drop
  * empties` on both engines; 60-bit integer hashes derive from md5 hex
  * prefixes (md5 is identical everywhere; a production pipeline would
  * use xxhash64, noted per-site).
  */
object TextAnalysis extends QueryModule {

  /** Whitespace tokens, empties dropped (Spark side). */
  def tokens(c: Column): Column = array_remove(split(c, "\\s+"), "")
  /** DuckDB twin of [[tokens]]. */
  val tokensSql = """list_filter(string_split_regex(text, '\s+'), t -> t <> '')"""

  /** Lowercased alpha tokens of `text` — empty strings dropped, so the
    * tokenization is split-safe on leading/trailing separators.
    */
  def alphaTokens: Column = array_remove(split(lower(col("text")), "[^a-z]+"), "")
  /** DuckDB twin of [[alphaTokens]]. */
  val alphaTokensSql =
    """list_filter(string_split_regex(lower(text), '[^a-z]+'), x -> x != '')"""

  /** First 15 md5 hex chars as a 60-bit non-negative long (Spark). */
  def md5Int(c: Column): Column =
    conv(substring(md5(c), 1, 15), 16, 10).cast("long")
  /** DuckDB twin of [[md5Int]]. */
  def md5IntSql(e: String): String =
    s"CAST('0x' || substr(md5($e), 1, 15) AS BIGINT)"

  private[llm] val Stopwords = Seq("the", "a", "of", "and", "to", "in", "is")

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // Per-language corpus statistics (SURVEY §2.B q33).
    "q33_text_stats" -> ((s, d) => {
      Tables.documents(s, d)
        .withColumn("n_tok", size(tokens(col("text"))))
        .groupBy(col("lang"))
        .agg(count(lit(1)).as("n_docs"),
          sum(col("n_tok").cast("long")).as("tot_tokens"),
          round(sum(col("n_tok").cast("long")).cast("double") / count(lit(1)), 6)
            .as("avg_tokens"),
          round(sum(col("n_chars")).cast("double") / count(lit(1)), 6)
            .as("avg_chars"),
          countDistinct(col("source")).as("n_sources"))
        .orderBy(col("lang"))
    }),

    // Heuristic n-gram/marker-word language ID. The fixture vocabulary
    // is synthetic, so the marker sets are illustrative; the operator
    // shape (token-set membership votes → argmax) is the real content.
    "q39_lang_id" -> ((s, d) => {
      val ts = tokens(col("text"))
      Tables.documents(s, d)
        .select(col("doc_id"), col("lang"),
          when(array_contains(ts, "the"), "en")
            .when(array_contains(ts, "data"), "de")
            .when(array_contains(ts, "table"), "es")
            .otherwise("unk").as("guess"))
        .withColumn("is_match", col("guess") === col("lang"))
        .orderBy(col("doc_id"))
    }),

    // Quality score: length component + stopword-ratio component +
    // punctuation count, combined into [0,1].
    "q40_quality_score" -> ((s, d) => {
      val ts = tokens(col("text"))
      Tables.documents(s, d)
        .withColumn("n_tok", size(ts))
        .withColumn("stop_cnt",
          size(filter(ts, t => t.isin(Stopwords: _*))))
        .withColumn("punct_cnt",
          length(col("text")) -
            length(regexp_replace(col("text"), "[a-zA-Z0-9 ]", "")))
        .select(col("doc_id"), col("n_tok"), col("stop_cnt"), col("punct_cnt"),
          round(least(col("n_chars") / lit(500.0), lit(1.0)) * 0.5 +
            (lit(1.0) - col("stop_cnt").cast("double") / col("n_tok")) * 0.5,
            6).as("quality"))
        .orderBy(col("doc_id"))
    }),

    // Token counting: whitespace tokens + a BPE-ish alpha-run count via
    // regexp, both codegen'd builtins.
    "q41_token_count" -> ((s, d) => {
      Tables.documents(s, d)
        .select(col("doc_id"),
          size(tokens(col("text"))).as("n_tokens"),
          regexp_count(col("text"), lit("[a-z]+")).as("n_alpha_runs"),
          length(col("text")).as("text_len"))
        .orderBy(col("doc_id"))
    }),

    // Character-level Shannon entropy per document — the classic cheap
    // detector of binary junk / encoding noise / repeated-padding text
    // (low entropy = degenerate, high = random bytes). The char explode
    // multiplies rows, but every exploded row stays in its source
    // partition and the (doc,ch) hash-agg combines map-side, so the
    // shuffle carries only docs × distinct-chars (~40) rows, not
    // docs × chars. `n` is projected BELOW the generate: a sibling
    // computed column in the same select as explode() lands in the
    // post-Generate Project and re-splits the text once per exploded
    // CHAR (O(chars²)/doc — measured 37s at sf0.1 vs 0.4s this way).
    "q137_char_entropy" -> ((s, d) => {
      val chars = array_remove(split(col("text"), ""), "")
      Tables.documents(s, d)
        .select(col("doc_id"), col("text"), size(chars).as("n"))
        .select(col("doc_id"), col("n"), explode(chars).as("ch"))
        .groupBy(col("doc_id"), col("n"), col("ch"))
        .agg(count(lit(1)).as("c"))
        .groupBy(col("doc_id"), col("n"))
        .agg(count(lit(1)).cast("int").as("n_distinct_chars"),
          round(-sum(col("c").cast("double") / col("n") *
            log(col("c").cast("double") / col("n"))), 6).as("entropy"))
        .select(col("doc_id"), col("n").cast("int").as("n_chars_tok"),
          col("n_distinct_chars"), col("entropy"))
        .orderBy(col("doc_id"))
    }),

    // Char-trigram language ID — the real n-gram-profile method (q39's
    // marker words are the toy version): per-language top-20 trigram
    // profiles built from the corpus itself, each doc voting for the
    // language whose profile overlaps its trigram set most. The
    // profile is langs×20 → broadcast into the scoring join; the
    // corpus-sized shuffles are keyed by (lang,trigram), (doc,trigram)
    // and doc. Both argmaxes are deterministic: profile rank ties
    // break on trigram, vote ties on language name.
    "q148_trigram_langid" -> ((s, d) => {
      import org.apache.spark.sql.expressions.Window
      // trigrams come from the ByteNgrams codegen expression — one
      // pass over the UTF-8 buffer (char ≡ byte n-grams on the [a-z ]
      // normalized input). The composed HOF forms are strictly worse:
      // substr-per-index rescans the string per call (O(len²)/doc,
      // ~5s at sf0.1) and a char-array element_at build still pays an
      // interpreted lambda per trigram (~4s); this is ~1.5s. The
      // normalized string is projected below the explode (q137's
      // lesson).
      val norm = lower(regexp_replace(col("text"), "[^A-Za-z ]", ""))
      // spread: the trigram explode (one row per char) otherwise runs
      // at the tiny corpus scan's single-split parallelism
      val tri = Tables.spread(s, Tables.documents(s, d))
        .select(col("doc_id"), col("lang"), norm.as("nt"))
        .filter(length(col("nt")) >= 3)
        .select(col("doc_id"), col("lang"),
          explode(graft.functions.exprs.graft_byte_ngrams(col("nt"), 3))
            .as("tg"))
      // one explode + ONE corpus-keyed shuffle: both consumers derive
      // from the (doc,lang,tg) occurrence rollup — the profile sums the
      // per-doc counts, and voting is occurrence-WEIGHTED (sum of
      // matching-trigram counts, the standard rank-profile scoring) so
      // both branches consume the identical subtree and AQE reuses its
      // exchange (the naive two-branch form re-exploded the corpus per
      // branch; a distinct-vote variant diverges the subtrees after
      // column pruning and loses the reuse)
      // the explicit isNotNull matches the filter the join would infer
      // on its probe side only — without it the two base subtrees
      // differ by that one inferred filter and the exchange can't dedupe
      val base = tri.filter(col("tg").isNotNull)
        .groupBy(col("doc_id"), col("lang"), col("tg"))
        .agg(count(lit(1)).as("c"))
      val profile = base.groupBy(col("lang"), col("tg"))
        .agg(sum(col("c")).as("c"))
        .withColumn("rk", row_number().over(
          Window.partitionBy(col("lang")).orderBy(col("c").desc, col("tg"))))
        .filter(col("rk") <= 20)
        .select(col("lang").as("plang"), col("tg"))
      val votes = base.join(broadcast(profile), "tg")
        .groupBy(col("doc_id"), col("lang"), col("plang"))
        .agg(sum(col("c")).as("v"))
      val guess = votes.withColumn("rk", row_number().over(
          Window.partitionBy(col("doc_id"))
            .orderBy(col("v").desc, col("plang"))))
        .filter(col("rk") === 1)
      guess.groupBy(col("lang"))
        .agg(count(lit(1)).cast("int").as("n_docs"),
          sum(when(col("plang") === col("lang"), 1).otherwise(0)).cast("int")
            .as("n_correct"))
        .withColumn("accuracy",
          round(col("n_correct").cast("double") / col("n_docs"), 6))
        .orderBy(col("lang"))
    }),

    // Document fingerprint: md5 over whitespace-normalized text, plus
    // its 60-bit integer form (join-key friendly). A polynomial rolling
    // hash variant ships as a custom codegen Expression in
    // graft.functions (no cross-engine oracle exists for it).
    "q42_doc_fingerprint" -> ((s, d) => {
      val norm = lower(trim(regexp_replace(col("text"), "\\s+", " ")))
      Tables.documents(s, d)
        .select(col("doc_id"),
          md5(norm).as("fp"),
          md5Int(norm).as("fp_int"))
        .orderBy(col("doc_id"))
    })
  )

  def oracle: Map[String, String] = Map(
    "q33_text_stats" ->
      s"""WITH t AS (SELECT lang, n_chars, source,
         |  len($tokensSql) AS n_tok FROM documents)
         |SELECT lang, COUNT(*) AS n_docs,
         |  CAST(SUM(n_tok) AS BIGINT) AS tot_tokens,
         |  ROUND(CAST(SUM(n_tok) AS DOUBLE) / COUNT(*), 6) AS avg_tokens,
         |  ROUND(CAST(SUM(n_chars) AS DOUBLE) / COUNT(*), 6) AS avg_chars,
         |  COUNT(DISTINCT source) AS n_sources
         |FROM t GROUP BY lang ORDER BY lang""".stripMargin,

    "q39_lang_id" ->
      s"""WITH t AS (SELECT doc_id, lang, $tokensSql AS ts FROM documents)
         |SELECT doc_id, lang,
         |  CASE WHEN list_contains(ts, 'the') THEN 'en'
         |       WHEN list_contains(ts, 'data') THEN 'de'
         |       WHEN list_contains(ts, 'table') THEN 'es'
         |       ELSE 'unk' END AS guess,
         |  (CASE WHEN list_contains(ts, 'the') THEN 'en'
         |        WHEN list_contains(ts, 'data') THEN 'de'
         |        WHEN list_contains(ts, 'table') THEN 'es'
         |        ELSE 'unk' END = lang) AS is_match
         |FROM t ORDER BY doc_id""".stripMargin,

    "q40_quality_score" ->
      s"""WITH t AS (SELECT doc_id, n_chars, text, $tokensSql AS ts FROM documents),
         |c AS (SELECT doc_id, n_chars,
         |  CAST(len(ts) AS INT) AS n_tok,
         |  CAST(len(list_filter(ts,
         |    t -> t IN ('the','a','of','and','to','in','is'))) AS INT) AS stop_cnt,
         |  CAST(length(text) -
         |    length(regexp_replace(text, '[a-zA-Z0-9 ]', '', 'g')) AS INT) AS punct_cnt
         |FROM t)
         |SELECT doc_id, n_tok, stop_cnt, punct_cnt,
         |  ROUND(LEAST(n_chars / 500.0, 1.0) * 0.5 +
         |    (1.0 - CAST(stop_cnt AS DOUBLE) / n_tok) * 0.5, 6) AS quality
         |FROM c ORDER BY doc_id""".stripMargin,

    "q41_token_count" ->
      s"""SELECT doc_id,
         |  CAST(len($tokensSql) AS INT) AS n_tokens,
         |  CAST(len(regexp_extract_all(text, '[a-z]+')) AS INT) AS n_alpha_runs,
         |  CAST(length(text) AS INT) AS text_len
         |FROM documents ORDER BY doc_id""".stripMargin,

    // same normalize/trigram/profile/vote chain; both row_number
    // argmaxes carry the same deterministic tiebreaks
    "q148_trigram_langid" ->
      """WITH t AS (
        |  SELECT doc_id, lang,
        |    lower(regexp_replace(text, '[^A-Za-z ]', '', 'g')) AS nt
        |  FROM documents),
        |tri AS (
        |  SELECT doc_id, lang, substr(nt, i, 3) AS tg
        |  FROM t, LATERAL (SELECT unnest(generate_series(1, len(nt) - 2)) AS i) z
        |  WHERE len(nt) >= 3),
        |profile AS (
        |  SELECT lang AS plang, tg FROM (
        |    SELECT lang, tg, COUNT(*) AS c,
        |      ROW_NUMBER() OVER (PARTITION BY lang
        |        ORDER BY COUNT(*) DESC, tg) AS rk
        |    FROM tri GROUP BY lang, tg)
        |  WHERE rk <= 20),
        |votes AS (
        |  SELECT doc_id, lang, plang, COUNT(*) AS v
        |  FROM tri JOIN profile USING (tg)
        |  GROUP BY 1, 2, 3),
        |guess AS (
        |  SELECT doc_id, lang, plang FROM votes
        |  QUALIFY ROW_NUMBER() OVER (PARTITION BY doc_id
        |    ORDER BY v DESC, plang) = 1)
        |SELECT lang, CAST(COUNT(*) AS INT) AS n_docs,
        |  CAST(SUM(CASE WHEN plang = lang THEN 1 ELSE 0 END) AS INT)
        |    AS n_correct,
        |  ROUND(CAST(SUM(CASE WHEN plang = lang THEN 1 ELSE 0 END) AS DOUBLE)
        |    / COUNT(*), 6) AS accuracy
        |FROM guess GROUP BY lang ORDER BY lang""".stripMargin,

    // string_split(text,'') yields the same char list Spark's
    // split-then-drop-empties does; -SUM(p·ln p) merge order differs
    // by ~1e-15 across engines, under the round(6) granularity
    "q137_char_entropy" ->
      """WITH c AS (
        |  SELECT doc_id, len(string_split(text, '')) AS n,
        |    unnest(string_split(text, '')) AS ch
        |  FROM documents),
        |cnt AS (SELECT doc_id, n, ch, COUNT(*) AS c FROM c GROUP BY 1, 2, 3)
        |SELECT doc_id, CAST(n AS INT) AS n_chars_tok,
        |  CAST(COUNT(*) AS INT) AS n_distinct_chars,
        |  ROUND(-SUM(CAST(c AS DOUBLE) / n * ln(CAST(c AS DOUBLE) / n)), 6)
        |    AS entropy
        |FROM cnt GROUP BY doc_id, n ORDER BY doc_id""".stripMargin,

    "q42_doc_fingerprint" ->
      s"""WITH t AS (SELECT doc_id,
         |  lower(trim(regexp_replace(text, '\\s+', ' ', 'g'))) AS norm
         |  FROM documents)
         |SELECT doc_id, md5(norm) AS fp, ${md5IntSql("norm")} AS fp_int
         |FROM t ORDER BY doc_id""".stripMargin
  )
}
