package graft.llm

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.{QueryModule, Tables}

/** Training-data text-pipeline operators beyond TextAnalysis's
  * stats/lang-id/quality scoring: TF-IDF term weighting, PII
  * scrubbing, and vocabulary construction — the canonical
  * corpus-preparation passes between raw documents and tokenization.
  *
  * Scale notes: tokenization is a narrow explode; term/document
  * frequencies are partial-agg-friendly groupBys keyed by term (the
  * vocabulary is orders of magnitude smaller than the corpus, so the
  * df side of the TF-IDF join broadcasts); the per-doc top-k runs on
  * doc-partitioned windows. Nothing here collects the corpus to the
  * driver.
  */
object TextPipeline extends QueryModule {

  /** Lowercased alpha tokens of `text` — empty strings dropped, so the
    * tokenization is split-safe on leading/trailing separators.
    */
  private def tokens =
    array_remove(split(lower(col("text")), "[^a-z]+"), "")

  /** DuckDB twin of [[bpeSymbols]]: the words→merges→enc→syms CTE
    * chain (no WITH keyword, no trailing comma). Callers prepend
    * `WITH RECURSIVE` and append their consumer CTEs/select.
    */
  private val bpeSymsCtes: String =
    """words AS (
      |  SELECT doc_id, widx, ts[widx + 1] AS tok
      |  FROM (SELECT doc_id, ts, CAST(unnest(range(len(ts))) AS INT) AS widx
      |        FROM (SELECT doc_id,
      |                list_filter(string_split_regex(lower(text), '[^a-z]+'),
      |                  t -> t != '') AS ts
      |              FROM documents) t1) t2),
      |pr AS (
      |  SELECT unnest(list_transform(range(1, len(cs)),
      |    i -> cs[i] || cs[i + 1])) AS pair
      |  FROM (SELECT string_split(tok, '') AS cs FROM words
      |        WHERE len(tok) >= 2) tw),
      |merges AS (
      |  SELECT pair,
      |    CAST(ROW_NUMBER() OVER (ORDER BY COUNT(*) DESC, pair) AS INT)
      |      AS rank
      |  FROM pr GROUP BY pair QUALIFY rank <= 20),
      |enc AS (
      |  SELECT doc_id, widx,
      |    '|' || array_to_string(string_split(tok, ''), '||') || '|' AS w,
      |    0 AS r
      |  FROM words
      |  UNION ALL
      |  SELECT e.doc_id, e.widx,
      |    replace(e.w, '|' || m.pair[1] || '||' || m.pair[2] || '|',
      |      '|' || m.pair || '|'),
      |    e.r + 1
      |  FROM enc e JOIN merges m ON m.rank = e.r + 1
      |  WHERE e.r < 20),
      |fin AS (SELECT * FROM enc
      |        WHERE r = (SELECT COUNT(*) FROM merges)),
      |syms AS (
      |  SELECT doc_id, widx, sidx, sl[sidx + 1] AS sym
      |  FROM (SELECT doc_id, widx, sl,
      |          CAST(unnest(range(len(sl))) AS INT) AS sidx
      |        FROM (SELECT doc_id, widx,
      |                string_split(trim(w, '|'), '||') AS sl
      |              FROM fin) a) b)""".stripMargin

  /** The q187 BPE-encode stage, reusable by consumers of the encoded
    * symbol stream (q189's packer): rank q154's top-20 char-pair
    * merges, greedy-encode every word via the wrapped-string replace
    * passes (see q187's comment for why that is exact greedy BPE),
    * return one row per (doc_id, widx, sidx, sym).
    */
  private def bpeSymbols(s: SparkSession, d: String): DataFrame = {
    // spread: the pair-count pass and the 20-pass replace encode both
    // explode per token off the tiny corpus scan's single split
    val ranked = Tables.spread(s, Tables.documents(s, d))
      .select(explode(tokens).as("tok"))
      .filter(length(col("tok")) >= 2)
      .select(explode(
        graft.functions.exprs.graft_byte_ngrams(col("tok"), 2)).as("pair"))
      .groupBy(col("pair")).agg(count(lit(1)).as("freq"))
      .orderBy(col("freq").desc, col("pair")).limit(20)
      .select(col("pair")).collect().map(_.getString(0))
    val words = Tables.spread(s, Tables.documents(s, d))
      .select(col("doc_id"), posexplode(tokens).as(Seq("widx", "tok")))
    val wrapped =
      concat(lit("|"), array_join(split(col("tok"), ""), "||"), lit("|"))
    val encoded = ranked.foldLeft(wrapped)((c, p) =>
      replace(c, lit(s"|${p(0)}||${p(1)}|"), lit(s"|$p|")))
    words.select(col("doc_id"), col("widx"),
      posexplode(split(trim(encoded, "|"), "\\|\\|")).as(Seq("sidx", "sym")))
  }

  /** The encoded symbol stream, staged once per fixture dir (see
    * [[graft.Stage]]): FOUR consumers (q187, q189, q204, q286) each
    * re-ran the merge-rank collect + the 20-pass replace encode over
    * the corpus; now the first prices one build and the rest scan the
    * staged parquet. Deterministic (rank ties break on pair; the symbol
    * stream is a pure function of the corpus), so every consumer's
    * output is unchanged.
    */
  private def bpeSymbolsStaged(s: SparkSession, d: String): DataFrame =
    Tables.spread(s, graft.Stage.parquet(s, "bpe_syms_", d)(bpeSymbols(s, d)))

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // BPE roundtrip validation — the tokenizer-integrity gate a
    // training pipeline runs before trusting q187's encode: every
    // word is rebuilt from its encoded symbol stream (symbols sorted
    // by sidx, concatenated) and compared byte-for-byte against the
    // original token. n_mismatch is computed for REAL on the Spark
    // side while the oracle pins it to literal 0 — any regression in
    // the merge table, the wrapped-string replace passes, or the
    // symbol split turns this row red instead of silently corrupting
    // every downstream token count. Per-word work rides q187's shared
    // encode stage; the rebuild is one (doc,word)-keyed agg.
    "q204_bpe_roundtrip" -> ((s, d) => {
      val words = Tables.documents(s, d)
        .select(col("doc_id"), col("lang"),
          posexplode(tokens).as(Seq("widx", "tok")))
      val rebuilt = bpeSymbolsStaged(s, d)
        .groupBy(col("doc_id"), col("widx"))
        .agg(array_join(transform(
          array_sort(collect_list(struct(col("sidx"), col("sym")))),
          x => x("sym")), "").as("rebuilt"))
      words.join(rebuilt, Seq("doc_id", "widx"))
        .groupBy(col("lang"))
        .agg(count(lit(1)).as("n_words"),
          sum(when(col("rebuilt") =!= col("tok"), 1L).otherwise(0L))
            .as("n_mismatch"))
        .orderBy(col("lang"))
    }),

    // TF-IDF with idf = ln(N/df), top-5 terms per document by weight
    // (term as tiebreak). df is a term-partitioned window COUNT over
    // the tf relation, NOT a second aggregation branch: the two-branch
    // form re-tokenizes and re-shuffles the whole corpus (Catalyst
    // does not reuse the exchange across the self-referencing
    // branches), while the window derives df in the same single pass —
    // one explode, then shuffles only by (doc,term) → term → doc.
    // N crosses in as a 1-row broadcast scalar.
    "q80_tfidf" -> ((s, d) => {
      val toks = Tables.documents(s, d)
        .select(col("doc_id"), explode(tokens).as("term"))
      val tf = toks.groupBy(col("doc_id"), col("term"))
        .agg(count(lit(1)).as("tf"))
      val n = Tables.documents(s, d).agg(count(lit(1)).as("n"))
      val wTerm = Window.partitionBy(col("term"))
      val w = Window.partitionBy(col("doc_id"))
        .orderBy(col("tfidf").desc, col("term"))
      tf.withColumn("df", count(lit(1)).over(wTerm))
        .crossJoin(broadcast(n))
        .select(col("doc_id"), col("term"), col("tf"), col("df"),
          round(col("tf") * log(col("n").cast("double") / col("df")), 6)
            .as("tfidf"))
        .withColumn("rank", row_number().over(w).cast("int"))
        .filter(col("rank") <= 5)
        .orderBy(col("doc_id"), col("rank"))
    }),

    // PII scrubbing: emails and long digit runs replaced with typed
    // placeholder tags, with per-doc match counts — one codegen'd
    // regexp pass, no UDF. The fixture corpus is synthetic, so the PII
    // is injected deterministically per row and then proven scrubbed.
    "q81_pii_scrub" -> ((s, d) => {
      val emailRe = "[a-z0-9._%+-]+@[a-z0-9.-]+\\.[a-z]{2,}"
      val phoneRe = "\\d{3}-\\d{4}"
      val dirty = concat(col("text"), lit(" contact user"), col("doc_id"),
        lit("@example.com or 555-"),
        lpad((col("doc_id") % 10000).cast("string"), 4, "0"))
      Tables.documents(s, d)
        .select(col("doc_id"),
          regexp_count(dirty, lit(emailRe)).cast("int").as("n_email"),
          regexp_count(dirty, lit(phoneRe)).cast("int").as("n_phone"),
          substring(regexp_replace(regexp_replace(dirty, emailRe, "<EMAIL>"),
            phoneRe, "<PHONE>"), -40, 40).as("scrub_tail"))
        .orderBy(col("doc_id"))
    }),

    // Vocabulary construction: corpus-wide term frequencies, dense
    // ranks, and cumulative coverage share — the "how many terms cover
    // 95% of the corpus" table every tokenizer build starts from.
    // Top-20 goes through orderBy().limit() → TakeOrderedAndProject
    // (per-partition heaps + driver merge), NOT a partition-less
    // row_number window: that plans Exchange SinglePartition over the
    // ENTIRE term-frequency table — a 10⁸-term single-task funnel at
    // corpus scale (PlanBudgetSpec now rejects that shape registry-
    // wide). Rank is recovered afterwards by position in the sorted
    // collected array — ≤20 rows, no Window node at all.
    "q82_vocab_topk" -> ((s, d) => {
      val toks = Tables.documents(s, d).select(explode(tokens).as("term"))
      val freq = toks.groupBy(col("term")).agg(count(lit(1)).as("freq"))
      val total = freq.agg(sum(col("freq")).as("total"))
      val top = freq.orderBy(col("freq").desc, col("term")).limit(20)
      top
        .agg(sort_array(collect_list(struct(
          (-col("freq")).as("negf"), col("term").as("term")))).as("arr"))
        .crossJoin(broadcast(total))
        .select(posexplode(col("arr")), col("total"))
        .select(col("col.term").as("term"), (-col("col.negf")).as("freq"),
          round((-col("col.negf")).cast("double") / col("total"), 6)
            .as("share"),
          (col("pos") + 1).cast("int").as("rank"))
        .orderBy(col("rank"))
    }),

    // Stratified sampling with per-class quotas — the corpus-balancing
    // step every training mix needs (downsample the dominant language,
    // keep the tail). Quota membership is a deterministic hash of the
    // key (q91's technique, stratified): stable under reruns, joins,
    // repartitioning, and incremental appends — a row's fate never
    // changes when the corpus around it grows, unlike RNG sampling.
    // One narrow filter, no shuffle at all; fully oracle-checkable
    // because both engines compute the identical hash.
    // Repetition-based quality filter (the Gopher-rule family): per
    // doc, the mass of the single most frequent token and the
    // duplicate-bigram fraction — the two cheapest detectors of
    // degenerate/templated text. Everything is one narrow pass: the
    // bigram stats come from array functions on the token array (no
    // second explode), only the unigram mode needs the (doc,token)
    // rollup, and both groupBys are partial-agg friendly.
    "q128_repetition_quality" -> ((s, d) => {
      // codegen'd single-pass word bigrams: the transform/element_at
      // HOF form is CodegenFallback and was the round-6 bench's most
      // expensive stage (see AdjacentPairs scaladoc)
      val bigrams = graft.functions.exprs.graft_adjacent_pairs(col("ts"))
      Tables.documents(s, d)
        .withColumn("ts", tokens)
        .filter(size(col("ts")) >= 2)
        .withColumn("n_tok", size(col("ts")))
        .withColumn("n_bi", size(col("ts")) - 1)
        .withColumn("n_dbi", size(array_distinct(bigrams)))
        .select(col("doc_id"), col("n_tok"), col("n_bi"), col("n_dbi"),
          explode(col("ts")).as("tok"))
        .groupBy(col("doc_id"), col("n_tok"), col("n_bi"), col("n_dbi"),
          col("tok"))
        .agg(count(lit(1)).as("c"))
        .groupBy(col("doc_id"), col("n_tok"), col("n_bi"), col("n_dbi"))
        .agg(max(col("c")).as("maxc"))
        .select(col("doc_id"),
          round(col("maxc").cast("double") / col("n_tok"), 6)
            .as("top_unigram_frac"),
          round(lit(1.0) - col("n_dbi").cast("double") / col("n_bi"), 6)
            .as("dup_bigram_frac"))
        .withColumn("flagged",
          col("top_unigram_frac") > 0.2 || col("dup_bigram_frac") > 0.3)
        .orderBy(col("doc_id"))
    }),

    // Collocation mining: PMI (pointwise mutual information) of
    // within-doc bigrams — ln of observed-vs-independent probability,
    // the co-occurrence statistic behind phrase detection in corpus
    // preprocessing. Unigram and bigram counts shuffle by term
    // (vocabulary cardinality, not corpus); the unigram table and both
    // scalar totals broadcast into the scoring join; top-20 by count
    // compiles to TakeOrderedAndProject (distributed top-k, no global
    // sort).
    "q134_bigram_pmi" -> ((s, d) => {
      val toks = Tables.documents(s, d)
        .withColumn("ts", tokens)
        .filter(size(col("ts")) >= 2)
      // codegen single-pass bigrams (q128's AdjacentPairs); the single
      // space is an unambiguous separator for [a-z]+ tokens, so the
      // substring_index split recovers (w1, w2) exactly
      val bi = toks.select(explode(
          graft.functions.exprs.graft_adjacent_pairs(col("ts"))).as("b"))
        .select(substring_index(col("b"), " ", 1).as("w1"),
          substring_index(col("b"), " ", -1).as("w2"))
      val bc = bi.groupBy(col("w1"), col("w2")).agg(count(lit(1)).as("nb"))
      val uni = toks.select(explode(col("ts")).as("w"))
        .groupBy(col("w")).agg(count(lit(1)).as("nw"))
      // one broadcast of `uni` serves both joins (identical exchange →
      // the second is a ReusedExchange); the two corpus totals
      // pre-combine into a single 1-row broadcast
      val tot = uni.agg(sum(col("nw")).as("tu"))
        .crossJoin(bc.agg(sum(col("nb")).as("tb")))
      bc.join(broadcast(uni), col("w1") === col("w"))
        .withColumnRenamed("w", "wa").withColumnRenamed("nw", "n1")
        .join(broadcast(uni), col("w2") === col("w"))
        .withColumnRenamed("nw", "n2")
        .crossJoin(broadcast(tot))
        .select(col("w1"), col("w2"), col("nb"),
          round(log((col("nb").cast("double") / col("tb")) /
            ((col("n1").cast("double") / col("tu")) *
              (col("n2").cast("double") / col("tu")))), 6).as("pmi"))
        .orderBy(col("nb").desc, col("w1"), col("w2"))
        .limit(20)
    }),

    // SEQUENCE PACKING: assign docs to fixed-token-budget context
    // windows ("bins") — the step between a cleaned corpus and a
    // token pipeline. A doc's bin is the 512-token window its running
    // start offset lands in, computed per (lang, shard): sharding by a
    // doc-id hash is what production packers do anyway (each worker
    // packs its own shard), and it is exactly what makes the window
    // parallel — a single per-lang cumsum would serialize on the
    // handful of language partitions. Keyed window + one groupBy; the
    // window's (lang, shard) exchange is strictly finer-grained work
    // than the corpus.
    "q135_sequence_packing" -> ((s, d) => {
      val shards = 16
      val docs = Tables.documents(s, d)
        .select(col("doc_id"), col("lang"),
          size(graft.llm.TextAnalysis.tokens(col("text"))).cast("long")
            .as("n_tok"))
        .withColumn("shard",
          (graft.llm.TextAnalysis.md5Int(col("doc_id").cast("string"))
            % shards).cast("int"))
      val w = Window.partitionBy(col("lang"), col("shard"))
        .orderBy(col("doc_id"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      docs.withColumn("cum", sum(col("n_tok")).over(w))
        .withColumn("bin", expr("(cum - n_tok) div 512"))
        .groupBy(col("lang"), col("shard"), col("bin"))
        .agg(count(lit(1)).cast("int").as("n_docs"),
          sum(col("n_tok")).as("bin_tokens"))
        .orderBy(col("lang"), col("shard"), col("bin"))
    }),

    // LM-based quality scoring, the cheapest form: per-doc mean unigram
    // log-probability under the corpus's own unigram model (exp(-avg)
    // is the familiar perplexity). The model table is vocabulary-sized,
    // so it broadcasts into the per-token scoring join; the only
    // corpus-sized shuffles are keyed by term (model build) and doc_id
    // (per-doc mean) — the same two exchanges TF-IDF needs. At 100 TB
    // the unigram table would be trained once and stored; the scoring
    // pass itself stays a broadcast join + one keyed agg.
    "q136_unigram_logprob" -> ((s, d) => {
      val toks = Tables.documents(s, d)
        .select(col("doc_id"), explode(tokens).as("term"))
      val uni = toks.groupBy(col("term")).agg(count(lit(1)).as("nw"))
      val tot = uni.agg(sum(col("nw")).as("tu"))
      toks.join(broadcast(uni), "term")
        .crossJoin(broadcast(tot))
        .groupBy(col("doc_id"))
        .agg(count(lit(1)).cast("int").as("n_tok"),
          round(avg(log(col("nw").cast("double") / col("tu"))), 6)
            .as("avg_logp"),
          round(exp(-avg(log(col("nw").cast("double") / col("tu")))), 6)
            .as("ppl"))
        .orderBy(col("doc_id"))
    }),

    // Length-outlier winsorization: per-language p05/p95 bounds (exact
    // interpolated percentiles), every doc clamped into its language's
    // band and flagged if outside — the robust-stats length filter that
    // runs before quality scoring. The per-lang stats table is
    // languages-sized, so it broadcasts; the corpus pass stays narrow.
    "q140_length_winsorize" -> ((s, d) => {
      val stats = Tables.documents(s, d).groupBy(col("lang"))
        .agg(expr("percentile(n_chars, 0.05)").as("lo"),
          expr("percentile(n_chars, 0.95)").as("hi"))
      Tables.documents(s, d)
        .join(broadcast(stats), "lang")
        .select(col("doc_id"), col("lang"), col("n_chars"),
          round(col("lo"), 6).as("lo"), round(col("hi"), 6).as("hi"),
          round(greatest(least(col("n_chars").cast("double"), col("hi")),
            col("lo")), 6).as("clamped"),
          (col("n_chars") < col("lo") || col("n_chars") > col("hi"))
            .as("is_outlier"))
        .orderBy(col("doc_id"))
    }),

    // Sketch-based frequent items: approx_top_k (Apache DataSketches
    // frequent-items under the hood) over the token stream — the
    // one-pass, mergeable, fixed-memory path to q82's vocabulary table
    // (per-partition sketches merge on the driver instead of shuffling
    // a term table). The fixture vocabulary (31 terms) is far below
    // maxItemsTracked, making the sketch provably exact, so the exact
    // SQL top-k is a valid oracle; the top-20 frequency boundary is
    // tie-free at every SF, making the selected set unique. Output is
    // re-sorted deterministically by (count desc, term).
    "q141_approx_topk_sketch" -> ((s, d) => {
      Tables.documents(s, d)
        .select(explode(tokens).as("term"))
        .agg(expr("approx_top_k(term, 20, 10000)").as("tk"))
        .select(explode(col("tk")).as("e"))
        .select(col("e.item").as("term"), col("e.count").as("freq"))
        .orderBy(col("freq").desc, col("term"))
    }),

    // CCNet-style quality bucketing: per-language head/middle/tail
    // tertiles of the LM quality score (q136's unigram log-prob) — the
    // bucketing CCNet uses to stage corpus quality tiers for training
    // mixes. The per-doc score is rounded to 6dp BEFORE the tertile
    // stats so both engines interpolate over bit-identical inputs and
    // the boundary comparisons can never flip on a ±1ulp disagreement.
    // The bounds table is languages-sized → broadcasts; the corpus
    // shuffles stay term-keyed and doc-keyed, same as q136/q80.
    "q142_ccnet_bucket" -> ((s, d) => {
      val toks = Tables.documents(s, d)
        .select(col("doc_id"), col("lang"), explode(tokens).as("term"))
      val uni = toks.groupBy(col("term")).agg(count(lit(1)).as("nw"))
      val tot = uni.agg(sum(col("nw")).as("tu"))
      val scored = toks.join(broadcast(uni), "term")
        .crossJoin(broadcast(tot))
        .groupBy(col("doc_id"), col("lang"))
        .agg(round(avg(log(col("nw").cast("double") / col("tu"))), 6)
          .as("score"))
      val bounds = scored.groupBy(col("lang"))
        .agg(expr("percentile(score, 0.3333333333333333)").as("b1"),
          expr("percentile(score, 0.6666666666666666)").as("b2"))
      scored.join(broadcast(bounds), "lang")
        .select(col("doc_id"), col("lang"), col("score"),
          when(col("score") >= col("b2"), "head")
            .when(col("score") >= col("b1"), "middle")
            .otherwise("tail").as("bucket"))
        .orderBy(col("doc_id"))
    }),

    // URL canonicalization + per-domain dedup stats — the crawl-side
    // dedup pass that runs before any fetch: lowercase scheme+host,
    // strip default port / www / query / fragment, then count distinct
    // canonical URLs per domain. The fixture injects URLs
    // deterministically per doc (q81's technique), with collision
    // structure planted via doc_id%50 paths. One narrow codegen'd
    // regexp pass + one domain-keyed groupBy; domains are the natural
    // partition key at crawl scale (and the skew key — a hot domain
    // would take q52's salting).
    "q144_url_canonicalize" -> ((s, d) => {
      val url = concat(lit("HTTPS://WWW.EXAMPLE"), col("doc_id") % 20,
        lit(".COM:443/p/"), col("doc_id") % 50,
        lit("?utm_source=feed&ref="), col("doc_id") % 7, lit("#frag"))
      val sh = lower(regexp_extract(url, "^([A-Za-z]+://[^/]+)", 1))
      val shCanon = regexp_replace(regexp_replace(sh, ":443$", ""),
        "://www\\.", "://")
      val path = regexp_extract(url, "^[A-Za-z]+://[^/]+([^?#]*)", 1)
      Tables.documents(s, d)
        .select(col("doc_id"),
          regexp_extract(shCanon, "://(.+)$", 1).as("domain"),
          concat(shCanon, path).as("canon"))
        .groupBy(col("domain"))
        .agg(count(lit(1)).cast("int").as("n_urls"),
          countDistinct(col("canon")).cast("int").as("n_canonical"))
        .orderBy(col("domain"))
    }),

    // Training-mix reweighting: given a target share per source,
    // compute each source's downsampling weight
    // min(1, target·total/source_tokens) and the achieved post-sample
    // mix — the static data-mixing step (DoReMi-lite) between corpus
    // stats and the sampler (whose per-doc mechanism is q116's hash
    // quota). Everything after the one corpus-keyed rollup operates on
    // a sources-sized table: both totals cross in as 1-row broadcasts.
    "q146_source_mix_weights" -> ((s, d) => {
      val srcStats = Tables.documents(s, d)
        .select(col("source"),
          size(graft.llm.TextAnalysis.tokens(col("text"))).cast("long")
            .as("n_tok"))
        .groupBy(col("source"))
        .agg(count(lit(1)).cast("int").as("n_docs"),
          sum(col("n_tok")).as("src_tokens"))
        .withColumn("tgtw",
          (regexp_extract(col("source"), "(\\d+)$", 1).cast("long") % 3 + 1)
            .cast("double"))
      val tots = srcStats.agg(sum(col("src_tokens")).as("total_tokens"),
        sum(col("tgtw")).as("tgt_sum"))
      val w = srcStats.crossJoin(broadcast(tots))
        .withColumn("target_share", col("tgtw") / col("tgt_sum"))
        .withColumn("weight",
          least(lit(1.0), col("target_share") * col("total_tokens")
            / col("src_tokens")))
        .withColumn("kept_tokens", col("weight") * col("src_tokens"))
      val keptTot = w.agg(sum(col("kept_tokens")).as("kept_sum"))
      w.crossJoin(broadcast(keptTot))
        .select(col("source"), col("n_docs"), col("src_tokens"),
          round(col("target_share"), 6).as("target_share"),
          round(col("weight"), 6).as("weight"),
          round(col("kept_tokens"), 6).as("kept_tokens"),
          round(col("kept_tokens") / col("kept_sum"), 6).as("achieved_share"))
        .orderBy(col("source"))
    }),

    // Shard-balance pre-check for every hash-sharded op (q135's
    // packer, a sharded writer, a salted join): docs per (lang, shard)
    // under the production shard hash, rolled up to per-lang min/max/
    // avg shard load and the skew factor max/avg — the number that
    // says whether the shard count needs raising before a run. Two
    // keyed aggs, output cardinality = languages.
    "q149_shard_balance" -> ((s, d) => {
      val shards = 16
      Tables.documents(s, d)
        .select(col("lang"),
          (graft.llm.TextAnalysis.md5Int(col("doc_id").cast("string"))
            % shards).cast("int").as("shard"))
        .groupBy(col("lang"), col("shard"))
        .agg(count(lit(1)).as("n"))
        .groupBy(col("lang"))
        .agg(count(lit(1)).cast("int").as("n_shards"),
          min(col("n")).as("min_load"), max(col("n")).as("max_load"),
          round(avg(col("n")), 6).as("avg_load"))
        .withColumn("skew",
          round(col("max_load") / col("avg_load"), 6))
        .orderBy(col("lang"))
    }),

    // BPE merge-step discovery: the most frequent adjacent symbol
    // pairs inside tokens, counted over token OCCURRENCES (so frequent
    // words weigh more) — the statistic a BPE trainer's first merge
    // maximizes, run corpus-wide. Pair counts shuffle by pair text
    // (symbol-alphabet² cardinality, not corpus); global top-20 goes
    // through orderBy().limit() → TakeOrderedAndProject with rank
    // recovered on the 20 survivors (q82's pattern — no global window).
    "q154_bpe_pair_merge" -> ((s, d) => {
      // pair windows via the ByteNgrams codegen expression (char ≡
      // byte 2-grams on the [a-z]+ tokens) — see q148's comment for
      // why the composed HOF forms lose
      val pairs = Tables.documents(s, d)
        .select(explode(tokens).as("tok"))
        .filter(length(col("tok")) >= 2)
        .select(explode(graft.functions.exprs.graft_byte_ngrams(col("tok"), 2))
          .as("pair"))
      val freq = pairs.groupBy(col("pair")).agg(count(lit(1)).as("freq"))
      freq.orderBy(col("freq").desc, col("pair")).limit(20)
        .agg(sort_array(collect_list(struct(
          (-col("freq")).as("negf"), col("pair").as("pair")))).as("arr"))
        .select(posexplode(col("arr")))
        .select(col("col.pair").as("pair"), (-col("col.negf")).as("freq"),
          (col("pos") + 1).cast("int").as("rank"))
        .orderBy(col("rank"))
    }),

    // BPE tokenizer APPLY — the missing half of q154 (trainer) +
    // q135 (packer): greedy-encode every document against the ranked
    // merge table q154 discovers, emitting per-doc token ids + counts.
    // Representation trick that makes the encode a chain of CODEGEN'D
    // string primitives on BOTH engines: a word's symbol list is one
    // string with every symbol wrapped as '|sym|' ('abc' →
    // '|a||b||c|'), so applying merge rule "xy" is a single literal
    // replace('|x||y|' → '|xy|') — left-to-right, non-overlapping, the
    // exact greedy-BPE pass order — and boundary-safe because symbols
    // never contain '|'. Rules apply in rank order (rank 1 first), one
    // pass per rule, 20 passes total; 2-char rules merge only
    // single-char symbols (a merged symbol is inert: any concat with
    // it is ≥3 chars), which is what makes pass-per-rule ≡ true BPE
    // here. Scale shape: the merge table is a corpus agg truncated to
    // 20 rows on the driver (bounded, like the IVF centroids); the
    // vocab is ≤26+20 symbols, broadcast; the encode itself is a
    // narrow whole-stage-codegen projection — no UDF, no shuffle
    // beyond vocab agg + final per-doc regroup.
    // Tokenizer-fertility audit per language — the tokenizer-choice
    // metric a multilingual pipeline reads before budgeting tokens
    // (SentencePiece's reported "fertility": subword tokens emitted
    // per whitespace word; a language whose fertility runs hot pays
    // proportionally more sequence length for the same text): per
    // lang, whitespace-word count vs q187's BPE symbol count, the
    // merged-symbol share, and chars-per-BPE-token compression. Rides
    // the shared bpeSymbols encode stage; the per-lang rollups are
    // two corpus aggs + one 5-row join. All ratios are exact-integer
    // divisions rounded once.
    "q286_bpe_fertility" -> ((s, d) => {
      val wordStats = Tables.documents(s, d)
        .select(col("lang"), explode(tokens).as("tok"))
        .groupBy(col("lang"))
        .agg(count(lit(1)).as("ws_tokens"),
          sum(length(col("tok"))).as("tok_chars"))
      val docLang = Tables.documents(s, d)
        .select(col("doc_id"), col("lang"))
      val symStats = bpeSymbolsStaged(s, d)
        .join(docLang, "doc_id")
        .groupBy(col("lang"))
        .agg(count(lit(1)).as("bpe_tokens"),
          sum(when(length(col("sym")) === 2, 1L).otherwise(0L))
            .as("merged_tokens"))
      wordStats.join(symStats, "lang")
        .select(col("lang"), col("ws_tokens"), col("tok_chars"),
          col("bpe_tokens"), col("merged_tokens"),
          round(col("bpe_tokens").cast("double") /
            col("ws_tokens").cast("double"), 6).as("fertility"),
          round(col("tok_chars").cast("double") /
            col("bpe_tokens").cast("double"), 6).as("chars_per_bpe"))
        .orderBy(col("lang"))
    }),

    "q187_bpe_tokenize" -> ((s, d) => {
      val syms = bpeSymbolsStaged(s, d)
      // vocab ids by (freq desc, sym) — q154's sort_array/posexplode
      // ranking (partial+final agg over a ≤46-row relation), not a
      // SinglePartition window funnel
      val vocab = syms.groupBy(col("sym")).agg(count(lit(1)).as("cnt"))
        .agg(sort_array(collect_list(struct(
          (-col("cnt")).as("negc"), col("sym").as("sym")))).as("arr"))
        .select(posexplode(col("arr")))
        .select(col("col.sym").as("sym"),
          (col("pos") + 1).cast("int").as("tid"))
      syms.join(broadcast(vocab), "sym")
        .groupBy(col("doc_id"))
        .agg(count(lit(1)).as("n_tokens"),
          sum(when(length(col("sym")) === 2, 1L).otherwise(0L))
            .as("n_merged"),
          array_join(transform(sort_array(collect_list(struct(
              col("widx"), col("sidx"), col("tid")))),
            x => x("tid").cast("string")), ",").as("ids_csv"))
        .orderBy(col("doc_id"))
    }),

    // Sequence packing over REAL tokenizer output — q135's packer
    // re-stated on q187's BPE token counts instead of whitespace
    // counts, closing the tokenize → pack loop end to end (what a
    // production trainer actually packs is post-tokenizer lengths;
    // whitespace counts over-estimate by the merge rate). Same
    // at-scale shape as q135: shard hash is a narrow projection, the
    // cumulative sum runs per (lang, shard) partition, bins are token
    // offsets div 512 — plus the per-doc BPE count aggregation, which
    // shuffles by doc_id once.
    "q189_pack_bpe_tokens" -> ((s, d) => {
      val shards = 16
      val counts = bpeSymbolsStaged(s, d).groupBy(col("doc_id"))
        .agg(count(lit(1)).as("n_tok"))
      val docs = Tables.documents(s, d).select(col("doc_id"), col("lang"))
        .join(counts, "doc_id")
        .withColumn("shard",
          (graft.llm.TextAnalysis.md5Int(col("doc_id").cast("string"))
            % shards).cast("int"))
      val w = Window.partitionBy(col("lang"), col("shard"))
        .orderBy(col("doc_id"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      docs.withColumn("cum", sum(col("n_tok")).over(w))
        .withColumn("bin", expr("(cum - n_tok) div 512"))
        .groupBy(col("lang"), col("shard"), col("bin"))
        .agg(count(lit(1)).cast("int").as("n_docs"),
          sum(col("n_tok")).as("bin_tokens"),
          round(avg(col("n_tok")), 6).as("avg_doc_tokens"))
        .orderBy(col("lang"), col("shard"), col("bin"))
    }),

    "q116_stratified_sample" -> ((s, d) => {
      val h = graft.llm.TextAnalysis.md5Int(col("doc_id").cast("string")) % 100
      val quota = when(col("lang") === "en", 50).otherwise(20)
      Tables.documents(s, d)
        .filter(h < quota)
        .select(col("doc_id"), col("lang"))
        .orderBy(col("doc_id"))
    }),

    // Sliding-window document chunking — the pretraining/RAG chunker:
    // 80-char windows on a 60-char stride (20-char overlap), emitting
    // per-chunk offsets and an md5 of the chunk instead of the chunk
    // text (hash parity proves byte-identical chunking without
    // ballooning the result). One narrow Generate per doc (len/stride
    // starts, a handful of ints); the substr runs above the Generate
    // because it depends on the generated offset — per-chunk substr is
    // O(chunk), not q137's per-char O(len²) trap. At 100 TB this is a
    // map-only pass: chunk count is linear in corpus bytes, documents
    // never straddle partitions, and the only shuffle is the output
    // sort (which a real pipeline writing chunks wouldn't carry).
    "q157_chunk_overlap" -> ((s, d) => {
      val C = 80
      val S = 60
      Tables.documents(s, d)
        .filter(length(col("text")) >= 1)
        .select(col("doc_id"), col("text"),
          explode(sequence(lit(0), length(col("text")) - 1, lit(S)))
            .as("chunk_start"))
        .select(col("doc_id"), col("chunk_start"),
          col("text").substr(col("chunk_start") + 1, lit(C)).as("chunk"))
        .select(col("doc_id"),
          (col("chunk_start") / S).cast("int").as("chunk_id"),
          col("chunk_start").cast("int").as("chunk_start"),
          length(col("chunk")).cast("int").as("chunk_len"),
          md5(col("chunk")).as("chunk_hash"))
        .orderBy(col("doc_id"), col("chunk_id"))
    }),

    // Quality-filter cascade with per-stage drop accounting — the
    // observability report every corpus-cleaning pipeline ships next
    // to its filters: each doc is attributed to the FIRST stage that
    // rejects it (min-length → script → repetition → word shape), then
    // the per-stage n_in/n_dropped/n_out/drop_rate funnel is derived
    // from that ≤5-row drop profile. The corpus is touched exactly
    // twice (one tokenize pass for the per-doc stats, one count for
    // the total); everything after the drop-profile aggregation is
    // constant-size arithmetic over broadcast scalars, so the funnel
    // costs the same as the filters it audits at any corpus size.
    "q158_filter_funnel" -> ((s, d) => {
      import s.implicits._
      val docs = Tables.documents(s, d)
      val tf = docs.select(col("doc_id"), explode(tokens).as("tok"))
        .groupBy(col("doc_id"), col("tok")).agg(count(lit(1)).as("c"))
      val rep = tf.groupBy(col("doc_id")).agg(
        round(max(col("c")).cast("double") / sum(col("c")), 6).as("rep"),
        sum(col("c")).as("n_tok"),
        sum(col("c") * length(col("tok"))).as("alpha_chars"))
      // round the avg word length BEFORE comparing, so the band edges
      // can't flip on a ulp between engines
      val awl = round(col("alpha_chars").cast("double") / col("n_tok"), 6)
      val flags = docs.join(rep, "doc_id").select(
        when(col("n_chars") < 100, 1)
          .when(col("lang") === "zh", 2)
          .when(col("rep") > 0.2, 3)
          .when(not(awl.between(4.2, 4.8)), 4)
          .otherwise(0).as("first_fail"))
      val drops = flags.groupBy(col("first_fail")).agg(count(lit(1)).as("n"))
      val stages = Seq((1, "min_length"), (2, "latin_script"),
        (3, "repetition"), (4, "word_shape")).toDF("stage", "stage_name")
      val tot = docs.agg(count(lit(1)).as("total"))
      stages.crossJoin(broadcast(tot)).crossJoin(broadcast(drops))
        .groupBy(col("stage"), col("stage_name"), col("total"))
        .agg(
          sum(when(col("first_fail") > 0 && col("first_fail") < col("stage"),
            col("n")).otherwise(0L)).as("before"),
          sum(when(col("first_fail") === col("stage"), col("n"))
            .otherwise(0L)).as("at"))
        .select(col("stage"), col("stage_name"),
          (col("total") - col("before")).as("n_in"),
          col("at").as("n_dropped"),
          (col("total") - col("before") - col("at")).as("n_out"),
          round(col("at").cast("double") / (col("total") - col("before")), 6)
            .as("drop_rate"))
        .orderBy(col("stage"))
    }),

    // Zipf rank-frequency fit — the corpus-health diagnostic that
    // flags unnatural token distributions: natural text fits
    // ln(freq) ≈ slope·ln(rank) + c with slope ≈ −1; machine-generated
    // or template text (like this fixture: slope ≈ −0.2, r² ≈ 0.06)
    // does not. One tokenize pass → vocab-keyed count → top-1000 head
    // via orderBy().limit() (TakeOrderedAndProject, rank recovered on
    // the survivors — q82's pattern, no global window over the vocab)
    // → a single regression aggregate over ≤1000 points. The corpus is
    // read once; everything after the vocab rollup is vocab-head-sized.
    // Vocabulary-richness estimation per source — Chao1 species
    // richness (1984, bias-corrected form) + Good–Turing unseen mass
    // over word BIGRAMS: the "how much of this source's phrase space
    // have we actually crawled" gauge a collection pipeline reads to
    // decide whether more crawling of a source still buys novelty
    // (complements q224 novelty scoring and q160's head-shape gauge
    // with a TAIL-mass estimate). Sufficient statistics are the
    // frequency-of-frequency counts (V, n₁, n₂, N) off one codegen'd
    // bigram pass (AdjacentPairs) + one (source,bigram) rollup —
    // bounded by the phrase vocabulary, not the corpus — then Chao1 =
    // V + n₁(n₁−1)/(2(n₂+1)) and unseen mass n₁/N are one exact-long
    // division each. The bias-corrected Chao1 stays defined at n₂=0,
    // which the near-saturated bench fixture actually exercises (the
    // estimator collapsing toward V as the corpus saturates is the
    // correct cross-SF behavior: sf0.01 n₁≈300 → tail mass, sf0.1
    // n₁≈9 → coverage ≈ 1).
    "q269_vocab_richness" -> ((s, d) => {
      val bi = graft.functions.exprs.graft_adjacent_pairs(col("ts"))
      Tables.documents(s, d)
        .withColumn("ts", tokens)
        .filter(size(col("ts")) >= 2)
        .select(col("source"), explode(bi).as("w"))
        .groupBy(col("source"), col("w")).agg(count(lit(1)).as("c"))
        .groupBy(col("source")).agg(
          count(lit(1)).as("v"),
          sum(when(col("c") === 1, 1L).otherwise(0L)).as("n1"),
          sum(when(col("c") === 2, 1L).otherwise(0L)).as("n2"),
          sum(col("c")).as("n"))
        .select(col("source"), col("v").cast("int").as("v_obs"),
          col("n1").cast("int").as("n1"), col("n2").cast("int").as("n2"),
          col("n").as("n_bigrams"),
          round(col("v") + (col("n1") * (col("n1") - 1L)).cast("double") /
            (lit(2L) * (col("n2") + 1L)).cast("double"), 4).as("chao1"),
          round(col("n1").cast("double") / col("n"), 6)
            .as("gt_unseen_mass"),
          round(lit(1.0) - col("n1").cast("double") / col("n"), 6)
            .as("coverage"))
        .orderBy(col("source"))
    }),

    "q160_zipf_fit" -> ((s, d) => {
      val freq = Tables.documents(s, d)
        .select(explode(tokens).as("term"))
        .groupBy(col("term")).agg(count(lit(1)).as("freq"))
      val ranked = freq.orderBy(col("freq").desc, col("term")).limit(1000)
        .agg(sort_array(collect_list(struct(
          (-col("freq")).as("negf"), col("term").as("term")))).as("arr"))
        .select(posexplode(col("arr")))
        .select((col("pos") + 1).cast("int").as("rank"),
          (-col("col.negf")).as("freq"))
      ranked.agg(count(lit(1)).cast("int").as("n_terms"),
        round(regr_slope(log(col("freq")), log(col("rank"))), 4)
          .as("zipf_slope"),
        round(regr_intercept(log(col("freq")), log(col("rank"))), 4)
          .as("zipf_intercept"),
        round(regr_r2(log(col("freq")), log(col("rank"))), 4).as("r2"))
    }),

    // Source VOCABULARY-OVERLAP matrix (Jaccard + Szymkiewicz–
    // Simpson overlap coefficient per source pair) — the redundancy
    // map a curation team reads before q146/q349 mixing: two sources
    // with overlap ≈ 1 are the same content under different mastheads
    // and double-count in any token budget. Candidates come from the
    // token-keyed join of the distinct (source, token) table — the
    // per-token fan-out is C(#sources-containing, 2) ≤ C(|sources|,2),
    // a data-model constant, so the join is vocab×pairs bounded at
    // any corpus size (never docs²). Counts exact integers; Jaccard
    // and overlap are one division each, 6dp-settled before the
    // top-30 rank (pair tiebreaks).
    "q355_source_overlap" -> ((s, d) => {
      val dt = Tables.documents(s, d)
        .select(col("source"), explode(tokens).as("t"))
        .distinct()
        .localCheckpoint() // (source × vocab)-bounded; 3 consumers
      val sizes = dt.groupBy(col("source")).agg(count(lit(1)).as("nv"))
      val inter = dt.select(col("source").as("sa"), col("t"))
        .join(dt.select(col("source").as("sb"), col("t")), Seq("t"))
        .filter(col("sa") < col("sb"))
        .groupBy(col("sa"), col("sb"))
        .agg(count(lit(1)).as("inter"))
      inter
        .join(broadcast(sizes.select(col("source").as("sa"),
          col("nv").as("na"))), "sa")
        .join(broadcast(sizes.select(col("source").as("sb"),
          col("nv").as("nb"))), "sb")
        .select(col("sa"), col("sb"), col("inter"), col("na"), col("nb"),
          round(col("inter").cast("double") /
            (col("na") + col("nb") - col("inter")).cast("double"), 6)
            .as("jaccard"),
          round(col("inter").cast("double") /
            least(col("na"), col("nb")).cast("double"), 6)
            .as("overlap_coef"))
        .orderBy(col("overlap_coef").desc, col("jaccard").desc,
          col("sa"), col("sb"))
        .limit(30)
    }),

    // TEMPERATURE-SMOOTHED source mixing (the multilingual-sampling
    // rule of XLM-R / mT5: q_s ∝ p_s^(1/T)) at T=2 — the upweighting
    // that keeps low-resource sources from vanishing under
    // natural-share sampling without the hard caps of q146's
    // target-share mix. T=2 is chosen deliberately: p^(1/2) = √p is a
    // CORRECTLY-ROUNDED IEEE operation (bit-identical cross-engine),
    // where an arbitrary-T pow is not — each √share settles at 9dp
    // into exact DECIMAL, the normalizer is an order-free decimal
    // sum, and the smoothed shares + effective-epoch factors
    // (q_s·T_tok/tok_s — how many passes over source s one smoothed
    // epoch implies) are one fixed-order double expression each. ONE
    // corpus pass to the |sources| grid.
    "q349_temperature_mix" -> ((s, d) => {
      val srcTok = Tables.documents(s, d)
        .select(col("source"), size(tokens).cast("long").as("n_tok"))
        .groupBy(col("source"))
        .agg(count(lit(1)).as("n_docs"), sum(col("n_tok")).as("tok"))
        .localCheckpoint() // |sources| grid: feeds totals, √, output
      val tot = srcTok.agg(sum(col("tok")).as("tt"))
      val w = srcTok.crossJoin(broadcast(tot))
        .withColumn("r", expr("CAST(round(sqrt(CAST(tok AS DOUBLE) / " +
          "CAST(tt AS DOUBLE)), 9) AS DECIMAL(12,9))"))
      val rsum = w.agg(sum(col("r")).as("rs"))
      w.crossJoin(broadcast(rsum))
        .select(col("source"), col("n_docs"), col("tok").as("n_tokens"),
          round(col("tok").cast("double") / col("tt").cast("double"), 6)
            .as("natural_share"),
          round(col("r").cast("double") / col("rs").cast("double"), 6)
            .as("temp_share"),
          round((col("r").cast("double") / col("rs").cast("double")) *
            (col("tt").cast("double") / col("tok").cast("double")), 6)
            .as("effective_epochs"))
        .orderBy(col("source"))
    }),

    // HEAPS' LAW fit (Heaps 1978; Herdan 1960) — vocabulary growth
    // V(N) ≈ k·N^β, the planning constant behind tokenizer vocab
    // sizing and dedup-index capacity: sublinear β means doubling the
    // corpus does NOT double the term dictionary. Exact cumulative
    // growth is order-dependent, so the curve is sampled at SHARD
    // granularity (q162's md5 deterministic shuffle into 16 shards):
    // each term's FIRST-OCCURRENCE shard comes from one min-aggregate
    // (never a sequential scan), cumulative (tokens, vocab) per shard
    // prefix is a fold over the 16-row grid, and the log-log OLS runs
    // on 9dp-SETTLED ln points with exact DECIMAL sufficient
    // statistics (q245's discipline — q160's float regr_slope is the
    // liberal sibling) — one division each for β and ln k at the
    // output boundary. Corpus-sized work: one tokenize pass + one
    // (shard, term) distinct.
    "q340_heaps_fit" -> ((s, d) => {
      val dt = Tables.documents(s, d)
        .select(pmod(graft.llm.TextAnalysis.md5Int(
          concat(lit("h:"), col("doc_id"))), lit(16)).as("shard"),
          tokens.as("ts"))
      val perShard = dt.groupBy(col("shard"))
        .agg(sum(size(col("ts"))).as("ntok"))
      val firstSeen = dt
        .select(col("shard"), explode(col("ts")).as("term"))
        .groupBy(col("term")).agg(min(col("shard")).as("fs"))
        .groupBy(col("fs")).agg(count(lit(1)).as("nv"))
      val grid = perShard
        .join(firstSeen, perShard("shard") === firstSeen("fs"), "left")
        .select(col("shard"), col("ntok"),
          coalesce(col("nv"), lit(0L)).as("nv"))
      val pts = grid
        .agg(sort_array(collect_list(struct(col("shard"), col("ntok"),
          col("nv")))).as("g"))
        .select(col("g"), posexplode(col("g")))
        .select(
          expr("aggregate(slice(g, 1, pos + 1), 0L, " +
            "(a, x) -> a + x.ntok)").as("cn"),
          expr("aggregate(slice(g, 1, pos + 1), 0L, " +
            "(a, x) -> a + x.nv)").as("cv"))
        .select(col("cn"), col("cv"),
          expr("CAST(round(ln(CAST(cn AS DOUBLE)), 9) " +
            "AS DECIMAL(18,9))").as("x"),
          expr("CAST(round(ln(CAST(cv AS DOUBLE)), 9) " +
            "AS DECIMAL(18,9))").as("y"))
      val f = pts.agg(count(lit(1)).as("n"),
        max(col("cn")).as("tot_tokens"), max(col("cv")).as("vocab"),
        sum(col("x")).as("sx"), sum(col("y")).as("sy"),
        sum(col("x") * col("x")).as("sxx"),
        sum(col("x") * col("y")).as("sxy"))
      // sums are exact decimals; the closing algebra runs in doubles
      // with one fixed association order (a 38-width decimal product
      // of the sums would be scale-clamped — not exact — on Spark and
      // a width error on DuckDB)
      val nD = col("n").cast("double")
      val beta = (nD * col("sxy").cast("double") -
        col("sx").cast("double") * col("sy").cast("double")) /
        (nD * col("sxx").cast("double") -
          col("sx").cast("double") * col("sx").cast("double"))
      f.select(col("n").cast("int").as("n_shards"), col("tot_tokens"),
        col("vocab"),
        // + 0.0 normalizes IEEE -0.0 (the q270 signed-zero class: at a
        // saturated-vocab fixture the slope rounds to a signed zero)
        (round(beta, 6) + lit(0.0)).as("heaps_beta"),
        (round((col("sy").cast("double") - beta * col("sx").cast("double"))
          / nD, 6) + lit(0.0)).as("heaps_logk"))
    }),

    // Per-domain token quota — the crawl-curation rule that stops any
    // single source from dominating the mix (q146 reweights globally;
    // this CAPS each source): docs are ranked within their source
    // (longest-first, any per-doc score slots in) and kept while the
    // tokens admitted BEFORE them stay under the budget, so exactly
    // the first budget-crossing doc is the last one in.
    //
    // TWO-PHASE, not a per-source window: a handful of sources over
    // 100 TB makes Window.partitionBy(source) a ~20 TB single-task
    // sort (bounded per-domain STATE is not bounded per-domain
    // PARTITION — round-10 verdict's one weak mark). Instead, q202's
    // two-phase ranking applied per source: (1) deterministic n_chars
    // range buckets from parquet FOOTER min/max (no data pass) →
    // per-(source,bucket) token subtotals (≤|sources|·nb rows,
    // driver-folded into exclusive prefix offsets in rank order, each
    // bucket classified keep/scan/drop against the budget); (2) only
    // the ≤1 budget-straddling bucket per source pays a windowed
    // running sum — partitioned by (source, bucket), so no window
    // partition ever carries more than one bucket of one source
    // (DomainQuotaSpec pins this) — while fully-kept/fully-dropped
    // buckets resolve with no sort at all. Bucket order is rank order
    // because the bucket is a monotone function of n_chars alone:
    // (bucket asc, n_chars desc, doc_id) ≡ (n_chars desc, doc_id).
    // All-integer arithmetic; classification is conservative (a
    // bucket landing exactly ON the budget boundary goes to the scan
    // class, where zero-token edge docs resolve exactly).
    "q209_domain_quota" -> ((s, d) => {
      val budget = 1000L
      val nb = 16
      val (mn, mx) = Tables.parquetColumnMinMaxLong(s, d, "documents", "n_chars")
      val span = mx - mn + 1
      // bucket 0 holds the LARGEST n_chars (rank order = bucket asc)
      val bucketOf = floor((lit(mx) - col("n_chars")) * nb / span).cast("int")
      val docs = Tables.documents(s, d)
        .select(col("doc_id"), col("source"), col("n_chars"),
          size(tokens).cast("long").as("n_tok"))
        .withColumn("b", bucketOf)
      // phase 1: per-(source,bucket) subtotals — ≤|sources|·nb rows
      val subs = docs.groupBy(col("source"), col("b"))
        .agg(sum(col("n_tok")).as("sub"))
        .collect().map(r => (r.getString(0), r.getInt(1), r.getLong(2)))
      // driver fold: exclusive prefix offsets per source in bucket
      // order; keep ⟺ off+sub < budget (every doc's prior strictly
      // under even for trailing zero-token docs), drop ⟺ off ≥ budget,
      // scan otherwise (≤1 bucket per source, offsets are monotone)
      val classified = subs.groupBy(_._1).toSeq.flatMap { case (src, rows) =>
        val sorted = rows.sortBy(_._2)
        val offs = sorted.scanLeft(0L)(_ + _._3).init
        sorted.zip(offs).map { case ((_, b, sub), off) =>
          val cls =
            if (off >= budget) "drop"
            else if (off + sub < budget) "keep"
            else "scan"
          (src, b, off, cls)
        }
      }
      import s.implicits._
      val offDf = broadcast(classified.toDF("source", "b", "off", "cls"))
      val joined = docs.join(offDf, Seq("source", "b"))
      // phase 2: the straddling bucket's exact per-doc rule — window
      // partitioned by (source, bucket): one bucket's rows per task
      val w = Window.partitionBy(col("source"), col("b"))
        .orderBy(col("n_chars").desc, col("doc_id"))
        .rowsBetween(Window.unboundedPreceding, -1)
      val scanned = joined.filter(col("cls") === "scan")
        .withColumn("prior",
          col("off") + coalesce(sum(col("n_tok")).over(w), lit(0L)))
        .withColumn("kept", col("prior") < budget)
      val direct = joined.filter(col("cls") =!= "scan")
        .withColumn("kept", col("cls") === "keep")
      val cols = Seq("source", "n_tok", "kept").map(col)
      scanned.select(cols: _*).unionByName(direct.select(cols: _*))
        .groupBy(col("source"))
        .agg(count(lit(1)).cast("int").as("n_docs"),
          sum(when(col("kept"), 1).otherwise(0)).cast("int").as("n_kept"),
          sum(when(col("kept"), col("n_tok")).otherwise(0L))
            .as("tokens_kept"),
          sum(when(!col("kept"), col("n_tok")).otherwise(0L))
            .as("tokens_dropped"))
        .orderBy(col("source"))
    }),

    // Inverted-index CONSTRUCTION (round 11) — the build step q211's
    // BM25 scoring presumes: term → (df, cf, capped posting list).
    // One tokenize → (term, doc) distinct-count pass (the only
    // corpus-sized work, term-keyed partial aggregation), with the
    // posting list CAPPED at k=5 via the collect_top_k heap — ≤k
    // postings per term cross the shuffle however large a term's
    // posting list grows (the stop-word problem is exactly a hot-key
    // problem, and the cap is the bound; a real index shards the full
    // list by doc-range, this emits the deterministic first-k
    // preview). Output restricted to the 10 highest-df terms via
    // TakeOrderedAndProject — no global sort.
    "q223_inverted_index" -> ((s, d) => {
      import graft.functions.exprs.graft_collect_top_k
      val posting = Tables.documents(s, d)
        .select(col("doc_id"), explode(tokens).as("term"))
        .groupBy(col("term"), col("doc_id"))
        .agg(count(lit(1)).as("tf"))
      posting.groupBy(col("term"))
        .agg(count(lit(1)).cast("long").as("df"),
          sum(col("tf")).as("cf"),
          graft_collect_top_k(col("doc_id"), 5, reverse = true)
            .as("first_docs"))
        .orderBy(col("df").desc, col("term")).limit(10)
        // stringified posting preview: the harness comparator is
        // scalar-typed, and 'd1,d2,...' hash-compares exactly
        .select(col("term"), col("df"), col("cf"),
          concat_ws(",", sort_array(col("first_docs")))
            .as("first_docs"))
        .orderBy(col("term"))
    }),

    // Incremental inverted-index MAINTENANCE (round 11) — update
    // q223's per-term stats from a CDC delta without rescanning the
    // corpus (q199's signed-contribution algebra applied to
    // retrieval): base index over the v1 carve (doc_id%5≠0), delta =
    // v1→v2 (%5 adds, %7 removes, same carves as q199) contributes
    // (±1 df, ±tf cf) per (term, changed doc), and one term-keyed
    // groupBy re-emits current stats — the merge touches
    // |terms-in-delta| + |index| rows, never the corpus. The oracle
    // recomputes the index DIRECTLY from v2: merge ≡ recompute, all
    // integer arithmetic. Terms whose df reaches 0 drop out (the
    // posting-list delete). Output: the 15 highest-df v2 terms.
    "q225_incremental_index" -> ((s, d) => {
      def tf(docs: org.apache.spark.sql.DataFrame) = docs
        .select(col("doc_id"), explode(tokens).as("term"))
        .groupBy(col("term"), col("doc_id"))
        .agg(count(lit(1)).as("tf"))
      val docs = Tables.documents(s, d)
      val base = tf(docs.filter(col("doc_id") % 5 =!= 0))
        .groupBy(col("term"))
        .agg(count(lit(1)).as("df"), sum(col("tf")).as("cf"))
      val adds = tf(docs.filter(col("doc_id") % 5 === 0
          && col("doc_id") % 7 =!= 0))
        .select(col("term"), lit(1L).as("df"), col("tf").as("cf"))
      val removes = tf(docs.filter(col("doc_id") % 7 === 0
          && col("doc_id") % 5 =!= 0))
        .select(col("term"), lit(-1L).as("df"), (-col("tf")).as("cf"))
      base.select(col("term"), col("df"), col("cf"))
        .unionAll(adds).unionAll(removes)
        .groupBy(col("term"))
        .agg(sum(col("df")).as("df"), sum(col("cf")).as("cf"))
        .filter(col("df") > 0)
        .orderBy(col("df").desc, col("term")).limit(15)
        .orderBy(col("term"))
    }),

    // N-gram NOVELTY scoring (round 11) — "how much of this doc is
    // text we have not seen before": the fraction of a doc's distinct
    // word trigrams absent from a reference corpus (here the
    // doc_id%2=0 carve; any prior crawl slots in). Boilerplate and
    // template spam score ~0, genuinely new text ~1 — the diversity
    // complement to q128's repetition and q130's contamination
    // screens. Shapes: trigram hashes via the same md5 the oracle
    // computes; the reference's distinct-gram relation semi-joins the
    // doc grams (gram-keyed shuffle, no pairwise anything); at 100 TB
    // the reference side becomes a bloom filter (q115's pattern) and
    // the join disappears into the scan.
    "q224_ngram_novelty" -> ((s, d) => {
      // trigrams via the sliding slice of the token ARRAY — pure
      // per-row expression work (no per-doc window, no shuffle until
      // the distinct): gram i = tokens[i..i+2] joined by spaces
      val tri = Tables.documents(s, d)
        .select(col("doc_id"), tokens.as("ts"))
        .select(col("doc_id"), explode(expr(
          // the IF guards the <3-token doc: sequence(0,-1) would step
          // DOWNWARD (Spark defaults step=-1 when start>stop), not
          // return empty
          "IF(size(ts) >= 3, transform(sequence(0, size(ts) - 3), " +
            "i -> concat_ws(' ', ts[i], ts[i+1], ts[i+2])), " +
            "array())")).as("gram"))
        .select(col("doc_id"),
          TextAnalysis.md5Int(col("gram")).as("g")).distinct()
      val ref = tri.filter(col("doc_id") % 2 === 0)
        .select(col("g")).distinct()
      tri.filter(col("doc_id") % 2 =!= 0)
        .join(ref.withColumn("seen", lit(1)), Seq("g"), "left")
        .groupBy(col("doc_id"))
        .agg(count(lit(1)).cast("long").as("n_grams"),
          sum(when(col("seen").isNull, 1).otherwise(0)).cast("long")
            .as("n_novel"))
        .withColumn("novelty",
          round(col("n_novel").cast("double") / col("n_grams"), 6))
        .orderBy(col("doc_id"))
    }),

    // BM25 retrieval (Okapi, k1=1.2 b=0.75, Lucene's +1 idf): score
    // every document against the corpus's top-3 non-stopword terms
    // and keep the top-20 — the lexical half of a retrieval stack
    // (q212 fuses it with the dense half). The tokenize→(doc,term)
    // count pass — the only corpus-sized work — runs ONCE and is
    // persisted (the Dedup band-stage pattern: the declarative DAG's
    // four consumers each prune different columns, so AQE exchange
    // reuse can NOT dedupe them — verified, the subtrees canonicalize
    // differently); doc length and the N/avgdl scalar are derived
    // FROM the cached table (dl = Σtf), not from extra corpus scans.
    // Everything model-sized broadcasts (3-row query terms, 3-row df,
    // 1-row stats); the global top-20 is orderBy().limit()
    // (TakeOrderedAndProject) with rank recovered on the ≤20
    // survivors, materialized before the cache is released.
    // Frequent co-occurring token PAIRS (the 2-itemset core of
    // A-priori / FP-growth): unordered token pairs appearing together
    // in ≥10% of docs — the collocation-mining step behind stopword-
    // phrase detection and template discovery. The A-priori downward-
    // closure prune runs FIRST: only tokens whose own df clears the
    // support floor can appear in a frequent pair, so the per-doc pair
    // explosion is over the SURVIVING tokens only — at 100 TB the
    // frequent-token list is vocabulary-bounded (broadcast semi-join)
    // and the k² per-doc blowup is bounded by the pruned k, not the
    // raw doc length. Pairs are minted by a per-doc array expression
    // (sorted list + indexed-transform slices — no doc-keyed
    // self-join, so the corpus shuffles ONCE by doc and once by pair,
    // both map-side combined). minsup = ⌈0.1·N⌉ computed as the same
    // double ceil on both engines.
    "q244_frequent_pairs" -> ((s, d) => {
      val docs = Tables.documents(s, d)
      val minsup = math.ceil(0.1 * docs.count()).toLong
      // tokenize once: docTok feeds both the df aggregation and the
      // per-doc join probe (two disjoint plan subtrees Spark will not
      // dedupe); localCheckpoint materializes the narrow (doc_id, t)
      // stream so the corpus tokenize+explode runs once (guide §2.4)
      val docTok = docs
        .select(col("doc_id"), explode(array_distinct(tokens)).as("t"))
        .localCheckpoint()
      val freqTok = docTok.groupBy(col("t"))
        .agg(count(lit(1)).as("df"))
        .filter(col("df") >= minsup).select(col("t"))
      val perDoc = docTok.join(broadcast(freqTok), "t")
        .groupBy(col("doc_id"))
        .agg(sort_array(collect_list(col("t"))).as("ts"))
      perDoc.select(explode(expr(
          "flatten(transform(ts, (x, i) -> transform(" +
            "slice(ts, i + 2, size(ts) - i - 1), " +
            "y -> struct(x AS t1, y AS t2))))")).as("p"))
        .groupBy(col("p.t1").as("t1"), col("p.t2").as("t2"))
        .agg(count(lit(1)).cast("int").as("support"))
        .filter(col("support") >= minsup)
        .orderBy(col("t1"), col("t2"))
    }),

    // Association rules from the q244 frequent pairs (Agrawal–Srikant
    // 1994, the confidence/lift step A-priori exists to feed): for
    // each frequent pair both directed rules a→b with confidence
    // sup(ab)/df(a) and lift sup(ab)·N/(df(a)·df(b)) — the
    // co-occurrence strength a boilerplate-phrase miner reads (lift
    // ≫ 1 = tokens travel together, the phrase-template signal).
    // All counts exact integers; confidence and lift are ONE division
    // each of exact longs, 6dp-settled before the rank (so both
    // engines cut the same top-30; lexicographic tiebreaks). The
    // antecedent df table joined back is the frequent-1-itemset —
    // bounded above by (avg distinct tokens per doc)/minsup-share,
    // broadcast-safe at any corpus size.
    "q344_assoc_rules" -> ((s, d) => {
      val docs = Tables.documents(s, d)
      val nDocs = docs.count()
      val minsup = math.ceil(0.1 * nDocs).toLong
      // tokenize once for the df aggregation AND the per-doc probe —
      // same reuse argument as q244 (guide §2.4)
      val docTok = docs
        .select(col("doc_id"), explode(array_distinct(tokens)).as("t"))
        .localCheckpoint()
      val freqTok = docTok.groupBy(col("t"))
        .agg(count(lit(1)).as("df"))
        .filter(col("df") >= minsup)
        .localCheckpoint() // frequent-1-itemset: bounded, reused 3×
      val perDoc = docTok
        .join(broadcast(freqTok.select(col("t"))), "t")
        .groupBy(col("doc_id"))
        .agg(sort_array(collect_list(col("t"))).as("ts"))
      val pairs = perDoc.select(explode(expr(
          "flatten(transform(ts, (x, i) -> transform(" +
            "slice(ts, i + 2, size(ts) - i - 1), " +
            "y -> struct(x AS t1, y AS t2))))")).as("p"))
        .groupBy(col("p.t1").as("t1"), col("p.t2").as("t2"))
        .agg(count(lit(1)).as("sup"))
        .filter(col("sup") >= minsup)
      val rules = pairs
        .select(col("t1").as("a"), col("t2").as("b"), col("sup"))
        .unionAll(pairs
          .select(col("t2").as("a"), col("t1").as("b"), col("sup")))
      rules
        .join(broadcast(freqTok.select(col("t").as("a"),
          col("df").as("dfa"))), "a")
        .join(broadcast(freqTok.select(col("t").as("b"),
          col("df").as("dfb"))), "b")
        .select(col("a").as("antecedent"), col("b").as("consequent"),
          col("sup").cast("int").as("support"),
          round(col("sup").cast("double") / col("dfa").cast("double"), 6)
            .as("confidence"),
          round((col("sup") * lit(nDocs)).cast("double") /
            (col("dfa") * col("dfb")).cast("double"), 6).as("lift"))
        .orderBy(col("lift").desc, col("antecedent"), col("consequent"))
        .limit(30)
    }),

    "q211_bm25_topk" -> ((s, d) => {
      val tf = Tables.documents(s, d)
        .select(col("doc_id"), explode(tokens).as("term"))
        .groupBy(col("doc_id"), col("term")).agg(count(lit(1)).as("tf"))
        .persist()
      try {
        // |docs|-bounded (doc_id, dl), referenced twice (the corpus
        // stats broadcast AND the scoring join): truncate so the
        // per-doc length aggregation over the cached tf runs once
        val dl = tf.groupBy(col("doc_id")).agg(sum(col("tf")).as("dl"))
          .localCheckpoint()
        val stats = dl.agg(count(lit(1)).as("n"), sum(col("dl")).as("totdl"))
        val qterms = tf.groupBy(col("term")).agg(sum(col("tf")).as("cf"))
          .filter(!col("term").isin(TextAnalysis.Stopwords: _*))
          .orderBy(col("cf").desc, col("term")).limit(3)
          .select(col("term"))
        val dfT = tf.join(broadcast(qterms), "term")
          .groupBy(col("term")).agg(count(lit(1)).as("df"))
        // literals written so both engines run the same IEEE ops:
        // k1=1.2 b=0.75 → k1+1 = 2.2 and 1−b = 0.25 are INLINED (the
        // oracle CASTs its 2.2/1.2 decimals to DOUBLE — same bits)
        val avgdl = col("totdl").cast("double") / col("n")
        val idf = log(lit(1.0) +
          (col("n") - col("df") + 0.5) / (col("df") + 0.5))
        val tfn = col("tf") * lit(2.2) /
          (col("tf") + lit(1.2) * (lit(0.25) + lit(0.75) * col("dl") / avgdl))
        val scored = tf.join(broadcast(dfT), "term")
          .join(dl, "doc_id")
          .crossJoin(broadcast(stats))
          .select(col("doc_id"), (idf * tfn).as("contrib"))
          .groupBy(col("doc_id"))
          .agg(round(sum(col("contrib")), 6).as("score"))
        val rows = scored.orderBy(col("score").desc, col("doc_id")).limit(20)
          .agg(sort_array(collect_list(struct(
            (-col("score")).as("negs"), col("doc_id").as("doc_id"))))
            .as("arr"))
          .select(posexplode(col("arr")))
          .select((col("pos") + 1).cast("int").as("rank"),
            col("col.doc_id").as("doc_id"), (-col("col.negs")).as("score"))
          .orderBy(col("rank")).collect()
        import scala.jdk.CollectionConverters._
        import org.apache.spark.sql.types._
        s.createDataFrame(rows.toSeq.asJava, StructType(Seq(
            StructField("rank", IntegerType, nullable = false),
            StructField("doc_id", LongType), StructField("score", DoubleType))))
          .orderBy(col("rank"))
      } finally tf.unpersist()
    })
  )

  def oracle: Map[String, String] = Map(
    // q269: identical bigram mint (adjacent pairs joined with one
    // space), identical freq-of-freq integers, identical
    // one-division estimators
    "q269_vocab_richness" ->
      """WITH t0 AS (
        |  SELECT source, list_filter(
        |    string_split_regex(lower(text), '[^a-z]+'), x -> x != '')
        |    AS ts
        |  FROM documents),
        |bi AS (
        |  SELECT source,
        |    unnest(list_slice(ts, 1, len(ts) - 1)) || ' ' ||
        |    unnest(list_slice(ts, 2, len(ts))) AS w
        |  FROM t0 WHERE len(ts) >= 2),
        |c AS (SELECT source, w, COUNT(*) AS c FROM bi GROUP BY 1, 2),
        |g AS (
        |  SELECT source, COUNT(*) AS v,
        |    SUM(CASE WHEN c = 1 THEN 1 ELSE 0 END) AS n1,
        |    SUM(CASE WHEN c = 2 THEN 1 ELSE 0 END) AS n2,
        |    SUM(c) AS n
        |  FROM c GROUP BY 1)
        |SELECT source, CAST(v AS INT) AS v_obs, CAST(n1 AS INT) AS n1,
        |  CAST(n2 AS INT) AS n2, CAST(n AS BIGINT) AS n_bigrams,
        |  ROUND(v + CAST(n1 * (n1 - 1) AS DOUBLE) /
        |    CAST(2 * (n2 + 1) AS DOUBLE), 4) AS chao1,
        |  ROUND(CAST(n1 AS DOUBLE) / n, 6) AS gt_unseen_mass,
        |  ROUND(1.0 - CAST(n1 AS DOUBLE) / n, 6) AS coverage
        |FROM g ORDER BY source""".stripMargin,

    // identical integer ledger: same tokenizer, same longest-first
    // (n_chars DESC, doc_id) priority, same strict prior<budget rule
    "q209_domain_quota" ->
      """WITH d AS (
        |  SELECT doc_id, source, n_chars,
        |    len(list_filter(string_split_regex(lower(text), '[^a-z]+'),
        |        t -> t != '')) AS n_tok
        |  FROM documents),
        |w AS (
        |  SELECT source, n_tok,
        |    COALESCE(SUM(n_tok) OVER (PARTITION BY source
        |      ORDER BY n_chars DESC, doc_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
        |      AS prior
        |  FROM d)
        |SELECT source, CAST(COUNT(*) AS INT) AS n_docs,
        |  CAST(SUM(CASE WHEN prior < 1000 THEN 1 ELSE 0 END) AS INT)
        |    AS n_kept,
        |  CAST(SUM(CASE WHEN prior < 1000 THEN n_tok ELSE 0 END) AS BIGINT)
        |    AS tokens_kept,
        |  CAST(SUM(CASE WHEN prior >= 1000 THEN n_tok ELSE 0 END) AS BIGINT)
        |    AS tokens_dropped
        |FROM w GROUP BY source ORDER BY source""".stripMargin,

    // q223: same tokenize → distinct (term,doc) counts → top-10 by df
    // with the ≤5 smallest posting doc_ids
    "q223_inverted_index" ->
      """WITH tok AS (
        |  SELECT doc_id,
        |    unnest(list_filter(string_split_regex(lower(text), '[^a-z]+'),
        |      t -> t != '')) AS term
        |  FROM documents),
        |tf AS (SELECT term, doc_id, COUNT(*) AS tf FROM tok GROUP BY 1, 2),
        |agg AS (
        |  SELECT term, CAST(COUNT(*) AS BIGINT) AS df,
        |    CAST(SUM(tf) AS BIGINT) AS cf,
        |    (SELECT list(doc_id ORDER BY doc_id)
        |     FROM (SELECT doc_id FROM tf t2 WHERE t2.term = tf.term
        |           ORDER BY doc_id LIMIT 5) z) AS fd
        |  FROM tf GROUP BY term),
        |top AS (SELECT * FROM agg ORDER BY df DESC, term LIMIT 10)
        |SELECT term, df, cf,
        |  array_to_string(fd, ',') AS first_docs
        |FROM top ORDER BY term""".stripMargin,

    // q225: the oracle IS the direct v2 recompute — merge ≡ recompute
    "q225_incremental_index" ->
      """WITH tok AS (
        |  SELECT doc_id,
        |    unnest(list_filter(string_split_regex(lower(text), '[^a-z]+'),
        |      t -> t != '')) AS term
        |  FROM documents WHERE doc_id % 7 <> 0),
        |tf AS (SELECT term, doc_id, COUNT(*) AS tf FROM tok GROUP BY 1, 2),
        |agg AS (
        |  SELECT term, CAST(COUNT(*) AS BIGINT) AS df,
        |    CAST(SUM(tf) AS BIGINT) AS cf
        |  FROM tf GROUP BY term)
        |SELECT * FROM (
        |  SELECT term, df, cf FROM agg
        |  ORDER BY df DESC, term LIMIT 15) t
        |ORDER BY term""".stripMargin,

    // q224: identical word trigrams (the array-slice construction at
    // 1-based list indexes), identical md5 gram hashes, same carve
    "q224_ngram_novelty" ->
      s"""WITH tok AS (
         |  SELECT doc_id,
         |    list_filter(string_split_regex(lower(text), '[^a-z]+'),
         |      t -> t != '') AS ts
         |  FROM documents),
         |tri AS (
         |  SELECT DISTINCT doc_id,
         |    ${TextAnalysis.md5IntSql("g")} AS g
         |  FROM (
         |    SELECT doc_id, ts[i] || ' ' || ts[i+1] || ' ' || ts[i+2] AS g
         |    FROM (SELECT doc_id, ts, unnest(range(1, len(ts) - 1)) AS i
         |          FROM tok WHERE len(ts) >= 3) z) y),
         |ref AS (SELECT DISTINCT g FROM tri WHERE doc_id % 2 = 0)
         |SELECT t.doc_id, CAST(COUNT(*) AS BIGINT) AS n_grams,
         |  CAST(SUM(CASE WHEN ref.g IS NULL THEN 1 ELSE 0 END) AS BIGINT)
         |    AS n_novel,
         |  ROUND(CAST(SUM(CASE WHEN ref.g IS NULL THEN 1 ELSE 0 END)
         |      AS DOUBLE) / COUNT(*), 6) AS novelty
         |FROM tri t LEFT JOIN ref ON t.g = ref.g
         |WHERE t.doc_id % 2 <> 0
         |GROUP BY t.doc_id ORDER BY t.doc_id""".stripMargin,

    // same Okapi formula with the double literals CAST so both
    // engines run identical IEEE ops (DuckDB parses bare 2.2/1.2 as
    // DECIMAL); ln() matches Spark's log(). The tf-normalization term
    // is explicitly parenthesized to mirror Spark's association order
    // — idf * ((tf*2.2)/denom), NOT ((idf*tf)*2.2)/denom — because a
    // left-associative parse computes different IEEE ops and a score
    // within ~1 ulp of a 6dp rounding boundary would flip the hash.
    "q211_bm25_topk" ->
      """WITH tok AS (
        |  SELECT doc_id,
        |    unnest(list_filter(string_split_regex(lower(text), '[^a-z]+'),
        |      t -> t != '')) AS term
        |  FROM documents),
        |tf AS (SELECT doc_id, term, COUNT(*) AS tf FROM tok GROUP BY 1, 2),
        |dl AS (SELECT doc_id, CAST(SUM(tf) AS BIGINT) AS dl
        |       FROM tf GROUP BY doc_id),
        |st AS (SELECT COUNT(*) AS n, CAST(SUM(dl) AS BIGINT) AS totdl
        |       FROM dl),
        |q AS (
        |  SELECT term FROM (
        |    SELECT term, SUM(tf) AS cf FROM tf GROUP BY term) z
        |  WHERE term NOT IN ('the','a','of','and','to','in','is')
        |  ORDER BY cf DESC, term LIMIT 3),
        |dfx AS (SELECT term, COUNT(*) AS df
        |        FROM tf JOIN q USING (term) GROUP BY term),
        |sc AS (
        |  SELECT tf.doc_id,
        |    ROUND(SUM(
        |      ln(1.0 + (st.n - dfx.df + 0.5) / (dfx.df + 0.5)) *
        |      (tf.tf * CAST(2.2 AS DOUBLE) /
        |       (tf.tf + CAST(1.2 AS DOUBLE) *
        |         (0.25 + 0.75 * dl.dl / (CAST(st.totdl AS DOUBLE) / st.n))))
        |    ), 6) AS score
        |  FROM tf JOIN dfx USING (term)
        |       JOIN dl ON tf.doc_id = dl.doc_id, st
        |  GROUP BY tf.doc_id),
        |top AS (SELECT doc_id, score FROM sc
        |        ORDER BY score DESC, doc_id LIMIT 20)
        |SELECT CAST(ROW_NUMBER() OVER (ORDER BY score DESC, doc_id) AS INT)
        |    AS rank,
        |  doc_id, score
        |FROM top ORDER BY rank""".stripMargin,

    // same tokenizer; both engines compute the regression over the
    // identical ≤1000 (ln rank, ln freq) points, rounded to 4dp (the
    // covariance merge order differs between engines at ~1e-13)
    // q355: identical distinct table, token-keyed pair join, settled
    // ratios before the rank
    "q355_source_overlap" ->
      """WITH dt AS (
        |  SELECT DISTINCT source,
        |    unnest(list_filter(string_split_regex(lower(text),
        |      '[^a-z]+'), x -> x != '')) AS t
        |  FROM documents),
        |sizes AS (SELECT source, COUNT(*) AS nv FROM dt GROUP BY 1),
        |inter AS (
        |  SELECT a.source AS sa, b.source AS sb, COUNT(*) AS inter
        |  FROM dt a JOIN dt b ON b.t = a.t AND a.source < b.source
        |  GROUP BY 1, 2)
        |SELECT i.sa, i.sb, CAST(i.inter AS BIGINT) AS inter,
        |  CAST(za.nv AS BIGINT) AS na, CAST(zb.nv AS BIGINT) AS nb,
        |  ROUND(CAST(i.inter AS DOUBLE) /
        |    CAST(za.nv + zb.nv - i.inter AS DOUBLE), 6) AS jaccard,
        |  ROUND(CAST(i.inter AS DOUBLE) /
        |    CAST(LEAST(za.nv, zb.nv) AS DOUBLE), 6) AS overlap_coef
        |FROM inter i
        |JOIN sizes za ON za.source = i.sa
        |JOIN sizes zb ON zb.source = i.sb
        |ORDER BY overlap_coef DESC, jaccard DESC, i.sa, i.sb
        |LIMIT 30""".stripMargin,

    // q349: identical √-settled decimals, order-free normalizer,
    // fixed-order share/epoch expressions
    "q349_temperature_mix" ->
      """WITH st AS (
        |  SELECT source, COUNT(*) AS n_docs,
        |    SUM(len(list_filter(string_split_regex(lower(text),
        |      '[^a-z]+'), x -> x != ''))) AS tok
        |  FROM documents GROUP BY 1),
        |tot AS (SELECT SUM(tok) AS tt FROM st),
        |w AS (
        |  SELECT st.*, tot.tt,
        |    CAST(round(sqrt(CAST(tok AS DOUBLE) / CAST(tt AS DOUBLE)),
        |      9) AS DECIMAL(12,9)) AS r
        |  FROM st, tot),
        |rs AS (SELECT SUM(r) AS rs FROM w)
        |SELECT source, CAST(n_docs AS BIGINT) AS n_docs,
        |  CAST(tok AS BIGINT) AS n_tokens,
        |  ROUND(CAST(tok AS DOUBLE) / CAST(tt AS DOUBLE), 6)
        |    AS natural_share,
        |  ROUND(CAST(r AS DOUBLE) / CAST(rs.rs AS DOUBLE), 6)
        |    AS temp_share,
        |  ROUND((CAST(r AS DOUBLE) / CAST(rs.rs AS DOUBLE)) *
        |    (CAST(tt AS DOUBLE) / CAST(tok AS DOUBLE)), 6)
        |    AS effective_epochs
        |FROM w, rs ORDER BY source""".stripMargin,

    // q340: identical shard hash, first-occurrence min-aggregate,
    // 16-row cumulative fold (a window here — free in DuckDB), and
    // the same settled-ln OLS closed in one double association order
    "q340_heaps_fit" ->
      """WITH dt AS (
        |  SELECT CAST('0x' || substr(md5('h:' ||
        |      CAST(doc_id AS VARCHAR)), 1, 15) AS BIGINT) % 16 AS shard,
        |    list_filter(string_split_regex(lower(text), '[^a-z]+'),
        |      t -> t != '') AS ts
        |  FROM documents),
        |ps AS (SELECT shard, SUM(len(ts)) AS ntok FROM dt GROUP BY 1),
        |fs AS (
        |  SELECT term, MIN(shard) AS fs
        |  FROM (SELECT shard, unnest(ts) AS term FROM dt) z GROUP BY 1),
        |nv AS (SELECT fs, COUNT(*) AS nv FROM fs GROUP BY 1),
        |grid AS (
        |  SELECT ps.shard, ps.ntok, COALESCE(nv.nv, 0) AS nv
        |  FROM ps LEFT JOIN nv ON nv.fs = ps.shard),
        |cum AS (
        |  SELECT SUM(ntok) OVER (ORDER BY shard
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cn,
        |    SUM(nv) OVER (ORDER BY shard
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cv
        |  FROM grid),
        |pts AS (
        |  SELECT cn, cv,
        |    CAST(round(ln(CAST(cn AS DOUBLE)), 9) AS DECIMAL(18,9)) AS x,
        |    CAST(round(ln(CAST(cv AS DOUBLE)), 9) AS DECIMAL(18,9)) AS y
        |  FROM cum),
        |f AS (
        |  SELECT COUNT(*) AS n, MAX(cn) AS tot_tokens,
        |    MAX(cv) AS vocab,
        |    SUM(x) AS sx, SUM(y) AS sy, SUM(x * x) AS sxx,
        |    SUM(x * y) AS sxy
        |  FROM pts)
        |SELECT CAST(n AS INT) AS n_shards,
        |  CAST(tot_tokens AS BIGINT) AS tot_tokens,
        |  CAST(vocab AS BIGINT) AS vocab,
        |  ROUND((CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE) -
        |    CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE)) /
        |    (CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE) -
        |     CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE)), 6) + 0.0
        |    AS heaps_beta,
        |  ROUND((CAST(sy AS DOUBLE) -
        |    ((CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE) -
        |      CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE)) /
        |     (CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE) -
        |      CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))) *
        |    CAST(sx AS DOUBLE)) / CAST(n AS DOUBLE), 6) + 0.0
        |    AS heaps_logk
        |FROM f""".stripMargin,

    "q160_zipf_fit" ->
      """WITH toks AS (
        |  SELECT unnest(list_filter(
        |    string_split_regex(lower(text), '[^a-z]+'), t -> t != '')) AS term
        |  FROM documents),
        |freq AS (SELECT term, COUNT(*) AS freq FROM toks GROUP BY 1),
        |top AS (
        |  SELECT freq,
        |    CAST(ROW_NUMBER() OVER (ORDER BY freq DESC, term) AS INT) AS rank
        |  FROM freq QUALIFY rank <= 1000)
        |SELECT CAST(COUNT(*) AS INT) AS n_terms,
        |  ROUND(regr_slope(ln(freq), ln(rank)), 4) AS zipf_slope,
        |  ROUND(regr_intercept(ln(freq), ln(rank)), 4) AS zipf_intercept,
        |  ROUND(regr_r2(ln(freq), ln(rank)), 4) AS r2
        |FROM top""".stripMargin,

    // duckdb range(0, len, 60) is exclusive-stop = Spark's inclusive
    // sequence(0, len-1, 60); substr is 1-based char-indexed in both,
    // and md5 hashes the identical UTF-8 bytes
    "q157_chunk_overlap" ->
      """WITH c AS (
        |  SELECT doc_id, unnest(range(0, len(text), 60)) AS chunk_start,
        |    text
        |  FROM documents WHERE len(text) >= 1)
        |SELECT doc_id, CAST(chunk_start // 60 AS INT) AS chunk_id,
        |  CAST(chunk_start AS INT) AS chunk_start,
        |  CAST(len(substr(text, CAST(chunk_start AS INT) + 1, 80)) AS INT)
        |    AS chunk_len,
        |  md5(substr(text, CAST(chunk_start AS INT) + 1, 80)) AS chunk_hash
        |FROM c ORDER BY doc_id, chunk_id""".stripMargin,

    // same tokenizer; SUM over BIGINT is HUGEINT in duckdb — cast the
    // funnel counts back to BIGINT; rep and awl are rounded before the
    // threshold comparisons in both engines (band edges can't flip)
    "q158_filter_funnel" ->
      """WITH toks AS (
        |  SELECT doc_id, unnest(list_filter(
        |    string_split_regex(lower(text), '[^a-z]+'), t -> t != '')) AS tok
        |  FROM documents),
        |tf AS (SELECT doc_id, tok, COUNT(*) AS c FROM toks GROUP BY 1, 2),
        |rep AS (
        |  SELECT doc_id, ROUND(CAST(MAX(c) AS DOUBLE) / SUM(c), 6) AS rep,
        |    SUM(c) AS n_tok, SUM(c * len(tok)) AS alpha_chars
        |  FROM tf GROUP BY 1),
        |flags AS (
        |  SELECT d.doc_id,
        |    CASE WHEN d.n_chars < 100 THEN 1
        |         WHEN d.lang = 'zh' THEN 2
        |         WHEN r.rep > 0.2 THEN 3
        |         WHEN ROUND(CAST(r.alpha_chars AS DOUBLE) / r.n_tok, 6)
        |           NOT BETWEEN 4.2 AND 4.8 THEN 4
        |         ELSE 0 END AS first_fail
        |  FROM documents d JOIN rep r USING (doc_id)),
        |drops AS (SELECT first_fail, COUNT(*) AS n FROM flags GROUP BY 1),
        |stages AS (
        |  SELECT * FROM (VALUES (1, 'min_length'), (2, 'latin_script'),
        |    (3, 'repetition'), (4, 'word_shape')) s(stage, stage_name)),
        |tot AS (SELECT COUNT(*) AS total FROM documents)
        |SELECT stage, stage_name,
        |  CAST(total - COALESCE(SUM(n) FILTER (
        |    WHERE first_fail > 0 AND first_fail < stage), 0) AS BIGINT)
        |    AS n_in,
        |  CAST(COALESCE(SUM(n) FILTER (WHERE first_fail = stage), 0)
        |    AS BIGINT) AS n_dropped,
        |  CAST(total - COALESCE(SUM(n) FILTER (
        |    WHERE first_fail > 0 AND first_fail <= stage), 0) AS BIGINT)
        |    AS n_out,
        |  ROUND(CAST(COALESCE(SUM(n) FILTER (WHERE first_fail = stage), 0)
        |      AS DOUBLE)
        |    / (total - COALESCE(SUM(n) FILTER (
        |        WHERE first_fail > 0 AND first_fail < stage), 0)), 6)
        |    AS drop_rate
        |FROM stages CROSS JOIN tot LEFT JOIN drops ON true
        |GROUP BY stage, stage_name, total ORDER BY stage""".stripMargin,

    // same tokenizer CTE as q80; AVG's merge order differs between
    // engines but the per-doc operand count (~1e2) keeps the error
    // ~1e-13, far under the round(6) granularity
    "q136_unigram_logprob" ->
      """WITH toks AS (
        |  SELECT doc_id, unnest(list_filter(
        |    string_split_regex(lower(text), '[^a-z]+'), t -> t != '')) AS term
        |  FROM documents),
        |uni AS (SELECT term, COUNT(*) AS nw FROM toks GROUP BY 1),
        |tot AS (SELECT SUM(nw) AS tu FROM uni)
        |SELECT doc_id, CAST(COUNT(*) AS INT) AS n_tok,
        |  ROUND(AVG(ln(CAST(nw AS DOUBLE) / tu)), 6) AS avg_logp,
        |  ROUND(exp(-AVG(ln(CAST(nw AS DOUBLE) / tu))), 6) AS ppl
        |FROM toks JOIN uni USING (term) CROSS JOIN tot
        |GROUP BY doc_id ORDER BY doc_id""".stripMargin,

    // same tokenizer; pair windows over the char list, total-order
    // top-20 so boundary ties select identically on both engines
    "q154_bpe_pair_merge" ->
      """WITH toks AS (
        |  SELECT unnest(list_filter(
        |    string_split_regex(lower(text), '[^a-z]+'), t -> t != '')) AS tok
        |  FROM documents),
        |pr AS (
        |  SELECT unnest(list_transform(range(1, len(cs)),
        |    i -> cs[i] || cs[i + 1])) AS pair
        |  FROM (SELECT string_split(tok, '') AS cs FROM toks)
        |  WHERE len(cs) >= 2),
        |freq AS (SELECT pair, COUNT(*) AS freq FROM pr GROUP BY 1)
        |SELECT pair, freq,
        |  CAST(ROW_NUMBER() OVER (ORDER BY freq DESC, pair) AS INT) AS rank
        |FROM freq QUALIFY rank <= 20 ORDER BY rank""".stripMargin,

    // the same wrapped-string replace passes, with the merge table
    // recomputed from the corpus (q154's discovery) and the 20 ranked
    // passes driven by a bounded recursive CTE (step r applies rank r);
    // the words→syms prefix is shared with q189's packer twin
    "q187_bpe_tokenize" ->
      s"""WITH RECURSIVE
        |$bpeSymsCtes,
        |vocab AS (
        |  SELECT sym,
        |    CAST(ROW_NUMBER() OVER (ORDER BY COUNT(*) DESC, sym) AS INT)
        |      AS tid
        |  FROM syms GROUP BY sym)
        |SELECT s.doc_id, COUNT(*) AS n_tokens,
        |  CAST(SUM(CASE WHEN len(s.sym) = 2 THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_merged,
        |  string_agg(CAST(v.tid AS VARCHAR), ',' ORDER BY s.widx, s.sidx)
        |    AS ids_csv
        |FROM syms s JOIN vocab v USING (sym)
        |GROUP BY s.doc_id ORDER BY s.doc_id""".stripMargin,

    // q286: the same BPE symbol CTEs rolled up per language — the
    // words/syms grains match q187's oracle, ratios divide exact
    // integers once
    "q286_bpe_fertility" ->
      s"""WITH RECURSIVE
         |$bpeSymsCtes,
         |ws AS (
         |  SELECT d.lang, COUNT(*) AS ws_tokens,
         |    SUM(len(w.tok)) AS tok_chars
         |  FROM words w JOIN documents d USING (doc_id)
         |  GROUP BY d.lang),
         |sy AS (
         |  SELECT d.lang, COUNT(*) AS bpe_tokens,
         |    SUM(CASE WHEN len(s.sym) = 2 THEN 1 ELSE 0 END)
         |      AS merged_tokens
         |  FROM syms s JOIN documents d USING (doc_id)
         |  GROUP BY d.lang)
         |SELECT ws.lang, CAST(ws.ws_tokens AS BIGINT) AS ws_tokens,
         |  CAST(ws.tok_chars AS BIGINT) AS tok_chars,
         |  CAST(sy.bpe_tokens AS BIGINT) AS bpe_tokens,
         |  CAST(sy.merged_tokens AS BIGINT) AS merged_tokens,
         |  ROUND(CAST(sy.bpe_tokens AS DOUBLE) /
         |    CAST(ws.ws_tokens AS DOUBLE), 6) AS fertility,
         |  ROUND(CAST(ws.tok_chars AS DOUBLE) /
         |    CAST(sy.bpe_tokens AS DOUBLE), 6) AS chars_per_bpe
         |FROM ws JOIN sy USING (lang) ORDER BY ws.lang""".stripMargin,

    // q135's packing arithmetic over the shared BPE symbol CTEs
    "q189_pack_bpe_tokens" ->
      s"""WITH RECURSIVE
         |$bpeSymsCtes,
         |cnt AS (SELECT doc_id, COUNT(*) AS n_tok FROM syms
         |        GROUP BY doc_id),
         |d AS (
         |  SELECT c.doc_id, doc.lang, c.n_tok,
         |    CAST(${graft.llm.TextAnalysis.md5IntSql("CAST(c.doc_id AS VARCHAR)")}
         |      % 16 AS INT) AS shard
         |  FROM cnt c JOIN documents doc ON c.doc_id = doc.doc_id),
         |cum AS (
         |  SELECT lang, shard, n_tok,
         |    SUM(n_tok) OVER (PARTITION BY lang, shard ORDER BY doc_id
         |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
         |  FROM d)
         |SELECT lang, shard, CAST((cum - n_tok) // 512 AS BIGINT) AS bin,
         |  CAST(COUNT(*) AS INT) AS n_docs,
         |  CAST(SUM(n_tok) AS BIGINT) AS bin_tokens,
         |  ROUND(AVG(n_tok), 6) AS avg_doc_tokens
         |FROM cum GROUP BY lang, shard, bin
         |ORDER BY lang, shard, bin""".stripMargin,

    // same production shard hash; skew divides by the ROUNDED avg so
    // both engines derive it from the identical stored value
    "q149_shard_balance" ->
      s"""WITH s AS (
         |  SELECT lang,
         |    CAST(${graft.llm.TextAnalysis.md5IntSql("CAST(doc_id AS VARCHAR)")}
         |      % 16 AS INT) AS shard
         |  FROM documents),
         |c AS (SELECT lang, shard, COUNT(*) AS n FROM s GROUP BY 1, 2),
         |r AS (
         |  SELECT lang, CAST(COUNT(*) AS INT) AS n_shards,
         |    MIN(n) AS min_load, MAX(n) AS max_load,
         |    ROUND(AVG(n), 6) AS avg_load
         |  FROM c GROUP BY lang)
         |SELECT lang, n_shards, min_load, max_load, avg_load,
         |  ROUND(max_load / avg_load, 6) AS skew
         |FROM r ORDER BY lang""".stripMargin,

    // same whitespace tokenizer as q33 (TextAnalysis.tokensSql); the
    // derived weight arithmetic is associated identically term by term
    "q146_source_mix_weights" ->
      s"""WITH src AS (
         |  SELECT source, CAST(COUNT(*) AS INT) AS n_docs,
         |    CAST(SUM(len(${graft.llm.TextAnalysis.tokensSql})) AS BIGINT)
         |      AS src_tokens,
         |    CAST(CAST(regexp_extract(source, '(\\d+)$$', 1) AS BIGINT) % 3 + 1
         |      AS DOUBLE) AS tgtw
         |  FROM documents GROUP BY source),
         |tots AS (SELECT SUM(src_tokens) AS total_tokens, SUM(tgtw) AS tgt_sum
         |         FROM src),
         |w AS (
         |  SELECT source, n_docs, src_tokens,
         |    tgtw / tgt_sum AS target_share,
         |    LEAST(1.0, (tgtw / tgt_sum) * total_tokens / src_tokens) AS weight,
         |    LEAST(1.0, (tgtw / tgt_sum) * total_tokens / src_tokens)
         |      * src_tokens AS kept_tokens
         |  FROM src CROSS JOIN tots),
         |kt AS (SELECT SUM(kept_tokens) AS kept_sum FROM w)
         |SELECT source, n_docs, src_tokens,
         |  ROUND(target_share, 6) AS target_share,
         |  ROUND(weight, 6) AS weight,
         |  ROUND(kept_tokens, 6) AS kept_tokens,
         |  ROUND(kept_tokens / kept_sum, 6) AS achieved_share
         |FROM w CROSS JOIN kt ORDER BY source""".stripMargin,

    // same injected URL, same anchored RE2-safe regexps (no lookahead)
    "q144_url_canonicalize" ->
      """WITH u AS (
        |  SELECT doc_id,
        |    'HTTPS://WWW.EXAMPLE' || (doc_id % 20) || '.COM:443/p/' ||
        |    (doc_id % 50) || '?utm_source=feed&ref=' || (doc_id % 7) ||
        |    '#frag' AS url
        |  FROM documents),
        |c AS (
        |  SELECT doc_id,
        |    regexp_replace(regexp_replace(
        |      lower(regexp_extract(url, '^([A-Za-z]+://[^/]+)', 1)),
        |      ':443$', ''), '://www\.', '://') AS sh,
        |    regexp_extract(url, '^[A-Za-z]+://[^/]+([^?#]*)', 1) AS path
        |  FROM u)
        |SELECT regexp_extract(sh, '://(.+)$', 1) AS domain,
        |  CAST(COUNT(*) AS INT) AS n_urls,
        |  CAST(COUNT(DISTINCT sh || path) AS INT) AS n_canonical
        |FROM c GROUP BY 1 ORDER BY domain""".stripMargin,

    // same scored CTE as q136 (rounded before the quantiles, see the
    // query comment); quantile_cont twin of percentile
    "q142_ccnet_bucket" ->
      """WITH toks AS (
        |  SELECT doc_id, lang, unnest(list_filter(
        |    string_split_regex(lower(text), '[^a-z]+'), t -> t != '')) AS term
        |  FROM documents),
        |uni AS (SELECT term, COUNT(*) AS nw FROM toks GROUP BY 1),
        |tot AS (SELECT SUM(nw) AS tu FROM uni),
        |scored AS (
        |  SELECT doc_id, lang,
        |    ROUND(AVG(ln(CAST(nw AS DOUBLE) / tu)), 6) AS score
        |  FROM toks JOIN uni USING (term) CROSS JOIN tot
        |  GROUP BY doc_id, lang),
        |bounds AS (
        |  SELECT lang, quantile_cont(score, 0.3333333333333333) AS b1,
        |    quantile_cont(score, 0.6666666666666666) AS b2
        |  FROM scored GROUP BY 1)
        |SELECT doc_id, s.lang AS lang, score,
        |  CASE WHEN score >= b2 THEN 'head'
        |       WHEN score >= b1 THEN 'middle'
        |       ELSE 'tail' END AS bucket
        |FROM scored s JOIN bounds USING (lang)
        |ORDER BY doc_id""".stripMargin,

    "q140_length_winsorize" ->
      """WITH stats AS (
        |  SELECT lang, quantile_cont(n_chars, 0.05) AS qlo,
        |    quantile_cont(n_chars, 0.95) AS qhi
        |  FROM documents GROUP BY 1)
        |SELECT doc_id, d.lang AS lang, n_chars,
        |  ROUND(qlo, 6) AS lo, ROUND(qhi, 6) AS hi,
        |  ROUND(GREATEST(LEAST(CAST(n_chars AS DOUBLE), qhi), qlo), 6)
        |    AS clamped,
        |  (n_chars < qlo OR n_chars > qhi) AS is_outlier
        |FROM documents d JOIN stats USING (lang)
        |ORDER BY doc_id""".stripMargin,

    // exact twin is valid because the sketch is exact at this vocab
    // size (see the query comment); same (count desc, term) resort
    "q141_approx_topk_sketch" ->
      """WITH toks AS (
        |  SELECT unnest(list_filter(
        |    string_split_regex(lower(text), '[^a-z]+'), t -> t != '')) AS term
        |  FROM documents),
        |freq AS (SELECT term, COUNT(*) AS freq FROM toks GROUP BY 1)
        |SELECT term, freq FROM freq
        |ORDER BY freq DESC, term LIMIT 20""".stripMargin,

    "q116_stratified_sample" ->
      s"""SELECT doc_id, lang FROM documents
         |WHERE ${graft.llm.TextAnalysis.md5IntSql("CAST(doc_id AS VARCHAR)")} % 100
         |      < CASE WHEN lang = 'en' THEN 50 ELSE 20 END
         |ORDER BY doc_id""".stripMargin,

    // start-offset binning twin: `div`/`//` agree on non-negative
    // longs, and the whitespace tokenizer is TextAnalysis's shared twin
    "q135_sequence_packing" ->
      s"""WITH d AS (
         |  SELECT doc_id, lang,
         |    CAST(len(${graft.llm.TextAnalysis.tokensSql}) AS BIGINT) AS n_tok,
         |    CAST(${graft.llm.TextAnalysis.md5IntSql("CAST(doc_id AS VARCHAR)")}
         |      % 16 AS INT) AS shard
         |  FROM documents),
         |c AS (
         |  SELECT lang, shard, n_tok,
         |    SUM(n_tok) OVER (PARTITION BY lang, shard ORDER BY doc_id
         |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
         |  FROM d)
         |SELECT lang, shard, CAST((cum - n_tok) // 512 AS BIGINT) AS bin,
         |  CAST(COUNT(*) AS INT) AS n_docs,
         |  CAST(SUM(n_tok) AS BIGINT) AS bin_tokens
         |FROM c GROUP BY lang, shard, bin
         |ORDER BY lang, shard, bin""".stripMargin,

    // paired unnests over the two token slices mirror the Spark
    // successor-struct explode; arithmetic association order matches
    // the Spark expression term for term so the doubles agree
    "q134_bigram_pmi" ->
      """WITH t2 AS (
        |  SELECT ts FROM (
        |    SELECT list_filter(
        |      string_split_regex(lower(text), '[^a-z]+'), x -> x != '') AS ts
        |    FROM documents)
        |  WHERE len(ts) >= 2),
        |bi AS (
        |  SELECT unnest(list_slice(ts, 1, len(ts) - 1)) AS w1,
        |         unnest(list_slice(ts, 2, len(ts))) AS w2
        |  FROM t2),
        |bc AS (SELECT w1, w2, COUNT(*) AS nb FROM bi GROUP BY 1, 2),
        |uni AS (SELECT w, COUNT(*) AS nw
        |        FROM (SELECT unnest(ts) AS w FROM t2) GROUP BY 1),
        |tu AS (SELECT SUM(nw) AS tu FROM uni),
        |tb AS (SELECT SUM(nb) AS tb FROM bc)
        |SELECT w1, w2, nb,
        |  ROUND(ln((CAST(nb AS DOUBLE) / tb) /
        |    ((CAST(n1.nw AS DOUBLE) / tu) * (CAST(n2.nw AS DOUBLE) / tu))), 6)
        |    AS pmi
        |FROM bc
        |JOIN uni n1 ON bc.w1 = n1.w
        |JOIN uni n2 ON bc.w2 = n2.w
        |CROSS JOIN tu CROSS JOIN tb
        |ORDER BY nb DESC, w1, w2 LIMIT 20""".stripMargin,

    // 1-based ts[i] indexing; range(1, n) = [1..n-1] pairs each token
    // with its successor — the twin of transform(sequence(1, n-1), ...)
    "q128_repetition_quality" ->
      """WITH t AS (
        |  SELECT doc_id, ts FROM (
        |    SELECT doc_id, list_filter(
        |      string_split_regex(lower(text), '[^a-z]+'), t -> t != '') AS ts
        |    FROM documents)
        |  WHERE len(ts) >= 2),
        |meta AS (
        |  SELECT doc_id, len(ts) AS n_tok, len(ts) - 1 AS n_bi,
        |    len(list_distinct(list_transform(range(1, len(ts)),
        |      i -> ts[i] || ' ' || ts[i+1]))) AS n_dbi, ts
        |  FROM t),
        |cnt AS (
        |  SELECT doc_id, n_tok, n_bi, n_dbi, tok, COUNT(*) AS c
        |  FROM (SELECT doc_id, n_tok, n_bi, n_dbi, unnest(ts) AS tok
        |        FROM meta)
        |  GROUP BY 1, 2, 3, 4, 5),
        |mx AS (SELECT doc_id, n_tok, n_bi, n_dbi, MAX(c) AS maxc
        |       FROM cnt GROUP BY 1, 2, 3, 4)
        |SELECT doc_id,
        |  ROUND(CAST(maxc AS DOUBLE) / n_tok, 6) AS top_unigram_frac,
        |  ROUND(1.0 - CAST(n_dbi AS DOUBLE) / n_bi, 6) AS dup_bigram_frac,
        |  (ROUND(CAST(maxc AS DOUBLE) / n_tok, 6) > 0.2 OR
        |   ROUND(1.0 - CAST(n_dbi AS DOUBLE) / n_bi, 6) > 0.3) AS flagged
        |FROM mx ORDER BY doc_id""".stripMargin,

    "q80_tfidf" ->
      """WITH toks AS (
        |  SELECT doc_id, unnest(list_filter(
        |    string_split_regex(lower(text), '[^a-z]+'), t -> t != '')) AS term
        |  FROM documents),
        |tf AS (SELECT doc_id, term, COUNT(*) AS tf FROM toks GROUP BY 1, 2),
        |df AS (SELECT term, COUNT(*) AS df FROM tf GROUP BY 1),
        |n AS (SELECT COUNT(*) AS n FROM documents),
        |scored AS (
        |  SELECT tf.doc_id, tf.term, tf.tf, df.df,
        |    ROUND(tf.tf * ln(CAST(n.n AS DOUBLE) / df.df), 6) AS tfidf
        |  FROM tf JOIN df USING (term) CROSS JOIN n),
        |ranked AS (
        |  SELECT *, CAST(ROW_NUMBER() OVER (PARTITION BY doc_id
        |    ORDER BY tfidf DESC, term) AS INT) AS rank
        |  FROM scored)
        |SELECT doc_id, term, tf, df, tfidf, rank FROM ranked
        |WHERE rank <= 5 ORDER BY doc_id, rank""".stripMargin,

    "q81_pii_scrub" ->
      """WITH dirty AS (
        |  SELECT doc_id, text || ' contact user' || doc_id
        |    || '@example.com or 555-'
        |    || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0') AS t
        |  FROM documents)
        |SELECT doc_id,
        |  CAST(len(regexp_extract_all(t,
        |    '[a-z0-9._%+-]+@[a-z0-9.-]+\.[a-z]{2,}')) AS INT) AS n_email,
        |  CAST(len(regexp_extract_all(t, '\d{3}-\d{4}')) AS INT) AS n_phone,
        |  CASE WHEN len(s) <= 40 THEN s ELSE substr(s, len(s) - 39, 40) END
        |    AS scrub_tail
        |FROM (SELECT doc_id, t,
        |        regexp_replace(regexp_replace(t,
        |          '[a-z0-9._%+-]+@[a-z0-9.-]+\.[a-z]{2,}', '<EMAIL>', 'g'),
        |          '\d{3}-\d{4}', '<PHONE>', 'g') AS s
        |      FROM dirty)
        |ORDER BY doc_id""".stripMargin,

    // the rebuild must be the identity: word counts from the same
    // tokenizer twin, mismatches pinned to literal zero — the Spark
    // side computes them for real
    "q204_bpe_roundtrip" ->
      """WITH toks AS (
        |  SELECT lang, unnest(list_filter(
        |    string_split_regex(lower(text), '[^a-z]+'), t -> t != '')) AS tok
        |  FROM documents)
        |SELECT lang, COUNT(*) AS n_words, CAST(0 AS BIGINT) AS n_mismatch
        |FROM toks GROUP BY lang ORDER BY lang""".stripMargin,

    "q82_vocab_topk" ->
      """WITH toks AS (
        |  SELECT unnest(list_filter(
        |    string_split_regex(lower(text), '[^a-z]+'), t -> t != '')) AS term
        |  FROM documents),
        |freq AS (SELECT term, COUNT(*) AS freq FROM toks GROUP BY 1),
        |total AS (SELECT SUM(freq) AS total FROM freq)
        |SELECT term, freq,
        |  ROUND(CAST(freq AS DOUBLE) / total, 6) AS share,
        |  CAST(ROW_NUMBER() OVER (ORDER BY freq DESC, term) AS INT) AS rank
        |FROM freq CROSS JOIN total
        |QUALIFY rank <= 20 ORDER BY rank""".stripMargin,

    // q244: same A-priori prune and the same ceil'd support floor; the
    // pair mint is the doc-keyed self-join restatement of the engine's
    // per-doc array expression (identical pair multiset — tokens are
    // distinct per doc on both sides)
    // q344: q244's pair CTE + both directed rules; confidence/lift
    // settled at 6dp before the ORDER BY cut
    "q344_assoc_rules" ->
      """WITH dt AS (
        |  SELECT DISTINCT doc_id,
        |    unnest(list_filter(string_split_regex(lower(text), '[^a-z]+'),
        |      x -> x != '')) AS t
        |  FROM documents),
        |nd AS (SELECT COUNT(*) AS n FROM documents),
        |ms AS (
        |  SELECT CAST(CEIL(0.1 * COUNT(*)) AS BIGINT) AS minsup
        |  FROM documents),
        |f AS (
        |  SELECT t, COUNT(*) AS df FROM dt GROUP BY t
        |  HAVING COUNT(*) >= (SELECT minsup FROM ms)),
        |ft AS (SELECT dt.doc_id, dt.t FROM dt JOIN f USING (t)),
        |p AS (
        |  SELECT a.t AS t1, b.t AS t2, COUNT(*) AS sup
        |  FROM ft a JOIN ft b ON a.doc_id = b.doc_id AND a.t < b.t
        |  GROUP BY 1, 2
        |  HAVING COUNT(*) >= (SELECT minsup FROM ms)),
        |r AS (
        |  SELECT t1 AS a, t2 AS b, sup FROM p
        |  UNION ALL
        |  SELECT t2 AS a, t1 AS b, sup FROM p)
        |SELECT r.a AS antecedent, r.b AS consequent,
        |  CAST(r.sup AS INT) AS support,
        |  ROUND(CAST(r.sup AS DOUBLE) / CAST(fa.df AS DOUBLE), 6)
        |    AS confidence,
        |  ROUND(CAST(r.sup * nd.n AS DOUBLE) /
        |    CAST(fa.df * fb.df AS DOUBLE), 6) AS lift
        |FROM r JOIN f fa ON fa.t = r.a JOIN f fb ON fb.t = r.b, nd
        |ORDER BY lift DESC, antecedent, consequent
        |LIMIT 30""".stripMargin,

    "q244_frequent_pairs" ->
      """WITH dt AS (
        |  SELECT DISTINCT doc_id,
        |    unnest(list_filter(string_split_regex(lower(text), '[^a-z]+'),
        |      x -> x != '')) AS t
        |  FROM documents),
        |ms AS (
        |  SELECT CAST(CEIL(0.1 * COUNT(*)) AS BIGINT) AS minsup
        |  FROM documents),
        |f AS (
        |  SELECT t FROM dt GROUP BY t
        |  HAVING COUNT(*) >= (SELECT minsup FROM ms)),
        |ft AS (SELECT dt.doc_id, dt.t FROM dt JOIN f USING (t)),
        |p AS (
        |  SELECT a.t AS t1, b.t AS t2, CAST(COUNT(*) AS INT) AS support
        |  FROM ft a JOIN ft b ON a.doc_id = b.doc_id AND a.t < b.t
        |  GROUP BY 1, 2)
        |SELECT t1, t2, support FROM p
        |WHERE support >= (SELECT minsup FROM ms)
        |ORDER BY t1, t2""".stripMargin
  )
}
