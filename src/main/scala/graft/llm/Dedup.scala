package graft.llm

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.{QueryModule, Tables}
import TextAnalysis.{md5Int, md5IntSql, tokens, tokensSql}

/** Deduplication suite for a training-data pipeline: exact dedup,
  * MinHash+LSH candidate generation, SimHash, and n-gram Jaccard —
  * each expressed as a declarative Catalyst plan and each with a full
  * DuckDB oracle (the minhash/simhash SQL twins are code-generated
  * from the same constants, so both engines compute the identical
  * pipeline).
  *
  * Hashes derive from md5 (bit-identical across engines). In
  * production you'd swap `xxhash64` in for md5 (same plan shape, ~10×
  * cheaper); md5 is used here because the oracle requires a hash both
  * engines implement identically.
  *
  * Scale notes (100 TB): every stage is shuffle-bounded by the
  * *shingle/band* cardinality, never by doc-pair cardinality — LSH
  * banding turns the quadratic all-pairs problem into an equi-join on
  * (band_id, band_signature), which Spark executes as a plain shuffled
  * hash join; skewed buckets (giant near-dup clusters) are exactly the
  * AQE skew-join case — DedupPlanSpec plants a hot bucket and proves
  * the runtime skew-split fires on this join shape.
  */
object Dedup extends QueryModule {

  private val K = 32     // minhash functions
  private val Bands = 8  // bands × rows-per-band = K
  private val R = 4

  // The K minhash functions are a universal-style integer family
  // h_k(x) = (a_k·x₃₂ + b_k) mod 2³² over ONE md5 of the shingle —
  // not K separate md5 invocations. One md5 per shingle + 32 integer
  // ops is ~30× cheaper than 32 md5s (the md5-per-function version
  // made the shared banding stage cost ~10s at sf0.1); the family's
  // constants are generated here and inlined into the DuckDB twins, so
  // both engines compute bit-identical signatures. Bounds: a ≤ 2²⁰,
  // x₃₂ < 2³², so a·x+b < 2⁵³ — exact in BIGINT on both engines.
  private val M32 = 4294967296L // 2^32
  private def hashA(k: Int): Long = ((2654435761L * (k + 1)) & 0xFFFFFL) | 1L
  private def hashB(k: Int): Long = (40503L * (k + 7) * (k + 13)) & 0xFFFFFFFFL
  private def minhashCol(x32: Column, k: Int): Column =
    (lit(hashA(k)) * x32 + lit(hashB(k))) % lit(M32)
  private def minhashSql(k: Int): String =
    s"(${hashA(k)} * x32 + ${hashB(k)}) % $M32"

  /** 2-word shingles of the token array (requires ≥ 2 tokens). */
  private def shingleArr(ts: Column): Column =
    array_distinct(transform(sequence(lit(1), size(ts) - 1),
      i => concat(element_at(ts, i), lit(" "), element_at(ts, i + 1))))

  /** K-column minhash signatures (doc_id, m0..m31) — the sketch stage
    * shared by banding ([[bandsOf]]) and the estimator-quality query
    * (q132, which compares matching-minhash fractions to exact
    * Jaccard).
    */
  private[graft] def signaturesOf(docs: DataFrame): DataFrame = {
    val sh = docs
      .withColumn("ts", tokens(col("text")))
      .filter(size(col("ts")) >= 2)
      .select(col("doc_id"), explode(shingleArr(col("ts"))).as("shingle"))
    // one md5 per shingle, truncated to 32 bits; the K functions are
    // integer arithmetic over it (see family comment above)
    val sx = sh.select(col("doc_id"),
      md5Int(col("shingle")).bitwiseAND(lit(0xFFFFFFFFL)).as("x32"))
    // `sz` rides the same aggregation: sx has one row per distinct
    // shingle, so COUNT(*) is the doc's shingle-set size — q132 needs
    // it and a separate sizes aggregation would cost one more shuffle
    sx.groupBy(col("doc_id")).agg(
      count(lit(1)).as("sz"),
      (0 until K).map(k => min(minhashCol(col("x32"), k)).as(s"m$k")): _*)
  }

  /** LSH band signatures (doc_id, band_id, bsig) — the shared
    * candidate-generation stage of q31 (neighbor counts) and q113
    * (cluster extraction).
    */
  private[graft] def bandsOf(docs: DataFrame): DataFrame = {
    val sig = signaturesOf(docs)
    val bandCols = (0 until Bands).map { b =>
      md5(concat_ws(",", (0 until R).map(r => col(s"m${b * R + r}")): _*))
    }
    sig.select(col("doc_id"),
      posexplode(array(bandCols: _*)).as(Seq("band_id", "bsig")))
  }

  /** Distinct bigram-shingle sets per doc, DICTIONARY-ENCODED: each
    * shingle maps to a dense integer id ranked by ascending (global
    * document frequency, shingle) — so ascending id order IS the
    * PPJoin rarest-first prefix order, and `st` is the id-sorted int
    * array. The shared stage of the prefix-filtering joins (q236
    * Jaccard, q237 containment). Why ints (optimization guide §2.3
    * "narrower types" / §1.2 per-task work): every downstream compare
    * — the prefix equi-join key, the candidate distinct, and above
    * all the per-pair `array_intersect` verification over ~sz-element
    * arrays × millions of candidate pairs — becomes integer hashing
    * instead of ~12-char string hashing, and the collect_list sort
    * drops the (df, tk) struct entirely. Jaccard/containment depend
    * only on set identity, which dictionary encoding preserves
    * bijectively, so every consumer's output is bit-identical
    * (DedupPlanSpec pins both joins against brute force). The rank
    * window runs over the VOCAB table (distinct shingles), which is
    * dwarfed by the corpus; a 100 TB deployment would two-phase the
    * rank (per-range counts to the driver, per-range row_number) —
    * same artifact, no global window.
    */
  // (the set-table build itself lives inline in [[dfSortedSetsStaged]]
  // since the round-15 one-step staging fusion)

  /** Staged read of a similarity-join family stage (see [[graft.Stage]]
    * for the staging contract): the df-sorted set table once per
    * fixture dir, the θ-Jaccard pair table once per (dir, θ), the LSH
    * bands/edges/components once per dir. Every consumer — q236/q237
    * read `srt`, q243/q246/q248/q264 the θ=0.7 pairs, the cluster
    * queries `comp` — scans the staged file. Within one Verify/Bench
    * run that turns six corpus tokenize passes and four identical pair
    * joins into one of each (~21% of round-11 bench wall time).
    */
  private def staged(s: SparkSession, d: String, key: String)
      (build: => DataFrame): DataFrame =
    graft.Stage.parquet(s, s"simjoin_${key}_", d)(build)

  /** Distinct winnowing fingerprints (doc_id, fp): rolling-hash every
    * K=8-token gram of the lowercase-alpha token stream, keep each
    * W=4-gram window's MIN hash (Schleimer et al. 2003). Winnowing's
    * guarantee — any shared verbatim run of ≥ K+W−1 = 11 tokens yields
    * ≥1 shared fingerprint at ANY offset — is what both consumers
    * stand on: q188's position-robust near-dup pair join and q357's
    * fuzzy benchmark-contamination screen. One narrow gram/hash pass +
    * one doc-partitioned window — no corpus-wide state.
    */
  private def winnowFps(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val K = 8 // tokens per gram
    val W = 4 // grams per winnowing window
    val toks = Tables.spread(s, Tables.documents(s, d))
      .select(col("doc_id"),
        array_remove(split(lower(col("text")), "[^a-z]+"), "").as("ts"))
      .filter(size(col("ts")) >= K)
    val grams = toks
      .select(col("doc_id"), (size(col("ts")) - (K - 1)).as("ng"),
        posexplode(transform(sequence(lit(1), size(col("ts")) - (K - 1)),
          i => array_join(slice(col("ts"), i, lit(K)), " ")))
          .as(Seq("gpos", "gram")))
      .select(col("doc_id"), col("ng"), col("gpos"),
        graft.functions.exprs.graft_rolling_hash(col("gram")).as("ghash"))
    val wspec = Window.partitionBy(col("doc_id")).orderBy(col("gpos"))
      .rowsBetween(Window.currentRow, W - 1)
    grams
      .withColumn("fp", min(col("ghash")).over(wspec))
      .filter(col("gpos") <= col("ng") - W)
      .select(col("doc_id"), col("fp")).distinct()
      // materialize once: both consumers (q188's pair join, q357's
      // screen) reference the fingerprint table 3-4× per query — each
      // reference re-ran the whole gram/hash/window pipeline.
      // localCheckpoint computes it once and every reference scans the
      // materialized blocks (the q153 persist pattern, checkpoint
      // flavor since no unpersist point exists in a declarative query).
      .localCheckpoint()
  }

  /** Max bitmap width in 64-bit words (8192 vocab ids → 1 KB/doc).
    * Below it, the verify joins compare dense per-doc bitmaps with
    * codegen'd AND+popcount; above it, they fall back to
    * `array_intersect` over the int arrays. The fixture's bigram
    * vocab is ~1k ids; a real-corpus vocab blows past any bitmap, so
    * the cap is what keeps the plan scale-safe.
    */
  private val MaxBitmapWords = 128

  /** Staged build of the df-sorted int-set table plus, when the vocab
    * fits [[MaxBitmapWords]]·64 ids, dense bitmap columns bm0..bmW−1
    * (bit tid−1 of word tid div 64 set for each member). The
    * verification step of q236/q237 is millions of per-pair set
    * intersections over ~sz-element arrays; with bitmaps each becomes
    * W AND+popcount primitive ops inside whole-stage codegen (guide
    * §1.2 per-task work) — popcount of an AND counts exactly the
    * distinct shared ids, so `inter` is bit-identical to
    * size(array_intersect).
    * ONE-step staging (round 15; was srt0→srt two-step): row_number
    * assigns tids 1..V, so the max tid the bitmap width needs IS the
    * vocab row count — one tiny count over the materialized shingle
    * table, no intermediate parquet write+read-back of the un-widened
    * sets (that was a full extra staged artifact on q000's critical
    * chain).
    */
  private def dfSortedSetsStaged(s: SparkSession, d: String): DataFrame =
    staged(s, d, "srt") {
      import org.apache.spark.sql.expressions.Window
      val alphaToks = array_remove(split(lower(col("text")), "[^a-z]+"), "")
      // spread: the corpus scan is what feeds the shingle explode
      val base = Tables.spread(s, Tables.documents(s, d))
        .withColumn("ts", alphaToks)
        .filter(size(col("ts")) >= 2)
      // array_distinct INSIDE the per-doc array replaces the corpus-wide
      // .distinct() — shingle multiplicity is per-doc by construction,
      // so deduping before the explode drops a full shuffle of the
      // pre-distinct shingle stream (guide §2.4). localCheckpoint: the
      // tokenize pass feeds the vocab build (via dfreq), the vocab-size
      // count, and the join probe below; materializing the ~|distinct
      // shingle rows| table once pays the corpus tokenize exactly once
      // (this build runs once per run, inside staging).
      val sh = base.select(col("doc_id"), explode(array_distinct(transform(
          sequence(lit(1), size(col("ts")) - 1),
          i => concat(element_at(col("ts"), i), lit(" "),
            element_at(col("ts"), i + 1))))).as("tk"))
        .localCheckpoint()
      val dfreq = sh.groupBy(col("tk")).agg(count(lit(1)).as("df"))
      val vocab = dfreq.select(col("tk"),
        row_number().over(Window.orderBy(col("df"), col("tk"))).as("tid"))
      val sets = sh.join(broadcast(vocab), "tk")
        .groupBy(col("doc_id"))
        .agg(sort_array(collect_list(col("tid"))).as("st"))
        .withColumn("sz", size(col("st")))
      // vocab row count ≡ max assigned tid (1..V, dense by
      // construction); V = 0 folds zero bm columns, i.e. the plain
      // int-array representation — same as the old empty-input path
      val v = dfreq.count()
      if (v > MaxBitmapWords.toLong * 64) sets
      else (0 until (((v + 63) / 64) min MaxBitmapWords.toLong).toInt)
        .foldLeft(sets) { (df, w) =>
          df.withColumn(s"bm$w", expr(
            s"aggregate(filter(st, t -> (t - 1) div 64 = $w), 0L, " +
              s"(a, t) -> a | shiftleft(1L, (t - 1) % 64))"))
        }
    }

  /** Per-pair distinct-intersection size over the staged set table's
    * representation: AND+popcount across the bm columns when staged
    * with bitmaps, size(array_intersect) over the int arrays
    * otherwise. `aSuf`/`bSuf` are the two sides' column-name suffixes.
    */
  private def interOf(srtCols: Seq[String], aSuf: String,
      bSuf: String): Column = {
    val bms = srtCols.filter(_.startsWith("bm"))
    if (bms.nonEmpty)
      bms.map(c => bit_count(col(c + aSuf).bitwiseAND(col(c + bSuf))))
        .reduce(_ + _).cast("int")
    else size(array_intersect(col("st" + aSuf), col("st" + bSuf)))
  }

  /** Staged read of the full-corpus [[bandsOf]] table — the MinHash
    * band fingerprints priced ONCE per fixture dir ([[staged]], the
    * sim-join family's staging extended to the LSH family).
    * Consumers: q31's neighbor-count self-join, q124's incremental
    * screen, and [[edgesStaged]]. At 100 TB this IS the stored
    * fingerprint table the q124 scaladoc describes — built once on
    * ingest, persisted columnar, batch-joined forever after.
    */
  private def bandsStaged(s: SparkSession, d: String): DataFrame =
    // spread: the full-corpus sketch pass (one md5 + K integer hashes
    // per shingle) otherwise runs at the tiny corpus scan's 1-split
    // parallelism; q132/q147's small-subset signaturesOf calls stay
    // unspread (50-doc inputs gain nothing and their plan budget
    // stays put)
    staged(s, d, "bands")(
      bandsOf(Tables.spread(s, Tables.documents(s, d))))

  /** Staged read of the full-corpus candidate-pair edges (see
    * [[candidateEdges]]): the banded LSH self-join runs once per
    * fixture dir; both join sides scan the staged band parquet, so the
    * minhash pipeline is never recomputed. Subset consumers
    * (q147/q153/q205's doc_id<500 study graph) FILTER this table
    * rather than rebuilding bands for the subset — sound because a
    * band signature is a per-doc function, so a collision between two
    * docs is independent of what else is in the corpus:
    * edges(bands(docs◁P)) ≡ edges(bands(docs)) ◁ (P(src) ∧ P(dst)).
    */
  private def edgesStaged(s: SparkSession, d: String): DataFrame =
    staged(s, d, "edges")(candidateEdges(bandsStaged(s, d)))

  /** Staged read of the connected-component label table over the LSH
    * candidate graph — [[componentsFromEdges]] priced ONCE per fixture
    * dir and scanned by every cluster consumer (q113 extraction, q117
    * pipeline, q159 canonical select, q161 source stats). Before
    * staging, each of those four queries re-ran the whole
    * shingle→minhash→band→edge→label pipeline per action (~6.9 s each
    * at sf0.1 — the round-12 q159 bench flag); now the family prices
    * one build and four parquet scans.
    */
  private def componentsStaged(s: SparkSession, d: String): DataFrame =
    staged(s, d, "comp")(componentsFromEdges(
      Tables.documents(s, d).select(col("doc_id")), edgesStaged(s, d)))

  /** Exact θ-Jaccard pair join via prefix filtering (q236's engine,
    * θ as a decimal-literal string so both consumers and the SQL twins
    * embed the identical ceil boundary). Staged per (dir, θ) — see
    * [[staged]]; consumers (q243's graph build, q246/q248/q264's
    * cluster analytics) scan the staged pair table.
    */
  private[llm] def prefixJaccardPairs(s: SparkSession, d: String,
      theta: String): DataFrame = {
    // Any rung above θ=0.7 is BY DEFINITION a filter of the θ=0.7 pair
    // table ({jac ≥ θ} ⊆ {jac ≥ 0.7} with identical jac values — the
    // subset law q279's threshold curve already rides), so its staged
    // build is a read+filter+write of the staged 0.7 parquet instead
    // of a second prefix join over the corpus (guide §1.2: don't
    // recompute what a cheaper exact derivation gives).
    if (theta != "0.7") {
      require(theta.toDouble > 0.7, s"pair rung θ=$theta below the base")
      val base = prefixJaccardPairs(s, d, "0.7")
      staged(s, d, s"pairs$theta")(
        base.filter(col("jac") >= theta.toDouble))
    } else prefixJaccardPairsBase(s, d, theta)
  }

  private def prefixJaccardPairsBase(s: SparkSession, d: String,
      theta: String): DataFrame = staged(s, d, s"pairs$theta") {
    val srt = dfSortedSetsStaged(s, d)
      // posexplode carries each prefix token's 1-based position so the
      // POSITION filter can run: the pair's first common token x₁ sits
      // at positions (pa, pb), everything shared lies at ≥ those
      // positions in BOTH sets, so overlap ≤ min(sz−pos+1) — collisions
      // that cannot reach the required overlap die before the distinct
      // (PPJoin's second filter; essential when a low-diversity
      // vocabulary makes shingle dfs large and prefix collisions
      // common). x₁'s own collision row has the earliest positions and
      // always survives, so no pair is lost.
      // spread: the staged set table scans as one split; the prefix
      // explode feeds a candidate join whose output is ~100× the input
      val pre = Tables.spread(s, srt).select(col("doc_id"), col("sz"),
        posexplode(expr(
          s"slice(st, 1, sz - CAST(ceil($theta * sz) AS INT) + 1)"))
          .as(Seq("p0", "tk")))
        .select(col("doc_id"), col("sz"), (col("p0") + 1).as("p"), col("tk"))
      val cand = pre.select(col("doc_id").as("da"), col("sz").as("sza"),
          col("p").as("pa"), col("tk"))
        .join(pre.select(col("doc_id").as("db"), col("sz").as("szb"),
          col("p").as("pb"), col("tk")), Seq("tk"))
        .filter(col("da") < col("db") &&
          col("szb") >= expr(s"CAST(ceil($theta * sza) AS INT)") &&
          col("sza") >= expr(s"CAST(ceil($theta * szb) AS INT)") &&
          least(col("sza") - col("pa") + 1, col("szb") - col("pb") + 1) >=
            expr(s"CAST(ceil($theta * greatest(sza, szb)) AS INT)"))
        .select(col("da"), col("db")).distinct()
      val vCols = {
        val bms = srt.columns.filter(_.startsWith("bm")).toSeq
        if (bms.nonEmpty) bms else Seq("st")
      }
      val rows = cand
        .join(srt.select(col("doc_id").as("da") +: col("sz").as("na") +:
          vCols.map(c => col(c).as(c + "_a")): _*), "da")
        .join(srt.select(col("doc_id").as("db") +: col("sz").as("nb") +:
          vCols.map(c => col(c).as(c + "_b")): _*), "db")
        .withColumn("inter", interOf(srt.columns.toSeq, "_a", "_b"))
        .withColumn("jac", round(col("inter").cast("double") /
          (col("na") + col("nb") - col("inter")), 6))
        .filter(col("jac") >= theta.toDouble)
        .select(col("da").as("doc_a"), col("db").as("doc_b"), col("jac"))
      rows
  }

  /** Exact duplicated-substring spans at L-token granularity (Lee et
    * al. 2022, "Deduplicating Training Data Makes Language Models
    * Better" — the suffix-array dedup pass, q278's engine): every
    * position whose L-token window occurs in ≥2 distinct docs is
    * duplicated; overlapping/adjacent duplicated windows merge into
    * maximal spans per doc (gaps-and-islands over a doc-partitioned
    * window — bounded per key by doc length, never corpus volume).
    *
    * The window-equality groups come from DISTRIBUTED PREFIX-DOUBLING
    * suffix ranking (Manber–Myers adapted to equality labels): a base
    * round labels each position by its first b=4 tokens, then each
    * doubling round relabels by the (label, label-at-pos+span) pair,
    * where every label is the MIN global position id of its equality
    * group — an order-free variant of the rank (dedup needs equality
    * groups, not suffix order, so the per-round global sort of a full
    * suffix-array build collapses to a groupBy + join-back).
    * ⌈log2(L/b)⌉ doubling rounds; per round one (doc,pos)-keyed
    * self-join and one label groupBy, each round's lineage truncated
    * by localCheckpoint (q205's loop shape). The base width b trades
    * one-time shuffle bytes for round-barrier count — the real knob of
    * distributed suffix ranking: b=4 ships ~4 tokens per position ONCE
    * and then every doubling round moves 2 longs per position whatever
    * L is, so Lee et al.'s L=50 costs the same 4-token base plus 4
    * rounds, where the one-shot "groupBy the window string" ships all
    * 50 tokens (~300 bytes, a 5× corpus blow-up) through a single
    * exchange. Both are exact; SuffixDedupSpec pins this engine
    * against the brute-force window-string groupBy at sf0.001 and on
    * a planted-passage corpus.
    *
    * Position ids pack (doc_id, pos) as doc_id·2²⁰ + pos — documents
    * are bounded at 2²⁰ tokens (far above any pretraining doc cap; a
    * corpus with longer docs raises the shift).
    */
  private[graft] def suffixDupSpans(docs: DataFrame, L: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    // base window width: the widest of {4, 8} that still divides L into
    // a power of two — each halving of the round count removes one
    // (doc,pos)-keyed self-join + label groupBy + checkpoint barrier
    // (the scaladoc trade-off, applied: at L=16, b=8 runs ONE doubling
    // round instead of two for ~4 extra base bytes/position; the final
    // labels are the same L-token equality groups whatever b is, so
    // output is identical — SuffixDedupSpec pins it against brute
    // force).
    val b = if (L % 8 == 0 && Integer.bitCount(L / 8) == 1) 8 else 4
    require(L >= b && Integer.bitCount(L / b) == 1 && L % b == 0,
      s"L=$L must be b·2^k (b=$b)")
    val alphaToks = array_remove(split(lower(col("text")), "[^a-z]+"), "")
    // spread: the base round explodes one row per token position (~n
    // per doc) off the tiny corpus scan's single split
    val base = Tables.spread(docs.sparkSession, docs)
      .select(col("doc_id"), alphaToks.as("ts"))
      .withColumn("n", size(col("ts"))).filter(col("n") >= L)
    var cur = {
      // base round: label_b = min pid among positions sharing the same
      // b-token window (positions past n−b+1 have no full b-window and
      // can never start a full L-window's label chain — dropped here;
      // the doubling left-joins below coalesce their absence to -1)
      val t = base.select(col("doc_id"), col("n"),
          posexplode(expr(
            s"transform(sequence(1, n - ${b - 1}), " +
              s"i -> array_join(slice(ts, i, $b), ' '))"))
            .as(Seq("p0", "wb")))
        .select(col("doc_id"), col("n"), (col("p0") + 1).as("pos"),
          (col("doc_id") * (1L << 20) + col("p0") + 1).as("pid"),
          col("wb"))
      t.join(t.groupBy(col("wb")).agg(min(col("pid")).as("r")), "wb")
        .select(col("doc_id"), col("n"), col("pos"), col("pid"), col("r"))
        .localCheckpoint(true)
    }
    var span = b
    while (span < L) {
      val right = cur.select(col("doc_id").as("doc_r"),
        (col("pos") - span).as("pos_r"), col("r").as("r2"))
      val paired = cur.join(right,
          col("doc_id") === col("doc_r") && col("pos") === col("pos_r"),
          "left")
        .select(col("doc_id"), col("n"), col("pos"), col("pid"), col("r"),
          coalesce(col("r2"), lit(-1L)).as("r2"))
      // new label = min pid of the (r, r2) equality group: two
      // positions agree ⟺ their first 2·span tokens agree (induction)
      val reps = paired.groupBy(col("r"), col("r2"))
        .agg(min(col("pid")).as("nr"))
      cur = paired.join(reps, Seq("r", "r2"))
        .select(col("doc_id"), col("n"), col("pos"), col("pid"),
          col("nr").as("r"))
        .localCheckpoint(true)
      span *= 2
    }
    // positions with a FULL L-window whose label group spans ≥2 docs
    val full = cur.filter(col("pos") <= col("n") - (L - 1))
    val dupLabels = full.groupBy(col("r"))
      .agg(count_distinct(col("doc_id")).as("nd"))
      .filter(col("nd") >= 2).select(col("r"))
    val dupPos = full.join(dupLabels, "r")
      .select(col("doc_id"), col("n"), col("pos"))
    // merge windows into maximal spans: break when the gap exceeds L
    // (windows [p, p+L-1]; gap ≤ L keeps the union contiguous)
    val wD = Window.partitionBy(col("doc_id")).orderBy(col("pos"))
    dupPos
      .withColumn("brk",
        when(col("pos") - lag(col("pos"), 1).over(wD) <= L, 0)
          .otherwise(1))
      .withColumn("sid", sum(col("brk")).over(
        wD.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .groupBy(col("doc_id"), col("n"), col("sid"))
      .agg(min(col("pos")).as("st"),
        (max(col("pos")) + (L - 1)).as("en"), count(lit(1)).as("nw"))
      .groupBy(col("doc_id"), col("n"))
      .agg(sum(col("nw")).cast("int").as("dup_windows"),
        count(lit(1)).cast("int").as("n_spans"),
        sum(col("en") - col("st") + 1).as("dup_tokens"))
      .select(col("doc_id"), col("n").cast("int").as("n_tok"),
        col("dup_windows"), col("n_spans"), col("dup_tokens"),
        round(col("dup_tokens").cast("double") / col("n"), 6)
          .as("dup_ratio"))
      .orderBy(col("doc_id"))
  }

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // The staging price tag (round-14 verdict ask #3): Bench runs the
    // registry alphabetically, so this q000 row runs FIRST and absorbs
    // every content-addressed one-time build the similarity family
    // shares — the df-sorted set table, both θ-pair tables, the LSH
    // band/edge/component chain, and the partsupp surrogate — so each
    // consumer's bench row measures pure query cost instead of
    // whichever consumer happened to run first eating the build. The
    // emitted row counts are real correctness surface: the oracle
    // recomputes every staged table relationally, so a staging bug
    // (lost rows, wrong θ filter, mis-grained surrogate) hash-fails
    // here even if a consumer masks it. At 100 TB these ARE the
    // pipeline's persisted intermediate tables; this row is their
    // derivation job.
    "q000_staging" -> ((s, d) => {
      // The seven builds form THREE independent dependency chains —
      // [pairs0.9→pairs0.7→srt], [comp→edges→bands], [partsupp] —
      // run CONCURRENTLY from a small driver thread pool (optimization
      // guide §2.6: actions are only sequential because the driver
      // calls them sequentially; concurrent jobs back-fill the cores
      // each chain's straggler tails and driver-side steps — windows,
      // broadcasts, parquet commits — leave idle). Stage.once's
      // per-key locks keep the once-per-key contract: a count whose
      // chain is mid-build parks on that key's lock and reads the
      // finished parquet. Every build is a deterministic DataFrame, so
      // outputs (and the oracle'd counts) are identical however the
      // scheduler interleaves the jobs. Chains are submitted
      // longest-first so FIFO scheduling fills the tail with the
      // shorter chains.
      val tasks: Seq[(String, () => Long)] = Seq(
        "pairs09" -> (() => prefixJaccardPairs(s, d, "0.9").count()),
        "comp" -> (() => componentsStaged(s, d).count()),
        "partsupp" -> (() =>
          graft.operators.PartSupp.partsupp(s, d).count()),
        "pairs07" -> (() => prefixJaccardPairs(s, d, "0.7").count()),
        "edges" -> (() => edgesStaged(s, d).count()),
        "bands" -> (() => bandsStaged(s, d).count()),
        "srt" -> (() => dfSortedSetsStaged(s, d).count()))
      val counts = graft.Par.scope(s, 3) { p =>
        tasks.map { case (name, job) => name -> p.fork(s"staging: $name")(job()) }
          .map { case (name, f) => name -> f.join() }
      }
      import s.implicits._
      counts.toDF("tbl", "n_rows").orderBy(col("tbl"))
    }),

    // Exact dedup: md5 content hash → cluster size per doc (hash
    // groupBy; the all-distinct fixture yields size-1 clusters, which
    // the oracle equally asserts).
    "q35_exact_dedup" -> ((s, d) => {
      import org.apache.spark.sql.expressions.Window
      Tables.documents(s, d)
        .select(col("doc_id"), md5(col("text")).as("fp"))
        .withColumn("cluster_size",
          count(lit(1)).over(Window.partitionBy(col("fp"))).cast("int"))
        .orderBy(col("doc_id"))
    }),

    // MinHash + LSH: shingle → K minhashes → band signatures → bucket
    // equi-join → per-doc candidate-neighbor count.
    "q31_minhash_dedup" -> ((s, d) => {
      val docs = Tables.documents(s, d)
      val bands = bandsStaged(s, d)
      // joining with a.doc != b.doc yields both pair directions
      // directly, so one countDistinct replaces the
      // distinct-pairs → union-swap → re-aggregate detour (3 fewer
      // shuffles; flagged by PlanBudgetSpec).
      val a = bands.as("a"); val b = bands.as("b")
      val partners = a.join(b,
        col("a.band_id") === col("b.band_id") &&
          col("a.bsig") === col("b.bsig") &&
          col("a.doc_id") =!= col("b.doc_id"))
        .groupBy(col("a.doc_id").as("doc_id"))
        .agg(countDistinct(col("b.doc_id")).as("n"))
      docs.select(col("doc_id")).join(partners, Seq("doc_id"), "left")
        .select(col("doc_id"), coalesce(col("n"), lit(0L)).cast("int").as("n_candidates"))
        .orderBy(col("doc_id"))
    }),

    // SimHash: 63-bit signature by per-bit majority vote over token
    // hashes (multiset semantics — repeated tokens vote repeatedly).
    "q36_simhash_dedup" -> ((s, d) => {
      Tables.documents(s, d)
        .select(col("doc_id"), explode(tokens(col("text"))).as("tokn"))
        .select(col("doc_id"), md5Int(col("tokn")).as("tok_int"))
        .select(col("doc_id"), col("tok_int"),
          explode(sequence(lit(0), lit(62))).as("k"))
        .select(col("doc_id"), col("k"),
          (expr("shiftright(tok_int, k)") bitwiseAND lit(1L)).as("bit"))
        .groupBy(col("doc_id"), col("k"))
        .agg(sum(col("bit") * 2 - 1).as("vote"))
        .groupBy(col("doc_id"))
        .agg(sum(when(col("vote") > 0,
          expr("shiftleft(CAST(1 AS BIGINT), k)")).otherwise(0L)).as("simhash"))
        .orderBy(col("doc_id"))
    }),

    // Pairwise n-gram Jaccard among the first 50 docs (candidate-pair
    // scoring stage; inner-join semantics keep only pairs sharing ≥1
    // shingle — at scale this runs on LSH candidates, never all pairs).
    "q37_ngram_jaccard" -> ((s, d) => {
      val sh = Tables.documents(s, d)
        .filter(col("doc_id") < 50)
        .withColumn("ts", tokens(col("text")))
        .filter(size(col("ts")) >= 2)
        .select(col("doc_id"), explode(shingleArr(col("ts"))).as("shingle"))
      val sizes = sh.groupBy(col("doc_id")).agg(count(lit(1)).as("sz"))
      val inter = sh.as("a")
        .join(sh.as("b"),
          col("a.shingle") === col("b.shingle") &&
            col("a.doc_id") < col("b.doc_id"))
        .groupBy(col("a.doc_id").as("da"), col("b.doc_id").as("db"))
        .agg(count(lit(1)).as("inter"))
      inter
        .join(broadcast(sizes.withColumnRenamed("doc_id", "da")
          .withColumnRenamed("sz", "sa")), "da")
        .join(broadcast(sizes.withColumnRenamed("doc_id", "db")
          .withColumnRenamed("sz", "sb")), "db")
        .select(col("da"), col("db"), col("inter"),
          round(col("inter").cast("double") /
            (col("sa") + col("sb") - col("inter")), 6).as("jaccard"))
        .orderBy(col("da"), col("db"))
    }),

    // Connected components over the LSH candidate graph — the cluster
    // extraction step a dedup pipeline actually needs (q31 counts
    // neighbors; choosing ONE representative per near-dup cluster
    // requires the transitive closure). See [[components]] for the
    // adaptive driver-union-find / distributed-propagation design.
    "q113_dedup_components" -> ((s, d) => {
      val labels = componentsStaged(s, d)
      val sized = labels.groupBy(col("comp"))
        .agg(count(lit(1)).cast("int").as("comp_size"))
      labels.join(sized, "comp")
        .select(col("doc_id"), col("comp"), col("comp_size"))
        .orderBy(col("doc_id"))
    }),

    // The end-to-end corpus-construction pipeline in ONE query — the
    // composition a user of this engine actually runs: near-dup
    // cluster extraction (q113's components) → keep each cluster's
    // representative (its min-id member: doc_id == comp) → balanced
    // per-language quotas over a deterministic hash (q116's sampling)
    // → the resulting training-mix statistics. Proves the pieces
    // compose under one oracle, not just individually.
    "q117_corpus_pipeline" -> ((s, d) => {
      val docs = Tables.documents(s, d)
      val reps = componentsStaged(s, d)
        .filter(col("doc_id") === col("comp")).select(col("doc_id"))
      val h = md5Int(col("doc_id").cast("string")) % 100
      val quota = when(col("lang") === "en", 50).otherwise(20)
      docs.join(reps, "doc_id")
        .filter(h < quota)
        .groupBy(col("lang"))
        .agg(count(lit(1)).as("n_docs"),
          sum(col("n_chars")).as("sum_chars"))
        .orderBy(col("lang"))
    }),

    // Canonical-representative selection — q117 keeps each near-dup
    // cluster's min-id member; a real pipeline keeps its BEST member.
    // Joins q113's clusters with q40's quality score and arg-maxes
    // (quality desc, doc_id asc) per cluster via a struct-max — one
    // comp-keyed shuffle with map-side partial agg, no window sort —
    // reporting what the dedup pass kept and dropped per cluster. The
    // quality pass is doc-local; nothing here scales worse than q113
    // itself.
    "q159_canonical_select" -> ((s, d) => {
      val docs = Tables.documents(s, d)
      val labels = componentsStaged(s, d)
      val ts = TextAnalysis.tokens(col("text"))
      val q = docs
        .withColumn("n_tok", size(ts))
        .withColumn("stop_cnt",
          size(filter(ts, t => t.isin(TextAnalysis.Stopwords: _*))))
        .select(col("doc_id"),
          round(least(col("n_chars") / lit(500.0), lit(1.0)) * 0.5 +
            (lit(1.0) - col("stop_cnt").cast("double") / col("n_tok")) * 0.5,
            6).as("quality"))
      labels.join(q, "doc_id")
        .groupBy(col("comp"))
        .agg(count(lit(1)).cast("int").as("comp_size"),
          // max over (quality, -doc_id) = highest quality, then lowest
          // doc_id — the deterministic argmax without a window sort
          max(struct(col("quality").as("quality"),
            (-col("doc_id")).as("nd"))).as("m"))
        .select(col("comp"), col("comp_size"),
          (-col("m.nd")).as("keep_doc_id"),
          col("m.quality").as("keep_quality"),
          (col("comp_size") - 1).cast("int").as("n_dropped"))
        .orderBy(col("comp"))
    }),

    // Per-source duplication accounting — the curation diagnostic
    // that tells you WHICH ingest source is redundant before you pay
    // to keep crawling it: q113's clusters sliced by `source`, a doc
    // counting as kept iff it is its cluster's representative (q117's
    // min-id rule), dropped docs attributed to their OWN source. One
    // source-keyed rollup after the label join; nothing scales worse
    // than q113 itself, and the report is |sources| rows.
    "q161_source_dup_stats" -> ((s, d) => {
      val docs = Tables.documents(s, d)
      val labels = componentsStaged(s, d)
      val kept = sum(when(col("doc_id") === col("comp"), 1).otherwise(0))
      docs.join(labels, "doc_id")
        .groupBy(col("source"))
        .agg(count(lit(1)).cast("int").as("n_docs"),
          kept.cast("int").as("n_kept"))
        .select(col("source"), col("n_docs"), col("n_kept"),
          (col("n_docs") - col("n_kept")).as("n_dropped"),
          round((col("n_docs") - col("n_kept")).cast("double") /
            col("n_docs"), 6).as("dup_rate"))
        .orderBy(col("source"))
    }),

    // INCREMENTAL dedup — the production shape: an incoming batch
    // (doc_id ≡ 0 mod 5, ~20%) screened against the EXISTING corpus
    // (the rest), not against itself. One shared band stage filtered
    // to each side; the join is the same banded equi-join, so at scale
    // the existing side is a stored fingerprint table (band_id, bsig,
    // doc_id) that new batches join against without re-fingerprinting
    // the corpus. Per incoming doc: how many existing docs it
    // band-collides with, and whether it is novel.
    "q124_incremental_dedup" -> ((s, d) => {
      val docs = Tables.documents(s, d)
      val bands = bandsStaged(s, d)
      val a = bands.filter(col("doc_id") % 5 === 0).as("a")
      val b = bands.filter(col("doc_id") % 5 =!= 0).as("b")
      val hits = a.join(b,
          col("a.band_id") === col("b.band_id") &&
            col("a.bsig") === col("b.bsig"))
        .groupBy(col("a.doc_id").as("doc_id"))
        .agg(countDistinct(col("b.doc_id")).as("n"))
      docs.filter(col("doc_id") % 5 === 0).select(col("doc_id"))
        .join(hits, Seq("doc_id"), "left")
        .select(col("doc_id"),
          coalesce(col("n"), lit(0L)).cast("int").as("n_corpus_dups"),
          (coalesce(col("n"), lit(0L)) === 0).as("is_novel"))
        .orderBy(col("doc_id"))
    }),

    // PASSAGE-level dedup — exact dedup below document granularity:
    // non-overlapping 8-token chunks ("passages"), a corpus-wide
    // chunk→distinct-doc-count index, and per-doc shared-passage
    // ratios. This is the boilerplate/template detector an LLM corpus
    // needs where whole-doc hashing (q35) sees nothing: docs that
    // share paragraphs without being near-dups. Scale: chunks shuffle
    // by chunk text (bounded by corpus token count / 8), the per-doc
    // rollup by doc_id — two partial-agg-friendly groupBys, no pairs.
    "q127_passage_dedup" -> ((s, d) => {
      val P = 8
      val ch = Tables.documents(s, d)
        .withColumn("ts", tokens(col("text")))
        .filter(size(col("ts")) >= P)
        .select(col("doc_id"),
          explode(transform(
            sequence(lit(0), (size(col("ts")) / P).cast("int") - 1),
            i => array_join(slice(col("ts"), i * P + 1, lit(P)), " ")))
            .as("chunk"))
      val shared = ch.groupBy(col("chunk"))
        .agg(countDistinct(col("doc_id")).as("ndocs"))
      ch.join(shared, "chunk")
        .groupBy(col("doc_id"))
        .agg(count(lit(1)).cast("int").as("n_chunks"),
          sum(when(col("ndocs") > 1, 1).otherwise(0)).cast("int")
            .as("n_shared"),
          round(avg(when(col("ndocs") > 1, 1.0).otherwise(0.0)), 6)
            .as("shared_frac"))
        .orderBy(col("doc_id"))
    }),

    // Winnowing exact-substring dedup (Schleimer et al. 2003 local
    // fingerprinting; the Lee et al. 2022 exact-substring pass every
    // production corpus runs): per doc, rolling-hash every K-token
    // gram (the RollingHash codegen expression — mod 2^61-1, base
    // 257, q48's primitive finally gets its corpus-level consumer),
    // select each W-gram window's MIN hash as a fingerprint
    // (winnowing guarantees any shared substring of ≥ K+W-1 tokens
    // yields at least one shared fingerprint), then count shared
    // fingerprints per doc pair over a FINGERPRINT-KEYED equi-join —
    // never all-pairs. This catches the long verbatim overlaps that
    // q127's fixed 8-token chunk grid dilutes (a 1-token offset
    // misaligns every chunk; winnowing is position-robust by
    // construction). Grams are built over the lowercase-alpha token
    // stream, so fingerprint bytes are [a-z ] regardless of fixture
    // encoding. Scale shape: narrow gram/hash pass, doc-partitioned
    // window, stop-fingerprints (> Cap docs) dropped before the pair
    // join so no hot key can go quadratic; output thresholded at ≥2
    // shared fingerprints.
    "q188_winnow_dedup" -> ((s, d) => {
      val Cap = 50 // stop-fingerprint doc cap
      val fps = winnowFps(s, d)
      val docfp = fps.groupBy(col("doc_id")).agg(count(lit(1)).as("nfp"))
      val ok = fps.groupBy(col("fp"))
        .agg(countDistinct(col("doc_id")).as("ndocs"))
        .filter(col("ndocs") <= Cap).select(col("fp"))
      val keep = fps.join(ok, "fp")
      val pairs = keep.select(col("fp"), col("doc_id").as("doc_a"))
        .join(keep.select(col("fp"), col("doc_id").as("doc_b")), "fp")
        .filter(col("doc_a") < col("doc_b"))
        .groupBy(col("doc_a"), col("doc_b"))
        .agg(count(lit(1)).as("n_shared"))
        .filter(col("n_shared") >= 2)
      pairs
        .join(docfp.select(col("doc_id").as("doc_a"), col("nfp").as("nfp_a")),
          Seq("doc_a"))
        .join(docfp.select(col("doc_id").as("doc_b"), col("nfp").as("nfp_b")),
          Seq("doc_b"))
        .select(col("doc_a"), col("doc_b"), col("n_shared"),
          round(col("n_shared").cast("double") /
            least(col("nfp_a"), col("nfp_b")), 6).as("overlap"))
        .orderBy(col("doc_a"), col("doc_b"))
    }),

    // Benchmark CONTAMINATION check — the eval-integrity pass a
    // training pipeline runs before any split ships: per corpus doc,
    // how many of its distinct 2-word shingles also occur in the
    // benchmark set (here: every 50th doc stands in for the eval
    // suite). The benchmark side is tiny by construction, so it
    // broadcasts and the corpus is screened in one narrow semi-join
    // pass — no shuffle of the corpus, no pairs.
    "q130_contamination" -> ((s, d) => {
      val sh = Tables.documents(s, d)
        .withColumn("ts", tokens(col("text")))
        .filter(size(col("ts")) >= 2)
        .select(col("doc_id"), explode(shingleArr(col("ts"))).as("shingle"))
      val bench = sh.filter(col("doc_id") % 50 === 0)
        .select(col("shingle")).distinct()
      val corpus = sh.filter(col("doc_id") % 50 =!= 0)
      val hits = corpus.join(broadcast(bench), Seq("shingle"), "left_semi")
        .groupBy(col("doc_id")).agg(count(lit(1)).as("n_hit"))
      corpus.groupBy(col("doc_id")).agg(count(lit(1)).as("n_sh"))
        .join(hits, Seq("doc_id"), "left")
        .select(col("doc_id"),
          col("n_sh").cast("int").as("n_shingles"),
          coalesce(col("n_hit"), lit(0L)).cast("int").as("n_overlap"),
          round(coalesce(col("n_hit"), lit(0L)).cast("double") / col("n_sh"), 6)
            .as("overlap_frac"))
        .orderBy(col("doc_id"))
    }),

    // FUZZY benchmark-contamination screen — q130's audit completed
    // for lightly-EDITED leakage: q130's exact shingle overlap misses
    // a benchmark passage that was paraphrased around, re-punctuated,
    // or shifted; [[winnowFps]]'s fingerprints survive any edit that
    // leaves a verbatim run of ≥ K+W−1 = 11 tokens, at any offset
    // (Schleimer et al. 2003's guarantee — the same machinery as
    // q188's near-dup join, pointed at eval integrity). Same scale
    // discipline as q130: the benchmark side is tiny by construction,
    // broadcasts, and the corpus is screened in one semi-join pass —
    // no corpus shuffle, no pairs. Contamination verdict at ≥2 shared
    // fingerprints (q188's output threshold).
    "q357_fuzzy_contamination" -> ((s, d) => {
      val fps = winnowFps(s, d)
      val bench = fps.filter(col("doc_id") % 50 === 0)
        .select(col("fp")).distinct()
      val corpus = fps.filter(col("doc_id") % 50 =!= 0)
      val hits = corpus.join(broadcast(bench), Seq("fp"), "left_semi")
        .groupBy(col("doc_id")).agg(count(lit(1)).as("n_hit"))
      corpus.groupBy(col("doc_id")).agg(count(lit(1)).as("n_fp"))
        .join(hits, Seq("doc_id"), "left")
        .select(col("doc_id"),
          col("n_fp").cast("int").as("n_fp"),
          coalesce(col("n_hit"), lit(0L)).cast("int").as("n_hit"),
          round(coalesce(col("n_hit"), lit(0L)).cast("double") / col("n_fp"), 6)
            .as("hit_frac"),
          (coalesce(col("n_hit"), lit(0L)) >= 2).as("is_contaminated"))
        .orderBy(col("doc_id"))
    }),

    // Sketch-quality evaluation: minhash Jaccard ESTIMATE (fraction of
    // matching minhash functions) against exact shingle Jaccard, per
    // shared-shingle pair of the q37 study subset. The op a pipeline
    // owner runs before trusting LSH thresholds at scale: it turns
    // "K=32 should be accurate enough" into a measured per-pair error
    // column. Signatures come from the same [[signaturesOf]] stage the
    // production banding uses — the estimator audited is the estimator
    // deployed. Exact side is candidate-pair scoped like q37.
    "q132_minhash_estimate" -> ((s, d) => {
      val docs = Tables.documents(s, d).filter(col("doc_id") < 50)
      val sh = docs
        .withColumn("ts", tokens(col("text")))
        .filter(size(col("ts")) >= 2)
        .select(col("doc_id"), explode(shingleArr(col("ts"))).as("shingle"))
      val inter = sh.as("a")
        .join(sh.as("b"),
          col("a.shingle") === col("b.shingle") &&
            col("a.doc_id") < col("b.doc_id"))
        .groupBy(col("a.doc_id").as("da"), col("b.doc_id").as("db"))
        .agg(count(lit(1)).as("inter"))
      // signaturesOf carries sz in the same aggregation, so the tiny
      // per-doc (size + signature) table attaches to the pair stream
      // with two broadcast joins — no extra sizes shuffle
      val sig = signaturesOf(docs)
      val a = sig.toDF(sig.columns.map(_ + "_a"): _*)
      val b = sig.toDF(sig.columns.map(_ + "_b"): _*)
      val nMatch = (0 until K)
        .map(k => when(col(s"m${k}_a") === col(s"m${k}_b"), 1).otherwise(0))
        .reduce(_ + _)
      inter
        .join(broadcast(a), col("da") === col("doc_id_a"))
        .join(broadcast(b), col("db") === col("doc_id_b"))
        .select(col("da"), col("db"),
          round(col("inter").cast("double") /
            (col("sz_a") + col("sz_b") - col("inter")), 6).as("jaccard"),
          round(nMatch.cast("double") / K, 6).as("jaccard_est"))
        .withColumn("abs_err",
          round(abs(col("jaccard_est") - col("jaccard")), 6))
        .orderBy(col("da"), col("db"))
    }),

    // Embedding near-dup: top-20 most-similar pairs by cosine, left
    // side restricted to vec_id<100, via the broadcast typed kernel.
    // orderBy+limit compiles to TakeOrderedAndProject — distributed
    // top-k, no global sort.
    "q38_embedding_cosine_dedup" -> ((s, d) => {
      CosineKernel.pairCosines(s, Tables.embeddings(s, d),
          col("vec_id") < 100, antisymmetric = true)
        .select(col("qid").as("ia"), col("cid").as("ib"),
          round(col("cosine"), 6).as("cosine"))
        .orderBy(col("cosine").desc, col("ia"), col("ib"))
        .limit(20)
    }),

    // LSH quality evaluation: precision/recall of the production band
    // stage's candidate pairs against exact-Jaccard ≥ 0.5 ground truth
    // — the audit every deployed LSH configuration needs (q132 audits
    // the estimator's VALUE; this audits the candidate SET). Ground
    // truth is pair-scoped to doc_id<50 (q37's convention: exact
    // all-pairs Jaccard only ever runs on bounded subsets; at scale
    // this audit runs on a sampled stratum). Both sides reuse the
    // shared shingle/band machinery, so the audited stage is the
    // deployed one.
    "q147_lsh_pr_eval" -> ((s, d) => {
      val docs = Tables.documents(s, d).filter(col("doc_id") < 500)
      // subset edges = staged full-corpus edges restricted to the study
      // subset on BOTH endpoints (per-doc band signatures make the
      // restriction exact — see [[edgesStaged]])
      val pred = edgesStaged(s, d)
        .filter(col("src") < 500 && col("dst") < 500)
      val sh = docs.withColumn("ts", tokens(col("text")))
        .filter(size(col("ts")) >= 2)
        .select(col("doc_id"), explode(shingleArr(col("ts"))).as("shingle"))
        .distinct()
      val sizes = sh.groupBy(col("doc_id")).agg(count(lit(1)).as("sz"))
      val truth = sh.as("a")
        .join(sh.as("b"),
          col("a.shingle") === col("b.shingle") &&
            col("a.doc_id") < col("b.doc_id"))
        .groupBy(col("a.doc_id").as("src"), col("b.doc_id").as("dst"))
        .agg(count(lit(1)).as("inter"))
        .join(broadcast(sizes.withColumnRenamed("doc_id", "src")
          .withColumnRenamed("sz", "sa")), "src")
        .join(broadcast(sizes.withColumnRenamed("doc_id", "dst")
          .withColumnRenamed("sz", "sb")), "dst")
        .filter(col("inter").cast("double")
          / (col("sa") + col("sb") - col("inter")) >= 0.5)
        .select(col("src"), col("dst"))
      pred.withColumn("p", lit(true))
        .join(truth.withColumn("t", lit(true)), Seq("src", "dst"), "full_outer")
        .agg(coalesce(sum(when(col("p") && col("t"), 1).otherwise(0)), lit(0))
            .cast("int").as("tp"),
          coalesce(sum(when(col("p") && col("t").isNull, 1).otherwise(0)),
            lit(0)).cast("int").as("fp"),
          coalesce(sum(when(col("p").isNull && col("t"), 1).otherwise(0)),
            lit(0)).cast("int").as("fn"))
        .select(col("tp"), col("fp"), col("fn"),
          when(col("tp") + col("fp") > 0,
            round(col("tp").cast("double") / (col("tp") + col("fp")), 6))
            .as("precision"),
          when(col("tp") + col("fn") > 0,
            round(col("tp").cast("double") / (col("tp") + col("fn")), 6))
            .as("recall"))
    }),

    // PageRank (3 unrolled iterations, d=0.85) over the LSH candidate
    // graph — the centrality signal dedup-cluster curation uses to
    // pick representatives (the most-connected duplicate is usually
    // the canonical copy). The fixed unroll keeps the query
    // declarative and oracle-checkable (the twin unrolls the same
    // three CTE rounds); at an unbounded iteration count this becomes
    // q113's shape: persist the edge list, iterate with localCheckpoint.
    // Per iteration the work is one edges⋈ranks join + one dst-keyed
    // sum — shuffle bounded by |edges|, never |docs|².
    "q153_pagerank" -> ((s, d) => {
      val docs = Tables.documents(s, d).filter(col("doc_id") < 500)
      // a declarative 3-round unroll re-references each round's input
      // twice, doubling the full minhash lineage per round (181 static
      // exchanges) — so this takes q113's action-style shape instead:
      // persist the per-edge relation once, keep the scalar |N| on the
      // driver, iterate over the cache, materialize the bounded
      // (≤ study-subset) result before releasing it
      val biDeg = {
        // staged full-corpus edges, endpoint-restricted to the study
        // subset (exact — see [[edgesStaged]])
        val edges = edgesStaged(s, d)
          .filter(col("src") < 500 && col("dst") < 500)
        val bi = edges.select(col("src"), col("dst"))
          .union(edges.select(col("dst").as("src"), col("src").as("dst")))
        val deg = bi.groupBy(col("src")).agg(count(lit(1)).as("deg"))
        bi.join(deg, "src")
      }.persist()
      try {
        val deg = biDeg.select(col("src").as("node"), col("deg")).distinct()
        val nVal = deg.count().toDouble
        val damp = 0.85
        var r = deg.select(col("node"), (lit(1.0) / nVal).as("p"))
        for (_ <- 1 to 3) {
          r = biDeg.join(r, col("src") === col("node"))
            .select(col("dst"), (col("p") / col("deg")).as("contrib"))
            .groupBy(col("dst")).agg(sum(col("contrib")).as("inflow"))
            .select(col("dst").as("node"),
              (lit((1.0 - damp) / nVal) + lit(damp) * col("inflow")).as("p"))
        }
        val rows = r.join(deg, "node")
          .select(col("node").as("doc_id"), col("deg").cast("int").as("degree"),
            round(col("p"), 6).as("rank"))
        // node-proportional result: materialize on executors before
        // releasing the cached degree stage (localCheckpoint, not
        // collect — driver heap must not bound the node table)
        rows.localCheckpoint(eager = true).orderBy(col("doc_id"))
      } finally biDeg.unpersist()
    }),

    // Connected components via the DISTRIBUTED label-propagation path
    // as a first-class query: q113 adaptively picks driver union-find
    // for the fixture-sized edge set and only falls back to
    // [[propagateLabels]] above 10M edges — which means the 100 TB
    // code path (min-label hop + PRAM pointer jump per round,
    // localCheckpoint'd, O(log diameter) rounds) never faces the
    // oracle. This query RUNS that path explicitly on the q153 study
    // graph and hash-checks it against the recursive-CTE transitive
    // closure — the exact-answer gate for the algorithm that actually
    // ships on a cluster. The ≤subset-sized result is materialized
    // before the cached band/edge stages are released (q153's shape).
    "q205_cc_labelprop" -> ((s, d) => {
      val docs = Tables.documents(s, d).filter(col("doc_id") < 500)
      // staged full-corpus edges, endpoint-restricted to the study
      // subset (exact — see [[edgesStaged]]); the staged parquet is
      // cheap to rescan, so the propagation loop needs no band/edge
      // persist choreography of its own
      val edges = edgesStaged(s, d)
        .filter(col("src") < 500 && col("dst") < 500)
      val labels = propagateLabels(docs.select(col("doc_id")), edges)
      val sized = labels.groupBy(col("comp"))
        .agg(count(lit(1)).cast("int").as("comp_size"))
      labels.join(sized, "comp")
        .select(col("doc_id"), col("comp"), col("comp_size"))
        .orderBy(col("doc_id"))
    }),

    // Semantic-dedup bucketing (SemDeDup-lite): embeddings hashed to a
    // sign-bit bucket (bit i = sign of dim i), one representative kept
    // per bucket (min vec_id), the rest counted as near-dup candidates.
    // One narrow projection + one bucket-keyed groupBy — no pairwise
    // anything; at corpus scale the within-bucket cosine-verify pass
    // would reuse q38's broadcast kernel per bucket. Basis-aligned sign
    // bits (rather than q43's seeded random hyperplanes) keep the
    // bucketing reproducible on both engines for the oracle.
    "q139_embed_sign_dedup" -> ((s, d) => {
      val bucket = (1 to 8).map(i =>
        when(element_at(col("embedding"), i) >= 0, lit(1L << (i - 1)))
          .otherwise(lit(0L))).reduce(_ + _)
      Tables.embeddings(s, d)
        .select(col("vec_id"), bucket.as("bucket"))
        .groupBy(col("bucket"))
        .agg(count(lit(1)).cast("int").as("n_vecs"),
          min(col("vec_id")).as("rep_id"))
        .withColumn("n_dup_candidates", (col("n_vecs") - 1).cast("int"))
        .orderBy(col("bucket"))
    }),

    // Sorted-neighborhood dedup (Hernández–Stolfo SNM) — the THIRD
    // candidate-generation strategy alongside LSH banding (q31/q36)
    // and sign-bucketing (q139): sort the corpus by a blocking key
    // and compare each record only with its w−1 predecessors in sort
    // order, turning O(N²) comparison into O(N·w). Key here is
    // (n_chars, text, doc_id); w = 4; verify step is distinct-token
    // Jaccard ≥ 0.9. The global rank is q202's two-phase ranking —
    // n_chars range-buckets from parquet footer stats, per-bucket
    // counts driver-folded into exclusive offsets, row_number only
    // WITHIN a bucket — so no partition-less window; the neighbor
    // pairing is then an equi-join on the unique rank (explode k∈1..3,
    // join rn−k = rn), a plain shuffled join at any scale. Bucket
    // count (16 at fixture scale) is a data-proportional tunable —
    // at 100 TB set nb ≈ corpus/target-partition-rows; two docs with
    // equal n_chars land in the same bucket, so bucket-local ordering
    // composes with bucket order into the exact global order.
    "q228_sorted_neighborhood_dedup" -> ((s, d) => {
      import org.apache.spark.sql.expressions.Window
      val nb = 16
      val (mn, mx) = Tables.parquetColumnMinMaxLong(s, d, "documents", "n_chars")
      val span = mx - mn + 1
      val docs = Tables.documents(s, d)
        .select(col("doc_id"), col("n_chars"), col("text"),
          array_distinct(tokens(col("text"))).as("toks"),
          ((col("n_chars") - mn) * nb / span).cast("int").as("b"))
      val counts = docs.groupBy(col("b")).agg(count(lit(1)).as("c"))
        .orderBy(col("b"))
        .collect().map(r => (r.getInt(0), r.getLong(1)))
      val offsets = counts.scanLeft((0, 0L)) {
        case ((_, acc), (b, c)) => (b, acc + c)
      }.init.zip(counts).map { case ((_, off), (b, _)) => (b, off) }
      import s.implicits._
      val offDf = offsets.toSeq.toDF("b", "off")
      val wB = Window.partitionBy(col("b"))
        .orderBy(col("n_chars"), col("text"), col("doc_id"))
      val ranked = docs.join(broadcast(offDf), "b")
        .select(col("doc_id"), col("toks"),
          size(col("toks")).as("sz"),
          (col("off") + row_number().over(wB)).as("rn"))
      val left = ranked
        .select(col("doc_id").as("doc_a"), col("toks").as("ta"),
          col("sz").as("sa"), col("rn"))
        .withColumn("k", explode(array(lit(1), lit(2), lit(3))))
        .withColumn("rn_b", col("rn") - col("k"))
      val right = ranked
        .select(col("doc_id").as("doc_b"), col("toks").as("tb"),
          col("sz").as("sb"), col("rn").as("rn_r"))
      left.join(right, col("rn_b") === col("rn_r"))
        .withColumn("inter", size(array_intersect(col("ta"), col("tb"))))
        .withColumn("jac", round(col("inter").cast("double") /
          (col("sa") + col("sb") - col("inter")), 6))
        .filter(col("jac") >= 0.9)
        .select(col("doc_a"), col("doc_b"), col("jac"))
        .orderBy(col("doc_a"), col("doc_b"))
    }),

    // Prefix-filtering similarity join (PPJoin family, Chaudhuri et
    // al. / Xiao et al.) — the FOURTH candidate-generation strategy
    // (LSH banding q31, sign buckets q139, sorted neighborhood q228):
    // an EXACT θ-Jaccard join with no hashing error. Order every
    // doc's distinct shingle set by ascending global document
    // frequency (rarest first); two sets with J ≥ θ MUST share a
    // token in their first |T|−⌈θ|T|⌉+1 tokens, so the self-join
    // touches only the short rare-token prefixes, plus the length
    // filter θ|A| ≤ |B| ≤ |A|/θ. Candidates are then verified with
    // the exact Jaccard. The df table is vocabulary-bounded
    // (broadcast); the prefix inverted index is the only self-join
    // and is keyed by the RAREST tokens — exactly the skew shape
    // that keeps its fan-out subquadratic. ⌈θ·sz⌉ is computed as the
    // same double ceil on both engines, so the prefix boundary can
    // never disagree. The df-sorted set table is the shared stage of
    // FOUR consumers (prefix explode ×2 via the self-join, verify
    // join ×2) that prune different columns — AQE cannot dedupe them
    // (q211's argument) — so it is persisted once and the ≤pairs-sized
    // result is materialized before release. Exactness (no false
    // negatives) vs the brute-force all-pairs join is pinned at
    // sf0.001 by DedupPlanSpec.
    "q236_prefix_filter_join" -> ((s, d) =>
      prefixJaccardPairs(s, d, "0.9").orderBy(col("doc_a"), col("doc_b"))),

    // EXACT containment join (the asymmetric sibling of q236's
    // Jaccard join): ordered pairs (a, b) with |Sa∩Sb|/|Sa| ≥ 0.8 —
    // "a's shingles mostly occur inside b" — the quote/extraction/
    // near-subset detector that symmetric Jaccard misses (a short doc
    // embedded in a long one has low J but high containment). Prefix
    // filtering adapts: the required overlap t = ⌈0.8·|Sa|⌉ is a
    // property of the PROBE side alone, so only A's prefix
    // (|Sa|−t+1 rarest shingles) is exploded; the index side must
    // stay FULL postings — containment puts no upper bound on |Sb|,
    // so B's prefix cannot be shortened without false negatives (the
    // documented asymmetric-join trade-off; df-ascending ordering
    // keeps the probe keys the RAREST shingles, so the posting lists
    // actually joined stay short). Length filter: |Sb| ≥ t (I ≤ |Sb|).
    // Reads the STAGED df-sorted set table (q236's shared stage, one
    // tokenize pass per run for the whole family); exactness vs brute
    // force pinned at sf0.001 by DedupPlanSpec.
    "q237_containment_join" -> ((s, d) => {
      val srt = dfSortedSetsStaged(s, d);
      {
        // EXTENDED prefix with a multi-collision counting filter: the
        // minimal prefix (|Sa|−t+1 tokens, t=⌈0.8·|Sa|⌉) guarantees
        // only ONE shared token, which on a uniform-df lexicon admits
        // millions of weak candidates that all reach the expensive
        // verify join. Probing L = min(|Sa|, (|Sa|−t)+3) tokens
        // instead buys a per-pair threshold: any of A's first L
        // tokens absent from B is a miss, misses ≤ |Sa|−t overall, so
        // a true pair must collide ≥ G = L−(|Sa|−t) = min(3, t) times
        // — counting collisions per pair (the groupBy replaces the
        // distinct at the same shuffle volume) kills the weak-pair
        // flood before verification while provably losing nothing.
        // NOTE the per-collision PPJoin position filter must NOT be
        // mixed into the counted join: its bound is valid only for
        // the pair's FIRST common token, so it may drop later genuine
        // collisions and deflate c below G — the counting filter is
        // strictly stronger and replaces it.
        // spread: the staged set scan is one split; both exploded join
        // sides (and the 11.9M-row counted join they feed) otherwise
        // run on 1-2 tasks (measured: the whole candidate stage was
        // scan-parallelism-starved, not compute-bound)
        val srtS = Tables.spread(s, srt)
        val pre = srtS.select(col("doc_id").as("da"), col("sz").as("sza"),
          explode(expr(
            "slice(st, 1, least(CAST(sz AS INT), " +
              "sz - CAST(ceil(0.8 * sz) AS INT) + 3))")).as("tk"))
        val full = srtS.select(col("doc_id").as("db"), col("sz").as("szb"),
          explode(col("st")).as("tk"))
        val cand = pre.join(full, Seq("tk"))
          .filter(col("da") =!= col("db") &&
            col("szb") >= expr("CAST(ceil(0.8 * sza) AS INT)"))
          .groupBy(col("da"), col("db"), col("sza"))
          .agg(count(lit(1)).as("c"))
          .filter(col("c") >=
            least(lit(3), expr("CAST(ceil(0.8 * sza) AS INT)")))
          .select(col("da"), col("db"))
        val vCols = {
          val bms = srt.columns.filter(_.startsWith("bm")).toSeq
          if (bms.nonEmpty) bms else Seq("st")
        }
        val rows = cand
          .join(srt.select(col("doc_id").as("da") +: col("sz").as("na") +:
            vCols.map(c => col(c).as(c + "_a")): _*), "da")
          .join(srt.select(col("doc_id").as("db") +:
            vCols.map(c => col(c).as(c + "_b")): _*), "db")
          .withColumn("inter", interOf(srt.columns.toSeq, "_a", "_b"))
          .withColumn("containment", round(col("inter").cast("double") /
            col("na"), 6))
          .filter(col("containment") >= 0.8)
          .select(col("da").as("doc_a"), col("db").as("doc_b"),
            col("containment"))
        rows.orderBy(col("doc_a"), col("doc_b"))
      }
    }),

    // Triangle enumeration over the near-dup graph (θ=0.7 exact
    // prefix-filter edges) with DEGREE-ORDERED orientation — the
    // standard distributed triangle algorithm (node-iterator++ /
    // Schank–Wagner): direct every edge from its (deg, id)-smaller
    // endpoint, enumerate wedges only at each edge's SOURCE, and close
    // them against the directed edge set. The orientation bounds every
    // node's out-degree by O(√m) whatever the degree skew (a celebrity
    // node of degree 10⁶ emits NO wedges from its incident edges'
    // high-degree side), which is what makes the wedge join's fan-out
    // m^1.5 worst-case instead of Σdeg² — the graph-side analogue of
    // q188's stop-fingerprint cap. Triangles are the cluster-density
    // signal a dedup pipeline reads to tell star-shaped template
    // families from true all-pairs duplicate cliques. Edge list is
    // q236's materialized exact pair table; each triangle emits once
    // and is re-sorted to ascending doc ids.
    "q243_triangle_count" -> ((s, d) => {
      val edges = prefixJaccardPairs(s, d, "0.7")
        .select(col("doc_a").as("u"), col("doc_b").as("v"))
      val deg = edges.select(col("u").as("n"))
        .unionAll(edges.select(col("v").as("n")))
        .groupBy(col("n")).agg(count(lit(1)).as("deg"))
      val withDeg = edges
        .join(deg.select(col("n").as("u"), col("deg").as("du")), "u")
        .join(deg.select(col("n").as("v"), col("deg").as("dv")), "v")
      val uFirst = col("du") < col("dv") ||
        (col("du") === col("dv") && col("u") < col("v"))
      val dir = withDeg.select(
        when(uFirst, col("u")).otherwise(col("v")).as("src"),
        when(uFirst, col("v")).otherwise(col("u")).as("dst"),
        when(uFirst, col("dv")).otherwise(col("du")).as("ddst"))
      val e1 = dir.select(col("src"), col("dst").as("a"), col("ddst").as("da"))
      val e2 = dir.select(col("src"), col("dst").as("b"), col("ddst").as("db"))
      val wedges = e1.join(e2, "src")
        .filter(col("da") < col("db") ||
          (col("da") === col("db") && col("a") < col("b")))
      wedges.join(dir.select(col("dst").as("b"), col("src").as("a")),
          Seq("a", "b"))
        .select(expr("array_sort(array(src, a, b))").as("t"))
        .select(element_at(col("t"), 1).as("doc_a"),
          element_at(col("t"), 2).as("doc_b"),
          element_at(col("t"), 3).as("doc_c"))
        .orderBy(col("doc_a"), col("doc_b"), col("doc_c"))
    }),

    // Newman MODULARITY of a candidate blocking key (lang) over the
    // θ=0.7 similarity graph — the quality gauge for metadata
    // blocking: before sharding a dedup pass by a metadata column, ask
    // whether the similarity structure actually respects it. Per block
    // c: Q_c = e_c/m − (d_c/2m)², where e_c = intra-block edges and
    // d_c = Σ degrees of members; high Σ Q_c means block-local dedup
    // loses few cross-block duplicate pairs, near-zero (this fixture —
    // langs share one vocabulary, so near-dups cross langs freely)
    // means lang-sharded dedup WOULD split clusters and must not ship.
    // Every term is a count over the edge table (one lang join per
    // endpoint, labels riding the edges — no per-node state), m is a
    // driver scalar off the materialized pair table, and the result is
    // |blocks| rows.
    "q246_blocking_modularity" -> ((s, d) => {
      val edges = prefixJaccardPairs(s, d, "0.7")
        .select(col("doc_a").as("u"), col("doc_b").as("v"))
      val m = edges.count()
      val langs = Tables.documents(s, d).select(col("doc_id"), col("lang"))
      val el = edges
        .join(langs.select(col("doc_id").as("u"), col("lang").as("lu")), "u")
        .join(langs.select(col("doc_id").as("v"), col("lang").as("lv")), "v")
      val dsum = el.select(col("lu").as("lang"))
        .unionAll(el.select(col("lv").as("lang")))
        .groupBy(col("lang")).agg(count(lit(1)).as("d_sum"))
      val intra = el.filter(col("lu") === col("lv"))
        .groupBy(col("lu").as("lang")).agg(count(lit(1)).as("e_intra"))
      val t = col("d_sum").cast("double") / lit(2L * m)
      dsum.join(intra, Seq("lang"), "left")
        .na.fill(0L, Seq("e_intra"))
        .select(col("lang"), col("e_intra").cast("int").as("e_intra"),
          col("d_sum").cast("int").as("d_sum"),
          round(col("e_intra").cast("double") / lit(m) - t * t, 6)
            .as("mod_contrib"))
        .orderBy(col("lang"))
    }),

    // Duplicate-cluster AUDIT: per connected component of the θ=0.7
    // graph — size, edge count, similarity range, density and the
    // is-it-a-clique verdict. This is the report a dedup operator
    // reads before picking a canonicalization policy: a CLIQUE
    // (density 1) collapses safely to one representative, while a
    // sparse chain (density → 2/n) is transitive-closure drift — docs
    // glued through intermediaries that may not resemble each other at
    // all (min_jac shows how bad). Components come from the
    // distributed min-label propagation (q205's O(log diameter)
    // hop+jump loop — never a driver union-find); labels then ride
    // the edge table (comp(a)=comp(b) on every edge by definition, so
    // ONE endpoint join suffices) and everything after is
    // |components|-row arithmetic. The oracle recomputes components as
    // a recursive-CTE fixpoint — propagation ≡ closure.
    "q248_cluster_audit" -> ((s, d) => {
      val pairs = prefixJaccardPairs(s, d, "0.7")
      val edges = pairs.select(col("doc_a").as("src"), col("doc_b").as("dst"))
      val nodes = edges.select(col("src").as("doc_id"))
        .unionAll(edges.select(col("dst").as("doc_id"))).distinct()
      val labels = propagateLabels(nodes, edges)
        .select(col("doc_id"), col("comp"))
      val ce = pairs
        .join(labels.select(col("doc_id").as("doc_a"), col("comp")), "doc_a")
        .groupBy(col("comp"))
        .agg(count(lit(1)).as("n_edges"),
          min(col("jac")).as("min_jac"), max(col("jac")).as("max_jac"))
      val cn = labels.groupBy(col("comp")).agg(count(lit(1)).as("n_docs"))
      cn.join(ce, "comp")
        .select(col("comp"), col("n_docs").cast("int").as("n_docs"),
          col("n_edges").cast("int").as("n_edges"),
          col("min_jac"), col("max_jac"),
          round((col("n_edges") * 2).cast("double") /
            (col("n_docs") * (col("n_docs") - 1)), 6).as("density"),
          expr("n_edges = (n_docs * (n_docs - 1)) DIV 2").as("is_clique"))
        .orderBy(col("comp"))
    }),

    // 2-core / periphery audit of the θ=0.7 dup graph — k-core
    // peeling (Seidman 1983) specialized to k=2: the 2-core is the
    // maximal subgraph where every doc keeps ≥2 neighbors — each dup
    // cluster's CYCLIC core — while peeled docs form the TREE
    // periphery: members attached through a single intermediary, the
    // transitive-closure-drift population q248's density ratio points
    // at (a clique has no periphery; a star is ALL periphery — its
    // center's edges vanish with its leaves). Peeling runs as a
    // bounded driver loop over the alive edge set — per round one
    // degree aggregate + two semi-join filters, localCheckpoint
    // lineage truncation (q205's loop shape), exit on edge-count
    // fixpoint; rounds = ⌈longest pendant chain⁄2⌉, bounded by the
    // upstream cluster-size caps, never by corpus volume. Components
    // ride the same distributed min-label propagation as q248. The
    // oracle unrolls 16 MATERIALIZED peel rounds — past the true
    // fixpoint a round is the identity, so any unroll ≥ the real
    // round count computes the same core; KCoreSpec pins the fixpoint
    // property (every core member keeps ≥2 core-internal neighbors;
    // every peeled doc would not) at sf0.01 and the bench SF.
    "q264_core_periphery" -> ((s, d) => {
      val edges0 = prefixJaccardPairs(s, d, "0.7")
        .select(col("doc_a").as("src"), col("doc_b").as("dst"))
      val nodes = edges0.select(col("src").as("doc_id"))
        .unionAll(edges0.select(col("dst").as("doc_id"))).distinct()
      val labels = propagateLabels(nodes, edges0)
        .select(col("doc_id"), col("comp"))
      var alive = edges0.localCheckpoint()
      var nEdges = alive.count()
      var rounds = 0
      var done = nEdges == 0
      while (!done && rounds < 16) {
        val deg = alive.select(col("src").as("n"))
          .unionAll(alive.select(col("dst").as("n")))
          .groupBy(col("n")).agg(count(lit(1)).as("deg"))
        val keep = deg.filter(col("deg") >= 2).select(col("n"))
        val next = alive
          .join(keep.select(col("n").as("src")), "src")
          .join(keep.select(col("n").as("dst")), "dst")
          .select(col("src"), col("dst")).localCheckpoint()
        val n2 = next.count()
        done = n2 == nEdges
        freeLabels(alive)
        alive = next; nEdges = n2; rounds += 1
      }
      val core = alive.select(col("src").as("doc_id"))
        .unionAll(alive.select(col("dst").as("doc_id"))).distinct()
        .withColumn("in_core", lit(1L))
      labels.join(core, Seq("doc_id"), "left")
        .groupBy(col("comp"))
        .agg(count(lit(1)).as("n_docs"),
          sum(coalesce(col("in_core"), lit(0L))).as("n_core"))
        .select(col("comp"), col("n_docs").cast("int").as("n_docs"),
          col("n_core").cast("int").as("n_core"),
          (col("n_docs") - col("n_core")).cast("int").as("n_periphery"),
          (col("n_core") > 0).as("has_cycle"))
        .orderBy(col("comp"))
    }),

    // Edit-distance join via the FastSS 0/1-deletion neighborhood
    // (Bocek et al. 2007) — the FIFTH candidate-generation strategy
    // in the near-dup family (LSH banding q31, sign buckets q139,
    // sorted neighborhood q228, prefix filter q236): an EXACT
    // Levenshtein ≤ 1 self-join over customer names that never goes
    // all-pairs. lev(s,t) ≤ 1 ⟹ the 0/1-deletion neighborhoods
    // U(s) = {s} ∪ del1(s) intersect (substitution at i shares
    // del(s,i) = del(t,i); an indel pair shares the shorter string
    // itself), so candidates come from ONE equi-join on the ≤ L+1
    // neighborhood keys, then each candidate pays one exact
    // `levenshtein` verify. Group fan-out per key is alphabet-bounded
    // (a length-L variant has ≤ 10·(L+1) digit-insertions back into
    // the id alphabet), so the join is skew-safe at any row count —
    // the brute-force O(N²·L) the oracle runs is exactly what this
    // plan avoids. array_union dedups the variants a repeated-char
    // run would mint (deleting any of k equal adjacent chars is one
    // string), and the pair-level distinct collapses multi-key
    // collisions before the verify. The %4 carve bounds the oracle's
    // quadratic side at the bench SF; the Spark side never depends
    // on it.
    "q254_edit_distance_join" -> ((s, d) => {
      val names = Tables.customer(s, d)
        .filter(col("c_custkey") % 4 === 0).select(col("c_name"))
      val keyed = names.select(col("c_name"), explode(expr(
        """array_union(array(c_name),
          |  transform(sequence(1, length(c_name)),
          |    i -> concat(substring(c_name, 1, i-1),
          |                substring(c_name, i+1, length(c_name)))))"""
          .stripMargin)).as("k"))
      keyed.select(col("c_name").as("name_a"), col("k"))
        .join(keyed.select(col("c_name").as("name_b"), col("k")), "k")
        .filter(col("name_a") < col("name_b"))
        .select(col("name_a"), col("name_b")).distinct()
        .withColumn("dist", levenshtein(col("name_a"), col("name_b")))
        .filter(col("dist") <= 1)
        .select(col("name_a"), col("name_b"), col("dist").cast("int").as("dist"))
        .orderBy(col("name_a"), col("name_b"))
    }),

    // Fellegi–Sunter probabilistic record linkage (JASA 1969) — the
    // decision-theoretic scorer every entity-resolution pipeline runs
    // AFTER candidate generation: per candidate pair, sum the
    // per-field log₂(m/u) agreement weights and band the total into
    // match / possible / non-match. The dirty side B is carved
    // deterministically from customer (custkey%7 → last name digit
    // bumped, %5 → acctbal rounded, %11 → segment lost) so the query
    // provably exercises every agreement pattern, and `n_true` audits
    // the decision bands against the known ground truth.
    //
    // The 100 TB shape (this rewrite; the first cut joined A×B within
    // nation — 9M scored pairs at sf0.1, 27s, and quadratic in block
    // size forever): the score takes only 2³ = 8 values, one per
    // agreement CELL, so the decision table needs CELL COUNTS, not
    // scored pairs. Agreeing pairs are rare by construction — each
    // agreement predicate gets its own CANDIDATE GENERATOR (name:
    // q254's FastSS 0/1-deletion key join; balance: floor-bucket ±1
    // join, sound because |Δ|≤1 ⟹ |Δfloor|≤1; segment: pure count
    // algebra Σ nA·nB per (nation,seg) — no enumeration at all), and
    // the three disagreement margins close by INCLUSION–EXCLUSION
    // against the per-nation totals. Everything enumerated is
    // near-duplicate-sized; everything else is arithmetic on exact
    // longs. Per-decision averages stay exact: Σ count·score is
    // DECIMAL(20,4) cell algebra, divided once in-engine — bit-equal
    // to the brute-force oracle's per-pair decimal sum. The oracle IS
    // the all-pairs brute force, so the hash compare proves the
    // inclusion–exclusion ledger pair-for-pair.
    "q259_fellegi_sunter" -> ((s, d) => {
      val c = Tables.customer(s, d)
      val bump = expr(
        """concat(substring(c_name, 1, length(c_name)-1),
          |  cast((cast(substring(c_name, length(c_name), 1) AS INT) + 1)
          |       % 10 AS STRING))""".stripMargin)
      val a = c.select(col("c_custkey").as("a_key"),
        col("c_name").as("a_name"), col("c_nationkey").as("a_nat"),
        col("c_acctbal").as("a_bal"), col("c_mktsegment").as("a_seg"))
      val b = c.select(col("c_custkey").as("b_key"),
        when(col("c_custkey") % 7 === 0, bump)
          .otherwise(col("c_name")).as("b_name"),
        col("c_nationkey").as("b_nat"),
        when(col("c_custkey") % 5 === 0, round(col("c_acctbal"), 0))
          .otherwise(col("c_acctbal")).as("b_bal"),
        when(col("c_custkey") % 11 === 0, lit("UNKNOWN"))
          .otherwise(col("c_mktsegment")).as("b_seg"))
      def delKeys(nameCol: String) = expr(
        s"""array_union(array($nameCol),
           |  transform(sequence(1, length($nameCol)),
           |    i -> concat(substring($nameCol, 1, i-1),
           |                substring($nameCol, i+1, length($nameCol)))))"""
          .stripMargin)
      val bAgree = abs(col("a_bal") - col("b_bal")) <= 1.0
      val sAgree = col("a_seg") === col("b_seg")
      // (1) name-agree cells: FastSS candidates within nation, exact
      // lev ≤ 1 verify, then the b/s flags on the tiny survivor set.
      // The diagonal (a_key = b_key) always lands here: lev(bumped) =
      // 1, |bal − round(bal)| ≤ 0.5 — so n_true closes inside set 1.
      val nameCand = a
        .select(col("a_key"), col("a_nat"), explode(delKeys("a_name")).as("k"))
        .join(b.select(col("b_key"), col("b_nat"),
            explode(delKeys("b_name")).as("k")),
          Seq("k"))
        .filter(col("a_nat") === col("b_nat"))
        .select(col("a_key"), col("b_key")).distinct()
      // (2) balance-agree margins: floor-bucket ±1 candidates (sound:
      // |Δ| ≤ 1 ⟹ floors differ by ≤ 1), exact verify, s flag
      val balCand = a
        .select(col("a_key").as("ak2"), col("a_nat").as("an2"),
          col("a_bal"), col("a_seg"),
          floor(col("a_bal")).cast("long").as("fa"))
        .join(b.select(col("b_key").as("bk2"), col("b_nat").as("bn2"),
            col("b_bal"), col("b_seg"),
            explode(array(lit(-1L), lit(0L), lit(1L))).as("off"),
            floor(col("b_bal")).cast("long").as("fb")),
          col("an2") === col("bn2") && col("fa") === col("fb") + col("off"))
        .filter(bAgree)
      // the four per-margin aggregates below (name cells, balance
      // margin, segment margin, nation totals) are independent driver
      // actions — overlapped from a small pool (guide §2.6, the
      // q000/q215 shape); each job and its result are unchanged
      val (nCells, bRow, aS, nTot) = graft.Par.scope(s, 4) { p =>
        val fCells = p.fork("q259: name cells")(nameCand
          .join(a, "a_key").join(b, "b_key")
          .filter(levenshtein(col("a_name"), col("b_name")) <= 1)
          .groupBy(bAgree.as("ba"), sAgree.as("sa"))
          .agg(count(lit(1)).as("n"),
            sum(when(col("a_key") === col("b_key"), 1L).otherwise(0L))
              .as("nt"))
          .collect()
          .map(r => (r.getBoolean(0), r.getBoolean(1)) ->
            (r.getAs[Long]("n"), r.getAs[Long]("nt"))).toMap)
        val fBRow = p.fork("q259: balance margin")(balCand
          .agg(count(lit(1)).as("ab"),
            sum(when(sAgree, 1L).otherwise(0L)).as("abs_")).head())
        // (3) segment-agree margin by pure count algebra; nation totals
        val fAS = p.fork("q259: segment margin")(a
          .groupBy(col("a_nat"), col("a_seg")).agg(count(lit(1)).as("ca"))
          .join(b.groupBy(col("b_nat"), col("b_seg")).agg(count(lit(1)).as("cb")),
            col("a_nat") === col("b_nat") && col("a_seg") === col("b_seg"))
          .agg(sum(col("ca") * col("cb"))).head().getLong(0))
        val fNTot = p.fork("q259: nation totals")(a
          .groupBy(col("a_nat")).agg(count(lit(1)).as("ca"))
          .join(b.groupBy(col("b_nat")).agg(count(lit(1)).as("cb")),
            col("a_nat") === col("b_nat"))
          .agg(sum(col("ca") * col("cb"))).head().getLong(0))
        (fCells.join(), fBRow.join(), fAS.join(), fNTot.join())
      }
      val aB = bRow.getAs[Long]("ab"); val aBS = bRow.getAs[Long]("abs_")
      def nCell(ba: Boolean, sa: Boolean) =
        nCells.getOrElse((ba, sa), (0L, 0L))
      // assemble the 8 cells (name-cells enumerated; ¬name by Möbius)
      val (cNBS, tNBS) = nCell(ba = true, sa = true)
      val (cNBs, tNBs) = nCell(ba = true, sa = false)
      val (cNbS, tNbS) = nCell(ba = false, sa = true)
      val (cNbs, tNbs) = nCell(ba = false, sa = false)
      val aN = cNBS + cNBs + cNbS + cNbs
      val aNB = cNBS + cNBs; val aNS = cNBS + cNbS
      val cnBS = aBS - cNBS
      val cnBs = aB - aNB - aBS + cNBS
      val cnbS = aS - aNS - aBS + cNBS
      val cnbs = nTot - aN - cnBS - cnBs - cnbS
      // decisions from the 4dp cell scores (the brute-force per-pair
      // round(·,4) evaluated once per cell — same literals, same
      // association, same HALF_UP)
      val dec = new java.math.BigDecimal(_: String)
      val cells = Seq( // (count, n_true, 4dp score, decision)
        (cNBS, tNBS, dec("16.3877"), "match"),
        (cNBs, tNBs, dec("12.6398"), "match"),
        (cNbS, tNbS, dec("10.1398"), "match"),
        (cNbs, tNbs, dec("6.3919"), "possible"),
        (cnBS, 0L, dec("2.1739"), "possible"),
        (cnBs, 0L, dec("-1.5740"), "nonmatch"),
        (cnbS, 0L, dec("-4.0740"), "nonmatch"),
        (cnbs, 0L, dec("-7.8219"), "nonmatch"))
      val rows = cells.groupBy(_._4).toSeq.map { case (decision, cs) =>
        val n = cs.map(_._1).sum
        val nt = cs.map(_._2).sum
        val sumDec = cs.map { case (cnt, _, sc, _) =>
          sc.multiply(java.math.BigDecimal.valueOf(cnt))
        }.reduce(_ add _).setScale(4)
        org.apache.spark.sql.Row(decision, n, nt, sumDec)
      }
      import org.apache.spark.sql.types._
      import scala.jdk.CollectionConverters._
      s.createDataFrame(rows.asJava, StructType(Seq(
          StructField("decision", StringType),
          StructField("n_pairs", LongType, nullable = false),
          StructField("n_true", LongType, nullable = false),
          StructField("sum_dec", DecimalType(20, 4)))))
        // the SAME in-engine float path as the brute force: decimal
        // sum → double cast → one divide → 4dp round
        // empty cells roll up to n=0 decisions the brute force never
        // emits as rows — drop them the same way
        .filter(col("n_pairs") > 0)
        .select(col("decision"), col("n_pairs"), col("n_true"),
          round(col("sum_dec").cast("double") / col("n_pairs"), 4)
            .as("avg_score"))
        .orderBy(col("decision"))
    }),

    // Suffix-ranking exact substring dedup (Lee et al. 2022) at
    // L=16-token granularity: per-doc maximal duplicated spans from
    // distributed prefix-doubling equality labels — see
    // [[suffixDupSpans]] for the algorithm and the shuffle-volume-
    // independent-of-L scale argument. Closes the gap between the
    // chunk/winnow passes (q127/q188, fixed-grid or sampled
    // fingerprints) and true exact substring-level dedup: every
    // duplicated ≥16-token region is found at token resolution, no
    // grid alignment, no fingerprint sampling loss. The oracle
    // re-mints duplicated windows by brute-force window-string
    // equality and merges spans with the identical gaps-and-islands
    // rule.
    "q278_suffix_dedup" -> ((s, d) =>
      suffixDupSpans(Tables.documents(s, d), 16)),

    // Threshold-sensitivity curve for the exact Jaccard dedup — the
    // audit a pipeline runs BEFORE committing to a θ: per rung
    // θ ∈ {0.7, 0.8, 0.9}, how many pairs survive, how many docs are
    // implicated, and the mean similarity of the surviving pairs.
    // Rides the STAGED θ=0.7 pair table (every higher rung is a pure
    // filter of it — pairs at θ≥0.8 are a subset of pairs at θ≥0.7 by
    // definition), so the whole curve costs ZERO corpus passes beyond
    // the one the family already paid: the multi-consumer staged-
    // artifact pattern at its clearest. mean_jac totals the already-
    // 6dp-rounded jacs as DECIMAL(18,6) (order-free) before the one
    // final division.
    "q279_dedup_threshold_curve" -> ((s, d) => {
      val pairs = prefixJaccardPairs(s, d, "0.7")
      val rungs = s.range(1).select(
        explode(array(Seq("0.7", "0.8", "0.9").map(lit): _*)).as("theta"))
      val curve = pairs.crossJoin(broadcast(rungs))
        .filter(col("jac") >= col("theta").cast("double"))
      val byRung = curve.groupBy(col("theta"))
        .agg(count(lit(1)).as("n_pairs"),
          sum(col("jac").cast("decimal(18,6)")).as("sj"))
      val docs = curve.select(col("theta"), col("doc_a").as("doc"))
        .unionAll(curve.select(col("theta"), col("doc_b").as("doc")))
        .groupBy(col("theta"))
        .agg(count_distinct(col("doc")).cast("int").as("n_dup_docs"))
      byRung.join(docs, "theta")
        .select(col("theta"), col("n_pairs").cast("int").as("n_pairs"),
          col("n_dup_docs"),
          round(col("sj").cast("double") / col("n_pairs"), 6)
            .as("mean_jac"))
        .orderBy(col("theta"))
    })
  )

  /** Directed near-dup candidate edges (src < dst) from a band stage —
    * the equi-join on (band_id, bsig) that turns LSH banding into a
    * shuffled hash/sort-merge join instead of an all-pairs product.
    * The caller owns the persist lifecycle of `bands` (pass it cached:
    * the self-join otherwise computes the minhash pipeline twice).
    */
  private[graft] def candidateEdges(bands: DataFrame): DataFrame = {
    val a = bands.as("a"); val b = bands.as("b")
    a.join(b,
      col("a.band_id") === col("b.band_id") &&
        col("a.bsig") === col("b.bsig") &&
        col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("src"), col("b.doc_id").as("dst"))
      .distinct()
  }

  /** Release a superseded label round deterministically. `unpersist()`
    * on a localCheckpoint'd Dataset is a CacheManager no-op (the
    * checkpoint RDD was never registered there) — its blocks would
    * otherwise wait for GC-driven ContextCleaner while the loop pins
    * one full label snapshot per round; free the underlying RDD
    * directly instead. The round-0 labels are a plain `persist()`ed
    * Dataset, for which `unpersist()` is the correct path.
    */
  private def freeLabels(df: DataFrame): Unit =
    df.queryExecution.analyzed match {
      case lr: org.apache.spark.sql.execution.LogicalRDD =>
        lr.rdd.unpersist(blocking = false)
      case _ => df.unpersist()
    }

  /** Component labels (doc_id, comp) over the LSH candidate graph,
    * comp = min doc_id reachable via candidate edges.
    *
    * The edge set is |near-dup PAIRS| — tiny relative to the corpus
    * (the whole point of dedup is that duplicates are the minority),
    * so the default path collects the edges and runs union-find on the
    * driver (edges only, never the corpus: driver memory is bounded by
    * docs-that-have-candidates), then joins the ≤|edges|·2-row label
    * map back — 3 jobs total. When the graph is genuinely huge
    * (> maxDriverEdges), it falls back to [[propagateLabels]]:
    * distributed min-label propagation with pointer jumping, rounds =
    * O(log component diameter). Same adaptive philosophy as Backprop's
    * treeAggregate depth: the 1000-executor shape and the fixture
    * shape want different plans, and the data decides.
    */
  private[graft] def components(docs: DataFrame,
      maxDriverEdges: Long = 10000000L): DataFrame = {
    // Persist the band stage ONCE and self-join the cached copy: the
    // shingle→md5→32-minhash-agg→band pipeline is the expensive part of
    // the whole method, and an uncached self-join computes that subtree
    // twice (Spark's exchange reuse doesn't fire across the aliased
    // sides). Evidence: q31 shares this exact self-join shape at 0.2s
    // while the uncached version here cost ~7s per call at sf0.1.
    // DedupPlanSpec pins this: both sides of the edge join must scan
    // the in-memory relation, with zero band aggregates outside it.
    // (Registry consumers go through [[componentsStaged]] instead,
    // which feeds staged-parquet edges in here via the from-edges
    // entry point; this docs-rooted wrapper serves ad-hoc callers and
    // the DedupPlanSpec routing/convergence gates.)
    val bands = bandsOf(docs).persist()
    // persist the directed edges: both downstream shapes reuse them
    val edges = candidateEdges(bands).persist()
    try {
      componentsFromEdges(docs.select(col("doc_id")), edges, maxDriverEdges)
    } finally { edges.unpersist(); bands.unpersist() }
  }

  /** [[components]] with the candidate edges supplied by the caller
    * (a staged parquet scan or a cached self-join — anything cheap to
    * scan twice): the adaptive driver-union-find / distributed-
    * propagation routing without the band build.
    */
  private[graft] def componentsFromEdges(docIds: DataFrame, edges: DataFrame,
      maxDriverEdges: Long = 10000000L): DataFrame = {
    val s: SparkSession = docIds.sparkSession
    if (edges.count() <= maxDriverEdges) {
        // driver union-find over the pair set (path-halving + rank)
        val parent = scala.collection.mutable.Map.empty[Long, Long]
        def find(x: Long): Long = {
          var r = parent.getOrElse(x, x)
          while (parent.getOrElse(r, r) != r) r = parent.getOrElse(r, r)
          var c = x
          while (parent.getOrElse(c, c) != r) {
            val nxt = parent.getOrElse(c, c); parent(c) = r; c = nxt
          }
          r
        }
        edges.collect().foreach { row =>
          val (ra, rb) = (find(row.getLong(0)), find(row.getLong(1)))
          if (ra != rb) { if (ra < rb) parent(rb) = ra else parent(ra) = rb }
        }
        import s.implicits._
        val labelMap = parent.keys.map(x => (x, find(x))).toSeq.toDF("id", "root")
        // only docs that appear in an edge need a mapped label;
        // broadcast: the map is |docs-with-candidates| rows
        docIds
          .join(broadcast(labelMap), col("doc_id") === col("id"), "left")
          .select(col("doc_id"),
            coalesce(col("root"), col("doc_id")).as("comp"))
      } else propagateLabels(docIds, edges)
  }

  /** Distributed min-label propagation WITH pointer jumping, to a
    * fixpoint. Per round: (a) one hop along the bidirectional edges
    * (edges ⋈ labels + min-groupBy — shuffle bounded by
    * |edges| + |docs|), then (b) a pointer jump — every label is
    * replaced by ITS OWN current label (labels ⋈ labels), the PRAM
    * pointer-doubling step that compresses label chains exponentially.
    * Hop alone needs O(component diameter) rounds (a 200-long near-dup
    * chain would blow the round budget); hop + jump converges in
    * O(log diameter), which DedupPlanSpec demonstrates on a synthetic
    * 200-edge chain. Every round is localCheckpoint'd (plan depth
    * stays O(1) in rounds) and superseded rounds are freed
    * deterministically ([[freeLabels]]).
    */
  private[graft] def propagateLabels(docIds: DataFrame,
      edges: DataFrame): DataFrame = {
    val bi = edges.unionAll(
      edges.select(col("dst").as("src"), col("src").as("dst"))).persist()
    var labels = docIds.select(col("doc_id").as("id"),
      col("doc_id").as("comp")).persist()
    // Convergence check: labels only ever DECREASE
    // (min-propagation), so the label sum is strictly monotone
    // until the fixpoint — one narrow aggregate over the cached
    // labels per round instead of a next⋈previous diff join.
    // Summed in DECIMAL(38,0): exact at any id range × row count,
    // where a long sum could wrap.
    def labelSum(df: DataFrame): java.math.BigDecimal = df.agg(
      sum(col("comp").cast(org.apache.spark.sql.types.DecimalType(38, 0))))
      .head().getDecimal(0)
    var prevSum = labelSum(labels)
    var converged = false
    var round = 0
    val maxRounds = 50
    while (!converged && round < maxRounds) {
      val viaEdges = bi.join(labels, col("src") === col("id"))
        .select(col("dst").as("id"), col("comp"))
      val hop = labels.unionAll(viaEdges)
        .groupBy(col("id")).agg(min(col("comp")).as("comp")).persist()
      // pointer jump: comp ← label(comp). Sound because labels are
      // monotone minima of reachable ids: label(comp) is reachable
      // from comp, which is reachable from id. Every label id exists
      // as a row id (labels cover all docs), so the join always
      // matches; coalesce only guards the contract.
      // localCheckpoint (eager): materializes the round AND truncates
      // lineage to a scan of the cached blocks, so the logical plan
      // stays O(1) in rounds — without it each round nests the
      // previous round's joins and at depth the PLANNER, not the
      // data, becomes the bottleneck. Blocks live at MEMORY_AND_DISK;
      // on a real cluster with executor churn you'd swap in reliable
      // `checkpoint()` to the cluster FS — same loop shape, one line.
      val next = hop.as("l")
        .join(hop.select(col("id").as("jid"), col("comp").as("jcomp")).as("p"),
          col("l.comp") === col("jid"), "left")
        .select(col("l.id").as("id"),
          coalesce(col("jcomp"), col("l.comp")).as("comp"))
        .localCheckpoint()
      hop.unpersist()
      val nextSum = labelSum(next)
      freeLabels(labels)
      labels = next
      converged = nextSum.compareTo(prevSum) == 0
      prevSum = nextSum
      round += 1
    }
    bi.unpersist()
    require(converged,
      s"component labels did not converge in $maxRounds rounds")
    labels.select(col("id").as("doc_id"), col("comp"))
  }

  // ---- generated DuckDB twins -------------------------------------

  /** CTE chain `pw → toks → docs → grams → gchars → gh → wins → fps`
    * — the DuckDB twin of [[winnowFps]] (K=8, W=4, base-257 rolling
    * hash mod 2⁶¹−1), shared by the q188 and q357 oracles. Callers
    * prepend `WITH RECURSIVE` (the power table `pw` is recursive).
    */
  private val winnowFpsSqlCtes: String =
    """pw AS (SELECT 0 AS e, CAST(1 AS HUGEINT) AS p
      |       UNION ALL
      |       SELECT e + 1, (p * 257) % 2305843009213693951
      |       FROM pw WHERE e < 1023),
      |toks AS (
      |  SELECT doc_id,
      |    list_filter(string_split_regex(lower(text), '[^a-z]+'),
      |      t -> t != '') AS ts
      |  FROM documents),
      |docs AS (SELECT doc_id, ts, len(ts) AS ntok FROM toks
      |         WHERE len(ts) >= 8),
      |grams AS (
      |  SELECT doc_id, ntok - 7 AS ng, gpos,
      |    array_to_string(ts[gpos + 1 : gpos + 8], ' ') AS gram
      |  FROM (SELECT doc_id, ts, ntok,
      |          CAST(unnest(range(ntok - 7)) AS INT) AS gpos
      |        FROM docs) g),
      |gchars AS (
      |  SELECT doc_id, ng, gpos, glen, j, ord(cs[j + 1]) AS code
      |  FROM (SELECT doc_id, ng, gpos, cs, len(cs) AS glen,
      |          CAST(unnest(range(len(cs))) AS INT) AS j
      |        FROM (SELECT doc_id, ng, gpos, string_split(gram, '') AS cs
      |              FROM grams) a) b),
      |gh AS (
      |  SELECT doc_id, ng, gpos,
      |    CAST(SUM((CAST(code AS HUGEINT) * pw.p) % 2305843009213693951)
      |         % 2305843009213693951 AS BIGINT) AS ghash
      |  FROM gchars JOIN pw ON pw.e = glen - 1 - j
      |  GROUP BY doc_id, ng, gpos),
      |wins AS (
      |  SELECT doc_id, ng, gpos,
      |    MIN(ghash) OVER (PARTITION BY doc_id ORDER BY gpos
      |      ROWS BETWEEN CURRENT ROW AND 3 FOLLOWING) AS fp
      |  FROM gh),
      |fps AS (SELECT DISTINCT doc_id, fp FROM wins WHERE gpos <= ng - 4)"""
      .stripMargin

  private val shingleSql =
    s"""SELECT doc_id,
       |    unnest(list_slice(ts, 1, len(ts)-1)) || ' ' ||
       |    unnest(list_slice(ts, 2, len(ts))) AS shingle
       |  FROM (SELECT doc_id, $tokensSql AS ts FROM documents%FILT%)
       |  WHERE len(ts) >= 2""".stripMargin

  /** Generated CTE chain `sh → sx → sig` — the DuckDB twin of
    * [[signaturesOf]], parameterized by a source-table filter so the
    * q132 estimator oracle can scope it to the pair-study subset.
    */
  private def sigSqlCtes(filt: String): String = {
    val mins = (0 until K).map(k =>
      s"MIN(${minhashSql(k)}) AS m$k").mkString(",\n    ")
    s"""sh AS (
       |  SELECT DISTINCT doc_id, shingle FROM (
       |  ${shingleSql.replace("%FILT%", filt)})),
       |sx AS (SELECT doc_id, (${md5IntSql("shingle")} & 4294967295) AS x32
       |       FROM sh),
       |sig AS (SELECT doc_id, COUNT(*) AS sz,
       |    $mins
       |  FROM sx GROUP BY doc_id)""".stripMargin
  }

  /** Generated CTE chain `sh → sx → sig → bands` — the DuckDB twin of
    * [[bandsOf]], shared by the q31 and q113 oracles.
    */
  /** The `sig → bands` band-signature selects, shared by
    * [[bandsSqlCtes]] and the q147 evaluation oracle (which scopes the
    * upstream `sig` CTE to the pair-study subset).
    */
  private val bandSelectsSql: String = (0 until Bands).map { b =>
    val cols = (0 until R).map(r => s"m${b * R + r}").mkString(", ")
    s"SELECT doc_id, $b AS band_id, md5(concat_ws(',', $cols)) AS bsig FROM sig"
  }.mkString("\n  UNION ALL ")

  private val bandsSqlCtes: String =
    s"""${sigSqlCtes("")},
       |bands AS (
       |  $bandSelectsSql)""".stripMargin

  /** [[bandsSqlCtes]] extended through the recursive component
    * closure (`edges → bi → reach → lbl`) — the DuckDB twin of
    * [[components]], shared by the q113 and q117 oracles;
    * parameterized by a documents filter for the q205 subset twin.
    */
  private def componentSqlCtesFiltered(filt: String): String =
    s"""${sigSqlCtes(filt)},
       |bands AS (
       |  $bandSelectsSql),
       |edges AS (
       |  SELECT DISTINCT a.doc_id AS src, b.doc_id AS dst
       |  FROM bands a JOIN bands b
       |    ON a.band_id = b.band_id AND a.bsig = b.bsig
       |      AND a.doc_id < b.doc_id),
       |bi AS (SELECT src, dst FROM edges
       |       UNION SELECT dst, src FROM edges),
       |reach(id, comp) AS (
       |  SELECT doc_id, doc_id FROM documents$filt
       |  UNION
       |  SELECT bi.dst, reach.comp FROM reach JOIN bi ON reach.id = bi.src),
       |lbl AS (SELECT id AS doc_id, MIN(comp) AS comp FROM reach GROUP BY id)""".stripMargin

  private val componentSqlCtes: String = componentSqlCtesFiltered("")

  /** DuckDB twin of [[prefixJaccardPairs]]: WITH-clause CTEs ending in
    * `v(doc_a, doc_b, jac)` — the θ literal is spliced verbatim so the
    * ceil boundary is character-identical to the engine's.
    */
  private[llm] def prefixPairSqlCtes(theta: String): String =
    s"""WITH t0 AS (
       |  SELECT doc_id, list_filter(
       |    string_split_regex(lower(text), '[^a-z]+'), x -> x != '') AS ts
       |  FROM documents),
       |sh AS (
       |  SELECT DISTINCT doc_id,
       |    unnest(list_slice(ts, 1, len(ts) - 1)) || ' ' ||
       |    unnest(list_slice(ts, 2, len(ts))) AS tk
       |  FROM t0 WHERE len(ts) >= 2),
       |df AS (SELECT tk, COUNT(*) AS df FROM sh GROUP BY tk),
       |srt AS (
       |  SELECT sh.doc_id, list(sh.tk ORDER BY df.df, sh.tk) AS st,
       |    COUNT(*) AS sz
       |  FROM sh JOIN df ON df.tk = sh.tk
       |  GROUP BY sh.doc_id),
       |pre AS (
       |  SELECT doc_id, sz,
       |    generate_subscripts(list_slice(st, 1,
       |      CAST(sz AS INT) - CAST(ceil($theta * sz) AS INT) + 1), 1) AS p,
       |    unnest(list_slice(st, 1,
       |      CAST(sz AS INT) - CAST(ceil($theta * sz) AS INT) + 1)) AS tk
       |  FROM srt),
       |cand AS (
       |  SELECT DISTINCT a.doc_id AS da, b.doc_id AS db
       |  FROM pre a JOIN pre b ON a.tk = b.tk AND a.doc_id < b.doc_id
       |    AND b.sz >= CAST(ceil($theta * a.sz) AS INT)
       |    AND a.sz >= CAST(ceil($theta * b.sz) AS INT)
       |    AND LEAST(a.sz - a.p + 1, b.sz - b.p + 1) >=
       |      CAST(ceil($theta * GREATEST(a.sz, b.sz)) AS INT)),
       |v AS (
       |  SELECT c.da AS doc_a, c.db AS doc_b,
       |    ROUND(CAST(len(list_intersect(x.st, y.st)) AS DOUBLE) /
       |      (x.sz + y.sz - len(list_intersect(x.st, y.st))), 6) AS jac
       |  FROM cand c JOIN srt x ON x.doc_id = c.da
       |    JOIN srt y ON y.doc_id = c.db)""".stripMargin

  def oracle: Map[String, String] = Map(
    // q000: every staged table's row count recomputed relationally —
    // the pair counts from the θ=0.7 verified-candidate chain (its
    // candidates are a superset of θ=0.9's, and the verified jac is
    // exact, so one chain prices both θ filters); bands/edges from the
    // LSH chain in an isolated sub-WITH (its CTE names overlap the
    // prefix chain's); comp is one label per doc by construction.
    "q000_staging" -> {
      val lshSub =
        s"""WITH ${sigSqlCtes("")},
           |bands AS (
           |  $bandSelectsSql),
           |edges AS (
           |  SELECT DISTINCT a.doc_id AS src, b.doc_id AS dst
           |  FROM bands a JOIN bands b
           |    ON a.band_id = b.band_id AND a.bsig = b.bsig
           |      AND a.doc_id < b.doc_id)""".stripMargin
      s"""${prefixPairSqlCtes("0.7")},
         |${graft.operators.PartSupp.psSql.replaceFirst("ps AS", "pstab AS")}
         |SELECT tbl, n_rows FROM (
         |  SELECT 'bands' AS tbl, CAST((
         |    $lshSub SELECT COUNT(*) FROM bands) AS BIGINT) AS n_rows
         |  UNION ALL
         |  SELECT 'comp', (SELECT COUNT(*) FROM documents)
         |  UNION ALL
         |  SELECT 'edges', CAST((
         |    $lshSub SELECT COUNT(*) FROM edges) AS BIGINT)
         |  UNION ALL
         |  SELECT 'pairs07',
         |    (SELECT COUNT(*) FROM v WHERE jac >= 0.7)
         |  UNION ALL
         |  SELECT 'pairs09',
         |    (SELECT COUNT(*) FROM v WHERE jac >= 0.9)
         |  UNION ALL
         |  SELECT 'partsupp', (SELECT COUNT(*) FROM pstab)
         |  UNION ALL
         |  SELECT 'srt', (SELECT COUNT(*) FROM srt)) z
         |ORDER BY tbl""".stripMargin
    },

    // Same winnowing rule end to end. The RollingHash polynomial
    // (h = h*257 + byte, mod 2^61-1) is restated in closed form:
    // hash = SUM(code_j * 257^(L-1-j)) mod M, with the power table
    // built mod M in HUGEINT by a bounded recursive CTE — every term
    // < 2^61 so the 128-bit SUM never overflows. Gram bytes are
    // [a-z ] by construction (alpha tokens + single spaces), so
    // per-char ord() equals the UTF-8 byte the engine hashes.
    "q188_winnow_dedup" ->
      s"""WITH RECURSIVE $winnowFpsSqlCtes,
        |docfp AS (SELECT doc_id, COUNT(*) AS nfp FROM fps GROUP BY doc_id),
        |ok AS (SELECT fp FROM fps GROUP BY fp
        |       HAVING COUNT(DISTINCT doc_id) <= 50),
        |keep AS (SELECT f.doc_id, f.fp FROM fps f JOIN ok USING (fp)),
        |pairs AS (
        |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS n_shared
        |  FROM keep a JOIN keep b ON a.fp = b.fp AND a.doc_id < b.doc_id
        |  GROUP BY 1, 2 HAVING COUNT(*) >= 2)
        |SELECT p.doc_a, p.doc_b, p.n_shared,
        |  ROUND(CAST(p.n_shared AS DOUBLE) / LEAST(fa.nfp, fb.nfp), 6)
        |    AS overlap
        |FROM pairs p
        |JOIN docfp fa ON p.doc_a = fa.doc_id
        |JOIN docfp fb ON p.doc_b = fb.doc_id
        |ORDER BY p.doc_a, p.doc_b""".stripMargin,

    "q35_exact_dedup" ->
      """SELECT doc_id, md5(text) AS fp,
        |  CAST(COUNT(*) OVER (PARTITION BY md5(text)) AS INT) AS cluster_size
        |FROM documents ORDER BY doc_id""".stripMargin,

    "q31_minhash_dedup" ->
      s"""WITH $bandsSqlCtes,
         |pairs AS (
         |  SELECT DISTINCT a.doc_id AS da, b.doc_id AS db
         |  FROM bands a JOIN bands b
         |    ON a.band_id = b.band_id AND a.bsig = b.bsig AND a.doc_id < b.doc_id),
         |partners AS (
         |  SELECT da AS doc_id, db AS p FROM pairs
         |  UNION SELECT db AS doc_id, da AS p FROM pairs),
         |cnt AS (SELECT doc_id, COUNT(DISTINCT p) AS n FROM partners GROUP BY doc_id)
         |SELECT d.doc_id, CAST(COALESCE(cnt.n, 0) AS INT) AS n_candidates
         |FROM documents d LEFT JOIN cnt USING (doc_id)
         |ORDER BY d.doc_id""".stripMargin,

    // the recursive closure: labels flow along candidate edges until
    // the recursive transitive closure on the q153 study subset — the
    // exact fixpoint the distributed hop+jump loop must reach
    "q205_cc_labelprop" ->
      s"""WITH RECURSIVE ${componentSqlCtesFiltered(" WHERE doc_id < 500")},
         |sized AS (SELECT comp, CAST(COUNT(*) AS INT) AS comp_size
         |          FROM lbl GROUP BY comp)
         |SELECT doc_id, comp, comp_size
         |FROM lbl JOIN sized USING (comp)
         |ORDER BY doc_id""".stripMargin,

    // every doc carries the min doc_id of its component — the
    // fixpoint the Spark side's propagation loop reaches
    "q113_dedup_components" ->
      s"""WITH RECURSIVE $componentSqlCtes,
         |sized AS (SELECT comp, CAST(COUNT(*) AS INT) AS comp_size
         |          FROM lbl GROUP BY comp)
         |SELECT doc_id, comp, comp_size
         |FROM lbl JOIN sized USING (comp)
         |ORDER BY doc_id""".stripMargin,

    // same generated closure joined with q40's quality formula; the
    // struct-max argmax is the twin of ROW_NUMBER (quality DESC,
    // doc_id) = 1 — identical because quality is rounded to 6dp in
    // both engines BEFORE the comparison
    "q159_canonical_select" ->
      s"""WITH RECURSIVE $componentSqlCtes,
         |qt AS (SELECT doc_id, n_chars,
         |  CAST(len(list_filter($tokensSql,
         |    t -> t IN ('the','a','of','and','to','in','is'))) AS INT)
         |    AS stop_cnt,
         |  CAST(len($tokensSql) AS INT) AS n_tok
         |  FROM documents),
         |q AS (SELECT doc_id,
         |  ROUND(LEAST(n_chars / 500.0, 1.0) * 0.5 +
         |    (1.0 - CAST(stop_cnt AS DOUBLE) / n_tok) * 0.5, 6) AS quality
         |  FROM qt),
         |r AS (SELECT comp, l.doc_id, quality,
         |    ROW_NUMBER() OVER (PARTITION BY comp
         |      ORDER BY quality DESC, l.doc_id) AS rn,
         |    COUNT(*) OVER (PARTITION BY comp) AS cs
         |  FROM lbl l JOIN q ON l.doc_id = q.doc_id)
         |SELECT comp, CAST(cs AS INT) AS comp_size, doc_id AS keep_doc_id,
         |  quality AS keep_quality, CAST(cs - 1 AS INT) AS n_dropped
         |FROM r WHERE rn = 1 ORDER BY comp""".stripMargin,

    // same generated closure; kept = doc is its component's min
    "q161_source_dup_stats" ->
      s"""WITH RECURSIVE $componentSqlCtes
         |SELECT d.source, CAST(COUNT(*) AS INT) AS n_docs,
         |  CAST(SUM(CASE WHEN l.comp = d.doc_id THEN 1 ELSE 0 END) AS INT)
         |    AS n_kept,
         |  CAST(COUNT(*) -
         |    SUM(CASE WHEN l.comp = d.doc_id THEN 1 ELSE 0 END) AS INT)
         |    AS n_dropped,
         |  ROUND(CAST(COUNT(*) -
         |      SUM(CASE WHEN l.comp = d.doc_id THEN 1 ELSE 0 END) AS DOUBLE)
         |    / COUNT(*), 6) AS dup_rate
         |FROM documents d JOIN lbl l ON d.doc_id = l.doc_id
         |GROUP BY d.source ORDER BY d.source""".stripMargin,

    // same generated closure, composed with representative selection
    // (doc = its component's min) and the q116 hash quotas
    "q117_corpus_pipeline" ->
      s"""WITH RECURSIVE $componentSqlCtes
         |SELECT d.lang, COUNT(*) AS n_docs,
         |  CAST(SUM(d.n_chars) AS BIGINT) AS sum_chars
         |FROM documents d
         |JOIN lbl ON d.doc_id = lbl.doc_id AND lbl.comp = d.doc_id
         |WHERE ${md5IntSql("CAST(d.doc_id AS VARCHAR)")} % 100
         |      < CASE WHEN d.lang = 'en' THEN 50 ELSE 20 END
         |GROUP BY d.lang ORDER BY d.lang""".stripMargin,

    // same generated band CTEs; the incoming/existing split is a
    // filter on each join side
    "q124_incremental_dedup" ->
      s"""WITH $bandsSqlCtes,
         |hits AS (
         |  SELECT a.doc_id, COUNT(DISTINCT b.doc_id) AS n
         |  FROM bands a JOIN bands b
         |    ON a.band_id = b.band_id AND a.bsig = b.bsig
         |   AND a.doc_id % 5 = 0 AND b.doc_id % 5 <> 0
         |  GROUP BY a.doc_id)
         |SELECT d.doc_id, CAST(COALESCE(n, 0) AS INT) AS n_corpus_dups,
         |  COALESCE(n, 0) = 0 AS is_novel
         |FROM documents d LEFT JOIN hits USING (doc_id)
         |WHERE d.doc_id % 5 = 0
         |ORDER BY d.doc_id""".stripMargin,

    // chunking twin: range() indices → list_slice windows, exactly the
    // Spark transform(sequence(...), slice) construction
    "q127_passage_dedup" ->
      s"""WITH t AS (
         |  SELECT doc_id, ts
         |  FROM (SELECT doc_id, $tokensSql AS ts FROM documents)
         |  WHERE len(ts) >= 8),
         |ch AS (
         |  SELECT doc_id,
         |    unnest(list_transform(range(0, len(ts) // 8),
         |      i -> array_to_string(list_slice(ts, i*8 + 1, i*8 + 8), ' ')))
         |      AS chunk
         |  FROM t),
         |shared AS (SELECT chunk, COUNT(DISTINCT doc_id) AS ndocs
         |           FROM ch GROUP BY chunk)
         |SELECT doc_id, CAST(COUNT(*) AS INT) AS n_chunks,
         |  CAST(SUM(CASE WHEN ndocs > 1 THEN 1 ELSE 0 END) AS INT)
         |    AS n_shared,
         |  ROUND(AVG(CASE WHEN ndocs > 1 THEN 1.0 ELSE 0.0 END), 6)
         |    AS shared_frac
         |FROM ch JOIN shared USING (chunk)
         |GROUP BY doc_id ORDER BY doc_id""".stripMargin,

    // same generated shingle CTE; benchmark membership is a plain
    // IN-subquery semi join
    "q130_contamination" ->
      s"""WITH sh AS (
         |  SELECT DISTINCT doc_id, shingle FROM (
         |  ${shingleSql.replace("%FILT%", "")})),
         |bench AS (SELECT DISTINCT shingle FROM sh WHERE doc_id % 50 = 0),
         |corpus AS (SELECT * FROM sh WHERE doc_id % 50 <> 0),
         |hits AS (SELECT doc_id, COUNT(*) AS n_hit FROM corpus
         |         WHERE shingle IN (SELECT shingle FROM bench)
         |         GROUP BY doc_id),
         |sizes AS (SELECT doc_id, COUNT(*) AS n_sh FROM corpus GROUP BY doc_id)
         |SELECT doc_id, CAST(n_sh AS INT) AS n_shingles,
         |  CAST(COALESCE(n_hit, 0) AS INT) AS n_overlap,
         |  ROUND(COALESCE(n_hit, 0) * 1.0 / n_sh, 6) AS overlap_frac
         |FROM sizes LEFT JOIN hits USING (doc_id)
         |ORDER BY doc_id""".stripMargin,

    // q357: the winnowing fingerprint chain (q188's CTEs) pointed at
    // the q130 benchmark/corpus split
    "q357_fuzzy_contamination" ->
      s"""WITH RECURSIVE $winnowFpsSqlCtes,
         |bench AS (SELECT DISTINCT fp FROM fps WHERE doc_id % 50 = 0),
         |corpus AS (SELECT * FROM fps WHERE doc_id % 50 <> 0),
         |hits AS (SELECT doc_id, COUNT(*) AS n_hit FROM corpus
         |         WHERE fp IN (SELECT fp FROM bench)
         |         GROUP BY doc_id),
         |sizes AS (SELECT doc_id, COUNT(*) AS n_fp FROM corpus
         |          GROUP BY doc_id)
         |SELECT doc_id, CAST(n_fp AS INT) AS n_fp,
         |  CAST(COALESCE(n_hit, 0) AS INT) AS n_hit,
         |  ROUND(COALESCE(n_hit, 0) * 1.0 / n_fp, 6) AS hit_frac,
         |  (COALESCE(n_hit, 0) >= 2) AS is_contaminated
         |FROM sizes LEFT JOIN hits USING (doc_id)
         |ORDER BY doc_id""".stripMargin,

    // same generated sig CTEs scoped to the study subset; the match
    // count is 32 generated CASE terms
    "q132_minhash_estimate" -> {
      val nMatchSql = (0 until K)
        .map(k => s"CASE WHEN a.m$k = b.m$k THEN 1 ELSE 0 END")
        .mkString(" +\n      ")
      s"""WITH ${sigSqlCtes(" WHERE doc_id < 50")},
         |pairs AS (
         |  SELECT a.doc_id AS da, b.doc_id AS db, COUNT(*) AS inter
         |  FROM sh a JOIN sh b
         |    ON a.shingle = b.shingle AND a.doc_id < b.doc_id
         |  GROUP BY 1, 2),
         |scored AS (
         |  SELECT p.da, p.db,
         |    ROUND(CAST(p.inter AS DOUBLE) / (a.sz + b.sz - p.inter), 6)
         |      AS jaccard,
         |    ROUND(CAST(($nMatchSql)
         |      AS DOUBLE) / $K, 6) AS jaccard_est
         |  FROM pairs p
         |  JOIN sig a ON p.da = a.doc_id
         |  JOIN sig b ON p.db = b.doc_id)
         |SELECT da, db, jaccard, jaccard_est,
         |  ROUND(ABS(jaccard_est - jaccard), 6) AS abs_err
         |FROM scored ORDER BY da, db""".stripMargin
    },

    "q36_simhash_dedup" ->
      s"""WITH tok AS (
         |  SELECT doc_id, unnest($tokensSql) AS tokn FROM documents),
         |ti AS (SELECT doc_id, ${md5IntSql("tokn")} AS tok_int FROM tok),
         |b AS (SELECT doc_id, k, ((tok_int >> k) & 1) AS bit
         |      FROM ti CROSS JOIN (SELECT CAST(i AS INT) AS k FROM range(63) r(i)) ks),
         |v AS (SELECT doc_id, k, SUM(bit * 2 - 1) AS vote FROM b GROUP BY doc_id, k)
         |SELECT doc_id,
         |  CAST(SUM(CASE WHEN vote > 0 THEN (CAST(1 AS BIGINT) << k) ELSE 0 END)
         |    AS BIGINT) AS simhash
         |FROM v GROUP BY doc_id ORDER BY doc_id""".stripMargin,

    "q37_ngram_jaccard" ->
      s"""WITH sh AS (
         |  SELECT DISTINCT doc_id, shingle FROM (
         |  ${shingleSql.replace("%FILT%", " WHERE doc_id < 50")})),
         |sizes AS (SELECT doc_id, COUNT(*) AS sz FROM sh GROUP BY doc_id),
         |inter AS (
         |  SELECT a.doc_id AS da, b.doc_id AS db, COUNT(*) AS inter
         |  FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
         |  GROUP BY a.doc_id, b.doc_id)
         |SELECT da, db, inter,
         |  ROUND(CAST(inter AS DOUBLE) / (sa + sb - inter), 6) AS jaccard
         |FROM inter
         |JOIN (SELECT doc_id AS da, sz AS sa FROM sizes) USING (da)
         |JOIN (SELECT doc_id AS db, sz AS sb FROM sizes) USING (db)
         |ORDER BY da, db""".stripMargin,

    "q38_embedding_cosine_dedup" ->
      """WITH n AS (
        |  SELECT vec_id, embedding,
        |    sqrt((SELECT SUM(CAST(u AS DOUBLE) * CAST(u AS DOUBLE))
        |          FROM (SELECT unnest(embedding) AS u) z)) AS nrm
        |  FROM embeddings),
        |p AS (
        |  SELECT a.vec_id AS ia, b.vec_id AS ib,
        |    ROUND((SELECT SUM(CAST(ua AS DOUBLE) * CAST(ub AS DOUBLE))
        |           FROM (SELECT unnest(a.embedding) AS ua,
        |                        unnest(b.embedding) AS ub) z)
        |      / (a.nrm * b.nrm), 6) AS cosine
        |  FROM n a, n b
        |  WHERE a.vec_id < 100 AND a.vec_id < b.vec_id)
        |SELECT ia, ib, cosine FROM p
        |ORDER BY cosine DESC, ia, ib LIMIT 20""".stripMargin,

    // the same three rounds unrolled as CTE pairs (contrib sum, rank
    // update); the (1 - 0.85) is spelled as double arithmetic so both
    // engines fold it to the identical 0.15000000000000002
    "q153_pagerank" -> {
      val iters = (1 to 3).map { k =>
        val prev = s"r${k - 1}"
        s"""c$k AS (
           |  SELECT dst, SUM(p / deg) AS inflow
           |  FROM bi JOIN $prev ON bi.src = $prev.node GROUP BY dst),
           |r$k AS (
           |  SELECT $prev.node, $prev.deg, $prev.n,
           |    (CAST(1 AS DOUBLE) - CAST(0.85 AS DOUBLE)) / $prev.n
           |      + CAST(0.85 AS DOUBLE) * c$k.inflow AS p
           |  FROM c$k JOIN $prev ON c$k.dst = $prev.node)""".stripMargin
      }.mkString(",\n")
      s"""WITH ${sigSqlCtes(" WHERE doc_id < 500")},
         |bands AS (
         |  $bandSelectsSql),
         |edges AS (
         |  SELECT DISTINCT a.doc_id AS src, b.doc_id AS dst
         |  FROM bands a JOIN bands b
         |    ON a.band_id = b.band_id AND a.bsig = b.bsig
         |      AND a.doc_id < b.doc_id),
         |bi AS (SELECT src, dst FROM edges
         |       UNION ALL SELECT dst, src FROM edges),
         |deg AS (SELECT src, COUNT(*) AS deg FROM bi GROUP BY 1),
         |n AS (SELECT COUNT(*) AS n FROM deg),
         |r0 AS (SELECT src AS node, deg, n.n AS n,
         |       CAST(1 AS DOUBLE) / n.n AS p FROM deg CROSS JOIN n),
         |$iters
         |SELECT node AS doc_id, CAST(deg AS INT) AS degree,
         |  ROUND(p, 6) AS rank
         |FROM r3 ORDER BY doc_id""".stripMargin
    },

    // the sig/sh CTEs scoped to the pair-study subset; pred is the
    // band self-join, truth the exact set-Jaccard threshold over the
    // same DISTINCT shingle relation the signatures derive from
    "q147_lsh_pr_eval" ->
      s"""WITH ${sigSqlCtes(" WHERE doc_id < 500")},
         |bands AS (
         |  $bandSelectsSql),
         |pred AS (
         |  SELECT DISTINCT a.doc_id AS src, b.doc_id AS dst
         |  FROM bands a JOIN bands b
         |    ON a.band_id = b.band_id AND a.bsig = b.bsig
         |      AND a.doc_id < b.doc_id),
         |sizes AS (SELECT doc_id, COUNT(*) AS sz FROM sh GROUP BY 1),
         |it AS (
         |  SELECT a.doc_id AS src, b.doc_id AS dst, COUNT(*) AS c
         |  FROM sh a JOIN sh b
         |    ON a.shingle = b.shingle AND a.doc_id < b.doc_id
         |  GROUP BY 1, 2),
         |truth AS (
         |  SELECT src, dst FROM it
         |  JOIN (SELECT doc_id AS src, sz AS sa FROM sizes) USING (src)
         |  JOIN (SELECT doc_id AS dst, sz AS sb FROM sizes) USING (dst)
         |  WHERE CAST(c AS DOUBLE) / (sa + sb - c) >= 0.5),
         |m AS (
         |  SELECT p.src IS NOT NULL AS p, t.src IS NOT NULL AS t
         |  FROM pred p FULL OUTER JOIN truth t
         |    ON p.src = t.src AND p.dst = t.dst),
         |agg AS (
         |  SELECT CAST(COALESCE(SUM(CASE WHEN p AND t THEN 1 ELSE 0 END), 0)
         |      AS INT) AS tp,
         |    CAST(COALESCE(SUM(CASE WHEN p AND NOT t THEN 1 ELSE 0 END), 0)
         |      AS INT) AS fp,
         |    CAST(COALESCE(SUM(CASE WHEN NOT p AND t THEN 1 ELSE 0 END), 0)
         |      AS INT) AS fn
         |  FROM m)
         |SELECT tp, fp, fn,
         |  CASE WHEN tp + fp > 0
         |    THEN ROUND(CAST(tp AS DOUBLE) / (tp + fp), 6) END AS precision,
         |  CASE WHEN tp + fn > 0
         |    THEN ROUND(CAST(tp AS DOUBLE) / (tp + fn), 6) END AS recall
         |FROM agg""".stripMargin,

    // same sign-bit sum, 1-indexed list access; float >= 0 is exact on
    // both engines so the buckets agree bit-for-bit
    "q139_embed_sign_dedup" -> {
      val bits = (1 to 8).map(i =>
        s"CASE WHEN embedding[$i] >= 0 THEN ${1L << (i - 1)} ELSE 0 END")
        .mkString(" + ")
      s"""WITH b AS (
         |  SELECT vec_id, CAST($bits AS BIGINT) AS bucket FROM embeddings)
         |SELECT bucket, CAST(COUNT(*) AS INT) AS n_vecs,
         |  MIN(vec_id) AS rep_id,
         |  CAST(COUNT(*) - 1 AS INT) AS n_dup_candidates
         |FROM b GROUP BY bucket ORDER BY bucket""".stripMargin
    },

    // q228: DuckDB ranks with a plain global ROW_NUMBER (the two-phase
    // equivalence is q202's proven pattern); intersection counted via
    // the unnest-join (q37's shape) so no engine-specific list-set
    // semantics cross the boundary
    "q228_sorted_neighborhood_dedup" ->
      s"""WITH t AS (
         |  SELECT doc_id, n_chars, text,
         |    list_distinct($tokensSql) AS toks
         |  FROM documents),
         |r AS (
         |  SELECT doc_id, toks, len(toks) AS sz,
         |    ROW_NUMBER() OVER (ORDER BY n_chars, text, doc_id) AS rn
         |  FROM t),
         |tok AS (SELECT doc_id, unnest(toks) AS tk FROM r),
         |p AS (
         |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
         |    a.sz AS sa, b.sz AS sb
         |  FROM r a JOIN r b ON b.rn BETWEEN a.rn - 3 AND a.rn - 1),
         |i AS (
         |  SELECT p.doc_a, p.doc_b, COUNT(*) AS inter
         |  FROM p JOIN tok x ON x.doc_id = p.doc_a
         |         JOIN tok y ON y.doc_id = p.doc_b AND y.tk = x.tk
         |  GROUP BY p.doc_a, p.doc_b),
         |j AS (
         |  SELECT p.doc_a, p.doc_b,
         |    ROUND(CAST(COALESCE(i.inter, 0) AS DOUBLE) /
         |      (p.sa + p.sb - COALESCE(i.inter, 0)), 6) AS jac
         |  FROM p LEFT JOIN i
         |    ON i.doc_a = p.doc_a AND i.doc_b = p.doc_b)
         |SELECT doc_a, doc_b, jac FROM j WHERE jac >= 0.9
         |ORDER BY doc_a, doc_b""".stripMargin,

    // q236: the same prefix-filter algorithm restated (candidate
    // generation included — its exactness vs brute force is pinned
    // Spark-side at sf0.001); list(tk ORDER BY df, tk) is the twin of
    // the engine's (df, tk) struct sort
    "q236_prefix_filter_join" ->
      s"""${prefixPairSqlCtes("0.9")}
         |SELECT doc_a, doc_b, jac FROM v WHERE jac >= 0.9
         |ORDER BY doc_a, doc_b""".stripMargin,

    // q243: the same θ=0.7 pair CTEs close into triangles with the
    // orientation-free u<v<w three-way join (the naive definition —
    // the engine's degree-ordered enumeration must coincide)
    "q243_triangle_count" ->
      s"""${prefixPairSqlCtes("0.7")},
         |e AS MATERIALIZED (SELECT doc_a AS u, doc_b AS v
         |                   FROM v WHERE jac >= 0.7)
         |SELECT a.u AS doc_a, a.v AS doc_b, b.v AS doc_c
         |FROM e a JOIN e b ON b.u = a.v
         |  JOIN e c ON c.u = a.u AND c.v = b.v
         |ORDER BY doc_a, doc_b, doc_c""".stripMargin,

    // q246: same θ=0.7 edges; m as a scalar CTE instead of the
    // engine's driver constant (same edge set either way), identical
    // per-block count algebra and single-IEEE contributions
    "q246_blocking_modularity" ->
      s"""${prefixPairSqlCtes("0.7")},
         |e AS MATERIALIZED (SELECT doc_a AS u, doc_b AS v
         |                   FROM v WHERE jac >= 0.7),
         |mm AS (SELECT COUNT(*) AS m FROM e),
         |el AS MATERIALIZED (
         |  SELECT e.u, e.v, du.lang AS lu, dv.lang AS lv
         |  FROM e JOIN documents du ON du.doc_id = e.u
         |         JOIN documents dv ON dv.doc_id = e.v),
         |ds AS (
         |  SELECT lang, COUNT(*) AS d_sum FROM (
         |    SELECT lu AS lang FROM el UNION ALL SELECT lv FROM el) z
         |  GROUP BY lang),
         |ei AS (
         |  SELECT lu AS lang, COUNT(*) AS e_intra FROM el
         |  WHERE lu = lv GROUP BY lu)
         |SELECT ds.lang,
         |  CAST(COALESCE(ei.e_intra, 0) AS INT) AS e_intra,
         |  CAST(ds.d_sum AS INT) AS d_sum,
         |  ROUND(CAST(COALESCE(ei.e_intra, 0) AS DOUBLE) / mm.m -
         |    (CAST(ds.d_sum AS DOUBLE) / (2 * mm.m)) *
         |    (CAST(ds.d_sum AS DOUBLE) / (2 * mm.m)), 6) AS mod_contrib
         |FROM ds LEFT JOIN ei ON ei.lang = ds.lang, mm
         |ORDER BY ds.lang""".stripMargin,

    // q248: components recomputed as the recursive-CTE min-label
    // fixpoint over the same θ=0.7 edges (q113's closure pattern) —
    // distributed propagation ≡ transitive closure; same count/ratio
    // algebra downstream
    "q248_cluster_audit" ->
      s"""${prefixPairSqlCtes("0.7").replaceFirst("WITH ", "WITH RECURSIVE ")},
         |e AS MATERIALIZED (SELECT doc_a, doc_b, jac
         |                   FROM v WHERE jac >= 0.7),
         |und AS MATERIALIZED (SELECT doc_a AS a, doc_b AS b FROM e
         |        UNION ALL SELECT doc_b, doc_a FROM e),
         |reach(node, lab) AS (
         |  SELECT DISTINCT a, a FROM und
         |  UNION
         |  SELECT und.a, reach.lab FROM reach JOIN und ON und.b = reach.node),
         |labs AS MATERIALIZED (SELECT node AS doc_id, MIN(lab) AS comp
         |         FROM reach GROUP BY node),
         |ce AS (
         |  SELECT l.comp, COUNT(*) AS n_edges,
         |    MIN(e.jac) AS min_jac, MAX(e.jac) AS max_jac
         |  FROM e JOIN labs l ON l.doc_id = e.doc_a GROUP BY l.comp),
         |cn AS (SELECT comp, COUNT(*) AS n_docs FROM labs GROUP BY comp)
         |SELECT cn.comp, CAST(n_docs AS INT) AS n_docs,
         |  CAST(n_edges AS INT) AS n_edges, min_jac, max_jac,
         |  ROUND(CAST(n_edges * 2 AS DOUBLE) /
         |    (n_docs * (n_docs - 1)), 6) AS density,
         |  n_edges = (n_docs * (n_docs - 1)) // 2 AS is_clique
         |FROM cn JOIN ce ON ce.comp = cn.comp
         |ORDER BY cn.comp""".stripMargin,

    // q264: same θ=0.7 edges, components via the recursive-CTE
    // closure (≡ the engine's min-label propagation), and the 2-core
    // via 16 unrolled MATERIALIZED peel rounds — each round keeps
    // edges whose BOTH endpoints hold degree ≥ 2 in the previous
    // round; past the fixpoint a round is the identity, so the
    // unroll computes the same core as the engine's
    // loop-until-fixpoint (KCoreSpec pins the fixpoint really is
    // reached within the unroll at both test SFs)
    "q264_core_periphery" -> {
      val peel = (1 to 16).map { r =>
        val prev = s"p${r - 1}"
        s"""p$r AS MATERIALIZED (
           |  SELECT src, dst FROM $prev
           |  WHERE src IN (SELECT n FROM (SELECT src AS n FROM $prev
           |      UNION ALL SELECT dst FROM $prev) z
           |    GROUP BY n HAVING COUNT(*) >= 2)
           |  AND dst IN (SELECT n FROM (SELECT src AS n FROM $prev
           |      UNION ALL SELECT dst FROM $prev) z
           |    GROUP BY n HAVING COUNT(*) >= 2))""".stripMargin
      }.mkString(",\n")
      s"""${prefixPairSqlCtes("0.7").replaceFirst("WITH ", "WITH RECURSIVE ")},
         |e AS MATERIALIZED (SELECT doc_a, doc_b FROM v WHERE jac >= 0.7),
         |und AS MATERIALIZED (SELECT doc_a AS a, doc_b AS b FROM e
         |        UNION ALL SELECT doc_b, doc_a FROM e),
         |reach(node, lab) AS (
         |  SELECT DISTINCT a, a FROM und
         |  UNION
         |  SELECT und.a, reach.lab FROM reach JOIN und ON und.b = reach.node),
         |labs AS MATERIALIZED (SELECT node AS doc_id, MIN(lab) AS comp
         |         FROM reach GROUP BY node),
         |p0 AS MATERIALIZED (SELECT doc_a AS src, doc_b AS dst FROM e),
         |$peel,
         |core AS MATERIALIZED (
         |  -- DISTINCT over UNION ALL, not UNION: under WITH RECURSIVE
         |  -- DuckDB 1.0 gives a bare UNION body recursive-union
         |  -- semantics even in a non-recursive CTE and leaks dups
         |  SELECT DISTINCT doc_id FROM (
         |    SELECT src AS doc_id FROM p16
         |    UNION ALL SELECT dst FROM p16) zz)
         |SELECT l.comp, CAST(COUNT(*) AS INT) AS n_docs,
         |  CAST(SUM(CASE WHEN c.doc_id IS NOT NULL THEN 1 ELSE 0 END)
         |    AS INT) AS n_core,
         |  CAST(SUM(CASE WHEN c.doc_id IS NULL THEN 1 ELSE 0 END)
         |    AS INT) AS n_periphery,
         |  (SUM(CASE WHEN c.doc_id IS NOT NULL THEN 1 ELSE 0 END) > 0)
         |    AS has_cycle
         |FROM labs l LEFT JOIN core c ON c.doc_id = l.doc_id
         |GROUP BY l.comp ORDER BY l.comp""".stripMargin
    },

    // q237: the containment variant restated — probe-side prefix only,
    // full postings on the index side, same ceil boundary; candidate
    // exactness vs brute force is pinned Spark-side at sf0.001
    "q237_containment_join" ->
      """WITH t0 AS (
        |  SELECT doc_id, list_filter(
        |    string_split_regex(lower(text), '[^a-z]+'), x -> x != '') AS ts
        |  FROM documents),
        |sh AS (
        |  SELECT DISTINCT doc_id,
        |    unnest(list_slice(ts, 1, len(ts) - 1)) || ' ' ||
        |    unnest(list_slice(ts, 2, len(ts))) AS tk
        |  FROM t0 WHERE len(ts) >= 2),
        |df AS (SELECT tk, COUNT(*) AS df FROM sh GROUP BY tk),
        |srt AS (
        |  SELECT sh.doc_id, list(sh.tk ORDER BY df.df, sh.tk) AS st,
        |    COUNT(*) AS sz
        |  FROM sh JOIN df ON df.tk = sh.tk
        |  GROUP BY sh.doc_id),
        |pre AS (
        |  SELECT doc_id, sz,
        |    generate_subscripts(list_slice(st, 1,
        |      CAST(sz AS INT) - CAST(ceil(0.8 * sz) AS INT) + 1), 1) AS p,
        |    unnest(list_slice(st, 1,
        |      CAST(sz AS INT) - CAST(ceil(0.8 * sz) AS INT) + 1)) AS tk
        |  FROM srt),
        |fullp AS (
        |  SELECT doc_id, sz, generate_subscripts(st, 1) AS p,
        |    unnest(st) AS tk
        |  FROM srt),
        |cand AS (
        |  SELECT DISTINCT a.doc_id AS da, b.doc_id AS db
        |  FROM pre a JOIN fullp b ON a.tk = b.tk AND a.doc_id != b.doc_id
        |  WHERE b.sz >= CAST(ceil(0.8 * a.sz) AS INT)
        |    AND LEAST(a.sz - a.p + 1, b.sz - b.p + 1) >=
        |      CAST(ceil(0.8 * a.sz) AS INT)),
        |v AS (
        |  SELECT c.da AS doc_a, c.db AS doc_b,
        |    ROUND(CAST(len(list_intersect(x.st, y.st)) AS DOUBLE) / x.sz,
        |      6) AS containment
        |  FROM cand c JOIN srt x ON x.doc_id = c.da
        |    JOIN srt y ON y.doc_id = c.db)
        |SELECT doc_a, doc_b, containment FROM v WHERE containment >= 0.8
        |ORDER BY doc_a, doc_b""".stripMargin,

    // q254: the oracle is deliberately the BRUTE-FORCE quadratic
    // levenshtein join the deletion-neighborhood plan avoids — the
    // exactness claim is candidate-set completeness, so the twin must
    // not share the candidate generator. %4 carve bounds its O(N²).
    "q254_edit_distance_join" ->
      """WITH n AS (
        |  SELECT c_name FROM customer WHERE c_custkey % 4 = 0)
        |SELECT a.c_name AS name_a, b.c_name AS name_b,
        |  CAST(levenshtein(a.c_name, b.c_name) AS INT) AS dist
        |FROM n a JOIN n b ON a.c_name < b.c_name
        |WHERE levenshtein(a.c_name, b.c_name) <= 1
        |ORDER BY name_a, name_b""".stripMargin,

    // q259: identical carve, identical weight literals summed in the
    // identical association order, identical round-before-band
    "q259_fellegi_sunter" ->
      """WITH a AS (
        |  SELECT c_custkey AS a_key, c_name AS a_name,
        |    c_nationkey AS a_nat, c_acctbal AS a_bal,
        |    c_mktsegment AS a_seg
        |  FROM customer),
        |b AS (
        |  SELECT c_custkey AS true_key,
        |    CASE WHEN c_custkey % 7 = 0 THEN
        |      substring(c_name, 1, length(c_name)-1) ||
        |      CAST((CAST(substring(c_name, length(c_name), 1) AS INT) + 1)
        |           % 10 AS VARCHAR)
        |    ELSE c_name END AS b_name,
        |    c_nationkey AS b_nat,
        |    CASE WHEN c_custkey % 5 = 0 THEN round(c_acctbal, 0)
        |         ELSE c_acctbal END AS b_bal,
        |    CASE WHEN c_custkey % 11 = 0 THEN 'UNKNOWN'
        |         ELSE c_mktsegment END AS b_seg
        |  FROM customer),
        |p AS (
        |  SELECT a_key, true_key,
        |    ROUND(
        |      (CASE WHEN levenshtein(a_name, b_name) <= 1 THEN 9.8919
        |            ELSE -4.3219 END) +
        |      (CASE WHEN abs(a_bal - b_bal) <= 1.0 THEN 4.2479
        |            ELSE -2.0 END) +
        |      (CASE WHEN a_seg = b_seg THEN 2.2479 ELSE -1.5 END),
        |      4) AS score
        |  FROM a JOIN b ON a_nat = b_nat)
        |SELECT
        |  CASE WHEN score >= 10.0 THEN 'match'
        |       WHEN score > 0.0 THEN 'possible'
        |       ELSE 'nonmatch' END AS decision,
        |  COUNT(*) AS n_pairs,
        |  CAST(SUM(CASE WHEN a_key = true_key THEN 1 ELSE 0 END)
        |       AS BIGINT) AS n_true,
        |  ROUND(CAST(SUM(CAST(score AS DECIMAL(14,4))) AS DOUBLE)
        |        / COUNT(*), 4) AS avg_score
        |FROM p GROUP BY 1 ORDER BY decision""".stripMargin,

    // q278: duplicated windows by brute-force window-STRING equality
    // (space-join of alpha tokens is bijective — tokens contain no
    // spaces), spans by the identical gap ≤ L islands rule. `w` is
    // MATERIALIZED (referenced by the dup-window filter and the
    // position carve — DuckDB re-evaluates CTEs per reference).
    "q278_suffix_dedup" ->
      """WITH t0 AS (
        |  SELECT doc_id, list_filter(
        |    string_split_regex(lower(text), '[^a-z]+'), x -> x != '')
        |    AS ts
        |  FROM documents),
        |t AS (SELECT doc_id, ts, len(ts) AS n FROM t0 WHERE len(ts) >= 16),
        |w AS MATERIALIZED (
        |  SELECT doc_id, n, i,
        |    array_to_string(ts[i:i+15], ' ') AS win
        |  FROM t, LATERAL (SELECT unnest(generate_series(1, n - 15)) AS i) g),
        |dup AS (
        |  SELECT win FROM w GROUP BY win
        |  HAVING COUNT(DISTINCT doc_id) >= 2),
        |p AS (
        |  SELECT doc_id, n, i FROM w WHERE win IN (SELECT win FROM dup)),
        |gi AS (
        |  SELECT doc_id, n, i,
        |    CASE WHEN i - LAG(i) OVER (PARTITION BY doc_id ORDER BY i) <= 16
        |         THEN 0 ELSE 1 END AS brk
        |  FROM p),
        |si AS (
        |  SELECT doc_id, n, i,
        |    SUM(brk) OVER (PARTITION BY doc_id ORDER BY i) AS sid
        |  FROM gi),
        |sp AS (
        |  SELECT doc_id, n, sid, MIN(i) AS st, MAX(i) + 15 AS en,
        |    COUNT(*) AS nw
        |  FROM si GROUP BY 1, 2, 3)
        |SELECT doc_id, CAST(n AS INT) AS n_tok,
        |  CAST(SUM(nw) AS INT) AS dup_windows,
        |  CAST(COUNT(*) AS INT) AS n_spans,
        |  CAST(SUM(en - st + 1) AS BIGINT) AS dup_tokens,
        |  ROUND(CAST(SUM(en - st + 1) AS DOUBLE) / n, 6) AS dup_ratio
        |FROM sp GROUP BY doc_id, n ORDER BY doc_id""".stripMargin,

    // q279: the same θ=0.7 pair CTEs re-filtered per rung (each rung
    // is a pure subset of the θ=0.7 pairs); identical decimal
    // totalization of the 6dp jacs before the one division
    "q279_dedup_threshold_curve" ->
      s"""${prefixPairSqlCtes("0.7")},
         |p7 AS MATERIALIZED (
         |  SELECT doc_a, doc_b, jac FROM v WHERE jac >= 0.7),
         |r AS (SELECT unnest(['0.7', '0.8', '0.9']) AS theta),
         |c AS MATERIALIZED (
         |  SELECT r.theta, p7.doc_a, p7.doc_b, p7.jac
         |  FROM p7 JOIN r ON p7.jac >= CAST(r.theta AS DOUBLE)),
         |b AS (
         |  SELECT theta, COUNT(*) AS n_pairs,
         |    SUM(CAST(jac AS DECIMAL(18,6))) AS sj
         |  FROM c GROUP BY 1),
         |dd AS (
         |  SELECT theta, COUNT(DISTINCT doc) AS n_dup_docs FROM (
         |    SELECT theta, doc_a AS doc FROM c
         |    UNION ALL SELECT theta, doc_b AS doc FROM c) z
         |  GROUP BY 1)
         |SELECT b.theta, CAST(b.n_pairs AS INT) AS n_pairs,
         |  CAST(dd.n_dup_docs AS INT) AS n_dup_docs,
         |  ROUND(CAST(b.sj AS DOUBLE) / b.n_pairs, 6) AS mean_jac
         |FROM b JOIN dd USING (theta) ORDER BY theta""".stripMargin
  )
}
