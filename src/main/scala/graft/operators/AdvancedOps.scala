package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.{QueryModule, Tables}
import RelationalCore.{dsum, dsumSql}

/** Second wave of relational coverage: pivot, exact percentiles,
  * string-distance functions, skew-salted joins, as-of joins, and the
  * end-to-end DBN pre-train loop as a registered query.
  */
object AdvancedOps extends QueryModule {

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // PIVOT: wide-format aggregation with explicit pivot values (never
    // let Spark scan for distinct values at scale — pass them).
    "q49_pivot" -> ((s, d) => {
      Tables.lineitem(s, d)
        .groupBy(col("l_returnflag"))
        .pivot("l_linestatus", Seq("F", "O"))
        .agg(sum(col("l_quantity")))
        .orderBy(col("l_returnflag"))
    }),

    // Exact percentiles (linear interpolation — same semantics as
    // DuckDB quantile_cont), grouped.
    "q50_percentiles" -> ((s, d) => {
      Tables.lineitem(s, d)
        .groupBy(col("l_returnflag"))
        .agg(round(expr("percentile(l_quantity, 0.25)"), 6).as("p25"),
          round(expr("percentile(l_quantity, 0.5)"), 6).as("p50"),
          round(expr("percentile(l_quantity, 0.9)"), 6).as("p90"),
          count(lit(1)).as("cnt"))
        .orderBy(col("l_returnflag"))
    }),

    // String-distance + shaping functions.
    "q51_string_distance" -> ((s, d) => {
      Tables.part(s, d)
        .select(col("p_partkey"),
          levenshtein(col("p_brand"), lit("Brand#13")).as("lev"),
          reverse(col("p_brand")).as("revb"),
          lpad(col("p_brand"), 12, "*").as("padded"),
          translate(col("p_type"), "aeiou", "AEIOU").as("xlat"))
        .orderBy(col("p_partkey"))
    }),

    // Skew-salted join: the big side gets a deterministic salt in
    // [0,8), the small side is replicated once per salt, and the join
    // key becomes (key, salt) — splitting any hot key across 8
    // reducers. The oracle is the UNSALTED join: salting must be
    // invisible in the result, which is exactly what the hash-compare
    // proves.
    "q52_salted_join" -> ((s, d) => {
      val salts = 8
      val big = Tables.lineitem(s, d).withColumn("salt",
        pmod(xxhash64(col("l_orderkey"), col("l_linenumber"), col("l_quantity")),
          lit(salts)).cast("int"))
      val small = Tables.orders(s, d)
        .select(col("o_orderkey"), col("o_orderstatus"),
          explode(sequence(lit(0), lit(salts - 1))).as("salt"))
      big.join(small,
        big("l_orderkey") === small("o_orderkey") && big("salt") === small("salt"))
        .groupBy(col("o_orderstatus"))
        .agg(count(lit(1)).as("cnt"), dsum(col("l_quantity")).as("sum_qty"))
        .orderBy(col("o_orderstatus"))
    }),

    // The OTHER half of the skew story: q52 salts by hand at plan
    // time; q191 lets AQE rescue the same pathology at RUNTIME. A
    // deterministic 70%-hot key (events piled onto k=0) joins a
    // 997-row derived dimension with broadcast disabled — the shape
    // that, static, funnels 70% of the shuffle into one task. AQE's
    // OptimizeSkewedJoin splits the hot partition into advisory-sized
    // reader slices at runtime (SkewJoinSpec pins `skew=true` in the
    // final adaptive plan AND that the rescue is result-invisible vs
    // the same join with skew handling off). Thresholds are lowered so
    // fixture-scale bytes trigger the same decision 100 TB bytes would;
    // set/restore follows q186's one-query-at-a-time contract, and the
    // result is materialized before confs restore so laziness can't
    // escape the window.
    "q191_skew_rescue" -> ((s, d) => {
      withSkewConfs(s, threshold = "16k", advisory = "8k") {
        val back = skewedJoinFrame(s, d)
        s.createDataFrame(
          java.util.Arrays.asList(back.collect(): _*), back.schema)
      }
    }),

    // End-to-end greedy DBN pre-train (64→16→8, 1 epoch per layer) —
    // the reference's whole program (driver.java:64-287) as one query.
    // The hash-draw Bernoulli sample (RBM.HashDraw) makes every layer
    // deterministic AND SQL-expressible, so the whole two-layer
    // pipeline — layer-1 CD-1 epoch, quantized forward propagation
    // (floor(255σ)/255, the A11∘A4 channel), layer-2 CD-1 epoch — has
    // a closed-form DuckDB twin; RbmGoldenSpec pins the layer kernel
    // besides.
    "q54_dbn_pretrain" -> ((s, d) => {
      val data = Tables.embeddings(s, d)
        .select(col("vec_id").as("id"),
          transform(col("embedding"), x => x.cast("double")).as("x"))
      val stack = graft.rbm.DBN.pretrain(s, data, Seq(64, 16, 8), epochs = 1)
      // in (i, j) order, as weightsToDf yields it: no sort job
      graft.rbm.RBM.weightsToDf(s, stack.last)
        .select(col("i"), col("j"), round(col("w"), 6).as("w"),
          lit(1).as("layer"))
    }),

    // Multiple DISTINCT aggregates in one grouped aggregation — plans
    // through Catalyst's Expand (one pass, no self-joins).
    "q56_multi_distinct" -> ((s, d) => {
      Tables.lineitem(s, d)
        .groupBy(col("l_returnflag"))
        .agg(countDistinct(col("l_suppkey")).as("n_supp"),
          countDistinct(col("l_partkey")).as("n_part"),
          countDistinct(col("l_suppkey"), col("l_partkey")).as("n_pairs"),
          sum(col("l_quantity")).as("sum_qty"))
        .orderBy(col("l_returnflag"))
    }),

    // SQL entry point + correlated scalar subquery: the engine's
    // parser surface is spark.sql itself (SURVEY §7.0 — no parser of
    // our own); Catalyst decorrelates the subquery into an aggregate
    // + left outer join, not a per-row loop.
    "q57_scalar_subquery" -> ((s, d) => {
      Tables.orders(s, d).createOrReplaceTempView("orders_v")
      Tables.lineitem(s, d).createOrReplaceTempView("lineitem_v")
      s.sql(
        """SELECT o_orderkey, o_orderstatus,
          |  (SELECT MAX(l_quantity) FROM lineitem_v
          |   WHERE l_orderkey = o_orderkey) AS max_qty
          |FROM orders_v
          |WHERE o_totalprice > 450000.0
          |ORDER BY o_orderkey""".stripMargin)
    }),

    // UNPIVOT/melt: wide metrics → long (metric, value) pairs — the
    // inverse of q49's pivot, as a native Unpivot plan node (no
    // explode-of-structs workaround needed on Spark 3.4+).
    "q58_unpivot" -> ((s, d) => {
      Tables.lineitem(s, d)
        .select(col("l_orderkey"), col("l_linenumber"),
          col("l_quantity"), col("l_extendedprice"), col("l_discount"))
        .unpivot(
          Array(col("l_orderkey"), col("l_linenumber")),
          Array(col("l_quantity"), col("l_extendedprice"), col("l_discount")),
          "metric", "value")
        .orderBy(col("l_orderkey"), col("l_linenumber"), col("metric"),
          col("value"))
    }),

    // Date/interval arithmetic suite. Outputs are strings/ints so both
    // engines compare exactly (Spark dayofweek is 1=Sunday, DuckDB
    // dayofweek is 0=Sunday — reconciled in the oracle).
    "q59_date_arithmetic" -> ((s, d) => {
      Tables.orders(s, d)
        .select(col("o_orderkey"),
          date_format(date_trunc("month", col("o_orderdate")), "yyyy-MM-dd").as("month_start"),
          date_format(add_months(col("o_orderdate").cast("date"), 3), "yyyy-MM-dd").as("plus3m"),
          date_format(last_day(col("o_orderdate").cast("date")), "yyyy-MM-dd").as("month_end"),
          dayofweek(col("o_orderdate")).cast("int").as("dow"),
          quarter(col("o_orderdate")).cast("int").as("qtr"),
          date_format(col("o_orderdate").cast("date") + lit(30), "yyyy-MM-dd").as("plus30d"))
        .orderBy(col("o_orderkey"))
    }),

    // NULL-semantics suite: three-valued logic, null-safe equality,
    // coalesce/nullif, and explicit null ordering.
    "q60_null_semantics" -> ((s, d) => {
      val nullable = Tables.orders(s, d)
        .select(col("o_orderkey"),
          when(col("o_orderstatus") === "P", lit(null).cast("double"))
            .otherwise(col("o_totalprice")).as("price_n"))
      nullable.select(col("o_orderkey"), col("price_n"),
          col("price_n").isNull.as("is_null"),
          (col("price_n") > 100000.0).as("gt_3vl"), // NULL for null rows
          (col("price_n") <=> lit(null)).as("nullsafe_eq_null"),
          coalesce(col("price_n"), lit(-1.0)).as("coalesced"),
          nullif(col("o_orderkey") % 2, lit(0)).as("odd_or_null"))
        .orderBy(asc_nulls_first("price_n"), col("o_orderkey"))
    }),

    // Array-function suite: construction, sort, slice, set ops,
    // position/membership. Results are string-joined because DuckDB's
    // list_intersect/list_distinct return arbitrary element order —
    // both engines sort before comparison. The array cast applies the
    // element cast inside codegen; a `transform` lambda would run it
    // interpreted per element and pull the projection out of codegen.
    // The rows are sorted on the three key columns before the arrays
    // are built: the global sort's range-partition sampling pass then
    // re-reads only the keys, and no array string crosses the shuffle.
    "q61_array_functions" -> ((s, d) => {
      def asStr(c: org.apache.spark.sql.Column) =
        array_join(c.cast("array<string>"), ",")
      val qty = col("l_quantity").cast("int")
      val a = array(col("l_linenumber"), qty, lit(7))
      val b = array(lit(7), col("l_linenumber"))
      Tables.lineitem(s, d)
        .orderBy(col("l_orderkey"), col("l_linenumber"), qty)
        .select(col("l_orderkey"), col("l_linenumber"), qty.as("qty"),
          asStr(sort_array(a)).as("sorted_str"),
          asStr(slice(sort_array(a), 1, 2)).as("slice_str"),
          asStr(sort_array(array_intersect(a, b))).as("inter_str"),
          asStr(sort_array(array_union(a, b))).as("union_str"),
          array_position(a, 7).cast("int").as("pos7"),
          array_contains(a, col("l_linenumber")).as("has_ln"))
    }),

    // Regexp suite: group extraction, replacement with backreferences
    // (Spark uses $1 where DuckDB uses \1 — reconciled in the oracle),
    // and full-match tests.
    "q63_regexp_suite" -> ((s, d) => {
      Tables.orders(s, d)
        .select(col("o_orderkey"),
          regexp_extract(col("o_orderpriority"), "^(\\d)-(\\w+)", 1).as("prio_num"),
          regexp_extract(col("o_orderpriority"), "^(\\d)-(\\w+)", 2).as("prio_word"),
          regexp_replace(col("o_orderpriority"), "^(\\d)-", "P$1_").as("relabeled"),
          col("o_orderpriority").rlike("^[12]-").as("is_high"))
        .orderBy(col("o_orderkey"))
    }),

    // NATIVE as-of join — the custom whole-operator path ((c) in the
    // extension preference order): graft.plans.AsOfJoin is a logical
    // node + planner Strategy + physical operator (key-clustered
    // distribution, (key,time) child ordering, one O(|l|+|r|) merge
    // pass with O(1) state per partition). Same semantics family as
    // q55's window composition, stated directly: for each purchase,
    // the click of the same user with the greatest ts STRICTLY below
    // the purchase's, ties on ts broken by the greatest event_id.
    // Times ride the canonical epoch-µs projection so the oracle's
    // correlated-subquery twin compares the identical integers.
    // AsOfJoinSpec pins the plan (GraftAsOfJoin operator, no window)
    // and the edge semantics on a synthetic fixture.
    "q222_asof_join_native" -> ((s, d) => {
      val ev = Tables.eventsUs(s, d)
      val purchases = ev.filter(col("event_type") === "purchase")
        .select(col("event_id"), col("user_id"), col("ts_us"))
      val clicks = ev.filter(col("event_type") === "click")
        .select(col("user_id").as("c_user"), col("ts_us").as("c_ts_us"),
          col("event_id").as("c_id"))
      graft.plans.AsOfJoin.join(purchases, clicks,
          "user_id", "c_user", "ts_us", "c_ts_us", "c_id")
        .select(col("event_id"), col("user_id"), col("ts_us"),
          col("c_id").as("prev_click"),
          col("c_ts_us").as("prev_click_ts_us"))
        .orderBy(col("event_id"))
    }),

    // As-of join: for each purchase event, the most recent preceding
    // click of the same user — implemented the scalable way (single
    // partitioned sort + IGNORE NULLS running last, not a range join).
    "q55_asof_join" -> ((s, d) => {
      val w = Window.partitionBy(col("user_id"))
        .orderBy(col("ts"), col("event_id"))
        .rowsBetween(Window.unboundedPreceding, -1)
      Tables.events(s, d)
        .withColumn("prev_click",
          last(when(col("event_type") === "click", col("event_id")),
            ignoreNulls = true).over(w))
        .filter(col("event_type") === "purchase")
        .select(col("event_id"), col("user_id"), col("prev_click"))
        .orderBy(col("event_id"))
    })
  )

  /** q191's join, LAZY, so SkewJoinSpec can execute it under its own
    * confs and inspect the final adaptive plan. 70% of events map to
    * k=0 (the hot key), the rest spread over 997 keys; the dimension
    * is a derived 997-row range table (weights (id·7) mod 13) — big
    * enough to be a real shuffled join once broadcast is off, small
    * enough that correctness is closed-form for the oracle.
    */
  def skewedJoinFrame(s: SparkSession, d: String): DataFrame = {
    // The round-robin respread stands in for the thousands of scan
    // mappers a real corpus produces: the fixture's events table is a
    // single one-row-group parquet file, so the join shuffle would have
    // exactly ONE mapper, and AQE's skew split slices a hot reducer
    // partition by MAPPER ranges (PartialReducerPartitionSpec) — with
    // one mapper a split is impossible by construction, no matter the
    // thresholds. At 100 TB this exchange does not exist (the scan
    // itself yields the mappers); at fixture scale it is what lets the
    // hot partition be divisible at all.
    val fact = Tables.events(s, d)
      .select(when(col("event_id") % 10 < 7, lit(0L))
        .otherwise(col("event_id") % 997).as("k"), col("value"))
      .repartition(8)
    val dim = s.range(0, 997)
      .select(col("id").as("k"), (col("id") * 7 % 13).as("w"))
    fact.join(dim, "k")
      .groupBy((col("w") % 5).as("wmod"))
      .agg(count(lit(1)).as("n_events"),
        round(dsum(col("value")), 2).as("sum_value"))
      .orderBy(col("wmod"))
  }

  /** Applies the AQE skew-join confs (broadcast off so the shuffled
    * path AQE rescues is what plans; thresholds lowered to make
    * fixture-scale bytes trigger), runs `body`, restores — the scoped
    * window is [[graft.Confs.withConfs]].
    */
  def withSkewConfs[A](s: SparkSession, threshold: String, advisory: String)(
      body: => A): A =
    graft.Confs.withConfs(s, Seq(
      "spark.sql.autoBroadcastJoinThreshold" -> "-1",
      "spark.sql.adaptive.enabled" -> "true",
      "spark.sql.adaptive.skewJoin.enabled" -> "true",
      "spark.sql.adaptive.skewJoin.skewedPartitionFactor" -> "2",
      "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes" -> threshold,
      "spark.sql.adaptive.advisoryPartitionSizeInBytes" -> advisory))(body)

  def oracle: Map[String, String] = Map(
    // Greedy DBN pre-train, both layers in one statement: layer-1
    // CD-1 (seed 42) over the raw embeddings, quantized propagation
    // floor(255σ)/255 into ex2, layer-2 CD-1 (seed 43, 16→8). The
    // chain/W0 SQL is generated by graft.rbm.RbmQueries from the
    // engine's own init + draw definitions.
    "q54_dbn_pretrain" -> {
      import graft.rbm.{RBM, RbmQueries}
      val n = "(SELECT COUNT(*) FROM embeddings)"
      s"""WITH w0a(i, j, w) AS (VALUES ${RbmQueries.w0ValuesSql(
           RBM.Config(numdims = 64, numhid = 16, seed = 42L))}),
         |w0b(i, j, w) AS (VALUES ${RbmQueries.w0ValuesSql(
           RBM.Config(numdims = 16, numhid = 8, seed = 43L))}),
         |ex AS (${RbmQueries.exSql}),
         |${RbmQueries.cd1ChainSql("a", "ex", "w0a", n, 42L)},
         |ex2 AS (SELECT q.id, q.j AS i,
         |    FLOOR(255.0/(1.0+EXP(-q.dot)))/255.0 AS x
         |  FROM (SELECT e.id, w.j, SUM(e.x*w.w) AS dot
         |        FROM ex e JOIN aw1 w ON e.i = w.i
         |        GROUP BY e.id, w.j) q),
         |${RbmQueries.cd1ChainSql("b", "ex2", "w0b", n, 43L)}
         |SELECT i, j, ROUND(w, 6) AS w, CAST(1 AS INT) AS layer
         |FROM bw1 ORDER BY i, j""".stripMargin
    },

    "q49_pivot" ->
      """SELECT l_returnflag,
        |  SUM(CASE WHEN l_linestatus = 'F' THEN l_quantity END) AS F,
        |  SUM(CASE WHEN l_linestatus = 'O' THEN l_quantity END) AS O
        |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin,

    "q50_percentiles" ->
      """SELECT l_returnflag,
        |  ROUND(quantile_cont(l_quantity, 0.25), 6) AS p25,
        |  ROUND(quantile_cont(l_quantity, 0.5), 6) AS p50,
        |  ROUND(quantile_cont(l_quantity, 0.9), 6) AS p90,
        |  COUNT(*) AS cnt
        |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin,

    "q51_string_distance" ->
      """SELECT p_partkey,
        |  CAST(levenshtein(p_brand, 'Brand#13') AS INT) AS lev,
        |  reverse(p_brand) AS revb,
        |  lpad(p_brand, 12, '*') AS padded,
        |  translate(p_type, 'aeiou', 'AEIOU') AS xlat
        |FROM part ORDER BY p_partkey""".stripMargin,

    "q52_salted_join" ->
      s"""SELECT o_orderstatus, COUNT(*) AS cnt, ${dsumSql("l_quantity")} AS sum_qty
         |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
         |GROUP BY o_orderstatus ORDER BY o_orderstatus""".stripMargin,

    // the skew mapping and derived dimension restated closed-form —
    // AQE's partition surgery must be result-invisible
    "q191_skew_rescue" ->
      s"""WITH f AS (
         |  SELECT CASE WHEN event_id % 10 < 7 THEN 0
         |              ELSE event_id % 997 END AS k, value
         |  FROM events),
         |d AS (SELECT range AS k, (range * 7) % 13 AS w FROM range(0, 997))
         |SELECT w % 5 AS wmod, COUNT(*) AS n_events,
         |  ROUND(${dsumSql("value")}, 2) AS sum_value
         |FROM f JOIN d USING (k)
         |GROUP BY 1 ORDER BY wmod""".stripMargin,

    "q56_multi_distinct" ->
      """SELECT l_returnflag,
        |  COUNT(DISTINCT l_suppkey) AS n_supp,
        |  COUNT(DISTINCT l_partkey) AS n_part,
        |  COUNT(DISTINCT (l_suppkey, l_partkey)) AS n_pairs,
        |  SUM(l_quantity) AS sum_qty
        |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin,

    "q57_scalar_subquery" ->
      """SELECT o_orderkey, o_orderstatus,
        |  (SELECT MAX(l_quantity) FROM lineitem
        |   WHERE l_orderkey = o_orderkey) AS max_qty
        |FROM orders
        |WHERE o_totalprice > 450000.0
        |ORDER BY o_orderkey""".stripMargin,

    "q58_unpivot" ->
      """SELECT l_orderkey, l_linenumber, metric, value FROM (
        |  UNPIVOT (SELECT l_orderkey, l_linenumber, l_quantity,
        |           l_extendedprice, l_discount FROM lineitem)
        |  ON l_quantity, l_extendedprice, l_discount
        |  INTO NAME metric VALUE value) t
        |ORDER BY l_orderkey, l_linenumber, metric, value""".stripMargin,

    "q59_date_arithmetic" ->
      """SELECT o_orderkey,
        |  strftime(date_trunc('month', o_orderdate), '%Y-%m-%d') AS month_start,
        |  strftime(CAST(o_orderdate AS DATE) + INTERVAL 3 MONTH, '%Y-%m-%d') AS plus3m,
        |  strftime(last_day(CAST(o_orderdate AS DATE)), '%Y-%m-%d') AS month_end,
        |  CAST(dayofweek(o_orderdate) + 1 AS INT) AS dow,
        |  CAST(quarter(o_orderdate) AS INT) AS qtr,
        |  strftime(CAST(o_orderdate AS DATE) + 30, '%Y-%m-%d') AS plus30d
        |FROM orders ORDER BY o_orderkey""".stripMargin,

    "q60_null_semantics" ->
      """WITH nullable AS (
        |  SELECT o_orderkey,
        |    CASE WHEN o_orderstatus = 'P' THEN NULL ELSE o_totalprice END AS price_n
        |  FROM orders)
        |SELECT o_orderkey, price_n,
        |  (price_n IS NULL) AS is_null,
        |  (price_n > 100000.0) AS gt_3vl,
        |  (price_n IS NOT DISTINCT FROM NULL) AS nullsafe_eq_null,
        |  COALESCE(price_n, -1.0) AS coalesced,
        |  NULLIF(o_orderkey % 2, 0) AS odd_or_null
        |FROM nullable
        |ORDER BY price_n NULLS FIRST, o_orderkey""".stripMargin,

    "q61_array_functions" ->
      """WITH t AS (
        |  SELECT l_orderkey, l_linenumber, CAST(l_quantity AS INT) AS qty,
        |    [l_linenumber, CAST(l_quantity AS INT), 7] AS a,
        |    [7, l_linenumber] AS b
        |  FROM lineitem)
        |SELECT l_orderkey, l_linenumber, qty,
        |  array_to_string(list_sort(a), ',') AS sorted_str,
        |  array_to_string(list_slice(list_sort(a), 1, 2), ',') AS slice_str,
        |  array_to_string(list_sort(list_intersect(a, b)), ',') AS inter_str,
        |  array_to_string(list_sort(list_distinct(list_concat(a, b))), ',') AS union_str,
        |  CAST(list_position(a, 7) AS INT) AS pos7,
        |  list_contains(a, l_linenumber) AS has_ln
        |FROM t ORDER BY l_orderkey, l_linenumber, qty""".stripMargin,

    "q63_regexp_suite" ->
      """SELECT o_orderkey,
        |  regexp_extract(o_orderpriority, '^(\d)-(\w+)', 1) AS prio_num,
        |  regexp_extract(o_orderpriority, '^(\d)-(\w+)', 2) AS prio_word,
        |  regexp_replace(o_orderpriority, '^(\d)-', 'P\1_') AS relabeled,
        |  regexp_matches(o_orderpriority, '^[12]-') AS is_high
        |FROM orders ORDER BY o_orderkey""".stripMargin,

    // q222: the as-of rule as a correlated subquery over the same
    // epoch-µs integers — greatest c_ts strictly below, ties by
    // greatest c_id
    "q222_asof_join_native" ->
      """WITH p AS (
        |  SELECT event_id, user_id, epoch_ns(ts) // 1000 AS ts_us
        |  FROM events WHERE event_type = 'purchase'),
        |c AS (
        |  SELECT user_id, epoch_ns(ts) // 1000 AS c_ts_us,
        |    event_id AS c_id
        |  FROM events WHERE event_type = 'click')
        |SELECT p.event_id, p.user_id, p.ts_us,
        |  (SELECT c_id FROM c
        |   WHERE c.user_id = p.user_id AND c.c_ts_us < p.ts_us
        |   ORDER BY c_ts_us DESC, c_id DESC LIMIT 1) AS prev_click,
        |  (SELECT c_ts_us FROM c
        |   WHERE c.user_id = p.user_id AND c.c_ts_us < p.ts_us
        |   ORDER BY c_ts_us DESC, c_id DESC LIMIT 1) AS prev_click_ts_us
        |FROM p ORDER BY event_id""".stripMargin,

    "q55_asof_join" ->
      """SELECT event_id, user_id, prev_click FROM (
        |  SELECT event_id, user_id, event_type,
        |    last_value(CASE WHEN event_type = 'click' THEN event_id END IGNORE NULLS)
        |      OVER (PARTITION BY user_id ORDER BY ts, event_id
        |            ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS prev_click
        |  FROM events) t
        |WHERE event_type = 'purchase'
        |ORDER BY event_id""".stripMargin
  )
}
