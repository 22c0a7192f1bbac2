package graft.functions

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.{QueryModule, Tables}
import graft.operators.RelationalCore.{dsum, dsumSql}

/** Round-2 type-system widening: map columns, interval arithmetic,
  * bitwise ops, sequence/zip higher-order functions, structured JSON
  * parsing (from_json, vs q28's path-extraction get_json_object), and
  * exact decimal money arithmetic — the remaining scalar type families
  * a complete engine owes its users (SURVEY §1.2 maps only primitives;
  * all of these are capabilities the reference never had).
  *
  * Everything here is a codegen'd builtin expression over a single
  * narrow scan — no UDFs, no shuffles except the final aggregations,
  * all predicates/projections pushdown-eligible.
  */
object TypeOps extends QueryModule {

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // Map construction + access + introspection. Key/value listings
    // are sorted before serialization: map iteration order is an
    // implementation detail in every engine, never part of the
    // contract.
    "q72_map_functions" -> ((s, d) => {
      val m = map(lit("pri"), col("o_orderpriority"),
        lit("st"), col("o_orderstatus"))
      Tables.orders(s, d)
        .select(col("o_orderkey"),
          element_at(m, "pri").as("pri"),
          element_at(m, "st").as("st"),
          element_at(m, "missing").as("absent"),
          size(m).as("card"),
          concat_ws(",", array_sort(map_keys(m))).as("keys_sorted"),
          concat_ws(",", array_sort(map_values(m))).as("vals_sorted"))
        .orderBy(col("o_orderkey"))
    }),

    // Interval arithmetic: static intervals, dynamic month offsets
    // (clamped to month end by both engines), component construction
    // via make_date. Temporal outputs are serialized to strings — the
    // engines' native temporal encodings differ at the parquet/pandas
    // layer (ns vs µs, date vs timestamp), the values don't.
    "q73_interval_datetime" -> ((s, d) => {
      val fmt = "yyyy-MM-dd HH:mm:ss"
      Tables.orders(s, d)
        .select(col("o_orderkey"),
          date_format(col("o_orderdate") + expr("INTERVAL 3 MONTH"), fmt)
            .as("plus_3m"),
          date_format(col("o_orderdate") - expr("INTERVAL 90 DAY"), fmt)
            .as("minus_90d"),
          date_format(add_months(col("o_orderdate"),
            (col("o_orderkey") % 12).cast("int")), "yyyy-MM-dd").as("dyn_m"),
          date_format(make_date(lit(2020), (col("o_orderkey") % 12 + 1)
            .cast("int"), lit(15)), "yyyy-MM-dd").as("md"),
          date_format(col("o_orderdate")
            + expr("INTERVAL '1 02:03:04' DAY TO SECOND"), fmt)
            .as("plus_mixed"))
        .orderBy(col("o_orderkey"))
    }),

    // Bitwise algebra on the order key: and/or/xor, shifts, popcount.
    "q74_bitwise" -> ((s, d) => {
      Tables.orders(s, d)
        .select(col("o_orderkey"),
          (col("o_orderkey").bitwiseAND(255L)).as("b_and"),
          (col("o_orderkey").bitwiseOR(7L)).as("b_or"),
          (col("o_orderkey").bitwiseXOR(255L)).as("b_xor"),
          shiftleft(col("o_orderkey"), 2).as("b_shl"),
          shiftright(col("o_orderkey"), 1).as("b_shr"),
          bit_count(col("o_orderkey")).cast("int").as("b_pop"))
        .orderBy(col("o_orderkey"))
    }),

    // Sequence generation + element-wise zip algebra: a dot product of
    // a sequence with its reverse, slicing, membership, position — the
    // array algebra q61 didn't cover (generation and binary zips).
    "q75_sequence_zip" -> ((s, d) => {
      val k = (col("o_orderkey") % 5) + 1
      val seq = sequence(lit(1L), k)
      Tables.orders(s, d)
        .select(col("o_orderkey"),
          aggregate(zip_with(seq, reverse(seq), (a, b) => a * b),
            lit(0L), (acc, x) => acc + x).as("dot_rev"),
          size(seq).as("len"),
          array_position(seq, 2L).as("pos2"),
          array_contains(seq, 3L).as("has3"),
          concat_ws("-", slice(seq, 1, 2)).as("head2"))
        .orderBy(col("o_orderkey"))
    }),

    // Structured JSON: from_json with a declared schema (typed struct
    // access), json_array_length, and parsing a constructed nested
    // document — vs q28's stringly get_json_object paths.
    "q76_from_json" -> ((s, d) => {
      val kSchema = StructType(Seq(StructField("k", IntegerType)))
      val nested = concat(lit("""{"u":"""), col("user_id"),
        lit(""","arr":[1,2,"""), col("user_id") % 10, lit("]}"))
      val nestedSchema = StructType(Seq(
        StructField("u", LongType),
        StructField("arr", ArrayType(LongType))))
      Tables.events(s, d)
        .select(col("event_id"),
          from_json(col("props"), kSchema).getField("k").as("k"),
          from_json(nested, nestedSchema).getField("u").as("u"),
          element_at(from_json(nested, nestedSchema).getField("arr"), 3)
            .as("arr3"),
          json_array_length(concat(lit("[1,2,"), col("user_id") % 10,
            lit("]"))).as("alen"))
        .orderBy(col("event_id"))
    }),

    // Exact money arithmetic in DECIMAL(18,2): every sum/product runs
    // in decimal (no float drift, order-independent), the exact
    // scale-4 sum is rounded to cents with an explicit round() — both
    // engines round decimals half-up, whereas DuckDB's downscale CAST
    // truncates — and only the final compared value is projected to
    // double (the engines' decimal wire encodings differ; one exact
    // Decimal→double conversion doesn't).
    "q78_decimal_money" -> ((s, d) => {
      val price = col("l_extendedprice").cast(DecimalType(18, 2))
      val disc = col("l_discount").cast(DecimalType(18, 2))
      Tables.lineitem(s, d)
        .groupBy(col("l_returnflag"))
        .agg(
          round(sum(price), 2).cast("double").as("gross"),
          round(sum(price * (lit(1).cast(DecimalType(18, 2)) - disc)), 2)
            .cast("double").as("net"),
          round(sum(price * disc), 2).cast("double")
            .as("discount_total"),
          count(lit(1)).as("n"))
        .orderBy(col("l_returnflag"))
    }),

    // try_-family error-safe evaluation: division by zero, bad casts,
    // out-of-bounds element access all yield NULL instead of failing
    // the job — the semantics a 100 TB pipeline needs when one dirty
    // row must not kill a 10-hour run.
    "q85_try_arithmetic" -> ((s, d) => {
      val k = col("o_orderkey")
      Tables.orders(s, d)
        .select(k.as("o_orderkey"),
          round(try_divide(col("o_totalprice"), (k % 3).cast("double")), 4)
            .as("div3"),
          expr("try_cast(CASE WHEN o_orderkey % 2 = 0 THEN 'x' " +
            "ELSE CAST(o_orderkey AS STRING) END AS INT)").as("cast_i"),
          try_element_at(sequence(lit(1L), k % 4 + 1), lit(9)).as("oob"),
          try_element_at(sequence(lit(1L), k % 4 + 1), lit(1)).as("first"))
        .orderBy(k)
    }),

    // String suite beyond q27/q51: split_part (in- and out-of-range),
    // trim families with custom chars, repeat/chr/ascii, left/right,
    // and 1-based substring search.
    "q86_string_suite2" -> ((s, d) => {
      val pri = col("o_orderpriority")
      Tables.orders(s, d)
        .select(col("o_orderkey"),
          split_part(pri, lit("-"), lit(2)).as("word"),
          split_part(pri, lit("-"), lit(9)).as("oob_part"),
          trim(pri, "15URGENT").as("trimmed"),
          ltrim(pri, "12345").as("no_digits"),
          repeat(col("o_orderstatus"), 3).as("st3"),
          chr(col("o_orderkey") % 26 + 65).as("letter"),
          ascii(col("o_orderstatus")).cast("int").as("st_code"),
          expr("left(o_orderpriority, 3)").as("l3"),
          expr("right(o_orderpriority, 4)").as("r4"),
          instr(pri, "URGENT").cast("int").as("pos_urgent"))
        .orderBy(col("o_orderkey"))
    }),

    // Histogram / bucketing: fixed-width value buckets with counts and
    // per-bucket sums — one partial-aggregable pass, the profiling
    // primitive for any numeric column at scale.
    "q87_histogram" -> ((s, d) => {
      val bucket = least(floor(col("o_totalprice") / 60000.0), lit(9.0))
        .cast("int")
      Tables.orders(s, d)
        .groupBy(bucket.as("bucket"))
        .agg(count(lit(1)).as("n"),
          // money sum through DECIMAL(20,4): exact, merge-order-free
          round(dsum(col("o_totalprice")), 2).as("bucket_sum"),
          round(min(col("o_totalprice")), 2).as("lo"),
          round(max(col("o_totalprice")), 2).as("hi"))
        .orderBy(col("bucket"))
    }),

    // Schema-aligning union (BY NAME): two projections with different
    // column order/width union on names, missing columns null-filled —
    // the schema-evolution append every long-lived dataset needs.
    "q88_union_by_name" -> ((s, d) => {
      val o = Tables.orders(s, d)
      val a = o.filter(col("o_orderstatus") === "F")
        .select(col("o_orderkey").as("k"), col("o_totalprice").as("price"),
          lit("closed").as("src"))
      val b = o.filter(col("o_orderstatus") === "O")
        .select(lit("open").as("src"), col("o_orderkey").as("k"))
      a.unionByName(b, allowMissingColumns = true)
        .groupBy(col("src"))
        .agg(count(lit(1)).as("n"),
          // money sum through DECIMAL(20,4): exact, merge-order-free
          round(dsum(col("price")), 2).as("sum_price"),
          count(col("price")).as("n_priced"))
        .orderBy(col("src"))
    }),

    // VARIANT (Spark 4's semi-structured type): parse once into the
    // typed binary encoding, then variant_get typed path extraction —
    // vs q76's per-path from_json re-parse. The DuckDB twin extracts
    // the same paths from the JSON text (same values, different
    // storage); at scale variant parses each document once and shreds
    // columnar, which is the point.
    "q95_variant" -> ((s, d) => {
      Tables.events(s, d).createOrReplaceTempView("g_events")
      s.sql(
        """SELECT event_id,
          |  variant_get(parse_json(props), '$.k', 'int') AS k,
          |  variant_get(parse_json(concat('{"u":', user_id,
          |    ',"arr":[1,2,', user_id % 10, ']}')), '$.arr[2]', 'bigint')
          |    AS arr3,
          |  variant_get(parse_json(concat('{"u":', user_id,
          |    ',"arr":[1,2,', user_id % 10, ']}')), '$.u', 'bigint') AS u
          |FROM g_events ORDER BY event_id""".stripMargin)
    }),

    // Higher-order predicates over arrays: exists / forall /
    // filter-count / reduce — the per-row quantifiers (q61/q75 covered
    // element algebra; these are the boolean forms). The rows are
    // sorted on the five key columns before the lambdas run: the global
    // sort's range-partition sampling pass then re-reads only the keys
    // instead of evaluating every lambda a second time. Every output
    // column is a function of the keys, so ties reorder nothing visible.
    "q96_hof_predicates" -> ((s, d) => {
      val arr = array(col("l_quantity"), col("l_discount") * 100.0,
        col("l_tax") * 100.0)
      Tables.lineitem(s, d)
        .orderBy(col("l_orderkey"), col("l_linenumber"), col("l_quantity"),
          col("l_discount"), col("l_tax"))
        .select(col("l_orderkey"), col("l_linenumber"), col("l_quantity"),
          col("l_discount"), col("l_tax"),
          exists(arr, x => x > 24.0).as("any_big"),
          forall(arr, x => x >= 0.0).as("all_nonneg"),
          size(filter(arr, x => x > 5.0)).as("n_over5"),
          round(aggregate(arr, lit(0.0), (a, x) => a + x), 4).as("arr_sum"))
    }),

    // regexp_extract_all: every match materialized as an array (q63
    // covered single-match extract/replace) — counts and a joined
    // rendering keep the compared output scalar.
    "q89_regexp_extract_all" -> ((s, d) => {
      val str = concat(col("o_orderpriority"), lit("#"),
        col("o_orderkey") % 100, lit("#"), col("o_custkey") % 10)
      Tables.orders(s, d)
        .select(col("o_orderkey"),
          size(regexp_extract_all(str, lit("\\d+"), lit(0))).as("n_runs"),
          concat_ws("|", regexp_extract_all(str, lit("\\d+"), lit(0)))
            .as("runs"),
          size(regexp_extract_all(str, lit("[A-Z]+"), lit(0))).as("n_words"))
        .orderBy(col("o_orderkey"))
    })
  )

  def oracle: Map[String, String] = Map(
    "q72_map_functions" ->
      """SELECT o_orderkey,
        |  map(['pri','st'], [o_orderpriority, o_orderstatus])['pri'][1] AS pri,
        |  map(['pri','st'], [o_orderpriority, o_orderstatus])['st'][1] AS st,
        |  map(['pri','st'], [o_orderpriority, o_orderstatus])['missing'][1]
        |    AS absent,
        |  CAST(cardinality(map(['pri','st'],
        |    [o_orderpriority, o_orderstatus])) AS INT) AS card,
        |  array_to_string(list_sort(map_keys(map(['pri','st'],
        |    [o_orderpriority, o_orderstatus]))), ',') AS keys_sorted,
        |  array_to_string(list_sort(map_values(map(['pri','st'],
        |    [o_orderpriority, o_orderstatus]))), ',') AS vals_sorted
        |FROM orders ORDER BY o_orderkey""".stripMargin,

    "q73_interval_datetime" ->
      """SELECT o_orderkey,
        |  strftime(o_orderdate + INTERVAL 3 MONTH, '%Y-%m-%d %H:%M:%S')
        |    AS plus_3m,
        |  strftime(o_orderdate - INTERVAL 90 DAY, '%Y-%m-%d %H:%M:%S')
        |    AS minus_90d,
        |  strftime(o_orderdate + to_months(CAST(o_orderkey % 12 AS INT)),
        |    '%Y-%m-%d') AS dyn_m,
        |  strftime(make_date(2020, CAST(o_orderkey % 12 + 1 AS INT), 15),
        |    '%Y-%m-%d') AS md,
        |  strftime(o_orderdate + INTERVAL 1 DAY + INTERVAL 2 HOUR
        |    + INTERVAL 3 MINUTE + INTERVAL 4 SECOND, '%Y-%m-%d %H:%M:%S')
        |    AS plus_mixed
        |FROM orders ORDER BY o_orderkey""".stripMargin,

    "q74_bitwise" ->
      """SELECT o_orderkey,
        |  o_orderkey & 255 AS b_and,
        |  o_orderkey | 7 AS b_or,
        |  xor(o_orderkey, 255) AS b_xor,
        |  o_orderkey << 2 AS b_shl,
        |  o_orderkey >> 1 AS b_shr,
        |  CAST(bit_count(o_orderkey) AS INT) AS b_pop
        |FROM orders ORDER BY o_orderkey""".stripMargin,

    "q75_sequence_zip" ->
      """WITH s AS (SELECT o_orderkey,
        |    generate_series(1, o_orderkey % 5 + 1) AS seq FROM orders)
        |SELECT o_orderkey,
        |  CAST(list_sum(list_transform(list_zip(seq, list_reverse(seq)),
        |    t -> t[1] * t[2])) AS BIGINT) AS dot_rev,
        |  CAST(len(seq) AS INT) AS len,
        |  CAST(list_position(seq, 2) AS BIGINT) AS pos2,
        |  list_contains(seq, 3) AS has3,
        |  array_to_string(seq[1:2], '-') AS head2
        |FROM s ORDER BY o_orderkey""".stripMargin,

    "q76_from_json" ->
      """SELECT event_id,
        |  CAST(json_extract(props, '$.k') AS INT) AS k,
        |  CAST(json_extract('{"u":' || user_id || ',"arr":[1,2,'
        |    || (user_id % 10) || ']}', '$.u') AS BIGINT) AS u,
        |  CAST(json_extract('{"u":' || user_id || ',"arr":[1,2,'
        |    || (user_id % 10) || ']}', '$.arr[2]') AS BIGINT) AS arr3,
        |  CAST(json_array_length('[1,2,' || (user_id % 10) || ']') AS INT)
        |    AS alen
        |FROM events ORDER BY event_id""".stripMargin,

    "q78_decimal_money" ->
      """SELECT l_returnflag,
        |  CAST(ROUND(SUM(CAST(l_extendedprice AS DECIMAL(18,2))), 2)
        |    AS DOUBLE) AS gross,
        |  CAST(ROUND(SUM(CAST(l_extendedprice AS DECIMAL(18,2)) *
        |    (CAST(1 AS DECIMAL(18,2)) - CAST(l_discount AS DECIMAL(18,2)))), 2)
        |    AS DOUBLE) AS net,
        |  CAST(ROUND(SUM(CAST(l_extendedprice AS DECIMAL(18,2)) *
        |    CAST(l_discount AS DECIMAL(18,2))), 2) AS DOUBLE)
        |    AS discount_total,
        |  COUNT(*) AS n
        |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin,

    "q85_try_arithmetic" ->
      """SELECT o_orderkey,
        |  ROUND(o_totalprice / NULLIF(CAST(o_orderkey % 3 AS DOUBLE), 0.0), 4)
        |    AS div3,
        |  TRY_CAST(CASE WHEN o_orderkey % 2 = 0 THEN 'x'
        |    ELSE CAST(o_orderkey AS VARCHAR) END AS INT) AS cast_i,
        |  generate_series(1, o_orderkey % 4 + 1)[9] AS oob,
        |  generate_series(1, o_orderkey % 4 + 1)[1] AS first
        |FROM orders ORDER BY o_orderkey""".stripMargin,

    "q86_string_suite2" ->
      """SELECT o_orderkey,
        |  split_part(o_orderpriority, '-', 2) AS word,
        |  split_part(o_orderpriority, '-', 9) AS oob_part,
        |  trim(o_orderpriority, '15URGENT') AS trimmed,
        |  ltrim(o_orderpriority, '12345') AS no_digits,
        |  repeat(o_orderstatus, 3) AS st3,
        |  chr(CAST(o_orderkey % 26 + 65 AS INT)) AS letter,
        |  CAST(ascii(o_orderstatus) AS INT) AS st_code,
        |  left(o_orderpriority, 3) AS l3,
        |  right(o_orderpriority, 4) AS r4,
        |  CAST(instr(o_orderpriority, 'URGENT') AS INT) AS pos_urgent
        |FROM orders ORDER BY o_orderkey""".stripMargin,

    "q87_histogram" ->
      s"""SELECT CAST(least(floor(o_totalprice / 60000.0), 9) AS INT)
        |    AS bucket,
        |  COUNT(*) AS n,
        |  ROUND(${dsumSql("o_totalprice")}, 2) AS bucket_sum,
        |  ROUND(MIN(o_totalprice), 2) AS lo,
        |  ROUND(MAX(o_totalprice), 2) AS hi
        |FROM orders GROUP BY 1 ORDER BY bucket""".stripMargin,

    "q88_union_by_name" ->
      s"""SELECT src, COUNT(*) AS n, ROUND(${dsumSql("price")}, 2) AS sum_price,
        |  COUNT(price) AS n_priced
        |FROM (
        |  SELECT o_orderkey AS k, o_totalprice AS price, 'closed' AS src
        |  FROM orders WHERE o_orderstatus = 'F'
        |  UNION ALL BY NAME
        |  SELECT 'open' AS src, o_orderkey AS k
        |  FROM orders WHERE o_orderstatus = 'O')
        |GROUP BY src ORDER BY src""".stripMargin,

    "q95_variant" ->
      """SELECT event_id,
        |  CAST(json_extract(props, '$.k') AS INT) AS k,
        |  CAST(json_extract('{"u":' || user_id || ',"arr":[1,2,'
        |    || (user_id % 10) || ']}', '$.arr[2]') AS BIGINT) AS arr3,
        |  CAST(json_extract('{"u":' || user_id || ',"arr":[1,2,'
        |    || (user_id % 10) || ']}', '$.u') AS BIGINT) AS u
        |FROM events ORDER BY event_id""".stripMargin,

    "q96_hof_predicates" ->
      """WITH t AS (SELECT l_orderkey, l_linenumber, l_quantity,
        |    l_discount, l_tax,
        |    [l_quantity, l_discount * 100.0, l_tax * 100.0] AS arr
        |  FROM lineitem)
        |SELECT l_orderkey, l_linenumber, l_quantity, l_discount, l_tax,
        |  len(list_filter(arr, x -> x > 24.0)) > 0 AS any_big,
        |  len(list_filter(arr, x -> x >= 0.0)) = len(arr) AS all_nonneg,
        |  CAST(len(list_filter(arr, x -> x > 5.0)) AS INT) AS n_over5,
        |  ROUND(list_sum(arr), 4) AS arr_sum
        |FROM t
        |ORDER BY l_orderkey, l_linenumber, l_quantity, l_discount, l_tax""".stripMargin,

    "q89_regexp_extract_all" ->
      """WITH t AS (SELECT o_orderkey,
        |    o_orderpriority || '#' || (o_orderkey % 100) || '#'
        |      || (o_custkey % 10) AS str
        |  FROM orders)
        |SELECT o_orderkey,
        |  CAST(len(regexp_extract_all(str, '\d+')) AS INT) AS n_runs,
        |  array_to_string(regexp_extract_all(str, '\d+'), '|') AS runs,
        |  CAST(len(regexp_extract_all(str, '[A-Z]+')) AS INT) AS n_words
        |FROM t ORDER BY o_orderkey""".stripMargin
  )
}
