package graft.functions

import java.math.BigInteger
import graft.SparkSpec
import org.apache.spark.sql.functions._
import graft.functions.exprs._

/** Pins the native Catalyst expressions against independent
  * implementations.
  */
class NativeExprSpec extends SparkSpec {

  import spark.implicits._

  test("graft_sigmoid equals the composed builtin form bit-for-bit") {
    val df = Seq(-5.0, -0.5, 0.0, 0.5, 5.0, 50.0, -50.0).toDF("x")
    val rows = df.select(
      graft_sigmoid(col("x")).as("native"),
      (lit(1.0) / (lit(1.0) + exp(-col("x")))).as("composed")).collect()
    rows.foreach(r => assert(r.getDouble(0) == r.getDouble(1)))
  }

  test("graft_byte_ngrams equals the composed char-array HOF form on " +
    "real corpus text, and handles the short-string edges") {
    val docs = graft.Tables.documents(spark, sf001)
      .select(lower(regexp_replace(col("text"), "[^A-Za-z ]", "")).as("nt"))
    val composed = transform(
      sequence(lit(1), length(col("nt")) - 2),
      i => col("nt").substr(i, lit(3)))
    val rows = docs.filter(length(col("nt")) >= 3)
      .select(graft_byte_ngrams(col("nt"), 3).as("native"),
        composed.as("composed")).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      assert(r.getSeq[String](0) == r.getSeq[String](1))
    }
    val edges = Seq("", "a", "ab", "abc").toDF("s")
      .select(graft_byte_ngrams(col("s"), 3).as("g")).collect()
    assert(edges.map(_.getSeq[String](0).toList).toList ==
      List(Nil, Nil, Nil, List("abc")))
  }

  test("graft_jaro_winkler matches the published golden values, the " +
    "pinned edge semantics, and a direct-eval sweep through codegen") {
    // classics (Winkler 1990 examples, values DuckDB also returns)
    val golden = Seq(
      ("MARTHA", "MARHTA", 0.9611111111111111),
      ("DWAYNE", "DUANE", 0.8400000000000001),
      ("DIXON", "DICKSONX", 0.8133333333333332),
      ("abc", "abc", 1.0),
      ("abc", "xyz", 0.0),
      ("", "", 0.0), // pinned: empty is 0, not 1 (DuckDB semantics)
      ("", "x", 0.0),
      ("ab", "ba", 0.0), // window 0 at len 2 — no cross-match
      // floored transpositions: half=3 → t=1 (the /2.0 variant gives
      // a smaller score here)
      ("aeadabce", " cedbead ", 0.6601851851851852))
    golden.foreach { case (a, b, want) =>
      assert(JaroWinkler.jw(a, b) == want, s"jw($a,$b)")
    }
    // codegen path (DataFrame select) ≡ interpreted object method
    val rows = golden.toDF("a", "b", "w")
      .select(graft_jaro_winkler(col("a"), col("b")).as("g"), col("w"))
      .collect()
    rows.foreach(r => assert(r.getDouble(0) == r.getDouble(1)))
  }

  test("graft_adjacent_pairs equals the composed transform/element_at " +
    "HOF form on real corpus tokens, and handles the short-array edges") {
    val toks = graft.Tables.documents(spark, sf001)
      .select(array_remove(split(lower(col("text")), "[^a-z]+"), "").as("ts"))
    val composed = transform(sequence(lit(1), size(col("ts")) - 1),
      i => concat(element_at(col("ts"), i), lit(" "),
        element_at(col("ts"), i + 1)))
    val rows = toks.filter(size(col("ts")) >= 2)
      .select(graft_adjacent_pairs(col("ts")).as("native"),
        composed.as("composed")).collect()
    assert(rows.nonEmpty)
    rows.foreach(r => assert(r.getSeq[String](0) == r.getSeq[String](1)))
    val edges = Seq(Seq.empty[String], Seq("a"), Seq("a", "b"))
      .toDF("ts").select(graft_adjacent_pairs(col("ts")).as("g")).collect()
    assert(edges.map(_.getSeq[String](0).toList).toList ==
      List(Nil, Nil, List("a b")))
  }

  test("graft_vec_dot equals the zip_with+aggregate form bit-for-bit, " +
    "for float and double arrays, and is null-safe") {
    val df = Seq(
      (Array(1.0f, 2.5f, -3.25f), Array(0.5, -1.5, 2.0)),
      (Array(0.1f, 0.2f, 0.3f), Array(1e10, -1e-10, 7.0)),
      (Array(0.0f, 0.0f, 0.0f), Array(1.0, 2.0, 3.0))
    ).toDF("f", "d")
    val rows = df.select(
      graft_vec_dot(col("f"), col("d")).as("native"),
      aggregate(zip_with(col("f"), col("d"),
        (x, y) => x.cast("double") * y.cast("double")),
        lit(0.0), (acc, x) => acc + x).as("composed"),
      graft_vec_dot(col("f"), col("f")).as("self")).collect()
    rows.foreach { r =>
      assert(r.getDouble(0) == r.getDouble(1), "float·double parity")
      assert(r.getDouble(2) >= 0.0, "self dot is a squared norm")
    }
    val withNull = df.select(
      graft_vec_dot(lit(null).cast("array<double>"), col("d")).as("n"),
      graft_vec_dot(array(lit(1.0)), col("d")).as("mismatch"),
      graft_vec_dot(array(lit(1.0), lit(null).cast("double"), lit(3.0)),
        col("d").cast("array<double>")).as("null_elem"))
      .collect()
    assert(withNull.forall(_.isNullAt(0)), "null array must yield null")
    assert(withNull.forall(_.isNullAt(1)),
      "length mismatch must yield null (zip_with null-pad parity)")
    assert(withNull.forall(_.isNullAt(2)),
      "null element must poison the sum (zip_with parity)")
    // the local rows above are evaluated interpreted; a parquet scan
    // runs the generated loop, with and without its per-element null
    // guard: a nullable-element array (null on odd keys), a dense one,
    // and a short one for the length mismatch
    val price = coalesce(col("o_totalprice"), lit(0.0))
    val scanned = graft.Tables.orders(spark, sf001).limit(50).select(
      array(when(col("o_orderkey") % 2 === 0, col("o_totalprice")), lit(1.0))
        .as("nullable"),
      array(price, price * 2).as("dense"),
      array(lit(0.5), lit(-1.5)).as("b"),
      array(lit(0.5)).as("short"))
    val pairs = Seq("nullable" -> "b", "dense" -> "b", "dense" -> "short")
    val got = scanned.select(pairs.flatMap { case (a, b) =>
      Seq(graft_vec_dot(col(a), col(b)), aggregate(zip_with(col(a), col(b),
        (x, y) => x.cast("double") * y.cast("double")),
        lit(0.0), (acc, x) => acc + x))
    }: _*).collect()
    for (r <- got; i <- pairs.indices)
      assert(Option(r.get(2 * i)) == Option(r.get(2 * i + 1)),
        s"${pairs(i)} parity: $r")
    assert(got.exists(_.isNullAt(0)) && got.exists(!_.isNullAt(0)),
      "the nullable input must give both null and non-null sums")
    assert(got.forall(r => !r.isNullAt(2)) && got.forall(_.isNullAt(4)))
    // non-float/double arrays are an analysis error, not a runtime one
    val e = intercept[org.apache.spark.sql.AnalysisException] {
      df.select(graft_vec_dot(array(lit(1), lit(2)), array(lit(3), lit(4))))
        .collect()
    }
    assert(e.getMessage.contains("graft_vec_dot"))
  }

  test("rolling hash matches an independent BigInteger implementation") {
    val mod = BigInteger.valueOf(2).pow(61).subtract(BigInteger.ONE)
    def reference(s: String): Long = {
      var h = BigInteger.ZERO
      for (b <- s.getBytes("UTF-8"))
        h = h.multiply(BigInteger.valueOf(257))
          .add(BigInteger.valueOf(b & 0xff)).mod(mod)
      h.longValueExact()
    }
    val inputs = Seq("", "a", "hello world", "the quick brown fox", "ü¢∆")
    val got = inputs.toDF("s")
      .select(graft_rolling_hash(col("s"))).as[Long].collect()
    inputs.zip(got).foreach { case (s, g) =>
      assert(g == reference(s), s"mismatch for '$s'")
    }
  }
}
