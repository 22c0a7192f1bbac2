package graft

import org.scalacheck.Gen
import org.scalacheck.rng.Seed
import graft.functions.RollingHash

/** Property-based laws the reference's semantics imply (SURVEY §5.3).
  * Pure-JVM properties sample ScalaCheck generators deterministically
  * (the scalatest-scalacheck bridge artifact isn't on the offline
  * classpath, so sampling is driven directly); distributed laws
  * (gradient-sum partition invariance) live in RbmGoldenSpec where a
  * SparkSession is already warm.
  */
class PropertySpec extends SparkSpec {

  /** Deterministic forAll: 200 samples per generator from fixed seeds. */
  private def forAll[A, B](ga: Gen[A], gb: Gen[B])(f: (A, B) => Unit): Unit =
    (0 until 200).foreach { i =>
      f(ga.pureApply(Gen.Parameters.default, Seed(i.toLong)),
        gb.pureApply(Gen.Parameters.default, Seed(i.toLong + 7919)))
    }
  private def forAll[A](ga: Gen[A])(f: A => Unit): Unit =
    (0 until 200).foreach { i =>
      f(ga.pureApply(Gen.Parameters.default, Seed(i.toLong)))
    }

  private def sigmoid(x: Double) = 1.0 / (1.0 + math.exp(-x))

  test("sigmoid is bounded in (0,1), monotone, and symmetric (A5)") {
    // strict openness holds up to |x| ≈ 36.7; beyond that double
    // arithmetic saturates to exactly 1.0 (asserted separately)
    forAll(Gen.choose(-30.0, 30.0), Gen.choose(-30.0, 30.0)) { (a: Double, b: Double) =>
      assert(sigmoid(a) > 0.0 && sigmoid(a) < 1.0)
      if (a < b) assert(sigmoid(a) <= sigmoid(b))
      assert(math.abs(sigmoid(a) + sigmoid(-a) - 1.0) < 1e-12)
    }
    assert(sigmoid(50.0) == 1.0 && sigmoid(-50.0) > 0.0)
  }

  test("quantize round trip |x − dequant(quant(x))| ≤ 1/255 (A11 ∘ A4)") {
    forAll(Gen.choose(0.0, 1.0)) { (x: Double) =>
      val q = math.floor(x * 255.0).toInt
      assert(q >= 0 && q <= 255)
      assert(math.abs(x - q / 255.0) <= 1.0 / 255.0 + 1e-15)
    }
  }

  test("vec_dot law: equals an independent fold for random vectors, " +
    "null elements poison, mismatched lengths null out") {
    import org.apache.spark.sql.functions._
    import graft.functions.exprs.graft_vec_dot
    val gen = for {
      n <- Gen.choose(0, 16)
      a <- Gen.listOfN(n, Gen.choose(-1e6, 1e6))
      b <- Gen.listOfN(n, Gen.choose(-1e6, 1e6))
      nullAt <- Gen.option(Gen.choose(0, math.max(n - 1, 0)))
    } yield (a.toArray, b.toArray, nullAt.filter(_ => n > 0))
    val samples = (0 until 120).map(i =>
      gen.pureApply(Gen.Parameters.default, Seed(i.toLong)))
    val rows = samples.map { case (a, b, nullAt) =>
      val aSeq = a.map(Double.box).toSeq
      org.apache.spark.sql.Row(
        nullAt.fold(aSeq)(i => aSeq.updated(i, null)),
        b.map(Double.box).toSeq)
    }
    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("a",
        org.apache.spark.sql.types.ArrayType(
          org.apache.spark.sql.types.DoubleType, true)),
      org.apache.spark.sql.types.StructField("b",
        org.apache.spark.sql.types.ArrayType(
          org.apache.spark.sql.types.DoubleType, true))))
    val df = spark.createDataFrame(
      spark.sparkContext.parallelize(rows, 2), schema)
    val got = df.select(graft_vec_dot(col("a"), col("b"))).collect()
      .map(r => if (r.isNullAt(0)) None else Some(r.getDouble(0)))
    samples.zip(got).foreach { case ((a, b, nullAt), g) =>
      val want =
        if (nullAt.isDefined) None
        else Some(a.zip(b).foldLeft(0.0) { case (s, (x, y)) => s + x * y })
      assert(g == want, s"n=${a.length} nullAt=$nullAt")
    }
    // mismatched lengths → null, matching zip_with null-pad semantics
    val mm = df.select(graft_vec_dot(
      concat(col("a"), array(lit(1.0))), col("b"))).collect()
    assert(mm.forall(_.isNullAt(0)))
    // dense float×double path: Seq.toDF marks primitive-array elements
    // non-nullable, so this drives the branch-free codegen loop (the
    // nullable cases above drive the guarded one) with a float getter
    import spark.implicits._
    val denseSamples = samples.filter(_._1.nonEmpty).take(50)
      .map { case (a, b, _) => (a.map(_.toFloat), b) }
    val denseGot = denseSamples.toDF("f", "d")
      .select(graft_vec_dot(col("f"), col("d"))).collect().map(_.getDouble(0))
    denseSamples.zip(denseGot).foreach { case ((f, b), g) =>
      val want = f.zip(b).foldLeft(0.0) { case (s, (x, y)) =>
        s + x.toDouble * y }
      assert(g == want, "dense float path must match the fold")
    }
  }

  test("rolling hash is prefix-composable: H(a++b) = H(a)*257^|b| + H(b) mod M") {
    val M = BigInt(2).pow(61) - 1
    forAll(Gen.alphaNumStr, Gen.alphaNumStr) { (a: String, b: String) =>
      val ha = RollingHash.hashBytes(a.getBytes("UTF-8"), 257L)
      val hb = RollingHash.hashBytes(b.getBytes("UTF-8"), 257L)
      val hab = RollingHash.hashBytes((a + b).getBytes("UTF-8"), 257L)
      val expected = ((BigInt(ha) * BigInt(257).modPow(b.getBytes("UTF-8").length, M)
        + BigInt(hb)) % M).toLong
      assert(hab == expected, s"a='$a' b='$b'")
    }
  }

  test("hash Bernoulli draws are decorrelated across ids and stable per (id, j)") {
    val draw = new rbm.RBM.HashDraw(42L)
    val draw2 = new rbm.RBM.HashDraw(42L)
    val drawOther = new rbm.RBM.HashDraw(43L)
    forAll(Gen.choose(0L, 1000000L)) { (id: Long) =>
      val s1 = Seq.tabulate(8)(j => draw.threshold(id, j))
      val s2 = Seq.tabulate(8)(j => draw2.threshold(id, j))
      val s3 = Seq.tabulate(8)(j => draw.threshold(id + 1, j))
      val s4 = Seq.tabulate(8)(j => drawOther.threshold(id, j))
      assert(s1 == s2)
      assert(s1 != s3)
      assert(s1 != s4)
      assert(s1.forall(v => v >= 0.0 && v < 1.0))
      // millionths granularity at the integer layer
      val ms = Seq.tabulate(8)(j => draw.millionths(id, j))
      assert(ms.forall(m => m >= 0L && m < 1000000L))
      assert(ms.map(_ / 1.0e6) == s1)
    }
  }

  test("PGM codec law: decode ∘ encode is identity for arbitrary " +
    "images; every truncation of a valid image is rejected") {
    import graft.llm.PgmCodec
    val genImg = for {
      w <- Gen.choose(1, 40)
      h <- Gen.choose(1, 40)
      px <- Gen.listOfN(w * h, Gen.choose(0, 255))
    } yield (w, h, px.toArray)
    forAll(genImg) { case (w, h, px) =>
      val bytes = PgmCodec.encode(w, h, px)
      val img = PgmCodec.decode(bytes)
      assert(img.width == w && img.height == h && img.maxVal == 255)
      assert(img.pixels.sameElements(px))
      // any strict prefix is malformed (truncated header or payload)
      val cut = bytes.length - 1 - (px.hashCode().abs % bytes.length)
      intercept[IllegalArgumentException](
        PgmCodec.decode(java.util.Arrays.copyOf(bytes, cut)))
    }
  }

  test("minhash band-signature law: permuting or duplicating a doc's " +
    "shingles never changes its q31/q113 signature (order/multiplicity " +
    "independence of min-aggregation)") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    // the registry computes signatures from DISTINCT (doc, shingle)
    // pairs via min-agg; this pins the invariance that makes the LSH
    // candidates stable under re-partitioning and input re-ordering
    val base = Seq("the quick brown", "fox jumps over", "lazy dog again")
    def sigOf(shingles: Seq[String]): Seq[Long] = {
      val df = shingles.toDF("shingle")
        .select((conv(substring(md5(col("shingle")), 1, 15), 16, 10)
          .cast("long") bitwiseAND lit(0xFFFFFFFFL)).as("x32"))
      def a(k: Int): Long = ((2654435761L * (k + 1)) & 0xFFFFFL) | 1L
      def b(k: Int): Long = (40503L * (k + 7) * (k + 13)) & 0xFFFFFFFFL
      df.agg(
        min((lit(a(0)) * col("x32") + lit(b(0))) % lit(4294967296L)).as("m0"),
        (1 until 8).map(k =>
          min((lit(a(k)) * col("x32") + lit(b(k))) % lit(4294967296L)).as(s"m$k")): _*)
        .head().toSeq.map(_.asInstanceOf[Long])
    }
    val s1 = sigOf(base)
    assert(s1 == sigOf(base.reverse))
    assert(s1 == sigOf(base ++ base)) // min-agg is multiset-insensitive
    sigOf(base :+ "a new shingle").zip(s1).foreach { case (n, o) =>
      assert(n <= o, "adding a shingle can only lower minhashes")
    }
  }

  test("matvec via relational explode-join-sum equals direct dot (q11 law)") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    val vecs = Seq(
      (0L, Array(0.5f, -1.0f, 2.0f, 0.25f)),
      (1L, Array(1.0f, 1.0f, 1.0f, 1.0f)),
      (2L, Array(-0.1f, 0.2f, -0.3f, 0.4f)))
    val df = spark.createDataset(vecs).toDF("vec_id", "embedding")
    val w = df.filter(col("vec_id") === 0)
      .select(posexplode(col("embedding")).as(Seq("pos", "wval")))
    val x = df.select(col("vec_id"), posexplode(col("embedding")).as(Seq("pos", "xval")))
    val rel = x.join(w, "pos").groupBy("vec_id")
      .agg(sum(col("xval").cast("double") * col("wval").cast("double")).as("dot"))
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    val direct = vecs.map { case (id, v) =>
      id -> v.zip(vecs.head._2).map { case (a, b) => a.toDouble * b.toDouble }.sum
    }.toMap
    direct.foreach { case (id, d) => assert(math.abs(rel(id) - d) < 1e-12) }
  }

  test("q118 bucketing law: bucket width is result-invisible — wider, " +
    "narrower, and coprime widths all agree with the 2h default") {
    def rows(bucketMs: Long) =
      graft.operators.JoinOps.intervalBucketJoin(spark, sf001, bucketMs)
        .collect().map(_.toSeq).toSeq
    val default = rows(2L * 3600 * 1000)
    assert(default.nonEmpty)
    // wider than the interval (intervals span 1 bucket mostly),
    // narrower (every interval spans ≥ 2 buckets), and a width coprime
    // to both interval and data granularities (maximally misaligned
    // boundaries) — the sequence explode + residual re-check makes the
    // width a pure execution knob
    for (w <- Seq(26L * 3600 * 1000, 1800L * 1000, 7919L * 1000 + 13)) {
      assert(rows(w) == default, s"bucket width $w changed results")
    }
  }

  test("q129 quantization law: int8 codes are partition-layout invariant " +
    "— shards quantized under different partitionings agree bit-for-bit") {
    // the claim a distributed quantizer must honor: per-dim [min,max]
    // is an algebraic aggregate and floor(x+0.5) is exact, so the
    // codes can't depend on how the executors happened to split the
    // data. A mean/stddev-based scheme with naive float accumulation
    // would fail exactly this test.
    val q = SparkEntry.queries("q129_embedding_quantize")
    val base = q(spark, sf001).collect().map(_.toSeq).toSeq
    assert(base.nonEmpty)
    for (p <- Seq("1", "13"))
      Confs.withConfs(spark, Seq("spark.sql.shuffle.partitions" -> p)) {
        assert(q(spark, sf001).collect().map(_.toSeq).toSeq == base,
          s"codes changed under shuffle.partitions=$p")
      }
  }
}
