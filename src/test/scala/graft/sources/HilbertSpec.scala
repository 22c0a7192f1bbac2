package graft.sources

import graft.SparkSpec

/** q275's math gate — what the DuckDB oracle can't say (it runs a
  * packed SQL fold of the same loop): that the index actually is the
  * Hilbert curve. Pins the native `graft_hilbert` kernel, interpreted
  * and codegen'd, against an independent mutable Scala xy2d, the
  * defining adjacency property on a full small grid, and the locality
  * claim the query exists to measure.
  */
class HilbertSpec extends SparkSpec {

  /** Classic xy2d (full-grid n−1 rotation), independent of the SQL. */
  private def ref(bits: Int)(x0: Long, y0: Long): Long = {
    val n = 1L << bits
    var x = x0; var y = y0; var d = 0L
    var s = n >> 1
    while (s > 0) {
      val rx = if ((x & s) > 0) 1L else 0L
      val ry = if ((y & s) > 0) 1L else 0L
      d += s * s * ((3 * rx) ^ ry)
      if (ry == 0) {
        if (rx == 1) { x = n - 1 - x; y = n - 1 - y }
        val t = x; x = y; y = t
      }
      s >>= 1
    }
    d
  }

  test("graft_hilbert, interpreted and codegen'd, equals an independent " +
    "Scala xy2d on randomized 15-bit coordinates and the four corners") {
    import org.apache.spark.sql.functions.col
    val rnd = new scala.util.Random(275)
    val pts = Seq.fill(500)(
      (rnd.nextInt(32768).toLong, rnd.nextInt(32768).toLong)) ++
      Seq((0L, 0L), (32767L, 32767L), (0L, 32767L), (32767L, 0L))
    import spark.implicits._
    // an RDD source, so the optimizer cannot fold the projection into
    // a local relation and the executor's projection evaluates it
    val df = spark.sparkContext.parallelize(pts, 2).toDF("xq", "yq")
      .select(col("xq"), col("yq"),
        graft.functions.exprs.graft_hilbert(col("xq"), col("yq")).as("k"))
    for ((wholeStage, factory) <- Seq("false" -> "NO_CODEGEN",
        "true" -> "CODEGEN_ONLY")) {
      val rows = graft.Confs.withConfs(spark, Seq(
          "spark.sql.codegen.wholeStage" -> wholeStage,
          "spark.sql.codegen.factoryMode" -> factory)) { df.collect() }
      assert(rows.length == pts.length)
      rows.foreach { r =>
        val (x, y) = (r.getAs[Long]("xq"), r.getAs[Long]("yq"))
        assert(r.getAs[Long]("k") == ref(15)(x, y),
          s"xy2d($x,$y) with factoryMode=$factory")
      }
    }
  }

  test("the transform is a bijection with grid-ADJACENT consecutive " +
    "indexes on a full 32x32 grid — the property Z-order lacks") {
    val n = 32
    val pos = (for { x <- 0 until n; y <- 0 until n }
      yield ref(5)(x.toLong, y.toLong) -> (x, y)).toMap
    assert(pos.size == n * n, "not a bijection")
    (0 until n * n - 1).foreach { i =>
      val (x1, y1) = pos(i.toLong); val (x2, y2) = pos(i.toLong + 1)
      assert(math.abs(x1 - x2) + math.abs(y1 - y2) == 1,
        s"jump between d=$i and d=${i + 1}")
    }
  }

  test("Hilbert beats Z-order on total bounding-box area over the " +
    "same 12 equal key ranges at sf0.01") {
    val m = SourceQueries.queries("q275_hilbert_layout")(
        spark, "/root/testdata/sf0.01")
      .collect()
      .map(r => r.getString(0) -> r.getAs[Long]("total_bbox_area")).toMap
    assert(m("hilbert") < m("zorder"), s"areas: $m")
  }
}
