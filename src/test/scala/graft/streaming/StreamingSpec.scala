package graft.streaming

import java.sql.Timestamp
import graft.SparkSpec
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.streaming.StreamingQuery

/** MemoryStream-driven tests of the §2.C streaming surface with
  * manufactured event times (SURVEY §5 item 6).
  */
class StreamingSpec extends SparkSpec {

  import spark.implicits._
  implicit private lazy val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext

  private var sinkSeq = 0

  private def ts(hhmm: String): Timestamp =
    Timestamp.valueOf(s"2024-01-01 $hhmm:00")

  type Ev = (Long, Timestamp, Long, String, Double)

  private def toEventsDf(ms: MemoryStream[Ev]): DataFrame =
    ms.toDF().toDF("event_id", "ts", "user_id", "event_type", "value")

  private def startQuery(df: DataFrame, mode: String): (StreamingQuery, String) = {
    sinkSeq += 1
    val name = s"sink_$sinkSeq"
    (df.writeStream.outputMode(mode).format("memory").queryName(name).start(), name)
  }

  test("q177's late-row-drop boundary lands EXACTLY where the watermark " +
    "rule says at sf0.001: accepted = on-time + marker + late rows whose " +
    "window outlived the batch-1 watermark, and the drop is non-vacuous") {
    import org.apache.spark.sql.functions._
    val sinkTotal = StreamQueries.queries("q177_stream_late_audit")(spark, sf001)
      .agg(sum(col("n"))).head().getLong(0)
    // the batch twin of the acceptance rule (the sf0.01 DuckDB oracle's
    // construction): watermark = max on-time event time floored to ms
    // (Spark tracks event time at ms) minus the 1h lateness; a late row
    // survives iff its 1h window's END clears that watermark
    val ev = graft.Tables.eventsUs(spark, sf001)
    val onTime = ev.filter(col("event_id") % 10 =!= 0)
    val nOnTime = onTime.count()
    val maxUs = onTime.agg(max(col("ts_us"))).head().getLong(0)
    val wmk = (maxUs / 1000L) * 1000L - 3600000000L
    val late = ev.filter(col("event_id") % 10 === 0)
    val nLate = late.count()
    val nAccepted = late
      .filter(expr(s"(ts_us div 3600000000 + 1) * 3600000000 > $wmk")).count()
    assert(sinkTotal == nOnTime + 1 + nAccepted,
      s"sink holds $sinkTotal rows; the watermark rule predicts " +
        s"$nOnTime on-time + 1 marker + $nAccepted accepted-late")
    assert(nAccepted < nLate,
      s"all $nLate late rows were accepted — the drop path is untested")
  }

  test("q182's stream-static enrichment exercises the missing-dimension " +
    "null path and covers every event exactly once") {
    val rows = StreamQueries.queries("q182_stream_static_enrich")(spark, sf001)
      .collect()
    assert(rows.map(_.getLong(2)).sum ==
      graft.Tables.events(spark, sf001).count(),
      "enrichment must be a left join — no event may vanish")
    assert(rows.exists(_.getString(0) == "unknown"),
      "carved users (c_custkey % 17 == 0 dropped from the dim) must " +
        "land in 'unknown'")
    assert(rows.map(_.getString(0)).distinct.length > 1,
      "matched events must spread across real segments")
  }

  test("tumbling window counts aggregate by 10-minute windows") {
    val ms = MemoryStream[Ev]
    val (q, sink) = startQuery(StreamingOps.tumblingCounts(toEventsDf(ms)), "complete")
    ms.addData(
      (1L, ts("00:01"), 1L, "click", 1.0),
      (2L, ts("00:04"), 1L, "click", 2.0),
      (3L, ts("00:12"), 2L, "click", 3.0))
    q.processAllAvailable(); q.stop()
    val rows = spark.table(sink).collect()
      .map(r => (r.getTimestamp(0).toString, r.getLong(2), r.getDouble(3))).toSet
    assert(rows == Set(
      ("2024-01-01 00:00:00.0", 2L, 3.0),
      ("2024-01-01 00:10:00.0", 1L, 3.0)))
  }

  test("dropDuplicatesWithinWatermark emits each event_id once") {
    val ms = MemoryStream[Ev]
    val (q, sink) = startQuery(StreamingOps.dedupByEventId(toEventsDf(ms)), "append")
    ms.addData((1L, ts("00:01"), 1L, "click", 1.0), (2L, ts("00:02"), 1L, "click", 1.0))
    q.processAllAvailable()
    ms.addData((2L, ts("00:03"), 1L, "click", 1.0), (3L, ts("00:04"), 1L, "click", 1.0))
    q.processAllAvailable(); q.stop()
    val ids = spark.table(sink).collect().map(_.getLong(0)).sorted
    assert(ids.sameElements(Array(1L, 2L, 3L)), s"got ${ids.mkString(",")}")
  }

  test("parquet streaming sink appends files that read back consistently") {
    val dir = java.nio.file.Files.createTempDirectory("psink")
    val ms = MemoryStream[Ev]
    val q = StreamingOps.tumblingCounts(toEventsDf(ms).withWatermark("ts", "1 minute"))
      .writeStream.outputMode("append")
      .option("checkpointLocation", s"$dir/ckpt")
      .format("parquet").start(s"$dir/out")
    ms.addData(
      (1L, ts("00:01"), 1L, "click", 1.0),
      (2L, ts("00:04"), 1L, "click", 2.0),
      (3L, ts("01:00"), 2L, "view", 3.0)) // advances watermark past 00:10
    q.processAllAvailable()
    ms.addData((4L, ts("02:00"), 2L, "view", 0.0))
    q.processAllAvailable(); q.stop()
    val back = spark.read.parquet(s"$dir/out")
      .collect().map(r => (r.getTimestamp(0).toString, r.getLong(2), r.getDouble(3)))
    assert(back.contains(("2024-01-01 00:00:00.0", 2L, 3.0)),
      s"finalized window missing from parquet sink: ${back.mkString(";")}")
  }

  test("transformWithState holds per-key VECTOR state: gradient rows " +
    "accumulate element-wise across batches (RocksDB state store)") {
    import StreamingOps.{GradientEvent, WeightRow}
    graft.Confs.withConfs(spark, Seq("spark.sql.streaming.stateStore.providerClass" ->
        "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")) {
      val ms = MemoryStream[GradientEvent]
      val (q, sink) = startQuery(
        StreamingOps.gradientMeans(ms.toDS()).toDF(), "update")
      ms.addData(GradientEvent(7L, Array(2.0, 4.0, 6.0)))
      q.processAllAvailable()
      ms.addData(GradientEvent(7L, Array(4.0, 0.0, 6.0)),
        GradientEvent(8L, Array(1.0, 1.0, 1.0)))
      q.processAllAvailable(); q.stop()
      val rows = spark.table(sink).as[WeightRow].collect()
        .map(w => (w.key, w.n) -> w.mean.toSeq).toMap
      // batch 1: mean = the single gradient; batch 2: element-wise
      // mean of both gradients — state carried the first vector
      assert(rows((7L, 1L)) == Seq(2.0, 4.0, 6.0), rows.toString)
      assert(rows((7L, 2L)) == Seq(3.0, 2.0, 6.0), rows.toString)
      assert(rows((8L, 1L)) == Seq(1.0, 1.0, 1.0), rows.toString)
    }
  }
}
