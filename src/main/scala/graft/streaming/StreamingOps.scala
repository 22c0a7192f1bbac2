package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, Encoders}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode,
  StatefulProcessor, TTLConfig, TimeMode, TimerValues, ValueState}

/** Structured Streaming surface (SURVEY §2.C). The reference is pure
  * batch — its only notion of time is the epoch counter
  * (`driver.java:90`) — so this module is the engine's answer to the
  * north star's streaming obligations: windowed aggregation,
  * watermarked late-data handling, session windows, stateful dedup,
  * and arbitrary per-key state (the streaming analogue of the
  * reference's driver-resident model state, A13).
  *
  * Every builder takes an unbounded `events`-shaped DataFrame
  * (`event_id long, ts timestamp, user_id long, event_type string,
  * value double`) and returns the transformed streaming DataFrame;
  * sinks/output modes are the caller's choice. StreamingSpec drives
  * them through MemoryStream → memory sink.
  *
  * Scale notes: all state is keyed by (window, type) or user_id —
  * partitioned state in the state store, nothing global; watermarks
  * bound state size; dedup state expires with the watermark.
  */
object StreamingOps {

  /** Tumbling-window counts+sums per event type. */
  def tumblingCounts(events: DataFrame, width: String = "10 minutes"): DataFrame =
    events
      .groupBy(window(col("ts"), width), col("event_type"))
      .agg(count(lit(1)).as("n"), sum(col("value")).as("v"))
      .select(col("window.start").as("w_start"), col("event_type"),
        col("n"), col("v"))

  /** Sliding-window counts (width/slide). */
  def slidingCounts(events: DataFrame, width: String = "10 minutes",
      slide: String = "5 minutes"): DataFrame =
    events
      .groupBy(window(col("ts"), width, slide), col("event_type"))
      .agg(count(lit(1)).as("n"))
      .select(col("window.start").as("w_start"), col("event_type"), col("n"))

  /** Watermarked tumbling counts: events later than `lateness` behind
    * the max seen ts are dropped; append-mode emits finalized windows
    * only.
    */
  def watermarkedCounts(events: DataFrame, width: String = "10 minutes",
      lateness: String = "10 minutes"): DataFrame =
    events
      .withWatermark("ts", lateness)
      .groupBy(window(col("ts"), width), col("event_type"))
      .agg(count(lit(1)).as("n"))
      .select(col("window.start").as("w_start"), col("event_type"), col("n"))

  /** Session windows per user with a fixed inactivity gap — the
    * streaming twin of batch q30 (same 30-minute gap semantics).
    */
  def sessionCounts(events: DataFrame, gap: String = "30 minutes",
      lateness: String = "10 minutes"): DataFrame =
    events
      .withWatermark("ts", lateness)
      .groupBy(session_window(col("ts"), gap), col("user_id"))
      .agg(count(lit(1)).as("n_events"), sum(col("value")).as("sum_value"))
      .select(col("session_window.start").as("s_start"),
        col("session_window.end").as("s_end"),
        col("user_id"), col("n_events"), col("sum_value"))

  /** Stateful exactly-once-per-id dedup, state bounded by watermark. */
  def dedupByEventId(events: DataFrame, lateness: String = "10 minutes"): DataFrame =
    events
      .withWatermark("ts", lateness)
      .dropDuplicatesWithinWatermark("event_id")

  /** Stream-stream inner join: clicks ⋈ purchases per user within a
    * bounded event-time interval. Both sides carry watermarks and the
    * join condition bounds purchase time to [click, click + window], so
    * each side's buffered state expires once the other side's watermark
    * passes — the state-bounding requirement for stream-stream joins.
    */
  def clickToPurchaseJoin(events: DataFrame, window: String = "1 hour",
      lateness: String = "10 minutes"): DataFrame = {
    val clicks = events.filter(col("event_type") === "click")
      .select(col("user_id").as("c_user"), col("ts").as("c_ts"),
        col("event_id").as("click_id"))
      .withWatermark("c_ts", lateness)
    val purchases = events.filter(col("event_type") === "purchase")
      .select(col("user_id").as("p_user"), col("ts").as("p_ts"),
        col("event_id").as("purchase_id"), col("value"))
      .withWatermark("p_ts", lateness)
    clicks.join(purchases,
      col("c_user") === col("p_user") &&
        col("p_ts") >= col("c_ts") &&
        col("p_ts") <= col("c_ts") + expr(s"INTERVAL $window"))
      .select(col("c_user").as("user_id"), col("click_id"),
        col("purchase_id"), col("value"))
  }

  case class UserEvent(event_id: Long, user_id: Long, value: Double)
  case class UserRunning(user_id: Long, n: Long, total: Double)

  case class ModelUpdate(user_id: Long, n: Long, w: Double)

  /** Online per-key model update via the transformWithState API
    * (Spark 4's successor to *GroupsWithState, RocksDB-backed state):
    * each event applies one SGD-flavored step `w += ε·(value − w)` to
    * a persistent per-key weight — the streaming analogue of the
    * reference's per-job weight update loop (A13, `driver.java:204`),
    * with the model sharded across keys instead of driver-resident.
    */
  class OnlineModelProcessor(epsilon: Double)
      extends StatefulProcessor[Long, UserEvent, ModelUpdate] {
    @transient private var wState: ValueState[Double] = _
    @transient private var nState: ValueState[Long] = _

    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit = {
      wState = getHandle.getValueState[Double]("w", Encoders.scalaDouble, TTLConfig.NONE)
      nState = getHandle.getValueState[Long]("n", Encoders.scalaLong, TTLConfig.NONE)
    }

    override def handleInputRows(key: Long, rows: Iterator[UserEvent],
        timers: TimerValues): Iterator[ModelUpdate] = {
      var w = if (wState.exists()) wState.get() else 0.0
      var n = if (nState.exists()) nState.get() else 0L
      rows.foreach { e => w += epsilon * (e.value - w); n += 1 }
      wState.update(w)
      nState.update(n)
      Iterator.single(ModelUpdate(key, n, w))
    }
  }

  /** Wire [[OnlineModelProcessor]] over a stream of user events.
    * Requires the RocksDB state store provider (set by the caller /
    * test via `spark.sql.streaming.stateStore.providerClass`).
    */
  def onlineModel(events: Dataset[UserEvent], epsilon: Double = 0.1): Dataset[ModelUpdate] = {
    import events.sparkSession.implicits._
    events.groupByKey(_.user_id)
      .transformWithState(new OnlineModelProcessor(epsilon),
        TimeMode.None(), OutputMode.Update())
  }

  case class GradientEvent(key: Long, grad: Array[Double])
  case class VecState(n: Long, sum: Array[Double])
  case class WeightRow(key: Long, n: Long, mean: Array[Double])

  /** Per-key VECTOR state: the reference's driver-side mean-of-
    * gradients update (A10, `driver.java:197-205`) as a streaming
    * operator — each key holds one weight row, arriving gradient
    * vectors accumulate element-wise, and every batch emits the
    * refreshed running mean. This is the parameter-server sharding of
    * the reference's driver-resident `double[]`: state is partitioned
    * across the cluster by weight-row key instead of living on one
    * driver, so model size scales with executor count.
    */
  class GradientMeanProcessor
      extends StatefulProcessor[Long, GradientEvent, WeightRow] {
    @transient private var state: ValueState[VecState] = _

    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
      state = getHandle.getValueState[VecState]("vec",
        Encoders.product[VecState], TTLConfig.NONE)

    override def handleInputRows(key: Long, rows: Iterator[GradientEvent],
        timers: TimerValues): Iterator[WeightRow] = {
      var cur = if (state.exists()) state.get() else VecState(0L, Array.empty)
      rows.foreach { e =>
        val sum = if (cur.sum.isEmpty) e.grad.clone()
          else {
            // a dimension change mid-stream is a schema violation —
            // fail loudly, never truncate or pad a gradient
            require(e.grad.length == cur.sum.length,
              s"gradient dim ${e.grad.length} != state dim ${cur.sum.length} for key $key")
            val s = cur.sum.clone()
            var i = 0
            while (i < s.length) { s(i) += e.grad(i); i += 1 }
            s }
        cur = VecState(cur.n + 1, sum)
      }
      state.update(cur)
      Iterator.single(WeightRow(key, cur.n, cur.sum.map(_ / cur.n)))
    }
  }

  /** Wire [[GradientMeanProcessor]] over a stream of gradient events.
    * Requires the RocksDB state store provider (set by the caller).
    */
  def gradientMeans(events: Dataset[GradientEvent]): Dataset[WeightRow] = {
    import events.sparkSession.implicits._
    events.groupByKey(_.key)
      .transformWithState(new GradientMeanProcessor,
        TimeMode.None(), OutputMode.Update())
  }

  /** Arbitrary per-key state: running (count, sum) per user via
    * flatMapGroupsWithState — the streaming analogue of the
    * reference's driver-held weight state updated per job (A13,
    * `driver.java:172-213`). Update-mode output: one refreshed row per
    * user per batch.
    */
  def runningPerUser(events: Dataset[UserEvent]): Dataset[UserRunning] = {
    import events.sparkSession.implicits._
    events
      .groupByKey(_.user_id)
      .flatMapGroupsWithState(OutputMode.Update,
        GroupStateTimeout.NoTimeout)(
        (uid: Long, batch: Iterator[UserEvent], state: GroupState[UserRunning]) => {
          val prev = state.getOption.getOrElse(UserRunning(uid, 0L, 0.0))
          var n = prev.n
          var total = prev.total
          batch.foreach { e => n += 1; total += e.value }
          val next = UserRunning(uid, n, total)
          state.update(next)
          Iterator.single(next)
        })
  }

  case class ResEvent(etype: String, event_id: Long, uid: Long,
      v: Double, k: Double)
  case class ResEntry(event_id: Long, uid: Long, v: Double, k: Double)
  case class ResState(entries: List[ResEntry], gen: Long)
  case class ResRow(etype: String, gen: Long, event_id: Long, uid: Long,
      v: Double)

  /** Streaming weighted reservoir (q195's Efraimidis–Spirakis race,
    * incremental): per key, keep the capacity smallest exponential
    * keys ever seen. Min-k of a set is arrival-order-invariant, so
    * the final state equals the batch top-k no matter how the stream
    * was chopped into micro-batches — which is what makes the query
    * oracle-able. State is BOUNDED (capacity entries + a counter per
    * key) and idempotent under at-least-once redelivery: entries are
    * dedup'd by event_id before the trim, so a replayed event can
    * never occupy two slots. Each batch emits the key's full current
    * reservoir tagged with `gen` (batches seen); callers keep the
    * final generation.
    */
  def streamingReservoir(events: Dataset[ResEvent], capacity: Int): Dataset[ResRow] = {
    import events.sparkSession.implicits._
    events
      .groupByKey(_.etype)
      .flatMapGroupsWithState(OutputMode.Update,
        GroupStateTimeout.NoTimeout)(
        (etype: String, batch: Iterator[ResEvent], state: GroupState[ResState]) => {
          val prev = state.getOption.getOrElse(ResState(Nil, 0L))
          // incremental fold, O(capacity) memory per key: the batch
          // iterator is never materialized
          var res = prev.entries
          batch.foreach { e =>
            val beats = res.size < capacity || {
              val last = res.last
              e.k < last.k || (e.k == last.k && e.event_id < last.event_id)
            }
            if (beats && !res.exists(_.event_id == e.event_id))
              res = (ResEntry(e.event_id, e.uid, e.v, e.k) :: res)
                .sortBy(x => (x.k, x.event_id)).take(capacity)
          }
          val next = ResState(res, prev.gen + 1)
          state.update(next)
          res.iterator.map(e =>
            ResRow(etype, next.gen, e.event_id, e.uid, e.v))
        })
  }
}
