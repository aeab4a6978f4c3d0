package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery
import org.apache.spark.sql.types.{DecimalType, DoubleType}

/** Structured Streaming surface (north-star extension — the reference
  * is batch/request-response only, SURVEY §2.9). The tumbling-window
  * aggregation here is the streaming twin of the oracle-checked batch
  * definition in [[graft.queries.Events.qStreamWindow]]: same window,
  * same grouping, same exact decimal sums — so the streaming output can
  * be validated against the batch result on a finite input.
  */
object EventStream extends Serializable {

  /** Streaming source over an events parquet directory. `readStream`
    * requires a fixed schema up front, so probe the first present file's
    * footer the same way the batch loader does
    * ([[graft.SparkEntry.tsLayout]]) and pick the matching read:
    * TIMESTAMP(ns)/bare-INT64 → forced-LONG + integer ns→µs truncation;
    * TIMESTAMP(µs) (the current fixture, and what Spark itself writes) →
    * forced TIMESTAMP schema, no arithmetic. An empty source dir probes
    * to the µs path — new files are expected to follow the current
    * convention; a production deployment pins the schema per source.
    */
  def readEvents(spark: SparkSession, dir: String): DataFrame =
    graft.SparkEntry.tsLayout(spark, dir) match {
      case graft.SparkEntry.TsLayout.NanosLong =>
        spark.readStream
          .schema("event_id LONG, ts LONG, user_id LONG, event_type STRING, value DOUBLE, props STRING")
          .parquet(dir)
          .withColumn("ts", expr("timestamp_micros(ts div 1000)"))
      case graft.SparkEntry.TsLayout.MicrosLong =>
        spark.readStream
          .schema("event_id LONG, ts LONG, user_id LONG, event_type STRING, value DOUBLE, props STRING")
          .parquet(dir)
          .withColumn("ts", expr("timestamp_micros(ts)"))
      case graft.SparkEntry.TsLayout.Native =>
        spark.readStream
          .schema("event_id LONG, ts TIMESTAMP, user_id LONG, event_type STRING, value DOUBLE, props STRING")
          .parquet(dir)
    }

  /** Watermarked tumbling 6-hour counts/sums per event type. */
  def windowedAgg(events: DataFrame): DataFrame =
    events
      .withWatermark("ts", "1 hour")
      .groupBy(window(col("ts"), "6 hours"), col("event_type"))
      .agg(count(lit(1)).as("n_events"),
        sum(col("value").cast(DecimalType(18, 2))).cast(DoubleType).as("sum_value"))
      .select(col("window.start").as("ws"), col("window.end").as("we"),
        col("event_type"), col("n_events"), col("sum_value"))

  /** Watermarked HOPPING 6-hour/3-hour counts/sums per event type —
    * the sliding twin of [[windowedAgg]]; semantics equal the batch
    * [[graft.queries.Events.qHopWindow]] on finite input (each event
    * feeds its 2 covering windows; state is 2× the tumbling case).
    */
  def hoppingAgg(events: DataFrame): DataFrame =
    events
      .withWatermark("ts", "1 hour")
      .groupBy(window(col("ts"), "6 hours", "3 hours"), col("event_type"))
      .agg(count(lit(1)).as("n_events"),
        sum(col("value").cast(DecimalType(18, 2))).cast(DoubleType).as("sum_value"))
      .select(col("window.start").as("ws"), col("window.end").as("we"),
        col("event_type"), col("n_events"), col("sum_value"))

  /** Run the windowed aggregation into an in-memory table (complete
    * mode — finite demo inputs; production would use append + a real
    * sink). Caller stops the query.
    */
  def startMemorySink(agg: DataFrame, name: String): StreamingQuery =
    agg.writeStream
      .outputMode("complete")
      .format("memory")
      .queryName(name)
      .start()

  /** Streaming dedup: drop replayed events by id within the watermark
    * window (at-least-once sources → exactly-once downstream).
    */
  def dedupEvents(events: DataFrame): DataFrame =
    events.withWatermark("ts", "1 hour")
      .dropDuplicates("event_id")

  /** Stream-stream interval join: every click joined to the same
    * user's purchases within the following hour. Both sides
    * watermarked so state is bounded (late rows beyond the watermark
    * are dropped, join state for passed intervals is evicted).
    */
  def clickToPurchaseJoin(events: DataFrame): DataFrame = {
    val clicks = events.filter(col("event_type") === "click")
      .select(col("user_id"), col("ts").as("click_ts"), col("event_id").as("click_id"))
      .withWatermark("click_ts", "1 hour")
    val purchases = events.filter(col("event_type") === "purchase")
      .select(col("user_id").as("p_user_id"), col("ts").as("purchase_ts"),
        col("value").as("purchase_value"))
      .withWatermark("purchase_ts", "1 hour")
    clicks.join(purchases,
      col("user_id") === col("p_user_id") &&
        col("purchase_ts") >= col("click_ts") &&
        col("purchase_ts") <= col("click_ts") + expr("INTERVAL 1 HOUR"))
      .select(col("click_id"), col("user_id"), col("click_ts"),
        col("purchase_ts"), col("purchase_value"))
  }

  // ------------------------------------------------------- stateful state

  final case class SessionEvent(user_id: Long, ts: java.sql.Timestamp, value: Double)
  final case class SessionState(openStartUs: Long, lastUs: Long, n: Long, sumValue: Double)
  final case class SessionOut(user_id: Long, t_start: java.sql.Timestamp,
                              t_end: java.sql.Timestamp, n_events: Long, sum_value: Double)

  private val GapUs = 1800000000L // 30 minutes, matching the batch q_sessionize

  /** Custom streaming state: per-user sessionization with
    * `flatMapGroupsWithState` (the KeyValueGroupedDataset stateful API).
    * Sessions close when a >30-min gap appears within the arriving data;
    * the currently-open session stays in state and would close on event-
    * time timeout once the watermark passes it. Semantics match the
    * oracle-checked batch [[graft.queries.Events.qSessionize]]: on a
    * finite input the emitted sessions are exactly the batch sessions
    * minus each user's final (still-open) one.
    */
  def sessionize(events: DataFrame): org.apache.spark.sql.Dataset[SessionOut] = {
    val spark = events.sparkSession
    import spark.implicits._
    import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

    // java.sql.Timestamp carries ms in getTime and sub-second nanos
    // separately — convert faithfully or session boundaries lose µs
    def tsToUs(t: java.sql.Timestamp): Long =
      Math.floorDiv(t.getTime, 1000L) * 1000000L + t.getNanos / 1000L
    def usToTs(us: Long): java.sql.Timestamp = {
      val t = new java.sql.Timestamp(Math.floorDiv(us, 1000000L) * 1000L)
      t.setNanos((Math.floorMod(us, 1000000L) * 1000L).toInt)
      t
    }

    def fn(userId: Long, rows: Iterator[SessionEvent],
           state: GroupState[SessionState]): Iterator[SessionOut] = {
      val sorted = rows.toSeq.sortBy(e => (tsToUs(e.ts), e.value))
      var st = state.getOption.orNull
      val out = scala.collection.mutable.ArrayBuffer.empty[SessionOut]
      for (e <- sorted) {
        val us = tsToUs(e.ts)
        if (st == null) st = SessionState(us, us, 1L, e.value)
        else if (us - st.lastUs > GapUs) {
          out += SessionOut(userId, usToTs(st.openStartUs), usToTs(st.lastUs), st.n, st.sumValue)
          st = SessionState(us, us, 1L, e.value)
        } else st = st.copy(lastUs = us, n = st.n + 1, sumValue = st.sumValue + e.value)
      }
      if (state.hasTimedOut) {
        if (st != null)
          out += SessionOut(userId, usToTs(st.openStartUs), usToTs(st.lastUs), st.n, st.sumValue)
        state.remove()
      } else if (st != null) {
        state.update(st)
        state.setTimeoutTimestamp(st.lastUs / 1000L + GapUs / 1000L)
      }
      out.iterator
    }

    events
      .withWatermark("ts", "30 minutes")
      .select($"user_id", $"ts", $"value").as[SessionEvent]
      .groupByKey(_.user_id)
      .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.EventTimeTimeout)(fn)
  }

  final case class TransEvent(user_id: Long, ts: java.sql.Timestamp,
                              event_id: Long, event_type: String)
  final case class TransState(us: Long, event_id: Long, event_type: String)
  final case class TransOut(user_id: Long, from_type: String, to_type: String)

  /** Streaming transition-pair feed: ONE (ts, event_id, type) of state
    * per user emits a (from → to) row for every consecutive pair as
    * events arrive — the incremental producer of the batch Markov
    * matrix ([[graft.queries.Events.qTransitions]]): pair counts
    * aggregated over this feed on an in-order finite input equal the
    * batch pair counts EXACTLY (no open-tail discrepancy — a
    * transition is complete the moment its second event arrives).
    * Same in-order arrival contract as the other stateful gates;
    * within a micro-batch rows are sorted per user on (ts, event_id).
    * State is constant-size per user, so the operator's memory is
    * bounded by |users|, not event volume.
    */
  def transitionPairs(events: DataFrame): org.apache.spark.sql.Dataset[TransOut] = {
    val spark = events.sparkSession
    import spark.implicits._
    import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

    def tsToUs(t: java.sql.Timestamp): Long =
      Math.floorDiv(t.getTime, 1000L) * 1000000L + t.getNanos / 1000L

    def fn(userId: Long, rows: Iterator[TransEvent],
           state: GroupState[TransState]): Iterator[TransOut] = {
      val sorted = rows.toSeq.sortBy(e => (tsToUs(e.ts), e.event_id))
      var st = state.getOption.orNull
      val out = scala.collection.mutable.ArrayBuffer.empty[TransOut]
      for (e <- sorted) {
        if (st != null) out += TransOut(userId, st.event_type, e.event_type)
        st = TransState(tsToUs(e.ts), e.event_id, e.event_type)
      }
      if (st != null) state.update(st)
      out.iterator
    }

    events.select($"user_id", $"ts", $"event_id", $"event_type").as[TransEvent]
      .groupByKey(_.user_id)
      .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.NoTimeout)(fn)
  }
}
