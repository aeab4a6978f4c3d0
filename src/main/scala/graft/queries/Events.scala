package graft.queries

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.types.{DecimalType, DoubleType}

/** Event-time operators over the `events` table — the batch-equivalent
  * semantics of the Structured Streaming surface (SURVEY §2.9: the
  * reference has no streaming; this is §7 extension scope). The live
  * `readStream` version of the tumbling-window query is
  * [[graft.streaming.EventStream]]; these batch forms are the
  * oracle-checkable definitions.
  */
object Events {

  /** Tumbling 6-hour event-time window per event type — the Spark
    * `window()` function (epoch-aligned), oracle-mirrored with integer
    * µs bucket arithmetic.
    */
  def qStreamWindow(events: DataFrame): DataFrame =
    events
      .groupBy(window(col("ts"), "6 hours"), col("event_type"))
      .agg(count(lit(1)).as("n_events"),
        sum(col("value").cast(DecimalType(18, 2))).cast(DoubleType).as("sum_value"))
      .select(col("window.start").as("ws"), col("window.end").as("we"),
        col("event_type"), col("n_events"), col("sum_value"))
      .orderBy(col("ws"), col("event_type"))

  val qStreamWindowSql: String =
    """SELECT make_timestamp((epoch_us(ts) // 21600000000) * 21600000000) AS ws,
      |       make_timestamp((epoch_us(ts) // 21600000000) * 21600000000 + 21600000000) AS we,
      |       event_type, count(*) AS n_events,
      |       CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
      |FROM events
      |GROUP BY 1, 2, 3
      |ORDER BY ws, event_type""".stripMargin

  /** Hopping (sliding) 6-hour windows on a 3-hour slide — the
    * overlapping-window twin of [[qStreamWindow]]: every event lands in
    * exactly windowDuration/slide = 2 windows. The oracle derives the
    * same assignment from integer µs slot arithmetic (each event's
    * 3-hour slot and its predecessor), so the expansion factor is
    * explicit rather than implied by Spark's `window(ts, dur, slide)`.
    *
    * Scale shape: the 2× row expansion happens map-side inside the
    * window generator; the aggregation is one map-side-combined
    * shuffle keyed by (window, type) — same cost family as the
    * tumbling query, ×overlap.
    */
  def qHopWindow(events: DataFrame): DataFrame =
    events
      .groupBy(window(col("ts"), "6 hours", "3 hours"), col("event_type"))
      .agg(count(lit(1)).as("n_events"),
        sum(col("value").cast(DecimalType(18, 2))).cast(DoubleType).as("sum_value"))
      .select(col("window.start").as("ws"), col("window.end").as("we"),
        col("event_type"), col("n_events"), col("sum_value"))
      .orderBy(col("ws"), col("event_type"))

  val qHopWindowSql: String =
    """WITH b AS (
      |  SELECT epoch_us(ts) // 10800000000 AS slot, event_type, value FROM events),
      |w AS (
      |  SELECT slot AS ws_slot, event_type, value FROM b
      |  UNION ALL
      |  SELECT slot - 1, event_type, value FROM b)
      |SELECT make_timestamp(ws_slot * 10800000000) AS ws,
      |       make_timestamp(ws_slot * 10800000000 + 21600000000) AS we,
      |       event_type, count(*) AS n_events,
      |       CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
      |FROM w GROUP BY 1, 2, 3
      |ORDER BY ws, event_type""".stripMargin

  /** As-of join: each event annotated with the user's most recent
    * purchase at or before it (see [[graft.operators.AsOfJoin]]). The
    * oracle uses DuckDB's native ASOF JOIN — same semantics, different
    * machinery, which is exactly what makes it a strong check.
    */
  def qAsofJoin(events: DataFrame): DataFrame = {
    val purchases = events.filter(col("event_type") === "purchase")
      .select(col("user_id"), col("ts").as("pts"), col("value").as("pvalue"))
    graft.operators.AsOfJoin.asofJoin(
      events.select(col("event_id"), col("user_id"), col("ts"), col("value")),
      purchases, key = "user_id", leftTime = "ts", rightTime = "pts",
      rightPayload = Seq("pts", "pvalue"))
      .orderBy("event_id")
  }

  val qAsofJoinSql: String =
    """SELECT e.event_id, e.user_id, e.ts, e.value,
      |       p.pts AS asof_pts, p.pvalue AS asof_pvalue
      |FROM (SELECT event_id, user_id, ts, value FROM events) e
      |ASOF LEFT JOIN (SELECT user_id, ts AS pts, value AS pvalue
      |                FROM events WHERE event_type = 'purchase') p
      |  ON e.user_id = p.user_id AND e.ts >= p.pts
      |ORDER BY e.event_id""".stripMargin

  /** Sessionization: per-user sessions split at >30-minute gaps —
    * lag + cumulative-sum-of-boundaries, both windows sharing one
    * shuffle on user_id.
    */
  /** Per-event 30-min-gap session assignment — the ONE definition of
    * the sessionization boundary, shared by [[qSessionize]] and
    * [[qTopPaths]] (and mirrored by [[sessionAssignSql]] on the oracle
    * side) so the gap threshold and tiebreaker cannot drift between
    * consumers.
    */
  private def sessionAssign(events: DataFrame): DataFrame = {
    val byUser = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
    events
      .withColumn("prev_us", lag(unix_micros(col("ts")), 1).over(byUser))
      .withColumn("boundary",
        when(col("prev_us").isNull ||
          unix_micros(col("ts")) - col("prev_us") > 1800000000L, 1L).otherwise(0L))
      .withColumn("session_id",
        sum(col("boundary")).over(byUser.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
  }

  private val sessionAssignSql: String =
    """SELECT *, sum(boundary) OVER (PARTITION BY user_id ORDER BY ts, event_id
      |                              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS session_id
      |FROM (
      |  SELECT *, CASE WHEN prev_us IS NULL OR epoch_us(ts) - prev_us > 1800000000
      |                 THEN 1 ELSE 0 END AS boundary
      |  FROM (
      |    SELECT *, lag(epoch_us(ts), 1) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev_us
      |    FROM events
      |  )
      |)""".stripMargin

  /** Session aggregates WITHOUT the presentation sort — the form set
    * consumers (concurrency sweep, range join) should take: the global
    * ORDER BY exists only for the driver's deterministic hash compare.
    */
  private def sessionAgg(events: DataFrame): DataFrame =
    sessionAssign(events)
      .groupBy(col("user_id"), col("session_id"))
      .agg(count(lit(1)).as("n_events"),
        min(col("ts")).as("t_start"), max(col("ts")).as("t_end"),
        sum(col("value").cast(DecimalType(18, 2))).cast(DoubleType).as("sum_value"))

  def qSessionize(events: DataFrame): DataFrame =
    sessionAgg(events).orderBy(col("user_id"), col("session_id"))

  /** Sessionize SELECT without the final ORDER BY (reused as a CTE by
    * the range-join oracle).
    */
  private val sessionizeBody: String =
    s"""SELECT user_id, CAST(session_id AS BIGINT) AS session_id, count(*) AS n_events,
       |       min(ts) AS t_start, max(ts) AS t_end,
       |       CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
       |FROM (
       |$sessionAssignSql
       |)
       |GROUP BY user_id, session_id""".stripMargin

  val qSessionizeSql: String =
    s"$sessionizeBody\nORDER BY user_id, session_id"

  /** Peak concurrent sessions — the classic interval sweep-line as a
    * window: each session contributes +1 at t_start and −1 at t_end
    * (end-exclusive: a session ending exactly when another starts does
    * NOT overlap it — the −1 sorts before the +1 at equal t), a
    * peer-inclusive running sum (the default RANGE frame, deterministic
    * under ties in both engines) is the concurrency curve, and the
    * answer is its max plus the first instant reaching it.
    *
    * Scale shape: the sweep input is 2×|sessions| — already aggregated
    * by sessionization, orders of magnitude below raw events — and the
    * running sum is the parallel prefix-sum its spec prescribed:
    * [[graft.operators.RangeRank.withRunningSum]] range-buckets the
    * boundaries by t, prefix-sums each bucket in parallel and adds
    * broadcast bucket offsets. Key-ties share a bucket and the
    * peer-inclusive RANGE frame is preserved within it, so the curve is
    * bit-identical to the single-partition form (same oracle).
    */
  def qConcurrency(events: DataFrame): DataFrame = {
    // sessionize feeds both boundary arms AND the session count;
    // the sweep curve feeds the peak agg AND the final filter —
    // persist each once (pool-bounded) or the session window re-runs
    // per consumer
    val sess = graft.operators.CachePool.track(sessionAgg(events))
    val bounds = sess.select(unix_micros(col("t_start")).as("t"), lit(1L).as("delta"))
      .unionAll(sess.select(unix_micros(col("t_end")).as("t"), lit(-1L).as("delta")))
    // peer-inclusive frame: conc at (t, delta) counts all
    // boundaries ≤ the peer group — deterministic under duplicates
    val sweep = graft.operators.RangeRank
      .withRunningSum(bounds, col("delta"), col("t"), Seq(col("delta")), out = "conc")
      .select(col("t"), col("conc"))
    // (peak, earliest-instant-at-peak) in ONE exact lexicographic
    // struct-max agg — integer fields, so max((conc, −t)) is
    // deterministic and replaces the old peak-broadcast → filter →
    // groupBy tail (three jobs of fixed overhead) with one
    val best = sweep
      .agg(max(struct(col("conc"), (-col("t")).as("negt"))).as("b"))
      .select(col("b.conc").as("peak_concurrency"), (-col("b.negt")).as("t_peak_us"))
    val n = sess.agg(count(lit(1)).as("n_sessions"))
    best.crossJoin(broadcast(n))
      .select(col("peak_concurrency"), col("t_peak_us"), col("n_sessions"))
  }

  val qConcurrencySql: String =
    s"""WITH sessions AS ($sessionizeBody),
       |b AS (
       |  SELECT epoch_us(t_start) AS t, 1 AS delta FROM sessions
       |  UNION ALL
       |  SELECT epoch_us(t_end), -1 FROM sessions
       |),
       |sweep AS (
       |  SELECT t, CAST(sum(delta) OVER (ORDER BY t, delta) AS BIGINT) AS conc FROM b
       |),
       |pk AS (SELECT max(conc) AS peak FROM sweep),
       |n AS (SELECT CAST(count(*) AS BIGINT) AS n_sessions FROM sessions)
       |SELECT pk.peak AS peak_concurrency, CAST(min(t) AS BIGINT) AS t_peak_us,
       |       n.n_sessions
       |FROM sweep, pk, n
       |WHERE conc = peak
       |GROUP BY pk.peak, n.n_sessions""".stripMargin

  /** Kaplan–Meier survival curve of session durations with honest
    * right-censoring: a session whose last event lands inside the
    * 30-minute sessionization gap of the corpus horizon may still be
    * open, so it contributes risk but no death. Per distinct duration
    * (whole-second lattice): deaths d, censored c, at-risk
    * n = N − (everything that left strictly earlier), the log-survival
    * accumulates as EXACT nano-nat prefix sums of per-time terms
    * round(ln((n−d)/n)·10⁹) — the q_mutual_info transcendental
    * contract: round each term to the integer lattice BEFORE summing,
    * so no float accumulation order exists — and S(t) finishes as one
    * exp per emitted row. d = n can only happen at the LAST distinct
    * duration (risk would hit zero after), where S is pinned 0.
    *
    * Scale shape: sessionization aggregates events once; the curve
    * table is distinct durations; both prefix sums are
    * [[graft.operators.RangeRank.withRunningSum]] range-bucketed
    * passes — no single-partition window at any duration cardinality.
    * Output (ORDERED): dur_s, n_risk, n_events, n_censored, km_lnlat,
    * surv_ppm — only event times emit (censoring-only durations still
    * deplete the risk set).
    */
  def qSurvival(events: DataFrame): DataFrame = {
    val sess = graft.operators.CachePool.track(sessionAgg(events))
    val horizon = sess.agg(max(unix_micros(col("t_end"))).as("h_us"))
    // ONE pass over the sessions: the (dur_s → events/censored)
    // histogram. Durations land on the whole-second lattice, so the
    // histogram is bounded by the session-span lattice at ANY corpus
    // size (the q_mad_outliers argument) — checkpointed once, and the
    // total, BOTH dependent prefix sums, and the KM tail are all
    // histogram-sized from here. The r12 shape routed the histogram
    // through RangeRank.withRunningSumThen, paying a corpus-derived
    // min/max pass, an input cache, and two pool materializations of
    // `per` — ~2 s of fixed multi-stage overhead at sf0.1 for a ≤2k-row
    // table (3.98 → ~2.3 s).
    val hist = sess.crossJoin(broadcast(horizon))
      .select(
        expr("(unix_micros(t_end) - unix_micros(t_start)) div 1000000").as("dur_s"),
        when(unix_micros(col("t_end")) >= col("h_us") - lit(1800000000L), lit(1L))
          .otherwise(lit(0L)).as("cens"))
      .groupBy(col("dur_s"))
      .agg(sum(lit(1L) - col("cens")).as("n_events"), sum(col("cens")).as("n_censored"))
      .localCheckpoint(true)
    val tot = hist.agg(sum(col("n_events") + col("n_censored")).as("n_total"))
    // bucketed prefix sums over the tiny histogram — RangeRank's shape
    // (per-bucket parallel window + triangular offsets) with a FREE
    // bucket key: dur_s div 64 is lattice-derived, so no min/max pass
    // and no single-partition window. Both sums share the partitioning;
    // the second window rides the first's exchange.
    val w = Window.partitionBy(col("_b")).orderBy(col("dur_s"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    def offsets(sumCol: org.apache.spark.sql.Column, out: String): DataFrame = {
      val per = hist.withColumn("_b", expr("dur_s div 64"))
        .groupBy(col("_b")).agg(sum(sumCol).as("_v"))
      per.join(per.select(col("_b").as("_pb"), col("_v").as("_pv")),
          col("_pb") < col("_b"), "left")
        .groupBy(col("_b"))
        .agg(coalesce(sum(col("_pv")), lit(0L)).as(out))
    }
    val withRisk = hist.withColumn("_b", expr("dur_s div 64"))
      .withColumn("_loc1", sum(col("n_events") + col("n_censored")).over(w))
      .join(broadcast(offsets(col("n_events") + col("n_censored"), "_off1")), Seq("_b"), "left")
      .withColumn("cum_incl", col("_loc1") + coalesce(col("_off1"), lit(0L)))
      .crossJoin(broadcast(tot))
      .withColumn("n_risk",
        col("n_total") - (col("cum_incl") - col("n_events") - col("n_censored")))
      .withColumn("term_nano", expr(
        "CASE WHEN n_events < n_risk THEN CAST(round(ln((CAST(n_risk AS DOUBLE)" +
          " - n_events) / n_risk) * 1000000000.0) AS BIGINT) ELSE CAST(0 AS BIGINT) END"))
    // second (dependent) prefix sum: per-bucket term totals re-derive
    // the tiny withRisk subtree — histogram-sized, cheaper than any
    // materialization
    val termOffsets = withRisk
      .groupBy(col("_b")).agg(sum(col("term_nano")).as("_v"))
    val termOff = termOffsets
      .join(termOffsets.select(col("_b").as("_pb"), col("_v").as("_pv")),
        col("_pb") < col("_b"), "left")
      .groupBy(col("_b"))
      .agg(coalesce(sum(col("_pv")), lit(0L)).as("_off2"))
    withRisk
      .withColumn("_loc2", sum(col("term_nano")).over(w))
      .join(broadcast(termOff), Seq("_b"), "left")
      .withColumn("km_lnlat", col("_loc2") + coalesce(col("_off2"), lit(0L)))
      .filter(col("n_events") > 0)
      .select(col("dur_s"), col("n_risk"), col("n_events"), col("n_censored"),
        col("km_lnlat"),
        expr("CASE WHEN n_events >= n_risk THEN CAST(0 AS BIGINT) " +
          "ELSE CAST(round(exp(CAST(km_lnlat AS DOUBLE) / 1000000000.0) * 1000000.0) " +
          "AS BIGINT) END").as("surv_ppm"))
      .orderBy("dur_s")
  }

  val qSurvivalSql: String =
    s"""WITH sessions AS ($sessionizeBody),
       |h AS (SELECT max(epoch_us(ts)) AS h_us FROM events),
       |per AS (
       |  SELECT (epoch_us(t_end) - epoch_us(t_start)) // 1000000 AS dur_s,
       |         CASE WHEN epoch_us(t_end) >= h_us - 1800000000
       |              THEN CAST(1 AS BIGINT) ELSE CAST(0 AS BIGINT) END AS cens
       |  FROM sessions CROSS JOIN h
       |),
       |tbl AS (
       |  SELECT dur_s, CAST(sum(1 - cens) AS BIGINT) AS n_events,
       |         CAST(sum(cens) AS BIGINT) AS n_censored
       |  FROM per GROUP BY dur_s
       |),
       |tot AS (SELECT CAST(count(*) AS BIGINT) AS n_total FROM per),
       |r1 AS (
       |  SELECT *, CAST(sum(n_events + n_censored) OVER (ORDER BY dur_s) AS BIGINT)
       |              AS cum_incl
       |  FROM tbl
       |),
       |risk AS (
       |  SELECT *, n_total - (cum_incl - n_events - n_censored) AS n_risk
       |  FROM r1 CROSS JOIN tot
       |),
       |t2 AS (
       |  SELECT *, CASE WHEN n_events < n_risk
       |                 THEN CAST(round(ln((CAST(n_risk AS DOUBLE) - n_events) / n_risk)
       |                                 * 1000000000.0) AS BIGINT)
       |                 ELSE CAST(0 AS BIGINT) END AS term_nano
       |  FROM risk
       |),
       |r2 AS (
       |  SELECT *, CAST(sum(term_nano) OVER (ORDER BY dur_s) AS BIGINT) AS km_lnlat
       |  FROM t2
       |)
       |SELECT dur_s, n_risk, n_events, n_censored, km_lnlat,
       |       CASE WHEN n_events >= n_risk THEN CAST(0 AS BIGINT)
       |            ELSE CAST(round(exp(CAST(km_lnlat AS DOUBLE) / 1000000000.0)
       |                            * 1000000.0) AS BIGINT) END AS surv_ppm
       |FROM r2
       |WHERE n_events > 0
       |ORDER BY dur_s""".stripMargin

  /** Range join (bucketed): assign every event to the session interval
    * containing it — `ts BETWEEN t_start AND t_end` on the same user,
    * executed as the equi-join-on-(key, bucket) rewrite
    * ([[graft.operators.RangeJoin]]). Sessions partition each user's
    * timeline, so exactly one row per event comes back.
    */
  def qRangeJoin(events: DataFrame): DataFrame = {
    val sess = sessionAgg(events)
      .select(col("user_id"), col("session_id"), col("t_start"), col("t_end"))
    graft.operators.RangeJoin.bucketed(
      events.select(col("event_id"), col("user_id"), col("ts")),
      sess, key = "user_id", t = "ts", lo = "t_start", hi = "t_end")
      .select(col("event_id"), col("user_id"), col("session_id"))
      .orderBy("event_id")
  }

  val qRangeJoinSql: String =
    s"""WITH sess AS ($sessionizeBody)
       |SELECT e.event_id, e.user_id, s.session_id
       |FROM events e
       |JOIN sess s ON e.user_id = s.user_id
       |            AND e.ts >= s.t_start AND e.ts <= s.t_end
       |ORDER BY e.event_id""".stripMargin

  /** Pivot: per-user event-type counts as columns — the
    * `groupBy().pivot()` relational surface with a PINNED value list
    * (an unpinned pivot runs a distinct-values job first and its column
    * set depends on the data; never do that at 100 TB).
    */
  def qPivot(events: DataFrame): DataFrame = {
    val types = Seq("view", "click", "purchase", "signup", "error")
    events.groupBy(col("user_id"))
      .pivot("event_type", types)
      .agg(count(lit(1)))
      .na.fill(0L, types)
      .select(col("user_id") +: types.map(t => col(t).as(s"n_$t")): _*)
      .orderBy(col("user_id"))
  }

  val qPivotSql: String = {
    val cols = Seq("view", "click", "purchase", "signup", "error").map(t =>
      s"CAST(count(CASE WHEN event_type = '$t' THEN 1 END) AS BIGINT) AS n_$t")
      .mkString(",\n      |       ")
    s"""SELECT user_id,
       |       $cols
       |FROM events
       |GROUP BY user_id
       |ORDER BY user_id""".stripMargin
  }

  /** Bounded sliding-frame window: each event's 4-row trailing sum and
    * mean of `value` within its user's timeline (ROWS BETWEEN 3
    * PRECEDING AND CURRENT ROW) — the frame-based window surface the
    * running-total query (unbounded frame) doesn't cover. The frame sum
    * is DECIMAL-exact; the mean is one double division by the exact
    * frame row count.
    */
  def qMovingAvg(events: DataFrame): DataFrame = {
    val w = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
      .rowsBetween(-3, Window.currentRow)
    events
      .withColumn("mov_sum",
        sum(col("value").cast(DecimalType(18, 2))).over(w).cast(DoubleType))
      .withColumn("mov_n", count(lit(1)).over(w))
      .select(col("event_id"), col("user_id"), col("value"),
        col("mov_sum"), col("mov_n"),
        (col("mov_sum") / col("mov_n")).as("mov_avg"))
      .orderBy(col("event_id"))
  }

  val qMovingAvgSql: String =
    """SELECT event_id, user_id, value, mov_sum, mov_n, mov_sum / mov_n AS mov_avg
      |FROM (
      |  SELECT event_id, user_id, value,
      |    CAST(sum(CAST(value AS DECIMAL(18,2)))
      |         OVER (PARTITION BY user_id ORDER BY ts, event_id
      |               ROWS BETWEEN 3 PRECEDING AND CURRENT ROW) AS DOUBLE) AS mov_sum,
      |    CAST(count(*) OVER (PARTITION BY user_id ORDER BY ts, event_id
      |               ROWS BETWEEN 3 PRECEDING AND CURRENT ROW) AS BIGINT) AS mov_n
      |  FROM events
      |)
      |ORDER BY event_id""".stripMargin

  /** RANGE-interval window frame: per user, the trailing-ONE-HOUR
    * event count and exact value sum at every event — the time-based
    * frame (`RANGE BETWEEN INTERVAL 1 HOUR PRECEDING AND CURRENT ROW`)
    * that ROWS frames (see [[qMovingAvg]]) cannot express. Framed on
    * integer epoch-µs so the inclusive bound is identical in both
    * engines, and peers (equal timestamps) share one frame by
    * definition, so the result is deterministic without a tiebreaker.
    */
  def qRangeWindow(events: DataFrame): DataFrame = {
    val w = Window.partitionBy(col("user_id")).orderBy(unix_micros(col("ts")))
      .rangeBetween(-3600000000L, 0L)
    events
      .withColumn("trail_n", count(lit(1)).over(w))
      .withColumn("trail_sum",
        sum(col("value").cast(DecimalType(18, 2))).over(w).cast(DoubleType))
      .select(col("event_id"), col("user_id"), col("trail_n"), col("trail_sum"))
      .orderBy(col("event_id"))
  }

  val qRangeWindowSql: String =
    """SELECT event_id, user_id,
      |  count(*) OVER w AS trail_n,
      |  CAST(sum(CAST(value AS DECIMAL(18,2))) OVER w AS DOUBLE) AS trail_sum
      |FROM events
      |WINDOW w AS (PARTITION BY user_id ORDER BY epoch_us(ts)
      |             RANGE BETWEEN 3600000000 PRECEDING AND CURRENT ROW)
      |ORDER BY event_id""".stripMargin

  /** Gap-filled hourly resampling with last-observation-carried-forward
    * (the time-series regularization every monitoring/feature pipeline
    * needs): an hour×event_type spine generated from the data's own
    * span, left-joined to the hourly aggregates — empty buckets appear
    * with n=0 / sum=0, and `avg_locf` carries the last observed hourly
    * mean forward per type (NULL before the first observation).
    *
    * Scale shape: the spine is |hours|×|types| rows (generated, not
    * scanned), the hourly agg is one map-side-combined shuffle, and the
    * LOCF window partitions by type — no global ordering anywhere.
    */
  def qResample(events: DataFrame): DataFrame = {
    val hourly = events
      .groupBy(date_trunc("hour", col("ts")).as("hb"), col("event_type"))
      .agg(count(lit(1)).as("n_events"),
        sum(col("value").cast(DecimalType(18, 2))).as("sv"))
    val span = events.agg(date_trunc("hour", min(col("ts"))).as("lo"),
      date_trunc("hour", max(col("ts"))).as("hi"))
    val spine = span
      .select(explode(sequence(col("lo"), col("hi"), expr("INTERVAL 1 HOUR"))).as("hb"))
      .crossJoin(events.select(col("event_type")).distinct())
    val w = Window.partitionBy(col("event_type")).orderBy(col("hb"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    spine.join(hourly, Seq("hb", "event_type"), "left")
      .select(col("hb"), col("event_type"),
        coalesce(col("n_events"), lit(0L)).as("n_events"),
        coalesce(col("sv").cast(DoubleType), lit(0.0)).as("sum_value"),
        (col("sv").cast(DoubleType) / col("n_events")).as("avg_v"))
      .withColumn("avg_locf", last(col("avg_v"), ignoreNulls = true).over(w))
      .drop("avg_v")
      .orderBy(col("event_type"), col("hb"))
  }

  val qResampleSql: String =
    """WITH hourly AS (
      |  SELECT date_trunc('hour', ts) AS hb, event_type,
      |         count(*) AS n_events, sum(CAST(value AS DECIMAL(18,2))) AS sv
      |  FROM events GROUP BY 1, 2),
      |span AS (SELECT date_trunc('hour', min(ts)) AS lo,
      |                date_trunc('hour', max(ts)) AS hi FROM events),
      |spine AS (SELECT unnest(generate_series(lo, hi, INTERVAL 1 HOUR)) AS hb FROM span),
      |types AS (SELECT DISTINCT event_type FROM events),
      |j AS (
      |  SELECT s.hb, t.event_type,
      |         COALESCE(h.n_events, 0) AS n_events,
      |         COALESCE(CAST(h.sv AS DOUBLE), 0.0) AS sum_value,
      |         CAST(h.sv AS DOUBLE) / h.n_events AS avg_v
      |  FROM spine s CROSS JOIN types t
      |  LEFT JOIN hourly h ON h.hb = s.hb AND h.event_type = t.event_type)
      |SELECT hb, event_type, n_events, sum_value,
      |       last_value(avg_v IGNORE NULLS) OVER (
      |         PARTITION BY event_type ORDER BY hb
      |         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS avg_locf
      |FROM j ORDER BY event_type, hb""".stripMargin

  /** 3σ anomaly detection over the gap-filled hourly series — the
    * monitoring companion to [[qResample]]: per event type, flag hours
    * whose count deviates from the type's mean by more than three
    * standard deviations, on a FULLY INTEGER lattice
    * ((n·x − Σx)² > 9·(n·Σx² − (Σx)²) ⇔ |x−μ| > 3σ, no float mean or
    * variance anywhere) — so the flag set is engine-identical. Gap
    * hours count as x=0 (a dead stream is an anomaly too).
    *
    * Scale shape: the series is the resample spine (generated), stats
    * are one agg per type, and the flag is a broadcast join — nothing
    * scales with raw event volume except the one hourly aggregation.
    */
  /** Per-(hour, type) event counts — the MERGEABLE piece of the
    * anomaly pipeline: counts over disjoint event batches sum to the
    * whole, so a streaming loop can maintain this table per
    * micro-batch and flag from the merged state (EventsSpec proves
    * foreachBatch-merged ≡ batch).
    */
  def hourlyCounts(events: DataFrame): DataFrame =
    events
      .groupBy(date_trunc("hour", col("ts")).as("hb"), col("event_type"))
      .agg(count(lit(1)).as("x"))

  /** Anomaly flags from an (hb, event_type, x) hourly-count table: the
    * spine spans [min hb, max hb] (identical to truncating the raw
    * min/max ts — the extreme events ARE those buckets), missing
    * buckets count as x=0.
    */
  /** Gap-filled (hb, event_type, x) series over the full [min, max]
    * hourly spine — shared by anomaly detection and smoothing; missing
    * buckets are explicit x=0 rows.
    */
  def filledHourlySeries(hourly: DataFrame): DataFrame = {
    val span = hourly.agg(min(col("hb")).as("lo"), max(col("hb")).as("hi"))
    span
      .select(explode(sequence(col("lo"), col("hi"), expr("INTERVAL 1 HOUR"))).as("hb"))
      .crossJoin(hourly.select(col("event_type")).distinct())
      .join(hourly, Seq("hb", "event_type"), "left")
      .select(col("hb"), col("event_type"), coalesce(col("x"), lit(0L)).as("x"))
  }

  def anomalyFromHourly(hourly: DataFrame): DataFrame = {
    val series = filledHourlySeries(hourly)
    val stats = series.groupBy(col("event_type"))
      .agg(count(lit(1)).as("n"), sum(col("x")).as("sx"),
        sum(col("x") * col("x")).as("sq"))
    val dev = col("n") * col("x") - col("sx")
    series.join(broadcast(stats), "event_type")
      .select(col("event_type"), col("hb"), col("x"),
        (dev * dev).as("dev2_scaled"),
        (lit(9L) * (col("n") * col("sq") - col("sx") * col("sx"))).as("threshold2_scaled"))
      .filter(col("dev2_scaled") > col("threshold2_scaled"))
      .orderBy(col("event_type"), col("hb"))
  }

  def qAnomaly(events: DataFrame): DataFrame =
    anomalyFromHourly(hourlyCounts(events))

  val qAnomalySql: String =
    """WITH hourly AS (
      |  SELECT date_trunc('hour', ts) AS hb, event_type, count(*) AS x
      |  FROM events GROUP BY 1, 2),
      |span AS (SELECT date_trunc('hour', min(ts)) AS lo,
      |                date_trunc('hour', max(ts)) AS hi FROM events),
      |spine AS (SELECT unnest(generate_series(lo, hi, INTERVAL 1 HOUR)) AS hb FROM span),
      |types AS (SELECT DISTINCT event_type FROM events),
      |series AS (
      |  SELECT s.hb, t.event_type, COALESCE(h.x, 0) AS x
      |  FROM spine s CROSS JOIN types t
      |  LEFT JOIN hourly h ON h.hb = s.hb AND h.event_type = t.event_type),
      |stats AS (
      |  SELECT event_type, count(*) AS n, CAST(sum(x) AS BIGINT) AS sx,
      |         CAST(sum(x * x) AS BIGINT) AS sq
      |  FROM series GROUP BY event_type)
      |SELECT se.event_type, se.hb, se.x,
      |       (st.n * se.x - st.sx) * (st.n * se.x - st.sx) AS dev2_scaled,
      |       9 * (st.n * st.sq - st.sx * st.sx) AS threshold2_scaled
      |FROM series se JOIN stats st USING (event_type)
      |WHERE (st.n * se.x - st.sx) * (st.n * se.x - st.sx)
      |    > 9 * (st.n * st.sq - st.sx * st.sx)
      |ORDER BY event_type, hb""".stripMargin

  /** CUSUM changepoint detection over the gap-filled hourly series —
    * the SUSTAINED-drift companion to [[qAnomaly]]'s pointwise 3σ
    * flags: a run of slightly-elevated hours that never trips 3σ
    * accumulates here. One-sided CUSUM with the standard 0.5σ slack
    * (without it a random walk drifts across any threshold), via the
    * prefix-sum reformulation cusum_t = s_t − min_{i≤t} s_i ≡ the
    * max(0, ·) recursion: dev_i = 2·(n·x_i − Σx) − ⌊√(n·Σx²−(Σx)²)⌋
    * (the doubled-scale mean-centering keeps the half-σ slack
    * integral; IEEE sqrt of an exact integer then floor is
    * correctly-rounded, hence engine-identical), flagging when
    * cusum² > 100·(n·Σx² − (Σx)²) ⇔ cusum > 5·n·σ_pop on the doubled
    * scale. Exact while n²·Σx² < 2⁶² (hourly counts ≲ 10⁵ at a
    * 30-day span); lift to DECIMAL beyond.
    *
    * Scale shape: stats are one agg per type; the two windows
    * (prefix sum, running min) share ONE type-partitioned sort over
    * the generated |hours|×|types| series — raw events only feed the
    * first hourly aggregation.
    */
  def qCusum(events: DataFrame): DataFrame = {
    val series = filledHourlySeries(hourlyCounts(events))
    val stats = series.groupBy(col("event_type"))
      .agg(count(lit(1)).as("n"), sum(col("x")).as("sx"),
        sum(col("x") * col("x")).as("sq"))
    val w = Window.partitionBy(col("event_type")).orderBy(col("hb"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    series.join(broadcast(stats), "event_type")
      .withColumn("slack",
        floor(sqrt((col("n") * col("sq") - col("sx") * col("sx")).cast(DoubleType)))
          .cast("long"))
      .withColumn("s_t",
        sum(lit(2L) * (col("n") * col("x") - col("sx")) - col("slack")).over(w))
      .withColumn("cusum", col("s_t") - min(col("s_t")).over(w))
      .filter(col("cusum") * col("cusum") >
        lit(100L) * (col("n") * col("sq") - col("sx") * col("sx")))
      .select(col("event_type"), col("hb"), col("x"), col("cusum"))
      .orderBy(col("event_type"), col("hb"))
  }

  val qCusumSql: String =
    """WITH hourly AS (
      |  SELECT date_trunc('hour', ts) AS hb, event_type, count(*) AS x
      |  FROM events GROUP BY 1, 2),
      |span AS (SELECT date_trunc('hour', min(ts)) AS lo,
      |                date_trunc('hour', max(ts)) AS hi FROM events),
      |spine AS (SELECT unnest(generate_series(lo, hi, INTERVAL 1 HOUR)) AS hb FROM span),
      |types AS (SELECT DISTINCT event_type FROM events),
      |series AS (
      |  SELECT s.hb, t.event_type, COALESCE(h.x, 0) AS x
      |  FROM spine s CROSS JOIN types t
      |  LEFT JOIN hourly h ON h.hb = s.hb AND h.event_type = t.event_type),
      |stats AS (
      |  SELECT event_type, CAST(count(*) AS BIGINT) AS n,
      |         CAST(sum(x) AS BIGINT) AS sx, CAST(sum(x * x) AS BIGINT) AS sq
      |  FROM series GROUP BY 1),
      |pref AS (
      |  SELECT se.event_type, se.hb, se.x, st.n, st.sx, st.sq,
      |         CAST(sum(2 * (st.n * se.x - st.sx)
      |                  - CAST(floor(sqrt(CAST(st.n * st.sq - st.sx * st.sx AS DOUBLE)))
      |                         AS BIGINT)) OVER w AS BIGINT) AS s_t
      |  FROM series se JOIN stats st USING (event_type)
      |  WINDOW w AS (PARTITION BY se.event_type ORDER BY se.hb
      |               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)),
      |cu AS (
      |  SELECT event_type, hb, x, n, sx, sq,
      |         s_t - min(s_t) OVER (PARTITION BY event_type ORDER BY hb
      |                              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
      |           AS cusum
      |  FROM pref)
      |SELECT event_type, hb, x, CAST(cusum AS BIGINT) AS cusum
      |FROM cu
      |WHERE cusum * cusum > 100 * (n * sq - sx * sx)
      |ORDER BY event_type, hb""".stripMargin

  /** Seasonal-adjusted anomaly detection — [[qAnomaly]]'s 3σ test
    * against the HOUR-OF-DAY profile instead of the global mean: an
    * hour is flagged only if it deviates from its own time-of-day
    * baseline ((n_h·x − Σ_h x)² > 9·(n_h·Σ_h x² − (Σ_h x)²) per
    * (type, hod) group — same integer lattice, stratified), so the
    * daily cycle [[qSeasonal]] profiles stops masquerading as anomaly
    * and a 3 AM burst that would be "normal" at noon is caught.
    *
    * Scale shape: identical to qAnomaly with 24× the (still bounded)
    * stats rows; one hourly agg over raw events, one broadcast join.
    */
  def qSeasonalAnomaly(events: DataFrame): DataFrame =
    seasonalAnomalyFromHourly(hourlyCounts(events))

  /** Seasonal-adjusted flags from an (hb, event_type, x) hourly-count
    * table — the MERGEABLE form (same contract as
    * [[anomalyFromHourly]]): hourly counts over disjoint batches sum
    * to the whole, so a streaming loop maintains the table per
    * micro-batch and flags from merged state (EventsSpec proves
    * foreachBatch-merged ≡ batch).
    */
  def seasonalAnomalyFromHourly(hourly: DataFrame): DataFrame = {
    val series = filledHourlySeries(hourly)
      .withColumn("hod", hour(col("hb")).cast("long"))
    val stats = series.groupBy(col("event_type"), col("hod"))
      .agg(count(lit(1)).as("nh"), sum(col("x")).as("sxh"),
        sum(col("x") * col("x")).as("sqh"))
    val dev = col("nh") * col("x") - col("sxh")
    series.join(broadcast(stats), Seq("event_type", "hod"))
      .filter(dev * dev > lit(9L) * (col("nh") * col("sqh") - col("sxh") * col("sxh")))
      .select(col("event_type"), col("hb"), col("hod"), col("x"))
      .orderBy(col("event_type"), col("hb"))
  }

  val qSeasonalAnomalySql: String =
    """WITH hourly AS (
      |  SELECT date_trunc('hour', ts) AS hb, event_type, count(*) AS x
      |  FROM events GROUP BY 1, 2),
      |span AS (SELECT date_trunc('hour', min(ts)) AS lo,
      |                date_trunc('hour', max(ts)) AS hi FROM events),
      |spine AS (SELECT unnest(generate_series(lo, hi, INTERVAL 1 HOUR)) AS hb FROM span),
      |types AS (SELECT DISTINCT event_type FROM events),
      |series AS (
      |  SELECT s.hb, t.event_type, COALESCE(h.x, 0) AS x,
      |         CAST(hour(s.hb) AS BIGINT) AS hod
      |  FROM spine s CROSS JOIN types t
      |  LEFT JOIN hourly h ON h.hb = s.hb AND h.event_type = t.event_type),
      |stats AS (
      |  SELECT event_type, hod, CAST(count(*) AS BIGINT) AS nh,
      |         CAST(sum(x) AS BIGINT) AS sxh, CAST(sum(x * x) AS BIGINT) AS sqh
      |  FROM series GROUP BY 1, 2)
      |SELECT se.event_type, se.hb, se.hod, se.x
      |FROM series se JOIN stats st USING (event_type, hod)
      |WHERE (st.nh * se.x - st.sxh) * (st.nh * se.x - st.sxh)
      |    > 9 * (st.nh * st.sqh - st.sxh * st.sxh)
      |ORDER BY se.event_type, se.hb""".stripMargin

  /** Step-timeout funnel — the real-world variant of [[qFunnel]]: each
    * later step must occur within 48 h of the previous step's
    * timestamp, not just after it (inclusive bound on exact integer
    * µs, so boundary events land identically in both engines).
    */
  def qFunnelWindowed(events: DataFrame): DataFrame = {
    val winUs = 172800000000L // 48 h
    val v = events.filter(col("event_type") === "view")
      .groupBy(col("user_id")).agg(min(col("ts")).as("t_view"))
    val c = events.filter(col("event_type") === "click")
      .join(v, "user_id")
      .filter(col("ts") > col("t_view") &&
        unix_micros(col("ts")) <= unix_micros(col("t_view")) + winUs)
      .groupBy(col("user_id")).agg(min(col("ts")).as("t_click"))
    val p = events.filter(col("event_type") === "purchase")
      .join(c, "user_id")
      .filter(col("ts") > col("t_click") &&
        unix_micros(col("ts")) <= unix_micros(col("t_click")) + winUs)
      .groupBy(col("user_id")).agg(min(col("ts")).as("t_purchase"))
    v.join(c, Seq("user_id"), "left").join(p, Seq("user_id"), "left")
      .select(col("user_id"), col("t_view"), col("t_click"), col("t_purchase"),
        (lit(1L) + when(col("t_click").isNotNull, 1L).otherwise(0L)
          + when(col("t_purchase").isNotNull, 1L).otherwise(0L)).as("depth"))
      .orderBy(col("user_id"))
  }

  val qFunnelWindowedSql: String =
    """WITH v AS (SELECT user_id, min(ts) AS t_view FROM events
      |           WHERE event_type = 'view' GROUP BY user_id),
      |c AS (SELECT e.user_id, min(e.ts) AS t_click
      |      FROM events e JOIN v ON e.user_id = v.user_id
      |      WHERE e.event_type = 'click' AND e.ts > v.t_view
      |        AND epoch_us(e.ts) <= epoch_us(v.t_view) + 172800000000
      |      GROUP BY e.user_id),
      |p AS (SELECT e.user_id, min(e.ts) AS t_purchase
      |      FROM events e JOIN c ON e.user_id = c.user_id
      |      WHERE e.event_type = 'purchase' AND e.ts > c.t_click
      |        AND epoch_us(e.ts) <= epoch_us(c.t_click) + 172800000000
      |      GROUP BY e.user_id)
      |SELECT v.user_id, v.t_view, c.t_click, p.t_purchase,
      |       CAST(1 + CASE WHEN c.t_click IS NOT NULL THEN 1 ELSE 0 END
      |              + CASE WHEN p.t_purchase IS NOT NULL THEN 1 ELSE 0 END
      |            AS BIGINT) AS depth
      |FROM v LEFT JOIN c ON v.user_id = c.user_id
      |       LEFT JOIN p ON v.user_id = p.user_id
      |ORDER BY v.user_id""".stripMargin

  /** The window NAVIGATION family in one pass — first_value /
    * last_value (full frame) / nth_value(2) / lag / lead with defaults
    * — per user over (ts, event_id)-ordered events: "what did this
    * user do first, last, second, just before and just after each
    * event". Values ride the cents lattice; the unique event_id
    * tie-break makes every navigator deterministic.
    *
    * Scale shape: ONE user-partitioned sort serves all six navigators
    * (Spark evaluates them in a single Window node; full-frame
    * last_value needs the whole partition, which a per-user frame
    * bounds at session size, never corpus size).
    */
  def qWindowNav(events: DataFrame): DataFrame = {
    val w = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
    val full = w.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    val vc = round(col("value") * 100).cast("long")
    events
      .select(col("user_id"), col("ts"), col("event_id"), col("event_type"), vc.as("vc"))
      .select(col("user_id"), col("ts"), col("event_id"),
        first(col("event_type")).over(full).as("first_type"),
        last(col("event_type")).over(full).as("last_type"),
        nth_value(col("event_type"), 2).over(full).as("second_type"),
        lag(col("vc"), 1, 0L).over(w).as("prev_vc"),
        lead(col("vc"), 1, -1L).over(w).as("next_vc"))
      .orderBy(col("user_id"), col("ts"), col("event_id"))
  }

  val qWindowNavSql: String =
    """SELECT user_id, ts, event_id,
      |  first_value(event_type) OVER wf AS first_type,
      |  last_value(event_type) OVER wf AS last_type,
      |  nth_value(event_type, 2) OVER wf AS second_type,
      |  COALESCE(lag(CAST(round(value * 100) AS BIGINT), 1) OVER w, 0) AS prev_vc,
      |  COALESCE(lead(CAST(round(value * 100) AS BIGINT), 1) OVER w, -1) AS next_vc
      |FROM events
      |WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id),
      |       wf AS (PARTITION BY user_id ORDER BY ts, event_id
      |              ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)
      |ORDER BY user_id, ts, event_id""".stripMargin

  /** Hour-of-day seasonality profile over the gap-filled hourly series:
    * per (event type, hour-of-day 0–23) the observed-hour count, exact
    * total, micro-unit mean (integer floor division — engine-identical)
    * and the hour's rank within its type (value-based, hod tie-break) —
    * the load-shape table capacity planning and deseasonalized
    * monitoring both start from. Zero-filled gap hours participate (a
    * dead hour lowers its slot's mean, as it should).
    *
    * Scale shape: the profile is a 24×|types| aggregation over the
    * spine-joined series (map-side combined); the rank window runs on
    * those ≤24·|types| rows, not on raw events.
    */
  def qSeasonal(events: DataFrame): DataFrame = {
    val prof = filledHourlySeries(hourlyCounts(events))
      .groupBy(col("event_type"), hour(col("hb")).cast("long").as("hod"))
      .agg(count(lit(1)).as("n_hours"), sum(col("x")).as("sx"))
      .withColumn("mean_micro", expr("sx * 1000000 div n_hours"))
    prof.withColumn("rank_in_type",
        rank().over(Window.partitionBy(col("event_type"))
          .orderBy(col("mean_micro").desc, col("hod"))).cast("long"))
      .orderBy(col("event_type"), col("hod"))
  }

  val qSeasonalSql: String =
    """WITH hourly AS (
      |  SELECT date_trunc('hour', ts) AS hb, event_type, count(*) AS x
      |  FROM events GROUP BY 1, 2),
      |span AS (SELECT date_trunc('hour', min(ts)) AS lo,
      |                date_trunc('hour', max(ts)) AS hi FROM events),
      |spine AS (SELECT unnest(generate_series(lo, hi, INTERVAL 1 HOUR)) AS hb FROM span),
      |types AS (SELECT DISTINCT event_type FROM events),
      |series AS (
      |  SELECT s.hb, t.event_type, COALESCE(h.x, 0) AS x
      |  FROM spine s CROSS JOIN types t
      |  LEFT JOIN hourly h ON h.hb = s.hb AND h.event_type = t.event_type),
      |prof AS (
      |  SELECT event_type, CAST(hour(hb) AS BIGINT) AS hod,
      |         CAST(count(*) AS BIGINT) AS n_hours, CAST(sum(x) AS BIGINT) AS sx
      |  FROM series GROUP BY 1, 2)
      |SELECT event_type, hod, n_hours, sx,
      |       sx * 1000000 // n_hours AS mean_micro,
      |       CAST(rank() OVER (PARTITION BY event_type
      |                         ORDER BY sx * 1000000 // n_hours DESC, hod) AS BIGINT)
      |         AS rank_in_type
      |FROM prof
      |ORDER BY event_type, hod""".stripMargin

  private val EwmaH = 8 // truncation horizon: weights 2^8 … 2^0

  /** Truncated exponential smoothing (α = 1/2) of the gap-filled hourly
    * series: ewma_t = Σ_{j=0..8} x_{t−j}·2^{8−j} / Σ 2^{8−j} over the
    * available lags — the trend line next to [[qAnomaly]]'s flags. The
    * dyadic weights keep numerator and denominator EXACT 64-bit
    * integers (|num| ≤ 511·max x); only the final ratio is a double,
    * and a correctly-rounded division of identical exact integers is
    * engine-identical. Early rows (fewer than 9 lags) normalize over
    * the weights actually present.
    *
    * Scale shape: one hourly aggregation over raw events, then a
    * 9-lag bounded-frame window partitioned by event type —
    * partition-parallel, streaming-friendly (finite state), never a
    * global sort.
    */
  def qEwma(events: DataFrame): DataFrame = ewmaFromHourly(hourlyCounts(events))

  /** Smoothing from an (hb, event_type, x) hourly-count table — like
    * [[anomalyFromHourly]], the mergeable streaming seam: counts over
    * disjoint micro-batches sum to the whole, so a foreachBatch loop
    * maintains the hourly table and smooths from merged state
    * (EventsSpec proves streamed ≡ batch).
    */
  def ewmaFromHourly(hourly: DataFrame): DataFrame = {
    val w = Window.partitionBy(col("event_type")).orderBy(col("hb"))
    def lagj(j: Int) = if (j == 0) col("x") else lag(col("x"), j).over(w)
    val num = (0 to EwmaH).map { j =>
      when(lagj(j).isNull, lit(0L)).otherwise(lagj(j) * lit(1L << (EwmaH - j)))
    }.reduceLeft(_ + _)
    val den = (0 to EwmaH).map { j =>
      when(lagj(j).isNull, lit(0L)).otherwise(lit(1L << (EwmaH - j)))
    }.reduceLeft(_ + _)
    filledHourlySeries(hourly)
      .select(col("event_type"), col("hb"), col("x"),
        num.as("ewma_num"), den.as("ewma_den"))
      .withColumn("ewma", col("ewma_num").cast("double") / col("ewma_den").cast("double"))
      .orderBy(col("event_type"), col("hb"))
  }

  val qEwmaSql: String = {
    def lagj(j: Int) = if (j == 0) "x" else s"lag(x, $j) OVER w"
    val num = (0 to EwmaH).map { j =>
      s"CASE WHEN ${lagj(j)} IS NULL THEN 0 ELSE ${lagj(j)} * ${1L << (EwmaH - j)} END"
    }.mkString(" + ")
    val den = (0 to EwmaH).map { j =>
      s"CASE WHEN ${lagj(j)} IS NULL THEN 0 ELSE ${1L << (EwmaH - j)} END"
    }.mkString(" + ")
    s"""WITH hourly AS (
       |  SELECT date_trunc('hour', ts) AS hb, event_type, count(*) AS x
       |  FROM events GROUP BY 1, 2),
       |span AS (SELECT date_trunc('hour', min(ts)) AS lo,
       |                date_trunc('hour', max(ts)) AS hi FROM events),
       |spine AS (SELECT unnest(generate_series(lo, hi, INTERVAL 1 HOUR)) AS hb FROM span),
       |types AS (SELECT DISTINCT event_type FROM events),
       |series AS (
       |  SELECT s.hb, t.event_type, COALESCE(h.x, 0) AS x
       |  FROM spine s CROSS JOIN types t
       |  LEFT JOIN hourly h ON h.hb = s.hb AND h.event_type = t.event_type),
       |lagged AS (
       |  SELECT event_type, hb, x,
       |         CAST($num AS BIGINT) AS ewma_num,
       |         CAST($den AS BIGINT) AS ewma_den
       |  FROM series
       |  WINDOW w AS (PARTITION BY event_type ORDER BY hb)
       |)
       |SELECT event_type, hb, x, ewma_num, ewma_den,
       |       CAST(ewma_num AS DOUBLE) / CAST(ewma_den AS DOUBLE) AS ewma
       |FROM lagged
       |ORDER BY event_type, hb""".stripMargin
  }

  /** Ordered funnel: view → click → purchase, each step strictly AFTER
    * the previous step's first completion — the classic step-chained
    * conditional-min funnel. Partial funnels surface as NULL steps with
    * `depth` counting completed stages.
    *
    * Scale shape: every stage is a user-keyed aggregation after a
    * user-keyed join, so all shuffles share one partitioning and AQE
    * collapses the co-partitioned exchanges; step tables shrink
    * monotonically (only step-N completers reach stage N+1).
    */
  def qFunnel(events: DataFrame): DataFrame = {
    val v = events.filter(col("event_type") === "view")
      .groupBy(col("user_id")).agg(min(col("ts")).as("t_view"))
    val c = events.filter(col("event_type") === "click")
      .join(v, "user_id").filter(col("ts") > col("t_view"))
      .groupBy(col("user_id")).agg(min(col("ts")).as("t_click"))
    val p = events.filter(col("event_type") === "purchase")
      .join(c, "user_id").filter(col("ts") > col("t_click"))
      .groupBy(col("user_id")).agg(min(col("ts")).as("t_purchase"))
    v.join(c, Seq("user_id"), "left").join(p, Seq("user_id"), "left")
      .select(col("user_id"), col("t_view"), col("t_click"), col("t_purchase"),
        (lit(1L) + when(col("t_click").isNotNull, 1L).otherwise(0L)
          + when(col("t_purchase").isNotNull, 1L).otherwise(0L)).as("depth"))
      .orderBy(col("user_id"))
  }

  val qFunnelSql: String =
    """WITH v AS (SELECT user_id, min(ts) AS t_view FROM events
      |           WHERE event_type = 'view' GROUP BY user_id),
      |c AS (SELECT e.user_id, min(e.ts) AS t_click
      |      FROM events e JOIN v ON e.user_id = v.user_id
      |      WHERE e.event_type = 'click' AND e.ts > v.t_view
      |      GROUP BY e.user_id),
      |p AS (SELECT e.user_id, min(e.ts) AS t_purchase
      |      FROM events e JOIN c ON e.user_id = c.user_id
      |      WHERE e.event_type = 'purchase' AND e.ts > c.t_click
      |      GROUP BY e.user_id)
      |SELECT v.user_id, v.t_view, c.t_click, p.t_purchase,
      |       CAST(1 + CASE WHEN c.t_click IS NOT NULL THEN 1 ELSE 0 END
      |              + CASE WHEN p.t_purchase IS NOT NULL THEN 1 ELSE 0 END
      |            AS BIGINT) AS depth
      |FROM v LEFT JOIN c ON v.user_id = c.user_id
      |       LEFT JOIN p ON v.user_id = p.user_id
      |ORDER BY v.user_id""".stripMargin

  /** Retention cohorts: users grouped by first-signup day, counted as
    * retained on each later day they produced ANY event. Day numbers
    * are exact integer µs-epoch divisions (never float) on both
    * engines.
    *
    * Scale shape: cohort table and the distinct (user, day) activity
    * set are both user-keyed; the final (cohort, offset) aggregation is
    * map-side combined and bounded by cohorts × horizon, not events.
    */
  def qRetention(events: DataFrame): DataFrame = {
    val day = expr("unix_micros(ts) div 86400000000").as("day")
    val cohort = events.filter(col("event_type") === "signup")
      .select(col("user_id"), day)
      .groupBy(col("user_id")).agg(min(col("day")).as("cohort_day"))
    val activity = events.select(col("user_id"), day).distinct()
    activity.join(cohort, "user_id")
      .filter(col("day") >= col("cohort_day"))
      .select(col("cohort_day"), (col("day") - col("cohort_day")).as("day_offset"),
        col("user_id"))
      .groupBy(col("cohort_day"), col("day_offset"))
      .agg(countDistinct(col("user_id")).as("n_users"))
      .orderBy(col("cohort_day"), col("day_offset"))
  }

  val qRetentionSql: String =
    """WITH cohort AS (
      |  SELECT user_id, min(epoch_us(ts) // 86400000000) AS cohort_day
      |  FROM events WHERE event_type = 'signup' GROUP BY user_id
      |),
      |activity AS (SELECT DISTINCT user_id, epoch_us(ts) // 86400000000 AS day
      |             FROM events)
      |SELECT cohort_day, day - cohort_day AS day_offset,
      |       CAST(count(DISTINCT user_id) AS BIGINT) AS n_users
      |FROM activity JOIN cohort USING (user_id)
      |WHERE day >= cohort_day
      |GROUP BY cohort_day, day_offset
      |ORDER BY cohort_day, day_offset""".stripMargin

  /** Distribution-drift monitor: per epoch-aligned day, the total-
    * variation distance (as Σ|Δppm|, i.e. 2·TV in ppm) between the
    * day's event-type share distribution and the previous observed
    * day's — the "did the event mix shift" alarm a pipeline watches
    * before retraining on fresh data. Shares are exact ppm integers on
    * a dense (day × type) grid (absent types count 0), so the drift
    * sum is exact integer arithmetic in both engines.
    *
    * Scale shape: one map-side-combined groupBy(day, type) is the only
    * corpus-sized aggregation; the grid, lag window, and drift sum all
    * operate on (days × types) rows — bounded by the calendar, not the
    * event volume.
    *
    * Output: day (window start ts), n_events, l1_ppm.
    */
  def qEventDrift(events: DataFrame): DataFrame = {
    val c = events
      .select(expr("unix_micros(ts) div 86400000000").as("wd"), col("event_type"))
      .groupBy(col("wd"), col("event_type")).agg(count(lit(1)).as("cnt"))
    val tot = c.groupBy(col("wd")).agg(sum(col("cnt")).as("total"))
    val grid = c.select(col("wd")).distinct()
      .crossJoin(c.select(col("event_type")).distinct())
    val sh = grid.join(c, Seq("wd", "event_type"), "left")
      .join(tot, "wd")
      .select(col("wd"), col("event_type"),
        round(coalesce(col("cnt"), lit(0L)) * lit(1000000.0) / col("total"))
          .cast("long").as("p"))
    val byType = Window.partitionBy(col("event_type")).orderBy(col("wd"))
    sh.withColumn("pp", lag(col("p"), 1).over(byType))
      .filter(col("pp").isNotNull)
      .groupBy(col("wd"))
      .agg(sum(abs(col("p") - col("pp"))).as("l1_ppm"))
      .join(tot, "wd")
      .select(timestamp_micros(col("wd") * lit(86400000000L)).as("day"),
        col("total").as("n_events"), col("l1_ppm"))
      .orderBy("day")
  }

  val qEventDriftSql: String =
    """WITH c AS (
      |  SELECT epoch_us(ts) // 86400000000 AS wd, event_type,
      |         CAST(count(*) AS BIGINT) AS cnt
      |  FROM events GROUP BY wd, event_type
      |),
      |tot AS (SELECT wd, CAST(SUM(cnt) AS BIGINT) AS total FROM c GROUP BY wd),
      |grid AS (SELECT wd, event_type
      |         FROM (SELECT DISTINCT wd FROM c)
      |         CROSS JOIN (SELECT DISTINCT event_type FROM c)),
      |sh AS (
      |  SELECT g.wd, g.event_type,
      |         CAST(round(COALESCE(c.cnt, 0) * 1000000.0 / t.total) AS BIGINT) AS p
      |  FROM grid g
      |  LEFT JOIN c ON g.wd = c.wd AND g.event_type = c.event_type
      |  JOIN tot t ON g.wd = t.wd
      |),
      |lagged AS (
      |  SELECT wd, p, lag(p) OVER (PARTITION BY event_type ORDER BY wd) AS pp
      |  FROM sh
      |)
      |SELECT make_timestamp(l.wd * 86400000000) AS day, t.total AS n_events,
      |       CAST(SUM(abs(l.p - l.pp)) AS BIGINT) AS l1_ppm
      |FROM lagged l JOIN tot t ON l.wd = t.wd
      |WHERE l.pp IS NOT NULL
      |GROUP BY l.wd, t.total
      |ORDER BY day""".stripMargin

  /** Cohort LTV curves — the revenue companion to [[qRetention]]: per
    * signup-day cohort and day offset, that day's purchase revenue and
    * the cohort's CUMULATIVE revenue to date, all in exact integer
    * cents (day numbers are exact integer µs-epoch divisions; the
    * running sum partitions by cohort).
    *
    * Scale shape: cohort table and revenue events are user-keyed (one
    * shared shuffle); the (cohort, offset) aggregation is map-side
    * combined and bounded by cohorts × horizon; the cumulative window
    * runs on those bounded rows, partitioned per cohort — never a
    * global sort.
    */
  def qCohortLtv(events: DataFrame): DataFrame = {
    val day = expr("unix_micros(ts) div 86400000000").as("day")
    val cohort = events.filter(col("event_type") === "signup")
      .select(col("user_id"), day)
      .groupBy(col("user_id")).agg(min(col("day")).as("cohort_day"))
    val rev = events.filter(col("event_type") === "purchase")
      .select(col("user_id"), day, round(col("value") * 100).cast("long").as("cents"))
    val byDay = rev.join(cohort, "user_id")
      .filter(col("day") >= col("cohort_day"))
      .groupBy(col("cohort_day"), (col("day") - col("cohort_day")).as("day_offset"))
      .agg(sum(col("cents")).as("day_revenue_cents"),
        countDistinct(col("user_id")).as("n_buyers"))
    val w = Window.partitionBy(col("cohort_day")).orderBy(col("day_offset"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    byDay.withColumn("cum_revenue_cents", sum(col("day_revenue_cents")).over(w))
      .orderBy(col("cohort_day"), col("day_offset"))
  }

  val qCohortLtvSql: String =
    """WITH cohort AS (
      |  SELECT user_id, min(epoch_us(ts) // 86400000000) AS cohort_day
      |  FROM events WHERE event_type = 'signup' GROUP BY user_id),
      |rev AS (
      |  SELECT user_id, epoch_us(ts) // 86400000000 AS day,
      |         CAST(round(value * 100) AS BIGINT) AS cents
      |  FROM events WHERE event_type = 'purchase'),
      |byday AS (
      |  SELECT cohort_day, day - cohort_day AS day_offset,
      |         CAST(sum(cents) AS BIGINT) AS day_revenue_cents,
      |         CAST(count(DISTINCT user_id) AS BIGINT) AS n_buyers
      |  FROM rev JOIN cohort USING (user_id)
      |  WHERE day >= cohort_day
      |  GROUP BY 1, 2)
      |SELECT cohort_day, day_offset, day_revenue_cents, n_buyers,
      |       CAST(sum(day_revenue_cents) OVER (
      |         PARTITION BY cohort_day ORDER BY day_offset
      |         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
      |         AS cum_revenue_cents
      |FROM byday
      |ORDER BY cohort_day, day_offset""".stripMargin

  /** Top session paths: the full ordered event-type string of every
    * session (30-min-gap sessionization shared with [[qSessionize]]),
    * counted and ranked — the behavioral-motif report next to the
    * pairwise [[qTransitions]] matrix. Paths are reconstructed with a
    * deterministic (ts, event_id) struct sort inside the session
    * aggregate; the oracle uses DuckDB's ordered string_agg — different
    * machinery, same string.
    *
    * Scale shape: the window sort and the session aggregation share one
    * user partitioning; per-path counting is map-side combined (long
    * unique paths collapse to count 1 without skew — a path is at most
    * one session's events); top-k is TakeOrderedAndProject.
    */
  def qTopPaths(events: DataFrame): DataFrame = {
    sessionAssign(events)
      .groupBy(col("user_id"), col("session_id"))
      .agg(array_join(expr(
        "transform(array_sort(collect_list(struct(unix_micros(ts) AS us, event_id, event_type)))," +
          " x -> x.event_type)"), ">").as("path"))
      .groupBy(col("path"))
      .agg(count(lit(1)).as("n_sessions"))
      .orderBy(col("n_sessions").desc, col("path"))
      .limit(25)
  }

  val qTopPathsSql: String =
    s"""WITH se AS (
      |$sessionAssignSql
      |),
      |paths AS (
      |  SELECT user_id, session_id,
      |         string_agg(event_type, '>' ORDER BY ts, event_id) AS path
      |  FROM se GROUP BY 1, 2)
      |SELECT path, count(*) AS n_sessions
      |FROM paths GROUP BY 1
      |ORDER BY n_sessions DESC, path
      |LIMIT 25""".stripMargin

  /** Markov transition matrix over per-user event sequences: count and
    * integer-ppm share of each consecutive (from → to) event-type pair
    * — "after a view, where do users go next". Shares are exact
    * floor-ppm of all transitions leaving `from`, so the matrix is
    * engine-identical.
    *
    * Scale shape: ONE user-partitioned sort produces the lead pairs;
    * everything downstream is bounded by |types|² rows (map-side
    * combined), and the per-from totals join back broadcast — nothing
    * after the window scales with event volume.
    */
  def qTransitions(events: DataFrame): DataFrame = {
    val w = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
    val pairs = events
      .select(col("user_id"), col("ts"), col("event_id"), col("event_type"))
      .withColumn("to_type", lead(col("event_type"), 1).over(w))
      .filter(col("to_type").isNotNull)
      .groupBy(col("event_type").as("from_type"), col("to_type"))
      .agg(count(lit(1)).as("n_pairs"))
    val totals = pairs.groupBy(col("from_type")).agg(sum(col("n_pairs")).as("n_from"))
    pairs.join(broadcast(totals), "from_type")
      .select(col("from_type"), col("to_type"), col("n_pairs"),
        expr("n_pairs * 1000000 div n_from").as("share_ppm"))
      .orderBy(col("from_type"), col("to_type"))
  }

  val qTransitionsSql: String =
    """WITH seq AS (
      |  SELECT event_type AS from_type,
      |         lead(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id)
      |           AS to_type
      |  FROM events),
      |pairs AS (
      |  SELECT from_type, to_type, count(*) AS n_pairs
      |  FROM seq WHERE to_type IS NOT NULL GROUP BY 1, 2),
      |tot AS (SELECT from_type, CAST(sum(n_pairs) AS BIGINT) AS n_from
      |        FROM pairs GROUP BY 1)
      |SELECT p.from_type, p.to_type, p.n_pairs,
      |       p.n_pairs * 1000000 // t.n_from AS share_ppm
      |FROM pairs p JOIN tot t USING (from_type)
      |ORDER BY p.from_type, p.to_type""".stripMargin

  /** First/last-touch attribution: every purchase annotated with the
    * user's FIRST and MOST RECENT preceding touch (view or click) —
    * the marketing-attribution primitive. Both navigators read one
    * rows-framed window ending 1 row before the purchase, with the
    * unique event_id tiebreaker; revenue rides the cents lattice.
    *
    * Scale shape: a single user-partitioned sort serves all four
    * navigator columns (one Window node); no join, no second shuffle —
    * the purchase filter prunes AFTER the window but the frame is
    * bounded by per-user history, never corpus size.
    */
  def qAttribution(events: DataFrame): DataFrame = {
    val w = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val touch = col("event_type").isin("view", "click")
    events
      .select(col("user_id"), col("ts"), col("event_id"), col("event_type"),
        round(col("value") * 100).cast("long").as("revenue_cents"))
      .withColumn("first_touch",
        first(when(touch, col("event_type")), ignoreNulls = true).over(w))
      .withColumn("first_touch_ts",
        first(when(touch, col("ts")), ignoreNulls = true).over(w))
      .withColumn("last_touch",
        last(when(touch, col("event_type")), ignoreNulls = true).over(w))
      .withColumn("last_touch_ts",
        last(when(touch, col("ts")), ignoreNulls = true).over(w))
      .filter(col("event_type") === "purchase")
      .select(col("event_id"), col("user_id"), col("ts"), col("revenue_cents"),
        col("first_touch"), col("first_touch_ts"),
        col("last_touch"), col("last_touch_ts"))
      .orderBy(col("event_id"))
  }

  val qAttributionSql: String =
    """SELECT event_id, user_id, ts,
      |  CAST(round(value * 100) AS BIGINT) AS revenue_cents,
      |  first_value(CASE WHEN event_type IN ('view','click') THEN event_type END
      |              IGNORE NULLS) OVER w AS first_touch,
      |  first_value(CASE WHEN event_type IN ('view','click') THEN ts END
      |              IGNORE NULLS) OVER w AS first_touch_ts,
      |  last_value(CASE WHEN event_type IN ('view','click') THEN event_type END
      |             IGNORE NULLS) OVER w AS last_touch,
      |  last_value(CASE WHEN event_type IN ('view','click') THEN ts END
      |             IGNORE NULLS) OVER w AS last_touch_ts
      |FROM events
      |WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id
      |             ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
      |QUALIFY event_type = 'purchase'
      |ORDER BY event_id""".stripMargin

  private val AcfLags = Seq(1, 2, 3, 6, 12, 24)

  /** Lag-k autocorrelation of the gap-filled hourly count series (k ∈
    * 1,2,3,6,12,24) — the periodicity detector next to [[qSeasonal]]'s
    * profile: a daily-cyclic type shows acf(24) ≫ acf(12). All five
    * moment sums are exact 64-bit integers over the matched-pair range
    * (x is an hourly count; exact while n·Σx² < 2⁶³, i.e. hourly
    * counts ≲ 3·10⁶ — beyond that, lift the sums to DECIMAL(38,0));
    * the only doubles are the final numerator/denominator, each a cast
    * of an exact integer, so round(…, 6) is engine-identical (same
    * contract as the corr-matrix query).
    *
    * Scale shape: the series is |hours|×|types| (generated, not
    * scanned); one type-partitioned window computes all six lags in a
    * single pass; the stack explode is 6× that bounded series; the
    * moment agg is map-side combined into |types|×6 rows.
    */
  def qAutocorr(events: DataFrame): DataFrame = {
    val w = Window.partitionBy(col("event_type")).orderBy(col("hb"))
    val lagged = AcfLags.foldLeft(filledHourlySeries(hourlyCounts(events))) {
      (df, k) => df.withColumn(s"x_$k", lag(col("x"), k).over(w))
    }
    val stacked = lagged.select(col("event_type"), col("x"),
      expr(s"stack(${AcfLags.size}, " +
        AcfLags.map(k => s"CAST($k AS BIGINT), x_$k").mkString(", ") +
        ") AS (lag_k, x_lag)"))
      .filter(col("x_lag").isNotNull)
    stacked.groupBy(col("event_type"), col("lag_k"))
      .agg(count(lit(1)).as("n"), sum(col("x")).as("sx"), sum(col("x_lag")).as("sy"),
        sum(col("x") * col("x_lag")).as("sxy"),
        sum(col("x") * col("x")).as("sxx"),
        sum(col("x_lag") * col("x_lag")).as("syy"))
      // degenerate lags (a constant sub-series, e.g. lag ≈ series
      // length) have zero variance — acf is undefined there, and the
      // integer guard is engine-identical where a 0/0 is not
      .filter(col("n") * col("sxx") - col("sx") * col("sx") > 0 &&
        col("n") * col("syy") - col("sy") * col("sy") > 0)
      .select(col("event_type"), col("lag_k"), col("n"),
        round((col("n") * col("sxy") - col("sx") * col("sy")).cast(DoubleType) /
          sqrt((col("n") * col("sxx") - col("sx") * col("sx")).cast(DoubleType) *
            (col("n") * col("syy") - col("sy") * col("sy")).cast(DoubleType)), 6)
          .as("acf"))
      .orderBy(col("event_type"), col("lag_k"))
  }

  val qAutocorrSql: String = {
    val lagCols = AcfLags.map(k => s"lag(x, $k) OVER w AS x_$k").mkString(",\n      |         ")
    val arms = AcfLags.map(k =>
      s"SELECT event_type, CAST($k AS BIGINT) AS lag_k, x, x_$k AS x_lag FROM lagged")
      .mkString("\n      |  UNION ALL ")
    s"""WITH hourly AS (
      |  SELECT date_trunc('hour', ts) AS hb, event_type, count(*) AS x
      |  FROM events GROUP BY 1, 2),
      |span AS (SELECT date_trunc('hour', min(ts)) AS lo,
      |                date_trunc('hour', max(ts)) AS hi FROM events),
      |spine AS (SELECT unnest(generate_series(lo, hi, INTERVAL 1 HOUR)) AS hb FROM span),
      |types AS (SELECT DISTINCT event_type FROM events),
      |series AS (
      |  SELECT s.hb, t.event_type, COALESCE(h.x, 0) AS x
      |  FROM spine s CROSS JOIN types t
      |  LEFT JOIN hourly h ON h.hb = s.hb AND h.event_type = t.event_type),
      |lagged AS (
      |  SELECT event_type, x,
      |         $lagCols
      |  FROM series WINDOW w AS (PARTITION BY event_type ORDER BY hb)),
      |stacked AS (
      |  $arms),
      |m AS (
      |  SELECT event_type, lag_k, CAST(count(*) AS BIGINT) AS n,
      |         CAST(sum(x) AS BIGINT) AS sx, CAST(sum(x_lag) AS BIGINT) AS sy,
      |         CAST(sum(x * x_lag) AS BIGINT) AS sxy,
      |         CAST(sum(x * x) AS BIGINT) AS sxx,
      |         CAST(sum(x_lag * x_lag) AS BIGINT) AS syy
      |  FROM stacked WHERE x_lag IS NOT NULL GROUP BY 1, 2)
      |SELECT event_type, lag_k, n,
      |       round(CAST(n * sxy - sx * sy AS DOUBLE) /
      |         sqrt(CAST(n * sxx - sx * sx AS DOUBLE) *
      |              CAST(n * syy - sy * sy AS DOUBLE)), 6) AS acf
      |FROM m
      |WHERE n * sxx - sx * sx > 0 AND n * syy - sy * sy > 0
      |ORDER BY event_type, lag_k""".stripMargin
  }

  /** Pattern-INSTANCE extraction — the MATCH_RECOGNIZE-lite shape the
    * aggregate funnels can't answer: for every purchase, the matched
    * occurrence of `view → click+ → purchase` with NO error strictly
    * between the view and the purchase, emitting the concrete match
    * (which view event opened it, how many clicks it carried). "Most
    * recent qualifying view" semantics; positions (per-user
    * row_number over the unique (ts, event_id) order) replace
    * timestamps everywhere, so ties cannot make frames diverge
    * between engines. Two window layers + one co-partitioned
    * self-join on (user, position): one shuffle by user for the
    * windows, the join reuses the same key — nothing quadratic, state
    * bounded by |events|.
    *
    * Output: user_id, view_eid, purchase_eid, n_clicks (≥ 1), ordered
    * by purchase_eid.
    */
  def qPatternFunnel(events: DataFrame): DataFrame = {
    val w0 = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
    val s1 = events.select(col("user_id"), col("event_id"), col("event_type"), col("ts"))
      .withColumn("rn", row_number().over(w0))
      .withColumn("is_click", when(col("event_type") === "click", 1L).otherwise(0L))
      .drop("ts")
    val w = Window.partitionBy(col("user_id")).orderBy(col("rn"))
    val s2 = s1
      .withColumn("cum_clicks", sum(col("is_click")).over(w))
      .withColumn("last_view_rn",
        max(when(col("event_type") === "view", col("rn"))).over(w))
      .withColumn("last_error_rn",
        max(when(col("event_type") === "error", col("rn"))).over(w))
    val p = s2.filter(col("event_type") === "purchase" &&
      col("last_view_rn").isNotNull &&
      (col("last_error_rn").isNull || col("last_error_rn") < col("last_view_rn")))
    val v = s2.filter(col("event_type") === "view")
      .select(col("user_id"), col("rn").as("v_rn"),
        col("event_id").as("view_eid"), col("cum_clicks").as("v_cum"))
    p.join(v, p("user_id") === v("user_id") && p("last_view_rn") === v("v_rn"))
      .select(p("user_id"), col("view_eid"),
        p("event_id").as("purchase_eid"),
        (p("cum_clicks") - col("v_cum")).as("n_clicks"))
      .filter(col("n_clicks") >= 1)
      .orderBy("purchase_eid")
  }

  val qPatternFunnelSql: String =
    """WITH s1 AS (
      |  SELECT user_id, event_id, event_type,
      |         row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS rn,
      |         CASE WHEN event_type = 'click' THEN 1 ELSE 0 END AS is_click
      |  FROM events
      |),
      |s2 AS (
      |  SELECT *,
      |         CAST(sum(is_click) OVER w AS BIGINT) AS cum_clicks,
      |         max(CASE WHEN event_type = 'view' THEN rn END) OVER w AS last_view_rn,
      |         max(CASE WHEN event_type = 'error' THEN rn END) OVER w AS last_error_rn
      |  FROM s1
      |  WINDOW w AS (PARTITION BY user_id ORDER BY rn)
      |),
      |p AS (
      |  SELECT * FROM s2
      |  WHERE event_type = 'purchase' AND last_view_rn IS NOT NULL
      |    AND (last_error_rn IS NULL OR last_error_rn < last_view_rn)
      |),
      |v AS (
      |  SELECT user_id, rn AS v_rn, event_id AS view_eid, cum_clicks AS v_cum
      |  FROM s2 WHERE event_type = 'view'
      |)
      |SELECT p.user_id, v.view_eid, p.event_id AS purchase_eid,
      |       CAST(p.cum_clicks - v.v_cum AS BIGINT) AS n_clicks
      |FROM p JOIN v ON p.user_id = v.user_id AND p.last_view_rn = v.v_rn
      |WHERE p.cum_clicks - v.v_cum >= 1
      |ORDER BY purchase_eid""".stripMargin

  /** A/B conversion test: deterministic id-parity variant assignment
    * (the hash-bucket experiment split), per-user conversion =
    * above-average purchase spend — `cents·n_users > total_cents`, an
    * exact integer cross-multiplication on the cents lattice, so the
    * split is never degenerate and never touches a float mean. The 2×2
    * contingency cells feed exact integer-ppm rates and the Pearson
    * chi-square statistic with its 95% verdict; the chi-square is ONE
    * double expression over four exact BIGINT cells (products stay
    * well under 2^53), written with identical association both
    * engines — the [[Relational.qCorrMatrix]] playbook. Scale shape:
    * per-user spend is a map-side-combined groupBy on user_id; the
    * global total is a broadcast one-row frame; the 2×2 cells are one
    * partial-aggregated global agg — three mergeable aggregations, no
    * ordered pass anywhere.
    */
  def qAbTest(events: DataFrame): DataFrame = {
    // persisted: feeds BOTH the broadcast total and the cells — an
    // unpersisted plan scans events twice
    val spend = graft.operators.CachePool.track(events.groupBy(col("user_id"))
      .agg((sum(when(col("event_type") === "purchase", col("value"))
        .otherwise(lit(0d)).cast(DecimalType(18, 2))) * 100).cast("long").as("cents"))
      .withColumn("variant", col("user_id") % 2))
    val totals = spend.agg(sum(col("cents")).cast("long").as("tot"),
      count(lit(1)).as("nu"))
    val users = spend.crossJoin(broadcast(totals))
      .withColumn("converted", (col("cents") * col("nu") > col("tot")).cast("long"))
    users.agg(
      sum(when(col("variant") === 0 && col("converted") === 1, 1L).otherwise(0L)).as("a"),
      sum(when(col("variant") === 0 && col("converted") === 0, 1L).otherwise(0L)).as("b"),
      sum(when(col("variant") === 1 && col("converted") === 1, 1L).otherwise(0L)).as("c"),
      sum(when(col("variant") === 1 && col("converted") === 0, 1L).otherwise(0L)).as("d"))
      // nullif guards (r9 advice): a degenerate fixture (an empty
      // variant, or zero/all conversions) zeroes a marginal — the
      // unguarded forms then integer-divide by zero / produce NaN in
      // Spark while DuckDB errors or differs. NULL is the shared,
      // hash-stable answer both engines agree on, guarded identically
      // in the oracle SQL below.
      .selectExpr("a + b AS n_control", "a AS conv_control",
        "c + d AS n_treat", "c AS conv_treat",
        "a * 1000000 DIV nullif(a + b, 0) AS rate_control_ppm",
        "c * 1000000 DIV nullif(c + d, 0) AS rate_treat_ppm",
        "round(CAST(a + b + c + d AS DOUBLE) * CAST(a * d - b * c AS DOUBLE)" +
          " * CAST(a * d - b * c AS DOUBLE)" +
          " / nullif(CAST((a + b) * (c + d) AS DOUBLE) * CAST((a + c) * (b + d) AS DOUBLE), 0.0), 6)" +
          " AS chi2")
      .withColumn("significant", col("chi2") > lit(3.841459))
  }

  /** Two-sample Kolmogorov–Smirnov test between the id-parity
    * cohorts' per-user spend distributions — the distribution-level
    * companion of [[qAbTest]]'s conversion-rate cell test: did the
    * treatment shift spend ANYWHERE, not just at the mean?
    *
    * All exact integers until the verdict: per-distinct-cents cohort
    * counts, both empirical CDFs as range-bucketed running sums
    * ([[graft.operators.RangeRank.withRunningSum]] twice — no
    * single-partition window at any cents cardinality), the statistic
    * cross-multiplied as |F₀·n₁ − F₁·n₀| so no division exists, and
    * argmax-with-first-location as ONE lexicographic struct-max over
    * integer fields. The 95% verdict (c(α)=1.358102) is the only
    * double, computed identically both engines, NULL on an empty
    * cohort.
    */
  def qKsTest(events: DataFrame): DataFrame = {
    val spend = graft.operators.CachePool.track(events.groupBy(col("user_id"))
      .agg((sum(when(col("event_type") === "purchase", col("value"))
        .otherwise(lit(0d)).cast(DecimalType(18, 2))) * 100).cast("long").as("cents"))
      .withColumn("variant", col("user_id") % 2))
    val per = spend.groupBy(col("cents"))
      .agg(sum(when(col("variant") === 0, 1L).otherwise(0L)).as("c0"),
        sum(when(col("variant") === 1, 1L).otherwise(0L)).as("c1"))
    val tot = spend.agg(
      sum(when(col("variant") === 0, 1L).otherwise(0L)).as("n0"),
      sum(when(col("variant") === 1, 1L).otherwise(0L)).as("n1"))
    val d = graft.operators.RangeRank.withRunningSums(
        per, Seq(col("c0") -> "f0", col("c1") -> "f1"), col("cents"), Nil)
      .crossJoin(broadcast(tot))
      .withColumn("stat", abs(col("f0") * col("n1") - col("f1") * col("n0")))
    d.agg(max(col("n0")).as("n0"), max(col("n1")).as("n1"),
        max(struct(col("stat"), (lit(0L) - col("cents")).as("negc"))).as("m"))
      .selectExpr("n0", "n1", "m.stat AS d_scaled", "-m.negc AS d_at_cents",
        "m.stat * 1000000 DIV nullif(n0 * n1, 0) AS d_ppm",
        "CASE WHEN n0 = 0 OR n1 = 0 THEN NULL " +
          "ELSE CAST(m.stat AS DOUBLE) / (CAST(n0 AS DOUBLE) * n1) > " +
          "1.358102 * sqrt((CAST(n0 AS DOUBLE) + n1) / (CAST(n0 AS DOUBLE) * n1)) " +
          "END AS reject_95")
  }

  val qKsTestSql: String =
    """WITH u AS (
      |  SELECT user_id,
      |         CAST(sum(CAST(CASE WHEN event_type = 'purchase' THEN value ELSE 0 END
      |           AS DECIMAL(18,2))) * 100 AS BIGINT) AS cents,
      |         user_id % 2 AS variant
      |  FROM events GROUP BY user_id
      |),
      |per AS (
      |  SELECT cents,
      |         CAST(sum(CASE WHEN variant = 0 THEN 1 ELSE 0 END) AS BIGINT) AS c0,
      |         CAST(sum(CASE WHEN variant = 1 THEN 1 ELSE 0 END) AS BIGINT) AS c1
      |  FROM u GROUP BY cents
      |),
      |t AS (
      |  SELECT CAST(sum(CASE WHEN variant = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n0,
      |         CAST(sum(CASE WHEN variant = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n1
      |  FROM u
      |),
      |d AS (
      |  SELECT cents,
      |         abs(CAST(sum(c0) OVER (ORDER BY cents) AS BIGINT) * n1
      |             - CAST(sum(c1) OVER (ORDER BY cents) AS BIGINT) * n0) AS stat,
      |         n0, n1
      |  FROM per CROSS JOIN t
      |),
      |mx AS (SELECT max(stat) AS d_scaled FROM d)
      |SELECT n0, n1, d_scaled,
      |       (SELECT min(cents) FROM d WHERE stat = d_scaled) AS d_at_cents,
      |       d_scaled * 1000000 // nullif(n0 * n1, 0) AS d_ppm,
      |       CASE WHEN n0 = 0 OR n1 = 0 THEN NULL
      |            ELSE CAST(d_scaled AS DOUBLE) / (CAST(n0 AS DOUBLE) * n1) >
      |                 1.358102 * sqrt((CAST(n0 AS DOUBLE) + n1)
      |                                 / (CAST(n0 AS DOUBLE) * n1))
      |       END AS reject_95
      |FROM d CROSS JOIN mx
      |GROUP BY n0, n1, d_scaled
      |""".stripMargin

  /** Deterministic permutation test for the cohort spend difference —
    * the p-value companion of [[qBootstrap]]'s CI, same one-pass
    * machinery: 24 null replicates each reassign every user to a
    * pseudo-cohort by ONE bit of the salted md5, the observed and all
    * null mean-differences are exact micro integer ratios from 2 + 48
    * conditional sums in a single map-side-combined aggregation, and
    * the add-one two-sided p-value (1 + #{|null| ≥ |obs|}) / (B + 1)
    * lands on the exact ppm lattice. The id-parity "treatment" is
    * itself hash-like, so the expected p is uniform — the artifact's
    * value is the SHAPE: a population-scale permutation test with no
    * RNG state, no shuffling pass, and bit-identical reruns.
    */
  def qPermutation(events: DataFrame): DataFrame = {
    val B = 24
    val spend = events.groupBy(col("user_id"))
      .agg((sum(when(col("event_type") === "purchase", col("value"))
        .otherwise(lit(0d)).cast(DecimalType(18, 2))) * 100).cast("long").as("cents"))
      .withColumn("variant", col("user_id") % 2)
      .withColumn("h", expr(
        "CAST(conv(substring(md5(concat('perm:', CAST(user_id AS STRING))), 1, 15)," +
          " 16, 10) AS BIGINT)"))
    def bit(r: Int) = s"((h >> $r) & 1)"
    val aggs = Seq(
      sum(when(col("variant") === 0, col("cents")).otherwise(lit(0L))).as("s0"),
      sum(when(col("variant") === 0, 1L).otherwise(0L)).as("n0"),
      sum(when(col("variant") === 1, col("cents")).otherwise(lit(0L))).as("s1"),
      sum(when(col("variant") === 1, 1L).otherwise(0L)).as("n1")) ++
      (0 until B).flatMap(r => Seq(
        sum(expr(s"CASE WHEN ${bit(r)} = 0 THEN cents ELSE CAST(0 AS BIGINT) END"))
          .as(s"ps$r"),
        sum(expr(s"CASE WHEN ${bit(r)} = 0 THEN CAST(1 AS BIGINT)" +
          s" ELSE CAST(0 AS BIGINT) END")).as(s"pn$r")))
    def diff(sa: String, na: String, sb: String, nb: String) =
      s"CASE WHEN $na = 0 OR $nb = 0 THEN NULL" +
        s" ELSE ($sa * 10000 div $na) - ($sb * 10000 div $nb) END"
    val nullDiffs = (0 until B).map(r =>
      expr(diff(s"ps$r", s"pn$r", s"(s0 + s1 - ps$r)", s"(n0 + n1 - pn$r)")))
    spend.agg(aggs.head, aggs.tail: _*)
      .withColumn("obs_diff_micro", expr(diff("s0", "n0", "s1", "n1")))
      .withColumn("n_extreme",
        nullDiffs.map(d => when(abs(d) >= abs(col("obs_diff_micro")), 1L)
          .otherwise(0L)).reduce(_ + _))
      .selectExpr("n0 + n1 AS n_users", "obs_diff_micro", "n_extreme",
        s"(1 + n_extreme) * 1000000 div ${B + 1} AS p_ppm")
  }

  val qPermutationSql: String = {
    val B = 24
    def bit(r: Int) = s"((h >> $r) & 1)"
    val aggCols = (0 until B).map(r =>
      s"CAST(sum(CASE WHEN ${bit(r)} = 0 THEN cents ELSE CAST(0 AS BIGINT) END) AS BIGINT) AS ps$r, " +
        s"CAST(sum(CASE WHEN ${bit(r)} = 0 THEN CAST(1 AS BIGINT) ELSE CAST(0 AS BIGINT) END) AS BIGINT) AS pn$r")
      .mkString(",\n       ")
    def diff(sa: String, na: String, sb: String, nb: String) =
      s"CASE WHEN $na = 0 OR $nb = 0 THEN NULL" +
        s" ELSE ($sa * 10000 // $na) - ($sb * 10000 // $nb) END"
    val extremes = (0 until B).map(r =>
      s"CASE WHEN abs(${diff(s"ps$r", s"pn$r", s"(s0 + s1 - ps$r)", s"(n0 + n1 - pn$r)")})" +
        s" >= abs(obs_diff_micro) THEN 1 ELSE 0 END")
      .mkString(" +\n         ")
    s"""WITH u AS (
       |  SELECT user_id,
       |         CAST(sum(CAST(CASE WHEN event_type = 'purchase' THEN value ELSE 0 END
       |           AS DECIMAL(18,2))) * 100 AS BIGINT) AS cents,
       |         user_id % 2 AS variant,
       |         CAST('0x' || substring(md5('perm:' || CAST(user_id AS VARCHAR)), 1, 15)
       |              AS BIGINT) AS h
       |  FROM events GROUP BY user_id
       |),
       |agg AS (
       |  SELECT CAST(sum(CASE WHEN variant = 0 THEN cents ELSE 0 END) AS BIGINT) AS s0,
       |         CAST(sum(CASE WHEN variant = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n0,
       |         CAST(sum(CASE WHEN variant = 1 THEN cents ELSE 0 END) AS BIGINT) AS s1,
       |         CAST(sum(CASE WHEN variant = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n1,
       |       $aggCols
       |  FROM u
       |),
       |ob AS (
       |  SELECT *, ${diff("s0", "n0", "s1", "n1")} AS obs_diff_micro FROM agg
       |),
       |ex AS (
       |  SELECT n0 + n1 AS n_users, obs_diff_micro,
       |         CAST($extremes AS BIGINT) AS n_extreme
       |  FROM ob
       |)
       |SELECT n_users, obs_diff_micro, n_extreme,
       |       (1 + n_extreme) * 1000000 // ${B + 1} AS p_ppm
       |FROM ex""".stripMargin
  }

  /** Spearman rank correlation between per-user spend and per-user
    * activity — the tail-robust companion of q_corr_matrix's Pearson:
    * is "more active" monotonically "spends more"? Doubled midranks for
    * BOTH variables come from range-bucketed running sums over their
    * distinct-value tables (ties get exact midranks; the ×2 scale
    * cancels in ρ), the five moment sums accumulate as exact
    * DECIMAL(38,0), and ρ finishes as one NULL-guarded double
    * expression rounded to 6 dp.
    */
  def qSpearman(events: DataFrame): DataFrame = {
    val dec = DecimalType(38, 0)
    val u = graft.operators.CachePool.track(events.groupBy(col("user_id"))
      .agg((sum(when(col("event_type") === "purchase", col("value"))
        .otherwise(lit(0d)).cast(DecimalType(18, 2))) * 100).cast("long").as("cents"),
        count(lit(1)).as("n_ev")))
    def midranks(valCol: String): DataFrame = {
      val per = u.groupBy(col(valCol)).agg(count(lit(1)).as("cnt"))
      graft.operators.RangeRank.withRunningSum(
          per, col("cnt"), col(valCol), Nil, out = "run")
        .select(col(valCol),
          (lit(2L) * (col("run") - col("cnt")) + col("cnt") + lit(1L)).as(s"mr_$valCol"))
    }
    val j = u.join(midranks("cents"), "cents").join(midranks("n_ev"), "n_ev")
      .select(col("mr_cents").as("a"), col("mr_n_ev").as("b"))
    j.agg(count(lit(1)).as("n"),
        sum(col("a").cast(dec)).cast(dec).as("sa"),
        sum(col("b").cast(dec)).cast(dec).as("sb"),
        sum((col("a") * col("b")).cast(dec)).cast(dec).as("sab"),
        sum((col("a") * col("a")).cast(dec)).cast(dec).as("saa"),
        sum((col("b") * col("b")).cast(dec)).cast(dec).as("sbb"))
      .selectExpr("n",
        "CASE WHEN (CAST(n AS DOUBLE) * CAST(saa AS DOUBLE)" +
          " - CAST(sa AS DOUBLE) * CAST(sa AS DOUBLE)) *" +
          " (CAST(n AS DOUBLE) * CAST(sbb AS DOUBLE)" +
          " - CAST(sb AS DOUBLE) * CAST(sb AS DOUBLE)) <= 0.0 THEN NULL " +
          "ELSE round((CAST(n AS DOUBLE) * CAST(sab AS DOUBLE)" +
          " - CAST(sa AS DOUBLE) * CAST(sb AS DOUBLE))" +
          " / sqrt((CAST(n AS DOUBLE) * CAST(saa AS DOUBLE)" +
          " - CAST(sa AS DOUBLE) * CAST(sa AS DOUBLE)) *" +
          " (CAST(n AS DOUBLE) * CAST(sbb AS DOUBLE)" +
          " - CAST(sb AS DOUBLE) * CAST(sb AS DOUBLE))), 6) END AS rho")
  }

  val qSpearmanSql: String =
    """WITH u AS (
      |  SELECT user_id,
      |         CAST(sum(CAST(CASE WHEN event_type = 'purchase' THEN value ELSE 0 END
      |           AS DECIMAL(18,2))) * 100 AS BIGINT) AS cents,
      |         CAST(count(*) AS BIGINT) AS n_ev
      |  FROM events GROUP BY user_id
      |),
      |pc AS (SELECT cents, CAST(count(*) AS BIGINT) AS cnt FROM u GROUP BY cents),
      |mc AS (
      |  SELECT cents, 2 * (CAST(sum(cnt) OVER (ORDER BY cents) AS BIGINT) - cnt)
      |                + cnt + 1 AS mr_cents
      |  FROM pc
      |),
      |pe AS (SELECT n_ev, CAST(count(*) AS BIGINT) AS cnt FROM u GROUP BY n_ev),
      |me AS (
      |  SELECT n_ev, 2 * (CAST(sum(cnt) OVER (ORDER BY n_ev) AS BIGINT) - cnt)
      |               + cnt + 1 AS mr_n_ev
      |  FROM pe
      |),
      |j AS (
      |  SELECT mr_cents AS a, mr_n_ev AS b
      |  FROM u JOIN mc USING (cents) JOIN me USING (n_ev)
      |),
      |agg AS (
      |  SELECT CAST(count(*) AS BIGINT) AS n,
      |         CAST(sum(a) AS DECIMAL(38,0)) AS sa, CAST(sum(b) AS DECIMAL(38,0)) AS sb,
      |         CAST(sum(a * b) AS DECIMAL(38,0)) AS sab,
      |         CAST(sum(a * a) AS DECIMAL(38,0)) AS saa,
      |         CAST(sum(b * b) AS DECIMAL(38,0)) AS sbb
      |  FROM j
      |)
      |SELECT n,
      |       CASE WHEN (CAST(n AS DOUBLE) * CAST(saa AS DOUBLE)
      |                  - CAST(sa AS DOUBLE) * CAST(sa AS DOUBLE)) *
      |                 (CAST(n AS DOUBLE) * CAST(sbb AS DOUBLE)
      |                  - CAST(sb AS DOUBLE) * CAST(sb AS DOUBLE)) <= 0.0 THEN NULL
      |            ELSE round((CAST(n AS DOUBLE) * CAST(sab AS DOUBLE)
      |                        - CAST(sa AS DOUBLE) * CAST(sb AS DOUBLE))
      |                       / sqrt((CAST(n AS DOUBLE) * CAST(saa AS DOUBLE)
      |                               - CAST(sa AS DOUBLE) * CAST(sa AS DOUBLE)) *
      |                              (CAST(n AS DOUBLE) * CAST(sbb AS DOUBLE)
      |                               - CAST(sb AS DOUBLE) * CAST(sb AS DOUBLE))), 6)
      |       END AS rho
      |FROM agg""".stripMargin

  /** Winsorized mean spend per event type — the outlier-robust center
    * beside [[qMadOutliers]]' fence: values clamp to the exact
    * ⌈0.05·n⌉ and ⌈0.95·n⌉ ORDER STATISTICS (rank selection via
    * [[graft.operators.RangeRank.groupedRankSelect]] — only the
    * buckets holding the two cut ranks are window-ranked), then one
    * exact-cents conditional aggregation. Integer rank arithmetic
    * ⌈q·n⌉ = (q·n + 99) div 100 both engines; means as micro floor
    * divisions.
    */
  def qWinsorize(events: DataFrame): DataFrame = {
    val v = graft.operators.CachePool.track(
      events.select(col("event_type").as("grp"),
        expr("CAST(round(value * 100) AS BIGINT)").as("c")))
    val cutRanks = Seq("(5 * n + 99) div 100", "(95 * n + 99) div 100")
    val cuts = graft.operators.RangeRank
      .groupedRankSelect(v, Seq("grp"), col("c"), cutRanks)
      .groupBy(col("grp"))
      .agg(min(col("c")).as("lo_c"), max(col("c")).as("hi_c"))
    v.join(broadcast(cuts), "grp")
      .groupBy(col("grp"))
      .agg(count(lit(1)).as("n"), max(col("lo_c")).as("lo_c"),
        max(col("hi_c")).as("hi_c"),
        sum(greatest(col("lo_c"), least(col("hi_c"), col("c")))).as("wsum"),
        sum(when(col("c") < col("lo_c"), 1L).otherwise(0L)).as("n_low"),
        sum(when(col("c") > col("hi_c"), 1L).otherwise(0L)).as("n_high"))
      .selectExpr("grp", "n", "lo_c", "hi_c", "n_low", "n_high",
        "wsum * 10000 DIV n AS wmean_micro")
      .orderBy("grp")
  }

  val qWinsorizeSql: String =
    """WITH v AS (
      |  SELECT event_type AS grp, CAST(round(value * 100) AS BIGINT) AS c FROM events
      |),
      |r AS (
      |  SELECT grp, c,
      |         CAST(row_number() OVER (PARTITION BY grp ORDER BY c) AS BIGINT) AS rn,
      |         CAST(count(*) OVER (PARTITION BY grp) AS BIGINT) AS n
      |  FROM v
      |),
      |cuts AS (
      |  SELECT grp,
      |         min(CASE WHEN rn = (5 * n + 99) // 100 THEN c END) AS lo_c,
      |         max(CASE WHEN rn = (95 * n + 99) // 100 THEN c END) AS hi_c
      |  FROM r GROUP BY grp
      |)
      |SELECT grp, CAST(count(*) AS BIGINT) AS n, lo_c, hi_c,
      |       CAST(count(*) FILTER (WHERE c < lo_c) AS BIGINT) AS n_low,
      |       CAST(count(*) FILTER (WHERE c > hi_c) AS BIGINT) AS n_high,
      |       CAST(sum(greatest(lo_c, least(hi_c, c))) AS BIGINT) * 10000
      |         // CAST(count(*) AS BIGINT) AS wmean_micro
      |FROM v JOIN cuts USING (grp)
      |GROUP BY grp, lo_c, hi_c
      |ORDER BY grp""".stripMargin

  /** Hash-bootstrap confidence interval for mean user spend: 24
    * deterministic resampling replicates in ONE aggregation pass.
    * Replicate r's weight for a user is Binomial(2, ½) — two bits of
    * one salted md5 per user (60 bits → 24 replicates × 2, plus
    * headroom) — so every replicate mean is an exact integer ratio, the
    * whole thing is 48 conditional sums map-side combined, and reruns /
    * repartitions / engines agree bit for bit. The percentile CI reads
    * the 2nd and 23rd sorted replicate means (≈5%/95% of 24).
    * DOCUMENTED APPROXIMATION (contract, not surprise): true
    * multinomial resampling Poissonizes — each user's replicate weight
    * tends to Poisson(1) (mean 1, variance 1) as n grows. This
    * operator substitutes Binomial(2, ½) (mean 1, variance ½) so the
    * weight fits in two hash bits and the whole CI stays a
    * deterministic integer-lattice artifact. Variance ½ means every
    * replicate mean deviates from the point estimate by ≈1/√2 of a
    * true bootstrap replicate's deviation, so the raw percentile
    * interval UNDERSTATES sampling noise by ≈√2 (EventsSpec pins the
    * measured half-width ratio vs a true multinomial bootstrap at
    * small n). Callers needing calibrated coverage should scale the
    * half-widths by √2 (or re-derive with 3-bit Binomial(4,¼)·…
    * weights); callers comparing pipelines care about the
    * deterministic ORDERING, which is exact.
    */
  def qBootstrap(events: DataFrame): DataFrame = {
    val B = 24
    val spend = events.groupBy(col("user_id"))
      .agg((sum(when(col("event_type") === "purchase", col("value"))
        .otherwise(lit(0d)).cast(DecimalType(18, 2))) * 100).cast("long").as("cents"))
      .withColumn("h", expr(
        "CAST(conv(substring(md5(concat('boot:', CAST(user_id AS STRING))), 1, 15)," +
          " 16, 10) AS BIGINT)"))
    def wExpr(r: Int) = s"(((h >> ${2 * r}) & 1) + ((h >> ${2 * r + 1}) & 1))"
    val aggs = (0 until B).flatMap(r => Seq(
      sum(expr(s"${wExpr(r)} * cents")).as(s"ws$r"),
      sum(expr(wExpr(r))).as(s"w$r"))) ++
      Seq(count(lit(1)).as("n_users"), sum(col("cents")).as("sc"))
    val means = (0 until B).map(r =>
      expr(s"CASE WHEN w$r = 0 THEN CAST(0 AS BIGINT) ELSE ws$r * 10000 div w$r END"))
    spend.agg(aggs.head, aggs.tail: _*)
      .select(col("n_users"), expr("sc * 10000 div n_users").as("est_micro"),
        sort_array(array(means: _*)).as("ms"))
      .select(col("n_users"), col("est_micro"),
        element_at(col("ms"), 2).as("boot_lo_micro"),
        element_at(col("ms"), 23).as("boot_hi_micro"),
        lit(B.toLong).as("n_replicates"))
  }

  val qBootstrapSql: String = {
    val B = 24
    def w(r: Int) = s"(((h >> ${2 * r}) & 1) + ((h >> ${2 * r + 1}) & 1))"
    val aggCols = (0 until B).map(r =>
      s"CAST(sum(${w(r)} * cents) AS BIGINT) AS ws$r, CAST(sum(${w(r)}) AS BIGINT) AS w$r")
      .mkString(",\n       ")
    val meanList = (0 until B).map(r =>
      s"CASE WHEN w$r = 0 THEN CAST(0 AS BIGINT) ELSE ws$r * 10000 // w$r END")
      .mkString("[", ",\n       ", "]")
    s"""WITH u AS (
       |  SELECT user_id,
       |         CAST(sum(CAST(CASE WHEN event_type = 'purchase' THEN value ELSE 0 END
       |           AS DECIMAL(18,2))) * 100 AS BIGINT) AS cents
       |  FROM events GROUP BY user_id
       |),
       |h0 AS (
       |  SELECT cents,
       |         CAST('0x' || substring(md5('boot:' || CAST(user_id AS VARCHAR)), 1, 15)
       |              AS BIGINT) AS h
       |  FROM u
       |),
       |agg AS (
       |  SELECT CAST(count(*) AS BIGINT) AS n_users, CAST(sum(cents) AS BIGINT) AS sc,
       |       $aggCols
       |  FROM h0
       |),
       |fin AS (
       |  SELECT n_users, sc * 10000 // n_users AS est_micro,
       |         list_sort($meanList) AS ms
       |  FROM agg
       |)
       |SELECT n_users, est_micro, ms[2] AS boot_lo_micro, ms[23] AS boot_hi_micro,
       |       CAST($B AS BIGINT) AS n_replicates
       |FROM fin""".stripMargin
  }

  /** Mann–Whitney U between the id-parity cohorts' per-user spend —
    * the rank-sum two-sample test beside [[qKsTest]]'s CDF-distance
    * one (U detects stochastic dominance, KS any shape difference).
    * U = #{x₀ > x₁} + ½#{ties} via the same exact pair-count
    * construction as q_auc (per-distinct-cents cohort counts,
    * opposite-cohort-below from a range-bucketed running sum, doubled
    * U so the half-tie is integer). The normal-approximation z uses
    * the tie-corrected variance from exact DECIMAL sums; z and the
    * verdict are the only doubles, NULL-guarded on empty cohorts.
    */
  def qMannWhitney(events: DataFrame): DataFrame = {
    val dec = DecimalType(38, 0)
    val spend = graft.operators.CachePool.track(events.groupBy(col("user_id"))
      .agg((sum(when(col("event_type") === "purchase", col("value"))
        .otherwise(lit(0d)).cast(DecimalType(18, 2))) * 100).cast("long").as("cents"))
      .withColumn("variant", col("user_id") % 2))
    val per = graft.operators.CachePool.track(spend.groupBy(col("cents"))
      .agg(sum(when(col("variant") === 0, 1L).otherwise(0L)).as("c0"),
        sum(when(col("variant") === 1, 1L).otherwise(0L)).as("c1")))
    val tot = per.agg(sum(col("c0")).cast("long").as("n0"),
      sum(col("c1")).cast("long").as("n1"),
      sum(((col("c0") + col("c1")) * (col("c0") + col("c1")) * (col("c0") + col("c1"))
        - (col("c0") + col("c1"))).cast(dec)).cast(dec).as("tsum"))
    graft.operators.RangeRank.withRunningSum(
        per, col("c1"), col("cents"), Nil, out = "f1")
      .crossJoin(broadcast(tot))
      .agg(max(col("n0")).as("n0"), max(col("n1")).as("n1"),
        max(col("tsum")).as("tsum"),
        // doubled U: 2·(pairs where cohort0 strictly above) + ties
        sum(col("c0") * (col("f1") - col("c1")) * 2 + col("c0") * col("c1"))
          .cast("long").as("u_x2"))
      .selectExpr("n0", "n1", "u_x2",
        "u_x2 * 500000 DIV nullif(n0 * n1, 0) AS u_share_ppm",
        // z = (U − n0·n1/2) / σ, σ² = n0·n1/12·((n+1) − T/(n(n−1)))
        "CASE WHEN n0 = 0 OR n1 = 0 OR n0 + n1 < 2 OR " +
          "(CAST(n0 AS DOUBLE) + n1 + 1) - CAST(tsum AS DOUBLE) / " +
          "((CAST(n0 AS DOUBLE) + n1) * (CAST(n0 AS DOUBLE) + n1 - 1)) <= 0.0 " +
          "THEN NULL ELSE round(" +
          "(CAST(u_x2 AS DOUBLE) / 2.0 - CAST(n0 AS DOUBLE) * n1 / 2.0) / " +
          "sqrt(CAST(n0 AS DOUBLE) * n1 / 12.0 * " +
          "((CAST(n0 AS DOUBLE) + n1 + 1) - CAST(tsum AS DOUBLE) / " +
          "((CAST(n0 AS DOUBLE) + n1) * (CAST(n0 AS DOUBLE) + n1 - 1)))), 6) END AS z",
        "CASE WHEN n0 = 0 OR n1 = 0 OR n0 + n1 < 2 OR " +
          "(CAST(n0 AS DOUBLE) + n1 + 1) - CAST(tsum AS DOUBLE) / " +
          "((CAST(n0 AS DOUBLE) + n1) * (CAST(n0 AS DOUBLE) + n1 - 1)) <= 0.0 " +
          "THEN NULL ELSE abs(" +
          "(CAST(u_x2 AS DOUBLE) / 2.0 - CAST(n0 AS DOUBLE) * n1 / 2.0) / " +
          "sqrt(CAST(n0 AS DOUBLE) * n1 / 12.0 * " +
          "((CAST(n0 AS DOUBLE) + n1 + 1) - CAST(tsum AS DOUBLE) / " +
          "((CAST(n0 AS DOUBLE) + n1) * (CAST(n0 AS DOUBLE) + n1 - 1))))) > 1.959964 " +
          "END AS reject_95")
  }

  val qMannWhitneySql: String =
    """WITH u AS (
      |  SELECT user_id,
      |         CAST(sum(CAST(CASE WHEN event_type = 'purchase' THEN value ELSE 0 END
      |           AS DECIMAL(18,2))) * 100 AS BIGINT) AS cents,
      |         user_id % 2 AS variant
      |  FROM events GROUP BY user_id
      |),
      |per AS (
      |  SELECT cents,
      |         CAST(sum(CASE WHEN variant = 0 THEN 1 ELSE 0 END) AS BIGINT) AS c0,
      |         CAST(sum(CASE WHEN variant = 1 THEN 1 ELSE 0 END) AS BIGINT) AS c1
      |  FROM u GROUP BY cents
      |),
      |t AS (
      |  SELECT CAST(sum(c0) AS BIGINT) AS n0, CAST(sum(c1) AS BIGINT) AS n1,
      |         CAST(sum((c0 + c1) * (c0 + c1) * (c0 + c1) - (c0 + c1))
      |              AS DECIMAL(38,0)) AS tsum
      |  FROM per
      |),
      |f AS (
      |  SELECT cents, c0, c1, CAST(sum(c1) OVER (ORDER BY cents) AS BIGINT) AS f1
      |  FROM per
      |),
      |agg AS (
      |  SELECT max(n0) AS n0, max(n1) AS n1, max(tsum) AS tsum,
      |         CAST(sum(c0 * (f1 - c1) * 2 + c0 * c1) AS BIGINT) AS u_x2
      |  FROM f CROSS JOIN t
      |)
      |SELECT n0, n1, u_x2,
      |       u_x2 * 500000 // nullif(n0 * n1, 0) AS u_share_ppm,
      |       CASE WHEN n0 = 0 OR n1 = 0 OR n0 + n1 < 2 OR
      |                 (CAST(n0 AS DOUBLE) + n1 + 1) - CAST(tsum AS DOUBLE) /
      |                 ((CAST(n0 AS DOUBLE) + n1) * (CAST(n0 AS DOUBLE) + n1 - 1)) <= 0.0
      |            THEN NULL ELSE round(
      |         (CAST(u_x2 AS DOUBLE) / 2.0 - CAST(n0 AS DOUBLE) * n1 / 2.0) /
      |         sqrt(CAST(n0 AS DOUBLE) * n1 / 12.0 *
      |              ((CAST(n0 AS DOUBLE) + n1 + 1) - CAST(tsum AS DOUBLE) /
      |               ((CAST(n0 AS DOUBLE) + n1) * (CAST(n0 AS DOUBLE) + n1 - 1)))), 6)
      |       END AS z,
      |       CASE WHEN n0 = 0 OR n1 = 0 OR n0 + n1 < 2 OR
      |                 (CAST(n0 AS DOUBLE) + n1 + 1) - CAST(tsum AS DOUBLE) /
      |                 ((CAST(n0 AS DOUBLE) + n1) * (CAST(n0 AS DOUBLE) + n1 - 1)) <= 0.0
      |            THEN NULL ELSE abs(
      |         (CAST(u_x2 AS DOUBLE) / 2.0 - CAST(n0 AS DOUBLE) * n1 / 2.0) /
      |         sqrt(CAST(n0 AS DOUBLE) * n1 / 12.0 *
      |              ((CAST(n0 AS DOUBLE) + n1 + 1) - CAST(tsum AS DOUBLE) /
      |               ((CAST(n0 AS DOUBLE) + n1) * (CAST(n0 AS DOUBLE) + n1 - 1))))) > 1.959964
      |       END AS reject_95
      |FROM agg""".stripMargin

  /** One-way ANOVA of event value across event types: does ANY type
    * have a different mean spend, the k-group generalization of the
    * two-cohort tests. Per-group exact moments on the cents lattice
    * (n, Σx, Σx² as DECIMAL(38,0) — order-free), then F and the eta²
    * effect share finish as ONE double expression each from the exact
    * sums (the corr-matrix contract), NULL-guarded for k ≤ 1, N ≤ k
    * and zero within-variance. One map-side-combined aggregation over
    * events + a k-row finish — no joins, no windows.
    */
  def qAnova(events: DataFrame): DataFrame = {
    val dec = DecimalType(38, 0)
    val cents = expr("CAST(round(value * 100) AS BIGINT)")
    val g = events.select(col("event_type").as("grp"), cents.as("c"))
      .groupBy(col("grp"))
      .agg(count(lit(1)).as("ng"), sum(col("c").cast(dec)).cast(dec).as("sg"),
        sum((col("c") * col("c")).cast(dec)).cast(dec).as("qg"))
    // each group's Sg²/ng rounds to the integer cents² lattice BEFORE
    // the sum (a float sum over groups would be accumulation-order
    // dependent); the sums are then exact and order-free
    g.agg(count(lit(1)).as("k"), sum(col("ng")).cast("long").as("n"),
        sum(col("sg")).cast(dec).as("s"), sum(col("qg")).cast(dec).as("q"),
        sum(expr("CAST(round(CAST(sg AS DOUBLE) * CAST(sg AS DOUBLE)" +
          " / CAST(ng AS DOUBLE)) AS DECIMAL(38,0))")).cast(dec).as("sb_sum"))
      .selectExpr("k", "n",
        // SSB = Σ Sg²/ng − S²/N, SSW = Q − Σ Sg²/ng (cents² units)
        "CAST(sb_sum AS DOUBLE) - CAST(s AS DOUBLE) * CAST(s AS DOUBLE) / n AS ssb",
        "CAST(q AS DOUBLE) - CAST(sb_sum AS DOUBLE) AS ssw")
      .selectExpr("k", "n",
        "CASE WHEN k <= 1 OR n <= k OR ssw <= 0.0 THEN NULL " +
          "ELSE round(ssb / (k - 1) / (ssw / (n - k)), 6) END AS f_stat",
        "CASE WHEN ssb + ssw <= 0.0 THEN NULL " +
          "ELSE CAST(round(ssb / (ssb + ssw) * 1000000.0) AS BIGINT) END AS eta2_ppm")
  }

  /** Kruskal–Wallis rank test of spend across event types — the
    * nonparametric companion of [[qAnova]] (rank sums instead of
    * means, robust to the heavy spend tail). Doubled midranks
    * 2·before + t + 1 come exactly from a range-bucketed running sum
    * over the distinct-cents table; per-group rank sums are exact
    * BIGINTs; each group's R²g/(4·ng) rounds to the integer lattice
    * before the order-free DECIMAL sum (the [[qAnova]] playbook); the
    * tie-corrected H finishes as one double expression, NULL-guarded
    * (k ≤ 1, n ≤ k, or all values tied → correction 0).
    */
  def qKruskal(events: DataFrame): DataFrame = {
    val dec = DecimalType(38, 0)
    val v = graft.operators.CachePool.track(
      events.select(col("event_type").as("grp"),
        expr("CAST(round(value * 100) AS BIGINT)").as("c")))
    val perC = graft.operators.CachePool.track(
      v.groupBy(col("c")).agg(count(lit(1)).as("cnt")))
    val mid = graft.operators.RangeRank.withRunningSum(
        perC, col("cnt"), col("c"), Nil, out = "run")
      .select(col("c"),
        (lit(2L) * (col("run") - col("cnt")) + col("cnt") + lit(1L)).as("mr2"))
    val rg = v.groupBy(col("grp"), col("c")).agg(count(lit(1)).as("cg"))
      .join(mid, "c")
      .groupBy(col("grp"))
      .agg(sum(col("cg")).cast("long").as("ng"),
        sum(col("cg") * col("mr2")).cast("long").as("rg2"))
    val tie = perC.agg(
      sum((col("cnt") * col("cnt") * col("cnt") - col("cnt")).cast(dec))
        .cast(dec).as("tsum"))
    rg.agg(count(lit(1)).as("k"), sum(col("ng")).cast("long").as("n"),
        // ×4 lattice: rg2² = (2Rg)², so rg2²/ng = 4·Rg²/ng — integer
        // whenever ng | rg2² and within ¼ unit otherwise; the ÷4 folds
        // into the finish (12/4 = 3)
        sum(expr("CAST(round(CAST(rg2 AS DOUBLE) * CAST(rg2 AS DOUBLE)" +
          " / CAST(ng AS DOUBLE)) AS DECIMAL(38,0))")).cast(dec).as("rsum"))
      .crossJoin(broadcast(tie))
      .selectExpr("k", "n",
        "CASE WHEN k <= 1 OR n <= k OR " +
          "(1.0 - CAST(tsum AS DOUBLE) / (CAST(n AS DOUBLE) * n * n - n)) <= 0.0 " +
          "THEN NULL ELSE round(" +
          "(3.0 / (CAST(n AS DOUBLE) * (n + 1)) * CAST(rsum AS DOUBLE) - 3.0 * (n + 1))" +
          " / (1.0 - CAST(tsum AS DOUBLE) / (CAST(n AS DOUBLE) * n * n - n)), 6) " +
          "END AS h_stat")
  }

  val qKruskalSql: String =
    """WITH v AS (
      |  SELECT event_type AS grp, CAST(round(value * 100) AS BIGINT) AS c FROM events
      |),
      |perc AS (SELECT c, CAST(count(*) AS BIGINT) AS cnt FROM v GROUP BY c),
      |mid AS (
      |  SELECT c, 2 * (CAST(sum(cnt) OVER (ORDER BY c) AS BIGINT) - cnt) + cnt + 1 AS mr2
      |  FROM perc
      |),
      |pergc AS (SELECT grp, c, CAST(count(*) AS BIGINT) AS cg FROM v GROUP BY grp, c),
      |rg AS (
      |  SELECT grp, CAST(sum(cg) AS BIGINT) AS ng, CAST(sum(cg * mr2) AS BIGINT) AS rg2
      |  FROM pergc JOIN mid USING (c) GROUP BY grp
      |),
      |tie AS (SELECT CAST(sum(cnt*cnt*cnt - cnt) AS DECIMAL(38,0)) AS tsum FROM perc),
      |t AS (
      |  SELECT CAST(count(*) AS BIGINT) AS k, CAST(sum(ng) AS BIGINT) AS n,
      |         CAST(sum(CAST(round(CAST(rg2 AS DOUBLE) * CAST(rg2 AS DOUBLE)
      |                            / CAST(ng AS DOUBLE)) AS DECIMAL(38,0)))
      |              AS DECIMAL(38,0)) AS rsum
      |  FROM rg
      |)
      |SELECT k, n,
      |       CASE WHEN k <= 1 OR n <= k OR
      |                 (1.0 - CAST(tsum AS DOUBLE)
      |                        / (CAST(n AS DOUBLE) * n * n - n)) <= 0.0
      |            THEN NULL
      |            ELSE round((3.0 / (CAST(n AS DOUBLE) * (n + 1)) * CAST(rsum AS DOUBLE)
      |                        - 3.0 * (n + 1))
      |                       / (1.0 - CAST(tsum AS DOUBLE)
      |                                / (CAST(n AS DOUBLE) * n * n - n)), 6)
      |       END AS h_stat
      |FROM t CROSS JOIN tie""".stripMargin

  val qAnovaSql: String =
    """WITH g AS (
      |  SELECT event_type AS grp, CAST(count(*) AS BIGINT) AS ng,
      |         CAST(sum(CAST(round(value * 100) AS BIGINT)) AS DECIMAL(38,0)) AS sg,
      |         CAST(sum(CAST(round(value * 100) AS BIGINT)
      |                  * CAST(round(value * 100) AS BIGINT)) AS DECIMAL(38,0)) AS qg
      |  FROM events GROUP BY event_type
      |),
      |t AS (
      |  SELECT CAST(count(*) AS BIGINT) AS k, CAST(sum(ng) AS BIGINT) AS n,
      |         CAST(sum(sg) AS DECIMAL(38,0)) AS s, CAST(sum(qg) AS DECIMAL(38,0)) AS q,
      |         CAST(sum(CAST(round(CAST(sg AS DOUBLE) * CAST(sg AS DOUBLE)
      |                            / CAST(ng AS DOUBLE)) AS DECIMAL(38,0)))
      |              AS DECIMAL(38,0)) AS sb_sum
      |  FROM g
      |),
      |p AS (
      |  SELECT k, n,
      |         CAST(sb_sum AS DOUBLE) - CAST(s AS DOUBLE) * CAST(s AS DOUBLE) / n AS ssb,
      |         CAST(q AS DOUBLE) - CAST(sb_sum AS DOUBLE) AS ssw
      |  FROM t
      |)
      |SELECT k, n,
      |       CASE WHEN k <= 1 OR n <= k OR ssw <= 0.0 THEN NULL
      |            ELSE round(ssb / (k - 1) / (ssw / (n - k)), 6) END AS f_stat,
      |       CASE WHEN ssb + ssw <= 0.0 THEN NULL
      |            ELSE CAST(round(ssb / (ssb + ssw) * 1000000.0) AS BIGINT)
      |       END AS eta2_ppm
      |FROM p""".stripMargin

  val qAbTestSql: String =
    """WITH u AS (
      |  SELECT user_id,
      |         CAST(sum(CAST(CASE WHEN event_type = 'purchase' THEN value ELSE 0 END
      |           AS DECIMAL(18,2))) * 100 AS BIGINT) AS cents,
      |         user_id % 2 AS variant
      |  FROM events GROUP BY user_id
      |),
      |t AS (SELECT CAST(sum(cents) AS BIGINT) AS tot, CAST(count(*) AS BIGINT) AS nu FROM u),
      |c0 AS (
      |  SELECT user_id, variant,
      |         CASE WHEN cents * nu > tot THEN 1 ELSE 0 END AS converted
      |  FROM u CROSS JOIN t
      |),
      |cells AS (
      |  SELECT
      |    CAST(sum(CASE WHEN variant = 0 AND converted = 1 THEN 1 ELSE 0 END) AS BIGINT) AS a,
      |    CAST(sum(CASE WHEN variant = 0 AND converted = 0 THEN 1 ELSE 0 END) AS BIGINT) AS b,
      |    CAST(sum(CASE WHEN variant = 1 AND converted = 1 THEN 1 ELSE 0 END) AS BIGINT) AS c,
      |    CAST(sum(CASE WHEN variant = 1 AND converted = 0 THEN 1 ELSE 0 END) AS BIGINT) AS d
      |  FROM c0
      |)
      |SELECT *, chi2 > 3.841459 AS significant FROM (
      |  SELECT a + b AS n_control, a AS conv_control,
      |         c + d AS n_treat, c AS conv_treat,
      |         a * 1000000 // nullif(a + b, 0) AS rate_control_ppm,
      |         c * 1000000 // nullif(c + d, 0) AS rate_treat_ppm,
      |         round(CAST(a + b + c + d AS DOUBLE) * CAST(a * d - b * c AS DOUBLE)
      |           * CAST(a * d - b * c AS DOUBLE)
      |           / nullif(CAST((a + b) * (c + d) AS DOUBLE) * CAST((a + c) * (b + d) AS DOUBLE), 0.0), 6)
      |           AS chi2
      |  FROM cells
      |)""".stripMargin

  /** Robust outlier detection via the median absolute deviation — the
    * heavy-tail-safe sibling of [[qAnomaly]]'s mean/sigma gate (a few
    * extreme values can't move the fence). Entirely on integer
    * lattices: medians use the parity-free `x[(n-1) div 2] + x[n div 2]`
    * doubled form over exact cents, deviations ride a x2 lattice, the
    * MAD a x4 lattice, and the 3·1.4826·MAD fence is one exact integer
    * cross-multiplication (20000·d > 44478·mad_x4).
    *
    * Plan shape (r13): ONE corpus pass total. `value` is a 2-dp money
    * column, so the per-type cent HISTOGRAM is bounded by the value
    * lattice (≤ ~56k rows per type at ANY corpus size — the same
    * bounded-domain argument as the frequency rollups). The corpus
    * map-side-combines into that histogram once; both medians, the
    * deviation histogram and the fence count are then order statistics
    * / predicates over the tiny histogram — the previous shape ran two
    * full groupedRankSelect passes (≈7 corpus scans + 2 cache writes)
    * for the same answer. Windows are per-(type) over histogram rows:
    * lattice-bounded, never corpus-bounded.
    */
  def qMadOutliers(events: DataFrame): DataFrame = {
    // localCheckpoint, not CachePool: FOUR consumers hang off the
    // histogram under one action — the two-branch cache race (r12)
    // would re-run the corpus aggregate per branch
    val hist = events
      .groupBy(col("event_type").as("grp"),
        expr("CAST(round(value * 100) AS BIGINT)").as("c"))
      .agg(count(lit(1)).as("f"))
      .localCheckpoint(true)
    val n = hist.groupBy("grp").agg(sum(col("f")).as("n"))

    // doubled order-statistic over a (grp, value, frequency) histogram:
    // rank r's value is the row where cum−f < r ≤ cum; summing
    // value·hits over both median ranks is the parity-free doubled
    // median (both ranks in one row → hits = 2)
    def doubledMedian(h: DataFrame, valueCol: String, out: String): DataFrame = {
      val wcum = Window.partitionBy(col("grp")).orderBy(col(valueCol))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      h.withColumn("cum", sum(col("f")).over(wcum))
        .join(broadcast(n), "grp")
        .withColumn("r1", expr("(n - 1) div 2 + 1"))
        .withColumn("r2", expr("n div 2 + 1"))
        .withColumn("hits",
          when(col("r1") > col("cum") - col("f") && col("r1") <= col("cum"), 1L).otherwise(0L) +
            when(col("r2") > col("cum") - col("f") && col("r2") <= col("cum"), 1L).otherwise(0L))
        .groupBy(col("grp"))
        .agg(sum(col(valueCol) * col("hits")).cast("long").as(out))
    }

    val med = doubledMedian(hist, "c", "med_x2")
    val dHist = hist.join(broadcast(med), "grp")
      .groupBy(col("grp"), abs(col("c") * 2 - col("med_x2")).as("d"))
      .agg(sum(col("f")).as("f"))
    val mad = doubledMedian(dHist, "d", "mad_x4")
    hist.join(broadcast(med), "grp")
      .withColumn("d", abs(col("c") * 2 - col("med_x2")))
      .join(broadcast(mad), "grp")
      .groupBy(col("grp"))
      .agg(sum(col("f")).as("n"),
        max(col("med_x2")).as("med_x2"), max(col("mad_x4")).as("mad_x4"),
        sum(when(col("d") * 20000 > col("mad_x4") * 44478, col("f")).otherwise(0L))
          .as("n_outliers"))
      .withColumn("outlier_ppm", expr("n_outliers * 1000000 div n"))
      .orderBy("grp")
  }

  val qMadOutliersSql: String =
    """WITH v AS (SELECT event_type AS grp,
      |                  CAST(round(value * 100) AS BIGINT) AS c FROM events),
      |n AS (SELECT grp, CAST(count(*) AS BIGINT) AS n FROM v GROUP BY grp),
      |r AS (SELECT grp, c,
      |             CAST(row_number() OVER (PARTITION BY grp ORDER BY c) AS BIGINT) AS rn
      |      FROM v),
      |med AS (
      |  SELECT grp, CAST(CASE WHEN count(*) = 1 THEN sum(c) * 2 ELSE sum(c) END AS BIGINT)
      |           AS med_x2
      |  FROM r JOIN n USING (grp)
      |  WHERE rn = (n - 1) // 2 + 1 OR rn = n // 2 + 1
      |  GROUP BY grp),
      |d AS (SELECT v.grp, abs(v.c * 2 - med.med_x2) AS d, med.med_x2
      |      FROM v JOIN med ON v.grp = med.grp),
      |rd AS (SELECT grp, d, med_x2,
      |              CAST(row_number() OVER (PARTITION BY grp ORDER BY d) AS BIGINT) AS rn
      |       FROM d),
      |mad AS (
      |  SELECT grp, CAST(CASE WHEN count(*) = 1 THEN sum(d) * 2 ELSE sum(d) END AS BIGINT)
      |           AS mad_x4
      |  FROM rd JOIN n USING (grp)
      |  WHERE rn = (n - 1) // 2 + 1 OR rn = n // 2 + 1
      |  GROUP BY grp)
      |SELECT d.grp, CAST(count(*) AS BIGINT) AS n,
      |       max(d.med_x2) AS med_x2, max(mad.mad_x4) AS mad_x4,
      |       CAST(sum(CASE WHEN d.d * 20000 > mad.mad_x4 * 44478 THEN 1 ELSE 0 END)
      |            AS BIGINT) AS n_outliers,
      |       CAST(sum(CASE WHEN d.d * 20000 > mad.mad_x4 * 44478 THEN 1 ELSE 0 END)
      |            AS BIGINT) * 1000000
      |         // CAST(count(*) AS BIGINT) AS outlier_ppm
      |FROM d JOIN mad ON d.grp = mad.grp
      |GROUP BY d.grp
      |ORDER BY d.grp""".stripMargin

  /** Per-user interval-union coverage: each event opens a 5-minute
    * activity window; overlaps merge via the classic prefix-max sweep
    * (running max of interval ends per user, contribution =
    * max(0, end − max(start, prev_max_end))) — total covered time
    * without materializing merged intervals. Exact integer µs; windows
    * per user only.
    */
  def qIntervalUnion(events: DataFrame): DataFrame = {
    val winUs = 300L * 1000000L
    val iv = events.select(col("user_id"), col("event_id"),
      unix_micros(col("ts")).as("s"),
      (unix_micros(col("ts")) + lit(winUs)).as("e"))
    val prevMax = max(col("e")).over(
      Window.partitionBy(col("user_id")).orderBy(col("s"), col("event_id"))
        .rowsBetween(Window.unboundedPreceding, -1))
    iv.withColumn("pm", prevMax)
      .withColumn("contrib",
        greatest(lit(0L), col("e") - greatest(col("s"), coalesce(col("pm"), col("s")))))
      .groupBy(col("user_id"))
      .agg(count(lit(1)).as("n_events"),
        sum(col("contrib")).as("covered_us"))
      .orderBy("user_id")
  }

  val qIntervalUnionSql: String =
    """WITH iv AS (
      |  SELECT user_id, event_id, epoch_us(ts) AS s,
      |         epoch_us(ts) + 300000000 AS e
      |  FROM events),
      |sw AS (
      |  SELECT user_id, s, e,
      |         max(e) OVER (PARTITION BY user_id ORDER BY s, event_id
      |                      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS pm
      |  FROM iv)
      |SELECT user_id, CAST(count(*) AS BIGINT) AS n_events,
      |       CAST(sum(greatest(0, e - greatest(s, COALESCE(pm, s)))) AS BIGINT)
      |         AS covered_us
      |FROM sw
      |GROUP BY user_id
      |ORDER BY user_id""".stripMargin

  /** Mann–Kendall trend test over the per-type daily count series —
    * the nonparametric "is this metric drifting?" monitor (rank-based:
    * robust to outliers and any monotone transform). S = Σ sgn(x_j −
    * x_i) over day pairs, tie-corrected variance on the ×18 integer
    * lattice, z from the continuity-corrected S — sqrt/division are
    * exactly-rounded IEEE ops on identical inputs, so z is
    * engine-identical bit for bit (no libm anywhere). The pairwise
    * self-join runs over the per-(type, day) AGGREGATE (≤ days rows
    * per type), never raw events.
    */
  def qTrend(events: DataFrame): DataFrame = {
    val daily = graft.operators.CachePool.track(
      events.groupBy(col("event_type"),
          expr("unix_micros(ts) div 86400000000").as("day"))
        .agg(count(lit(1)).as("x")))
    val pairs = daily.as("a").join(daily.as("b"),
        col("a.event_type") === col("b.event_type") && col("a.day") < col("b.day"))
      .groupBy(col("a.event_type").as("event_type"))
      .agg(sum(signum(col("b.x") - col("a.x"))).cast("long").as("s"),
        count(lit(1)).as("n_pairs"))
    val nd = daily.groupBy(col("event_type")).agg(count(lit(1)).as("n"))
    val ties = daily.groupBy(col("event_type"), col("x"))
      .agg(count(lit(1)).as("t"))
      .groupBy(col("event_type"))
      .agg(sum(expr("t * (t - 1) * (2 * t + 5)")).as("tie18"))
    pairs.join(broadcast(nd), "event_type").join(broadcast(ties), "event_type")
      .withColumn("var18", expr("n * (n - 1) * (2 * n + 5) - tie18"))
      .withColumn("z_milli", expr(
        "CAST(round(CASE WHEN var18 <= 0 THEN 0.0 " +
          "WHEN s > 0 THEN (CAST(s AS DOUBLE) - 1.0) / sqrt(CAST(var18 AS DOUBLE) / 18.0) " +
          "WHEN s < 0 THEN (CAST(s AS DOUBLE) + 1.0) / sqrt(CAST(var18 AS DOUBLE) / 18.0) " +
          "ELSE 0.0 END * 1000.0) AS BIGINT)"))
      .withColumn("trend",
        when(col("z_milli") > 1960, "increasing")
          .when(col("z_milli") < -1960, "decreasing")
          .otherwise("none"))
      .select(col("event_type"), col("n"), col("n_pairs"), col("s"),
        col("var18"), col("z_milli"), col("trend"))
      .orderBy("event_type")
  }

  val qTrendSql: String =
    """WITH daily AS (
      |  SELECT event_type, epoch_us(ts) // 86400000000 AS day,
      |         CAST(count(*) AS BIGINT) AS x
      |  FROM events GROUP BY 1, 2),
      |p AS (
      |  SELECT a.event_type,
      |         CAST(sum(sign(b.x - a.x)) AS BIGINT) AS s,
      |         CAST(count(*) AS BIGINT) AS n_pairs
      |  FROM daily a JOIN daily b
      |    ON a.event_type = b.event_type AND a.day < b.day
      |  GROUP BY 1),
      |nd AS (SELECT event_type, CAST(count(*) AS BIGINT) AS n FROM daily GROUP BY 1),
      |ties AS (
      |  SELECT event_type, CAST(sum(t * (t - 1) * (2 * t + 5)) AS BIGINT) AS tie18
      |  FROM (SELECT event_type, x, CAST(count(*) AS BIGINT) AS t
      |        FROM daily GROUP BY 1, 2)
      |  GROUP BY 1),
      |v AS (
      |  SELECT p.event_type, nd.n, p.n_pairs, p.s,
      |         nd.n * (nd.n - 1) * (2 * nd.n + 5) - ties.tie18 AS var18
      |  FROM p JOIN nd ON p.event_type = nd.event_type
      |  JOIN ties ON p.event_type = ties.event_type),
      |z AS (
      |  SELECT *,
      |         CAST(round(CASE WHEN var18 <= 0 THEN 0.0
      |           WHEN s > 0 THEN (CAST(s AS DOUBLE) - 1.0) / sqrt(CAST(var18 AS DOUBLE) / 18.0)
      |           WHEN s < 0 THEN (CAST(s AS DOUBLE) + 1.0) / sqrt(CAST(var18 AS DOUBLE) / 18.0)
      |           ELSE 0.0 END * 1000.0) AS BIGINT) AS z_milli
      |  FROM v)
      |SELECT event_type, n, n_pairs, s, var18, z_milli,
      |       CASE WHEN z_milli > 1960 THEN 'increasing'
      |            WHEN z_milli < -1960 THEN 'decreasing'
      |            ELSE 'none' END AS trend
      |FROM z
      |ORDER BY event_type""".stripMargin

  /** Trailing moving MEDIAN (5-row frame) per user — the robust
    * smoother beside [[qMovingAvg]]'s mean frames: the window's values
    * collect into a sorted list and the parity-free doubled median
    * (`sorted[(k-1) div 2] + sorted[k div 2]`) stays on the exact
    * cents×2 lattice, so partial (warm-up) frames and even frames are
    * engine-identical with no interpolation ambiguity. Per-user
    * windows only; the frame is O(1) rows.
    */
  def qMovingMedian(events: DataFrame): DataFrame = {
    val w = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
      .rowsBetween(-4, Window.currentRow)
    events
      .select(col("user_id"), col("event_id"), col("ts"),
        expr("CAST(round(value * 100) AS BIGINT)").as("c"))
      .withColumn("win", sort_array(collect_list(col("c")).over(w)))
      .select(col("user_id"), col("event_id"),
        expr("size(win)").cast("long").as("k"),
        expr("(element_at(win, CAST((size(win) - 1) div 2 AS INT) + 1) + " +
          "element_at(win, CAST(size(win) div 2 AS INT) + 1))").as("med_x2"))
      .orderBy("event_id")
  }

  val qMovingMedianSql: String =
    """WITH b AS (
      |  SELECT user_id, event_id,
      |         list_sort(list(CAST(round(value * 100) AS BIGINT))
      |           OVER (PARTITION BY user_id ORDER BY ts, event_id
      |                 ROWS BETWEEN 4 PRECEDING AND CURRENT ROW)) AS win
      |  FROM events)
      |SELECT user_id, event_id, CAST(len(win) AS BIGINT) AS k,
      |       CAST(win[(len(win) - 1) // 2 + 1] + win[len(win) // 2 + 1] AS BIGINT)
      |         AS med_x2
      |FROM b
      |ORDER BY event_id""".stripMargin
}
