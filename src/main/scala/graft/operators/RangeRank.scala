package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Distributed EXACT global ranking / running sums — the scale-safe
  * replacement for `Window.orderBy` with no `partitionBy`, which
  * serializes the whole input through ONE task (the r9 verdict's
  * "single-partition global window" weak class).
  *
  * Shape (the classic two-pass range rank):
  *  1. bucket boundaries from one mergeable min/max range pass,
  *     broadcast (uniform-width buckets — codegen'd assignment);
  *  2. each row maps to a bucket by STRICT comparison against the
  *     boundaries — all rows sharing the order key land in the same
  *     bucket, so bucket index is a monotone function of the key and
  *     the bucket partition respects any (key, tieBreak…) total order;
  *  3. a per-bucket window (parallel: one partition per bucket) ranks /
  *     prefix-sums locally;
  *  4. per-bucket totals (≤ nBuckets rows) turn into cumulative offsets
  *     via a tiny triangular self-join — no window, no driver collect —
  *     broadcast back, and `global = local + offset`.
  *
  * The boundary choice only affects bucket BALANCE, never correctness:
  * ranks and
  * running sums are exact for any boundary choice, so results are
  * hash-identical to the single-partition spec (the oracles pin this).
  * Degenerate inputs (every key equal) collapse to one bucket — the
  * same work the global window would do, never more.
  */
object RangeRank {

  /** `df` plus a `_bucket` column: bucket index ascending in the sort
    * direction of `key` (desc = highest keys in bucket 0). Key-ties
    * always share a bucket (strict comparisons), so tie-breaking is
    * fully contained within one bucket's window.
    */
  private def bucketed(df: DataFrame, key: Column, desc: Boolean,
                       nBuckets: Int): DataFrame = {
    // the input feeds the range pass, the per-bucket totals AND the
    // final windowed join — pool-persist it once, or an expensive
    // upstream (e.g. q_concurrency's sessionize) runs three times.
    // Buckets are UNIFORM-WIDTH between the broadcast min/max
    // (codegen'd width_bucket — a per-row interpreted array scan over
    // sketch boundaries costs more than the windows it saves; balance
    // under heavy value skew is worse, correctness identical).
    val in = CachePool.track(df)
    val mm = in.agg(min(key.cast("double")).as("_lo"), max(key.cast("double")).as("_hi"))
    val k = key.cast("double")
    val asc = when(col("_hi") === col("_lo"), lit(1L))
      .otherwise(least(width_bucket(k, col("_lo"), col("_hi"), lit(nBuckets)),
        lit(nBuckets.toLong)))
    val cnt = if (desc) lit(nBuckets.toLong + 1) - asc else asc
    in.crossJoin(broadcast(mm))
      .withColumn("_bucket", cnt)
      .drop("_lo", "_hi")
  }

  /** Cumulative offsets over the per-bucket totals: (_bucket, _off)
    * with `_off` = Σ of all LOWER buckets' `_v`. Triangular self-join
    * over ≤ nBuckets rows — deliberately not a window.
    */
  private def cumOffsets(per: DataFrame): DataFrame =
    per.join(per.select(col("_bucket").as("_pb"), col("_v").as("_pv")),
        col("_pb") < col("_bucket"), "left")
      .groupBy(col("_bucket"))
      .agg(coalesce(sum(col("_pv")), lit(0L)).as("_off"))

  private def ordering(key: Column, tieBreak: Seq[Column], desc: Boolean): Seq[Column] =
    (if (desc) key.desc else key.asc) +: tieBreak.map(_.asc)

  /** `df` plus an exact 1-based global `row_number` column `out` under
    * the total order (key [desc], tieBreak asc…), computed with only
    * per-bucket windows.
    */
  def withGlobalRank(df: DataFrame, key: Column, tieBreak: Seq[Column],
                     desc: Boolean = false, nBuckets: Int = 32,
                     out: String = "rn"): DataFrame = {
    val b = bucketed(df, key, desc, nBuckets)
    // ≤ nBuckets rows but a corpus pass to compute; cumOffsets consumes
    // it on both sides of its self-join — persist or it runs twice.
    val per = CachePool.track(b.groupBy(col("_bucket")).agg(count(lit(1)).as("_v")))
    val w = Window.partitionBy(col("_bucket")).orderBy(ordering(key, tieBreak, desc): _*)
    b.join(broadcast(cumOffsets(per)), "_bucket")
      .withColumn(out, row_number().over(w).cast("long") + col("_off"))
      .drop("_bucket", "_off")
  }

  /** Exact per-group ORDER STATISTICS without ranking the group: for
    * each group, return the rows sitting at the 1-based ranks given by
    * `rankExprs` (SQL expressions over the group's row count `n`,
    * e.g. `"(n - 1) div 2 + 1"`). Only the buckets CONTAINING a target
    * rank are window-ranked — ~1/nBuckets of the rows — everything
    * else stops at the per-bucket count. Duplicate target ranks (odd-n
    * medians) intentionally return duplicate rows, so a parity-free
    * doubled median is just `sum` over the selection.
    * Output: df's columns + `target_rank`.
    */
  def groupedRankSelect(df: DataFrame, grpCols: Seq[String], key: Column,
                        rankExprs: Seq[String], nBuckets: Int = 32): DataFrame = {
    val in = CachePool.track(df)
    val mm = in.groupBy(grpCols.map(col): _*)
      .agg(min(key.cast("double")).as("_lo"), max(key.cast("double")).as("_hi"))
    val k = key.cast("double")
    val b = in.join(broadcast(mm), grpCols)
      .withColumn("_bucket",
        when(col("_hi") === col("_lo"), lit(1L))
          .otherwise(least(width_bucket(k, col("_lo"), col("_hi"), lit(nBuckets)),
            lit(nBuckets.toLong))))
      .drop("_lo", "_hi")
    // per is ≤ |groups|·nBuckets rows but COSTS a corpus pass — and it
    // feeds both sides of the triangular join (and, in rank-select, the
    // two broadcast builds). Persist it or every tiny consumer
    // re-scans the corpus.
    val per = CachePool.track(
      b.groupBy((grpCols :+ "_bucket").map(col): _*).agg(count(lit(1)).as("_v")))
    val lower = per.select((grpCols.map(c => col(c).as(s"_g_$c")) :+
      col("_bucket").as("_pb") :+ col("_v").as("_pv")): _*)
    val cond = grpCols.map(c => col(c) === col(s"_g_$c")).reduce(_ && _) &&
      col("_pb") < col("_bucket")
    val ranged = per.join(lower, cond, "left")
      .groupBy((grpCols :+ "_bucket").map(col) :+ col("_v"): _*)
      .agg(coalesce(sum(col("_pv")), lit(0L)).as("_off"))
    val nPer = per.groupBy(grpCols.map(col): _*).agg(sum(col("_v")).as("n"))
    val targets = rankExprs
      .map(e => nPer.withColumn("_tr", expr(e)))
      .reduce(_ unionByName _)
      .select(grpCols.map(col) :+ col("_tr"): _*)
    // the bucket holding rank tr: off < tr ≤ off + v (at most one per target)
    val tCond = grpCols.map(c => col(c) === col(s"_t_$c")).reduce(_ && _) &&
      col("_off") < col("_tr") && col("_tr") <= col("_off") + col("_v")
    // one broadcast frame: (group, bucket, off, sorted target array) —
    // duplicate targets kept as array duplicates so the post-window
    // explode(filter(...)) returns one row PER matching target. A
    // second broadcast (distinct buckets pre-window + full targets
    // post-window) would re-run the whole tiny-aggregate chain as a
    // separate job — at low SF the query is pure job-count overhead.
    val targetBuckets = ranged.join(
        targets.select(grpCols.map(c => col(c).as(s"_t_$c")) :+ col("_tr"): _*),
        tCond)
      .groupBy((grpCols :+ "_bucket").map(col) :+ col("_off"): _*)
      .agg(sort_array(collect_list(col("_tr"))).as("_trs"))
    val w = Window.partitionBy((grpCols :+ "_bucket").map(col): _*).orderBy(key.asc)
    b.join(broadcast(targetBuckets), grpCols :+ "_bucket")
      .withColumn("_rn", row_number().over(w).cast("long"))
      .withColumn("target_rank",
        explode(filter(col("_trs"), t => t === col("_off") + col("_rn"))))
      .drop("_bucket", "_off", "_rn", "_trs")
  }

  /** `df` plus an exact global running sum of `sumExpr` under the total
    * order (key [desc], tieBreak asc…). `rowsFrame = false` keeps the
    * default peer-inclusive RANGE frame (ties see their whole peer
    * group — the sweep-line convention); `true` uses ROWS
    * unboundedPreceding..currentRow (per-row cumulative; only
    * order-deterministic when the total order has no ties).
    */
  def withRunningSum(df: DataFrame, sumExpr: Column, key: Column,
                     tieBreak: Seq[Column], desc: Boolean = false,
                     rowsFrame: Boolean = false, nBuckets: Int = 32,
                     out: String = "running"): DataFrame =
    withRunningSums(df, Seq(sumExpr -> out), key, tieBreak, desc, rowsFrame, nBuckets)

  /** Two DEPENDENT exact running sums under one shared bucketing: the
    * second summand is derived (via `interlude`) from the first's
    * running value, so it cannot ride [[withRunningSums]]' single
    * window — but it CAN reuse the first pass's bucket assignment,
    * partitioning and sort. After the first windowed sum the rows are
    * hash-partitioned by `_bucket` and sorted, so the second pass's
    * per-bucket totals aggregate map-side, its offsets stay a
    * ≤nBuckets triangular join, and its window adds NO new exchange —
    * the whole second prefix sum costs one broadcast join on an
    * already-partitioned stream. vs two [[withRunningSum]] calls this
    * drops a bucket assignment, a min/max broadcast, an input persist
    * and the second full exchange.
    *
    * `interlude` receives the first-pass result (input columns +
    * `out1`; `_bucket` still attached) and must only ADD derived
    * columns — projections and broadcast joins, nothing that changes
    * the partitioning — returning a frame still carrying one row per
    * input row. `sum2` is evaluated on the interlude's output.
    */
  def withRunningSumThen(df: DataFrame, sum1: Column, out1: String,
                         interlude: DataFrame => DataFrame,
                         sum2: Column, out2: String,
                         key: Column, tieBreak: Seq[Column],
                         desc: Boolean = false, nBuckets: Int = 32): DataFrame = {
    val b = bucketed(df, key, desc, nBuckets)
    val per1 = CachePool.track(b.groupBy(col("_bucket")).agg(sum(sum1).as("_v")))
    val w = Window.partitionBy(col("_bucket")).orderBy(ordering(key, tieBreak, desc): _*)
    val s1 = b.join(broadcast(cumOffsets(per1)), "_bucket")
      .withColumn(out1, sum(sum1).over(w) + col("_off"))
      .drop("_off")
    // the derived rows feed both the second totals and the final
    // window — persist, or the first pass runs twice
    val d = CachePool.track(interlude(s1).withColumn("_t2", sum2))
    val per2 = CachePool.track(d.groupBy(col("_bucket")).agg(sum(col("_t2")).as("_v")))
    d.join(broadcast(cumOffsets(per2)), "_bucket")
      .withColumn(out2, sum(col("_t2")).over(w) + col("_off"))
      .drop("_bucket", "_off", "_t2")
  }

  /** Several exact running sums under ONE shared bucketing, window and
    * offset join — a query needing k prefix sums over the same total
    * order (e.g. both cohort CDFs of a KS test) pays one bucketed pass
    * instead of k re-bucketings.
    */
  def withRunningSums(df: DataFrame, sums: Seq[(Column, String)], key: Column,
                      tieBreak: Seq[Column], desc: Boolean = false,
                      rowsFrame: Boolean = false, nBuckets: Int = 32): DataFrame = {
    val b = bucketed(df, key, desc, nBuckets)
    // same persist rationale as withGlobalRank's per
    val aggs = sums.map { case (e, n) => sum(e).as(s"_v_$n") }
    val per = CachePool.track(b.groupBy(col("_bucket")).agg(aggs.head, aggs.tail: _*))
    val lower = per.select(col("_bucket").as("_pb") +:
      sums.map { case (_, n) => col(s"_v_$n").as(s"_pv_$n") }: _*)
    val offAggs = sums.map { case (_, n) =>
      coalesce(sum(col(s"_pv_$n")), lit(0L)).as(s"_off_$n") }
    val offsets = per.join(lower, col("_pb") < col("_bucket"), "left")
      .groupBy(col("_bucket"))
      .agg(offAggs.head, offAggs.tail: _*)
    val w0 = Window.partitionBy(col("_bucket")).orderBy(ordering(key, tieBreak, desc): _*)
    val w = if (rowsFrame) w0.rowsBetween(Window.unboundedPreceding, Window.currentRow) else w0
    val joined = b.join(broadcast(
      offsets.select(col("_bucket") +: sums.map { case (_, n) => col(s"_off_$n") }: _*)),
      "_bucket")
    sums.foldLeft(joined) { case (acc, (e, n)) =>
        acc.withColumn(n, sum(e).over(w) + col(s"_off_$n"))
      }
      .drop("_bucket" +: sums.map { case (_, n) => s"_off_$n" }: _*)
  }
}
