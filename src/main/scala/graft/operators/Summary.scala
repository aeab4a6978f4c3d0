package graft.operators

import graft.model.{Bounds, ClusterOptions}
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DecimalType, DoubleType}

/** Viewport summary statistics — the reference's `GetMetadata` query
  * (reference: runner/runner.go:278-342 → cluster/helpers.go:142-344
  * `CalculateMetadataSummary`), re-expressed as a second aggregation
  * over the clustered viewport.
  *
  * Reference semantics reproduced exactly (SURVEY §2.4-A9):
  *  - totalPoints = Σ cluster counts; numClusters counts cluster rows;
  *    numSinglePoints the exploded-back single rows;
  *  - per-metric min/max/sum over *cluster-level* (already-summed)
  *    values, and the quirky average = sum / number-of-cluster-rows
  *    (avg of cluster sums, NOT per-point mean — helpers.go:303-311);
  *  - numeric metadata → min/max/avg weighted by cluster count
  *    (helpers.go:287-289); timestamps → earliest/latest (helpers.go
  *    :226-245); categorical → distribution (helpers.go:326-340).
  *
  * Documented deviations (deterministic-exact re-spec):
  *  - the reference reconstructs per-value counts from float frequency
  *    maps via `int(freq*count)` (helpers.go:249), which truncates under
  *    fp error; we compute the same weighted stats exactly at point
  *    level, which is what that reconstruction equals when exact;
  *  - categorical distributions are emitted as a canonical sorted
  *    "value:ppm" string (integer parts-per-million) rather than a
  *    float-percent JSON map, to be hash-comparable across engines.
  *
  * Scale: two aggregations, cross-joined as 1-row frames: one over
  * cells (reduced to one row; a metric's min, max and sum decompose
  * over cells, so the exploded-back singles need no second pass over
  * the points) and one over points (numeric and timestamp metadata, and
  * every categorical distribution as a one-pass `graft_freq` whose
  * buffer grows with the distinct values, not the points). Both are
  * map-side-combined; nothing is collected.
  */
object Summary {

  /** One-row summary DataFrame with columns:
    * total_points, num_clusters, num_single_points,
    * {m}_min/{m}_max/{m}_sum/{m}_avg per metric,
    * {c}_min/{c}_max/{c}_avg per numeric metadata expression,
    * {t}_earliest/{t}_latest per timestamp column,
    * {c}_dist per categorical column.
    *
    * @param numericMeta name → extraction expression (e.g. a JSON-field
    *                    try-parse, reference SC6/SC7 coercion)
    */
  def viewportSummary(points: DataFrame, zoom: Int, bounds: Bounds,
                      opts: ClusterOptions = ClusterOptions(),
                      metricCols: Seq[String] = Nil,
                      numericMeta: Seq[(String, Column)] = Nil,
                      tsMetaCols: Seq[String] = Nil,
                      catMetaCols: Seq[String] = Nil): DataFrame = {
    val (celled, _, _) = GridCluster.cellAssign(points, zoom, bounds, opts)
    val isCluster = col("cnt") >= opts.minPoints

    // Cell aggregate: count, exact decimal metric sums and the members'
    // raw min/max per cell, reduced to one row. A metric's cluster-level
    // values are the cell sum of a real cluster and each member's raw
    // value for an exploded-back single, so min and max decompose over
    // cells, and a small cell adds its members' decimal sum.
    val cellAgg = celled.groupBy(col("cell_x"), col("cell_y"))
      .agg(count(lit(1)).as("cnt"), metricCols.flatMap(m => Seq(
        sum(col(m).cast(DecimalType(18, 2))).as(s"sum_$m"),
        min(col(m)).as(s"min_$m"), max(col(m)).as(s"max_$m"))): _*)
    val cellAggs = Seq(
      sum(col("cnt")).as("total_points"),
      sum(when(isCluster, 1L).otherwise(0L)).as("num_clusters"),
      sum(when(isCluster, 0L).otherwise(col("cnt"))).as("num_single_points")
    ) ++ metricCols.flatMap { m =>
      val clusterSum = col(s"sum_$m").cast(DoubleType)
      Seq(min(when(isCluster, clusterSum).otherwise(col(s"min_$m"))).as(s"${m}_min"),
        max(when(isCluster, clusterSum).otherwise(col(s"max_$m"))).as(s"${m}_max"),
        sum(when(isCluster, clusterSum.cast(DecimalType(18, 2))).otherwise(col(s"sum_$m")))
          .cast(DoubleType).as(s"${m}_sum"))
    }
    val cellStats = cellAgg.agg(cellAggs.head, cellAggs.tail: _*)

    // Point aggregate: numeric metadata (exactly what the reference's
    // cluster-count-weighted rollup reconstructs), timestamp ranges and
    // categorical distributions. Unlike a cluster's `{c}_freq`, every
    // point weighs 1, so nulls stay in the denominator.
    val withMeta = numericMeta.foldLeft(celled) { case (df, (n, e)) => df.withColumn(n, e) }
    val pointAggs: Seq[Column] =
      numericMeta.flatMap { case (n, _) =>
        Seq(min(col(n)).as(s"${n}_min"), max(col(n)).as(s"${n}_max"),
          (GridCluster.exactSum(col(n)) / count(lit(1))).as(s"${n}_avg"))
      } ++
      tsMetaCols.flatMap { t =>
        Seq(min(col(t)).as(s"${t}_earliest"), max(col(t)).as(s"${t}_latest"))
      } ++
      catMetaCols.map(c =>
        coalesce(FrequencyRollup.freqString(col(c), lit(1)), lit("")).as(s"${c}_dist"))
    val glued =
      if (pointAggs.isEmpty) cellStats
      else cellStats.crossJoin(withMeta.agg(pointAggs.head, pointAggs.tail: _*))

    withMetricAvgs(glued, metricCols)
  }

  /** Per-metric statistics over cluster-level rows (cluster sums and
    * singles' raw values): `{m}_min`, `{m}_max`, exact `{m}_sum`. Used
    * by the pyramid's summary, whose rows are cluster-level already.
    */
  def metricStats(metricCols: Seq[String]): Seq[Column] =
    metricCols.flatMap { m =>
      Seq(min(col(m)).as(s"${m}_min"), max(col(m)).as(s"${m}_max"),
        GridCluster.exactSum(col(m)).as(s"${m}_sum"))
    }

  /** The quirky reference average `{m}_avg`: the metric sum over the
    * number of cluster-level rows (helpers.go:303-311).
    */
  def withMetricAvgs(stats: DataFrame, metricCols: Seq[String]): DataFrame =
    metricCols.foldLeft(stats) { (df, m) =>
      df.withColumn(s"${m}_avg",
        col(s"${m}_sum") / (col("num_clusters") + col("num_single_points")))
    }
}
