package graft.operators

import graft.model.{Bounds, ClusterOptions}
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

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
  * Scale: two aggregations (one over cells, one over points) plus the
  * singles semi-join — all map-side-combined shuffles; the final
  * cross-join glues 1-row frames. Nothing is collected.
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
    val mp = opts.minPoints

    val cellAgg = celled.groupBy(col("cell_x"), col("cell_y"))
      .agg(count(lit(1)).as("cnt"),
        metricCols.map(m => GridCluster.exactSum(col(m)).as(s"sum_$m")): _*)

    val base = cellAgg.agg(
      sum(col("cnt")).as("total_points"),
      sum(when(col("cnt") >= mp, 1L).otherwise(0L)).as("num_clusters"),
      sum(when(col("cnt") < mp, col("cnt")).otherwise(0L)).as("num_single_points"))

    // Cluster-level metric values: the per-cell SUM for real clusters,
    // each member's raw value for exploded-back singles.
    val clusterLevel = cellAgg.filter(col("cnt") >= mp)
      .select(metricCols.map(m => col(s"sum_$m").as(m)): _*)
      .unionByName(
        celled.join(cellAgg.filter(col("cnt") < mp).select("cell_x", "cell_y"),
            Seq("cell_x", "cell_y"), "left_semi")
          .select(metricCols.map(m => col(m)): _*))

    val metricAggs = metricStats(metricCols)
    val clusterStats =
      if (metricAggs.isEmpty) null
      else clusterLevel.agg(metricAggs.head, metricAggs.tail: _*)

    // Point-level stats: numeric metadata (exactly what the reference's
    // cluster-count-weighted rollup reconstructs) + timestamp ranges.
    val withMeta = numericMeta.foldLeft(celled) { case (df, (n, e)) => df.withColumn(n, e) }
    val pointAggs: Seq[Column] =
      numericMeta.flatMap { case (n, _) =>
        Seq(min(col(n)).as(s"${n}_min"), max(col(n)).as(s"${n}_max"),
          (GridCluster.exactSum(col(n)) / count(lit(1))).as(s"${n}_avg"))
      } ++
      tsMetaCols.flatMap { t =>
        Seq(min(col(t)).as(s"${t}_earliest"), max(col(t)).as(s"${t}_latest"))
      }
    val pointStats =
      if (pointAggs.isEmpty) null
      else withMeta.agg(pointAggs.head, pointAggs.tail: _*)

    // Categorical distributions as canonical sorted value:ppm strings.
    // Unlike a cluster rollup ([[FrequencyRollup.cellCounts]]), the
    // counts keep the null value, so nulls stay in the denominator.
    val catFrames: Seq[DataFrame] = catMetaCols.map { c =>
      FrequencyRollup.countsToFreq(celled.groupBy(col(c)).agg(count(lit(1)).as("vc")), c, Nil)
        .select(col(s"${c}_freq").as(s"${c}_dist"))
    }

    val frames = Seq(Option(base), Option(clusterStats), Option(pointStats)).flatten ++ catFrames
    val glued = frames.reduce(_ crossJoin _)

    withMetricAvgs(glued, metricCols)
  }

  /** Per-metric statistics over cluster-level rows (cluster sums and
    * singles' raw values): `{m}_min`, `{m}_max`, exact `{m}_sum`. Shared
    * with the pyramid's summary, whose rows are cluster-level already.
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
