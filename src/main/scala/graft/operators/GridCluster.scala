package graft.operators

import graft.functions.Mercator
import graft.model.{Bounds, ClusterOptions}
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DecimalType, DoubleType}

/** The engine's flagship operator: viewport grid clustering.
  *
  * Relational re-expression of the reference's viewport clustering query
  * (reference: cluster/cluster.go:866-956 `GetClusters` →
  * `clusterPointsWithGrid` :1486-1701 → `createCluster` :1895-1950):
  *
  *   project (Mercator, builtin exprs) → viewport filter (closed
  *   intervals, with the Mercator y-flip of :896-906) → snap to grid
  *   cells of size radius·cellSizeFactor(zoom, n) → groupBy(cell) →
  *   agg(count, centroid = mean of projected coords, per-metric SUM,
  *   cluster id = min member id) → explode cells below MinPoints back to
  *   their individual points → inverse-project centroids to lon/lat.
  *
  * Deliberate, documented deviations from the reference (SURVEY §7.1):
  *  - the reference's greedy sweep / KD-tree variants (cluster.go:1265,
  *    :2066) are order- and race-dependent (`processed` map shared
  *    across goroutines, :1379-1464); we standardize on deterministic
  *    snap-to-grid semantics so results are oracle-testable;
  *  - cluster id = min(member id) instead of first-encountered id
  *    (cluster.go:1927), again for determinism.
  *
  * Scale notes (100 TB): the pipeline is one shuffle for the cell
  * aggregation (map-side partial agg makes the shuffle small) plus one
  * join of the points against the below-MinPoints cells on the same cell
  * key (AQE picks broadcast when that set is small, sort-merge when the
  * viewport is singles-heavy). Never collects; with tile-partitioned
  * storage ([[graft.sources.Catalog]]) the viewport filter prunes
  * partitions before any scan.
  */
object GridCluster {

  /** Exact SUM for 2-decimal double columns: cast each value to
    * DECIMAL(18,2) (exact), sum in decimal (exact), cast the total back
    * to double (deterministic nearest-double). Immune to fp
    * addition-order differences between partitions/engines.
    */
  def exactSum(c: Column): Column = sum(c.cast(DecimalType(18, 2))).cast(DoubleType)

  // Exact accumulator types of a cell aggregate (kept by the pyramid's
  // persisted state; the finalize casts to double, a widening cast).
  // Σlon: x is linear in lon, so invX(mean(projX(lon))) ≡ mean(lon), an
  // exact decimal mean of the raw coordinates. Σpy: y is nonlinear in
  // lat; each py rounds once to 6 decimals, so the sum does not depend on
  // fp addition order (scale 6 keeps ≤ 15 significant digits, where a
  // double's shortest decimal form is faithful — at scale 12 engines
  // drift by ~1e-12 per element). Metric sums: as [[exactSum]].
  private[operators] val SlonType = DecimalType(38, 10)
  private[operators] val SyType = DecimalType(38, 6)
  private[operators] val MetricType = DecimalType(38, 2)

  /** The viewport query's cell key; the pyramid puts `zoom` in front. */
  val CellKey: Seq[String] = Seq("cell_x", "cell_y")

  /** Project points and filter them to the viewport at `zoom`.
    * Output = input columns + `px`, `py` (projected coords).
    */
  def projectToViewport(points: DataFrame, zoom: Int, bounds: Bounds, opts: ClusterOptions,
                        lonCol: String = "lon", latCol: String = "lat"): DataFrame = {
    val se = opts.scaleExtent(zoom)
    // Y-flip: Mercator y grows southward, so the projected MinY comes
    // from the viewport's *north* edge (reference: cluster.go:896-906).
    val minPx = Mercator.projXs(bounds.minLon, se)
    val maxPx = Mercator.projXs(bounds.maxLon, se)
    val minPy = Mercator.projYs(bounds.maxLat, se)
    val maxPy = Mercator.projYs(bounds.minLat, se)
    // Conservative raw-coordinate prefilter: the projection is monotone,
    // so an epsilon-widened lon/lat box never excludes a point the exact
    // projected filter would keep — but unlike the sin/log expressions it
    // PUSHES DOWN to the parquet scan (PushedFilters + row-group
    // min/max skipping + tile-partition pruning on Catalog datasets).
    // Latitudes beyond the Mercator clamp project onto the clamp value,
    // so a viewport edge at/beyond ±MaxLat must not bound raw lat.
    val eps = 1e-9
    val latLo = if (bounds.minLat <= -Mercator.MaxLat) -90.0 else bounds.minLat - eps
    val latHi = if (bounds.maxLat >= Mercator.MaxLat) 90.0 else bounds.maxLat + eps
    // Catalog datasets carry a tile_z5 partition column: add the
    // viewport's tile set as an IN predicate so whole partitions prune
    // at planning time (the KD-tree-subtree skip of SURVEY §4-P1).
    val tilePruned =
      if (points.columns.contains("tile_z5"))
        points.filter(col("tile_z5").isin(graft.sources.Catalog.tilesFor(bounds, eps): _*))
      else points
    tilePruned
      .filter(col(lonCol) >= bounds.minLon - eps && col(lonCol) <= bounds.maxLon + eps &&
              col(latCol) >= latLo && col(latCol) <= latHi)
      .withColumn("px", Mercator.projX(col(lonCol), se))
      .withColumn("py", Mercator.projY(col(latCol), se))
      .filter(col("px") >= minPx && col("px") <= maxPx &&
              col("py") >= minPy && col("py") <= maxPy)
  }

  /** Project, filter, and snap viewport points to grid cells.
    * Returns (points + px/py/cell_x/cell_y, scaleExtent, cellSize).
    * Shared by [[cluster]], [[Summary]] and [[FrequencyRollup]].
    */
  def cellAssign(points: DataFrame, zoom: Int, bounds: Bounds, opts: ClusterOptions,
                 lonCol: String = "lon", latCol: String = "lat"): (DataFrame, Double, Double) = {
    val se = opts.scaleExtent(zoom)
    // The cell-size density factor depends on the viewport point count
    // (part of the operator's semantics — see ClusterOptions.cellSize),
    // so the filtered projection is needed twice: once counted, once in
    // the main pipeline (which itself has two branches: cell agg +
    // explode-back). Materialize it through the bounded [[CachePool]]:
    // a long-lived serving process issuing many viewport queries keeps
    // at most the pool's cap of projections cached instead of
    // accumulating one per query until GC pressure (round-2 verdict #3).
    val proj = CachePool.track(
      projectToViewport(points, zoom, bounds, opts, lonCol, latCol))
    val n = proj.count()
    val cs = opts.cellSize(zoom, n)
    val celled = proj
      .withColumn("cell_x", floor(col("px") / lit(cs)))
      .withColumn("cell_y", floor(col("py") / lit(cs)))
    (celled, se, cs)
  }

  /** The cell aggregate shared by [[cluster]] and
    * [[TilePyramid.cellState]]: per `key`, `cnt`, exact decimal `slon`
    * (Σlon) and `sy` (Σpy), `min_id` (the cluster id) and one exact
    * decimal `sum_{m}` per metric, optionally the sorted member ids as
    * `children`. `celled` carries `py` and the key columns.
    */
  def cellAggregate(celled: DataFrame, key: Seq[String], metricCols: Seq[String],
                    idCol: String, lonCol: String, includeChildren: Boolean = false): DataFrame = {
    val aggs = Seq(
      count(lit(1)).as("cnt"),
      sum(col(lonCol).cast(DecimalType(28, 10))).cast(SlonType).as("slon"),
      sum(col("py").cast(SyType)).cast(SyType).as("sy"),
      min(col(idCol)).as("min_id")
    ) ++ metricCols.map(m =>
      sum(col(m).cast(DecimalType(18, 2))).cast(MetricType).as(s"sum_$m")) ++
      (if (includeChildren)
        Seq(array_join(transform(sort_array(collect_list(col(idCol))),
          e => e.cast("string")), ",").as("children"))
      else Nil)
    celled.groupBy(key.map(col): _*).agg(aggs.head, aggs.tail: _*)
  }

  /** Clusters and explode-back singles from a [[cellAggregate]] — the
    * one finalize of the live query and the pyramid (the reference's
    * `createCluster`, cluster/cluster.go:1895-1950). Cells with ≥
    * `minPoints` members become clusters carrying their `{c}_freq`
    * strings ([[FrequencyRollup.countsToFreq]] over `metaCounts`); the
    * centroid is Σlon/cnt and the inverse-projected Σpy/cnt at scale
    * `se` (2^zoom · extent, a literal or a per-row column). Smaller
    * cells explode back to their member rows of `celled`.
    * @param key cell key; the columns in front of [[CellKey]] lead the output
    * @return columns: <key minus cell_x/cell_y>, id, lon, lat, count,
    *         is_cluster, <metricCols...>, <metaCols..._freq>[, children]
    */
  def finalizeCells(cells: DataFrame, metaCounts: Seq[(String, DataFrame)], celled: DataFrame,
                    key: Seq[String], se: Column, minPoints: Int, metricCols: Seq[String],
                    idCol: String, lonCol: String, latCol: String,
                    includeChildren: Boolean = false): DataFrame = {
    val lead = key.diff(CellKey).map(col)
    val metaCols = metaCounts.map(_._1)

    // frequency maps join on the SAME cell key right after the same-key
    // agg — co-partitioned, no new shuffle pattern
    val withFreqs = metaCounts
      .map { case (c, counts) => FrequencyRollup.countsToFreq(counts, c, key) }
      .foldLeft(cells.filter(col("cnt") >= minPoints))((acc, f) => acc.join(f, key, "left"))

    val clusters = withFreqs
      .select(
        lead ++ Seq(col("min_id").as(idCol),
          (col("slon").cast(DoubleType) / col("cnt")).as(lonCol),
          Mercator.invY(col("sy").cast(DoubleType) / col("cnt"), se).as(latCol),
          col("cnt").as("count"), lit(true).as("is_cluster")
        ) ++ metricCols.map(m => col(s"sum_$m").cast(DoubleType).as(m))
          ++ metaCols.map(c => col(s"${c}_freq"))
          ++ (if (includeChildren) Seq(col("children")) else Nil): _*)

    // Two-pass explode-back (SURVEY §7.4): cells below MinPoints emit
    // their member points unchanged (reference "single point cluster",
    // cluster.go:1952-1968). Same-key join right after the same-key agg
    // → co-partitioned; AQE broadcasts when the small-cell set is small.
    val smallCells = cells.filter(col("cnt") < minPoints).select(key.map(col): _*)
    // Singles keep their raw coordinates: unproject∘project is the
    // identity up to fp noise, so emitting the original values is the
    // exact form of the reference's float32 round-trip.
    val singles = celled
      .join(smallCells, key, "left_semi")
      .select(
        lead ++ Seq(col(idCol), col(lonCol), col(latCol),
          lit(1L).as("count"), lit(false).as("is_cluster")
        ) ++ metricCols.map(m => col(m))
          // a single point's frequency map is its own value at 100%
          ++ metaCols.map(c => when(col(c).isNotNull,
            concat(col(c).cast("string"), lit(":1000000"))).as(s"${c}_freq"))
          // a single point's child list is itself
          ++ (if (includeChildren) Seq(col(idCol).cast("string").as("children")) else Nil): _*)

    clusters.unionByName(singles)
  }

  /** Full viewport clustering query: [[cellAssign]] →
    * [[cellAggregate]] → [[finalizeCells]] on [[CellKey]].
    *
    * @param metricCols double metric columns to SUM per cluster (exact
    *                   decimal sums; singles carry their raw values)
    * @param metaCols   metadata columns rolled into per-cluster
    *                   "value:ppm" frequency strings (the reference
    *                   returns these inside every `ClusterNode` —
    *                   cluster/cluster.go:1939-1944); singles carry
    *                   their own value as "value:1000000"
    * @param includeChildren also emit each cluster's member point ids as
    *                   a sorted comma-joined string — the reference's
    *                   `ClusterNode.Children` (cluster/cluster.go:448;
    *                   internal there, never serialized). Opt-in: at
    *                   scale a low-zoom cluster can hold millions of
    *                   members, so only cluster-expansion UIs at high
    *                   zoom should request it.
    * @return columns: id, lon, lat, count, is_cluster, <metricCols...>,
    *         <metaCols..._freq>[, children]
    */
  def cluster(points: DataFrame, zoom: Int, bounds: Bounds,
              opts: ClusterOptions = ClusterOptions(),
              metricCols: Seq[String] = Nil,
              metaCols: Seq[String] = Nil,
              idCol: String = "id", lonCol: String = "lon", latCol: String = "lat",
              includeChildren: Boolean = false): DataFrame = {
    val (celled, se, _) = cellAssign(points, zoom, bounds, opts, lonCol, latCol)
    val cells = cellAggregate(celled, CellKey, metricCols, idCol, lonCol, includeChildren)
    val counts = metaCols.map(c => c -> FrequencyRollup.cellCounts(celled, c, CellKey))
    finalizeCells(cells, counts, celled, CellKey, lit(se), opts.minPoints, metricCols,
      idCol, lonCol, latCol, includeChildren)
  }
}
