package graft.operators

import graft.functions.Mercator
import graft.model.ClusterOptions
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

/** Mergeable pyramid partial state: per-(zoom, cell) aggregates with
  * EXACT (decimal/long) accumulator types, plus per-(zoom, cell, value)
  * metadata counts. Because every accumulator is associative and exact
  * (decimal sums, long counts, min ids), states built over disjoint
  * point batches merge into bit-for-bit the state a full rebuild would
  * produce — the foundation of incremental pyramid maintenance at
  * 100 TB (re-aggregate only the ingest batch, never the corpus).
  *
  * `densityN` is the corpus size the cell grid was pinned to when the
  * epoch was created: [[ClusterOptions.cellSize]]'s density branch
  * changes the grid itself, so every batch of one epoch MUST snap with
  * the same pinned count ([[TilePyramid.mergeStates]] enforces it).
  * Crossing a density threshold (5k/50k) requires a rebuild — the
  * reference has no incremental path at all, so this matches its
  * semantics exactly at every fixed corpus size.
  *
  * The frames are ordinary DataFrames: persist or write them like any
  * table between batches (a production loop would parquet the state
  * per ingest and read it back for the next merge).
  */
final case class PyramidState(cells: DataFrame,
                              metaCounts: Seq[(String, DataFrame)],
                              densityN: Long)

/** Multi-zoom cluster pyramid: the whole-dataset clusters for every
  * zoom in [zMin, zMax] in ONE aggregation — the batch analog of
  * Supercluster's per-zoom index precompute (the reference instead
  * re-clusters per query — cluster/cluster.go:866-956; a 100 TB
  * deployment would precompute this pyramid once and serve viewport
  * queries from it with pure partition-pruned scans).
  *
  * Shape: explode each point across the zoom range, project with a
  * per-row scale (2^zoom · extent), snap to that zoom's grid, then a
  * single groupBy(zoom, cell). The explode multiplies map-side rows by
  * the zoom count, but map-side partial aggregation collapses each
  * partition to at most |cells| rows per zoom before the one shuffle —
  * far cheaper than zMax−zMin+1 separate jobs over the raw data.
  *
  * The pyramid is a materialized view of [[GridCluster.cluster]] with
  * bounds=World, and shares its clustering core: the cell aggregate
  * ([[GridCluster.cellAggregate]]) and the finalize
  * ([[GridCluster.finalizeCells]]) are the live query's, keyed by
  * (zoom, cell_x, cell_y) and scaled by a per-row 2^zoom · extent. The
  * cell-size factor is the same (including the density branch on the
  * TOTAL point count), so each zoom slice equals the live query row for
  * row (pinned by GridClusterSpec). Grid cells do not nest across zooms
  * (cell size is not dyadic), so each zoom is clustered from raw
  * points, not rolled up from the next-finer level — rollup would
  * change results.
  *
  * [[build]] = [[cellState]] + [[finalizePyramid]]; the split exists so
  * ingest batches can maintain the state incrementally
  * ([[mergeStates]]) and re-derive served rows on demand.
  */
object TilePyramid {

  import GridCluster.{MetricType, SlonType, SyType}

  /** The density band of a corpus size. [[ClusterOptions.cellSize]]'s
    * multiplier — and therefore the grid itself — depends only on this
    * band, not the exact count, so an incremental epoch stays valid for
    * any growth WITHIN its band; crossing a band edge (5k / 50k) means
    * a full rebuild would use a different grid, and the maintainer must
    * rebuild to preserve incremental ≡ rebuild.
    */
  def densityBand(n: Long): Int =
    if (n > 50000L) 2 else if (n < 5000L) 0 else 1

  /** Per-row cell-size column mirroring [[ClusterOptions.cellSize]]
    * with a zoom column (n is the driver-side pinned density count).
    */
  private def cellSizeCol(zoom: Column, n: Long, opts: ClusterOptions): Column = {
    val zr = zoom.cast("double") / lit(opts.maxZoom.toDouble)
    val base = when(zoom < opts.maxZoom / 4, lit(1.1) - lit(0.75) * zr)
      .when(zoom < opts.maxZoom / 2, lit(0.9) - lit(0.3) * zr)
      .when(zoom > opts.maxZoom * 3 / 4, lit(0.7) - lit(0.2) * zr)
      .otherwise(lit(0.75))
    val m = if (n > 50000L) 1.1 else if (n < 5000L) 0.9 else 1.0
    lit(opts.radius) * (base * lit(m))
  }

  /** Per-row scale of a zoom column: 2^zoom · extent (exact doubles
    * for zoom ≤ 16).
    */
  private def zoomScale(opts: ClusterOptions): Column =
    pow(lit(2.0), col("zoom")) * lit(opts.extent.toDouble)

  /** Points exploded across the zoom range and snapped to each zoom's
    * grid, with the cell size pinned to `densityN`.
    */
  private def celledFor(points: DataFrame, zMin: Int, zMax: Int,
                        opts: ClusterOptions, densityN: Long,
                        lonCol: String, latCol: String): DataFrame = {
    val cs = cellSizeCol(col("zoom"), densityN, opts)
    points
      .withColumn("zoom", explode(sequence(lit(zMin), lit(zMax))))
      .withColumn("px", Mercator.projX(col(lonCol), zoomScale(opts)))
      .withColumn("py", Mercator.projY(col(latCol), zoomScale(opts)))
      .withColumn("cell_x", floor(col("px") / cs))
      .withColumn("cell_y", floor(col("py") / cs))
  }

  private val pyramidKey = "zoom" +: GridCluster.CellKey

  /** Mergeable partial state over one point batch. `densityN` pins the
    * epoch's grid (use the full corpus count; [[build]] does).
    */
  def cellState(points: DataFrame, zMin: Int, zMax: Int,
                opts: ClusterOptions = ClusterOptions(),
                metricCols: Seq[String] = Nil,
                metaCols: Seq[String] = Nil,
                densityN: Long,
                idCol: String = "id", lonCol: String = "lon", latCol: String = "lat"): PyramidState = {
    require(zMin >= 0 && zMax >= zMin && zMax <= opts.maxZoom, "bad zoom range")
    val celled = celledFor(points, zMin, zMax, opts, densityN, lonCol, latCol)
    val cells = GridCluster.cellAggregate(celled, pyramidKey, metricCols, idCol, lonCol)
    val counts = metaCols.map(c =>
      c -> FrequencyRollup.cellCounts(celled, c, pyramidKey))
    PyramidState(cells, counts, densityN)
  }

  /** Exact associative merge of two states of the SAME epoch (equal
    * pinned density counts — a different count means a different grid,
    * and merging would mix incompatible cell keys).
    */
  def mergeStates(a: PyramidState, b: PyramidState): PyramidState = {
    require(a.densityN == b.densityN,
      s"cannot merge pyramid states of different epochs (densityN ${a.densityN} vs ${b.densityN})")
    val cols = a.cells.columns.toSeq
    val metricSums = cols.filter(_.startsWith("sum_"))
    val aggs = Seq(
      sum(col("cnt")).as("cnt"),
      sum(col("slon")).cast(SlonType).as("slon"),
      sum(col("sy")).cast(SyType).as("sy"),
      min(col("min_id")).as("min_id")
    ) ++ metricSums.map(m => sum(col(m)).cast(MetricType).as(m))
    val cells = a.cells.unionByName(b.cells)
      .groupBy(pyramidKey.map(col): _*)
      .agg(aggs.head, aggs.tail: _*)
    require(a.metaCounts.map(_._1) == b.metaCounts.map(_._1), "meta column mismatch")
    val counts = a.metaCounts.zip(b.metaCounts).map { case ((c, ca), (_, cb)) =>
      c -> ca.unionByName(cb)
        .groupBy((pyramidKey :+ c).map(col): _*)
        .agg(sum(col("vc")).as("vc"))
    }
    PyramidState(cells, counts, a.densityN)
  }

  /** Exact SUBTRACTIVE state update — the delete quarter of the
    * pyramid lifecycle. The deleted batch is aggregated on the SAME
    * epoch grid ([[cellState]] pinned to `st.densityN`) and its
    * accumulators subtracted cell-by-cell: counts, decimal lon/py
    * sums, metric sums and metadata value-counts are all exact group
    * sums, so subtraction is exact too, and the result is bit-for-bit
    * the state a rebuild without those points would produce — the
    * identity PyramidDeleteSpec pins. The one non-subtractable
    * accumulator is `min_id`: a cell loses its min exactly when
    * `stored.min_id == deleted-batch.min_id` (the stored min is over a
    * superset), and ONLY those ≤|batch|·zooms cells re-derive their
    * min from the live points, via one celled pass semi-joined to the
    * lost-cell keys — never a per-cell rescan of untouched cells.
    * Cells whose count reaches zero vanish, like they never existed.
    *
    * At 100 TB: the subtract side is delete-batch-sized (broadcast);
    * the min repair's semi join keys are delete-batch-bounded; the
    * only corpus-scale input is the one live celled pass the min
    * repair shares shape with — the same pass [[finalizePyramid]]
    * already makes per maintenance cycle.
    *
    * `delPoints` must be rows of the indexed set (the caller resolves
    * ids → rows against the live dataset); `livePoints` is the
    * dataset AFTER the delete.
    */
  def deleteFromState(st: PyramidState, delPoints: DataFrame, livePoints: DataFrame,
                      zMin: Int, zMax: Int, opts: ClusterOptions = ClusterOptions(),
                      metricCols: Seq[String] = Nil,
                      idCol: String = "id", lonCol: String = "lon", latCol: String = "lat",
                      maxBroadcastDeleteRows: Long = 2000000L): PyramidState = {
    val metaCols = st.metaCounts.map(_._1)
    // broadcast is the right shape for the usual trickle-delete batch,
    // but a corpus-scale purge (a GDPR sweep deleting a double-digit
    // fraction) would blow the broadcast threshold / driver memory —
    // gate the hint on the actual batch size (one batch-sized count;
    // the batch is about to be scanned zMax−zMin+1 times anyway) and
    // fall back to plain shuffle joins above it (r9 advice).
    val bcast: DataFrame => DataFrame =
      if (delPoints.count() <= maxBroadcastDeleteRows) broadcast else identity
    val del = cellState(delPoints, zMin, zMax, opts, metricCols, metaCols,
      st.densityN, idCol, lonCol, latCol)
    val dCells = del.cells.select(
      Seq(col("zoom"), col("cell_x"), col("cell_y"),
        col("cnt").as("d_cnt"), col("slon").as("d_slon"),
        col("sy").as("d_sy"), col("min_id").as("d_min_id")) ++
        metricCols.map(m => col(s"sum_$m").as(s"d_sum_$m")): _*)
    val subtracted = st.cells.join(bcast(dCells), pyramidKey, "left")
      .select(
        Seq(col("zoom"), col("cell_x"), col("cell_y"),
          (col("cnt") - coalesce(col("d_cnt"), lit(0L))).as("cnt"),
          // subtract at (37,10): a (38,10)−(38,10) needs precision 39
          // and Spark's 38-cap would steal the 10th scale digit
          // (adjusted scale 9); at (37,10) the result is exactly
          // (38,10) — scale intact, 27 integer digits of headroom
          (col("slon").cast(DecimalType(37, 10)) -
            coalesce(col("d_slon").cast(DecimalType(37, 10)),
              lit(0).cast(DecimalType(37, 10)))).cast(SlonType).as("slon"),
          (col("sy") - coalesce(col("d_sy"), lit(0).cast(SyType))).cast(SyType).as("sy"),
          col("min_id"), col("d_min_id")) ++
          metricCols.map(m => (col(s"sum_$m") - coalesce(col(s"d_sum_$m"),
            lit(0).cast(MetricType))).cast(MetricType).as(s"sum_$m")): _*)
      .filter(col("cnt") > 0)
    // min repair: stored min over a superset ⇒ lost iff equal to the
    // deleted batch's min in that cell; those cells still hold live
    // points (cnt > 0), so the re-derived min always exists
    val lost = subtracted
      .filter(col("d_min_id").isNotNull && col("min_id") === col("d_min_id"))
      .select(pyramidKey.map(col): _*)
    val repaired = celledFor(livePoints, zMin, zMax, opts, st.densityN, lonCol, latCol)
      .join(bcast(lost), pyramidKey, "left_semi")
      .groupBy(pyramidKey.map(col): _*)
      .agg(min(col(idCol)).as("r_min_id"))
    val cells = subtracted.join(bcast(repaired), pyramidKey, "left")
      .withColumn("min_id", coalesce(col("r_min_id"), col("min_id")))
      .drop("d_min_id", "r_min_id")
    val counts = st.metaCounts.zip(del.metaCounts).map { case ((c, ca), (_, cb)) =>
      c -> ca.join(bcast(cb.withColumnRenamed("vc", "d_vc")), pyramidKey :+ c, "left")
        .select((pyramidKey :+ c).map(col) :+
          (col("vc") - coalesce(col("d_vc"), lit(0L))).as("vc"): _*)
        .filter(col("vc") > 0)
    }
    PyramidState(cells, counts, st.densityN)
  }

  /** Served pyramid rows from a (possibly incrementally maintained)
    * state, through the live query's [[GridCluster.finalizeCells]].
    * `points` must be the epoch's FULL accumulated point set —
    * cells below minPoints explode back to their member rows, and those
    * live in the catalog dataset, not the state (at scale the semi-join
    * against the small-cell set is tile-partition pruned).
    * @return columns: zoom, id, lon, lat, count, is_cluster,
    *         metrics..., {metaCols}_freq...
    */
  def finalizePyramid(state: PyramidState, points: DataFrame, zMin: Int, zMax: Int,
                      opts: ClusterOptions = ClusterOptions(),
                      metricCols: Seq[String] = Nil,
                      idCol: String = "id", lonCol: String = "lon", latCol: String = "lat"): DataFrame =
    GridCluster.finalizeCells(state.cells, state.metaCounts,
      celledFor(points, zMin, zMax, opts, state.densityN, lonCol, latCol),
      pyramidKey, zoomScale(opts), opts.minPoints, metricCols, idCol, lonCol, latCol)

  /** @param metaCols metadata columns rolled into per-cluster
    *                  "value:ppm" frequency strings, as
    *                  [[GridCluster.cluster]] does for the live path.
    * @return columns: zoom, id, lon, lat, count, is_cluster,
    *         metrics..., {metaCols}_freq...
    */
  def build(points: DataFrame, zMin: Int, zMax: Int,
            opts: ClusterOptions = ClusterOptions(),
            metricCols: Seq[String] = Nil,
            metaCols: Seq[String] = Nil,
            idCol: String = "id", lonCol: String = "lon", latCol: String = "lat"): DataFrame = {
    val n = points.count()
    val st = cellState(points, zMin, zMax, opts, metricCols, metaCols, n, idCol, lonCol, latCol)
    finalizePyramid(st, points, zMin, zMax, opts, metricCols, idCol, lonCol, latCol)
  }
}
