package graft.operators

import graft.model.{Bounds, ClusterOptions}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window

/** Per-cluster metadata frequency distributions — the reference's
  * `MetadataStore.CalculateFrequencies` rollup (reference:
  * cluster/cluster.go:209-289): for each metadata key, the share of each
  * distinct value among the cluster's members.
  *
  * Pure relational rewrite (no UDAF — SURVEY §2.10): groupBy(cell,
  * value) counts ([[cellCounts]]) → per-cell window total → fraction →
  * canonical sorted "value:ppm" string per cluster ([[countsToFreq]]).
  * The reference emits fractions 0..1 as a JSON map
  * (cluster.go:272-284); we emit integer parts-per-million in a
  * deterministically ordered string so results are exact and
  * hash-comparable (fractions are reconstructable as ppm/1e6).
  *
  * The two steps are the frequency half of the shared clustering core:
  * [[GridCluster.finalizeCells]] joins the strings onto the clusters of
  * the live query and of the pyramid, and [[Summary]] reuses
  * [[countsToFreq]] for its viewport distributions.
  *
  * Scale: two shuffles on (cell, value) then (cell) — both map-side
  * combined; the window runs over the already-aggregated (cell, value)
  * rows, not raw points.
  */
object FrequencyRollup {

  /** Frequency strings for every cluster (cells with ≥ minPoints
    * members): the cluster rows of [[GridCluster.cluster]], projected.
    * Output: id (min member id), count, one `{c}_freq` string column per
    * requested metadata column; a cluster whose members all lack a key
    * has a null `{c}_freq` (the reference just omits the key).
    */
  def clusterFrequencies(points: DataFrame, zoom: Int, bounds: Bounds,
                         opts: ClusterOptions = ClusterOptions(),
                         metaCols: Seq[String] = Nil,
                         idCol: String = "id"): DataFrame =
    GridCluster.cluster(points, zoom, bounds, opts, Nil, metaCols, idCol)
      .filter(col("is_cluster"))
      .select(col(idCol) +: col("count") +: metaCols.map(c => col(s"${c}_freq")): _*)

  /** Per-(key, value) occurrence counts — the MERGEABLE form of a
    * frequency rollup (counts are associative where ppm strings are
    * not); [[graft.operators.TilePyramid]] maintains these
    * incrementally. Per-key totals count only points that HAVE the key
    * (reference skips absent metadata keys — cluster.go:222-227):
    * nulls drop out both of the counts and the denominators.
    * Output: keyCols..., c, vc.
    */
  def cellCounts(celled: DataFrame, c: String, keyCols: Seq[String]): DataFrame =
    celled
      .filter(col(c).isNotNull)
      .groupBy(keyCols.map(col) :+ col(c): _*)
      .agg(count(lit(1)).as("vc"))

  /** Canonical sorted "value:ppm" strings from a [[cellCounts]] table.
    * ppm = round(count·1e6/total) — exact integer arithmetic into one
    * double division, identical across engines. With no `keyCols` the
    * whole table is one group. Output: keyCols..., {c}_freq.
    */
  def countsToFreq(counts: DataFrame, c: String, keyCols: Seq[String]): DataFrame = {
    val keys = keyCols.map(col)
    val w = Window.partitionBy(keys: _*)
    counts
      .withColumn("total", sum(col("vc")).over(w))
      .withColumn("ppm", round(col("vc") * lit(1000000.0) / col("total")).cast("long"))
      .groupBy(keys: _*)
      .agg(array_join(
        transform(
          array_sort(collect_list(struct(col(c).as("v"), col("ppm").as("p")))),
          e => concat(e.getField("v"), lit(":"), e.getField("p").cast("string"))),
        ",").as(s"${c}_freq"))
  }
}
