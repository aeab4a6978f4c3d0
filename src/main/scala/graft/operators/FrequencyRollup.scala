package graft.operators

import graft.model.{Bounds, ClusterOptions}
import graft.plans.Functions
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Per-cluster metadata frequency distributions — the reference's
  * `MetadataStore.CalculateFrequencies` rollup (reference:
  * cluster/cluster.go:209-289): for each metadata key, the share of each
  * distinct value among the cluster's members.
  *
  * One encoder, [[freqString]] (`graft_freq`, [[graft.plans.FreqString]]):
  * per group, the canonical sorted "value:ppm" string in one aggregation
  * pass. The reference emits fractions 0..1 as a JSON map
  * (cluster.go:272-284); we emit integer parts-per-million in a
  * deterministically ordered string so results are exact and
  * hash-comparable (fractions are reconstructable as ppm/1e6).
  *
  * The live query computes its strings inside the cell aggregate
  * ([[GridCluster.cellAggregate]]) and [[Summary]] inside its point
  * aggregate. The pyramid keeps the MERGEABLE form, per-(cell, value)
  * counts ([[cellCounts]]), and encodes them with [[countsToFreq]].
  *
  * Scale: one map-side-combined aggregation per group key, no window
  * and no regroup; the aggregate's buffer is a value → count map, so
  * memory grows with a group's distinct values, not its members.
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

  /** `graft_freq(value, weight)`: the group's sorted "value:ppm" string,
    * ppm = round(count·1e6/total) — exact integer arithmetic into one
    * double division, identical across engines. A null weight skips the
    * row; a null value counts in the total but has no entry; null when
    * the total is 0. `value` must be a string column.
    */
  def freqString(value: Column, weight: Column): Column =
    Functions.call("graft_freq", value, weight)

  /** Canonical sorted "value:ppm" strings from a [[cellCounts]] table,
    * one per key. Output: keyCols..., {c}_freq.
    */
  def countsToFreq(counts: DataFrame, c: String, keyCols: Seq[String]): DataFrame =
    counts.groupBy(keyCols.map(col): _*).agg(freqString(col(c), col("vc")).as(s"${c}_freq"))
}
