package graft

import graft.model.{Bounds, ClusterOptions}
import graft.operators.{FrequencyRollup, GridCluster, Summary}

/** Ports of the reference's metadata-frequency tests: 50/50 split
  * (cluster_test.go:172-226) and nil-metadata tolerance
  * (cluster_test.go:360-401). Fractions appear as ppm (0..1e6).
  */
class FrequencyRollupSpec extends SparkSpec {
  import spark.implicits._

  private val opts = ClusterOptions(minPoints = 2, radius = 40.0)

  test("freq-50/50: city split, type uniform") {
    // NY + Boston points, both type=store — zoom 0 puts them in one cell
    val df = Seq(
      (1L, -74.006, 40.7128, "store", "New York"),
      (2L, -71.0589, 42.3601, "store", "Boston")
    ).toDF("id", "lon", "lat", "type", "city")
    val out = FrequencyRollup.clusterFrequencies(df, 0, Bounds.World, opts,
      metaCols = Seq("type", "city")).collect()
    assert(out.length == 1)
    assert(out.head.getAs[Long]("count") == 2)
    assert(out.head.getAs[String]("type_freq") == "store:1000000")
    assert(out.head.getAs[String]("city_freq") == "Boston:500000,New York:500000")
  }

  test("nil metadata tolerated: per-key totals skip missing values") {
    val df = Seq(
      (1L, -74.006, 40.7128, null.asInstanceOf[String]),
      (2L, -74.007, 40.7129, "store")
    ).toDF("id", "lon", "lat", "type")
    val out = FrequencyRollup.clusterFrequencies(df, 0, Bounds.World, opts,
      metaCols = Seq("type")).collect()
    assert(out.length == 1)
    // the key's denominator is the points that HAVE it (reference
    // cluster.go:222-227), so store is 100%
    assert(out.head.getAs[String]("type_freq") == "store:1000000")
  }

  test("cluster without any value for a key still appears (left join)") {
    val df = Seq(
      (1L, -74.006, 40.7128, null.asInstanceOf[String]),
      (2L, -74.007, 40.7129, null.asInstanceOf[String])
    ).toDF("id", "lon", "lat", "type")
    val out = FrequencyRollup.clusterFrequencies(df, 0, Bounds.World, opts,
      metaCols = Seq("type")).collect()
    assert(out.length == 1 && out.head.getAs[String]("type_freq") == null)
  }

  test("viewport _dist counts a null in its denominator; cluster _freq skips it") {
    val df = Seq(
      (1L, -74.006, 40.7128, null.asInstanceOf[String]),
      (2L, -74.007, 40.7129, "store"),
      (3L, -74.008, 40.7130, "store"),
      (4L, -74.009, 40.7131, "park")
    ).toDF("id", "lon", "lat", "type")
    // the reference's summary divides by every point in the viewport
    // (the oracle's clusterSummarySql does the same) ...
    val dist = Summary.viewportSummary(df, 0, Bounds.World, opts, catMetaCols = Seq("type"))
      .head().getAs[String]("type_dist")
    assert(dist == "park:250000,store:500000")
    // ... while a cluster's rollup divides by the members that have the key
    val freq = GridCluster.cluster(df, 0, Bounds.World, opts, metaCols = Seq("type")).collect()
    assert(freq.length == 1 && freq.head.getAs[String]("type_freq") == "park:333333,store:666667")
  }

  test("an empty viewport's _dist is the empty string; a cluster whose members all lack the key has a null _freq") {
    val df = Seq(
      (1L, -74.006, 40.7128, null.asInstanceOf[String]),
      (2L, -74.007, 40.7129, null.asInstanceOf[String]),
      (3L, 2.35, 48.85, "park")
    ).toDF("id", "lon", "lat", "type")
    val empty = Summary.viewportSummary(df, 3, Bounds(100.0, -10.0, 120.0, 10.0), opts,
      catMetaCols = Seq("type")).head()
    assert(empty.getAs[String]("type_dist") == "")
    val out = GridCluster.cluster(df, 3, Bounds.World, opts, metaCols = Seq("type"))
      .filter("is_cluster").collect()
    assert(out.length == 1 && out.head.getAs[Long]("count") == 2L &&
      out.head.getAs[String]("type_freq") == null)
  }
}
