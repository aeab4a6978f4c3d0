package graft

import graft.model.Bounds
import graft.operators.{GridCluster, Summary}
import graft.sources.PointGen
import java.nio.file.Files
import org.apache.spark.sql.functions.{col, sum, when}

/** End-to-end service surface: create → list → query → summary →
  * GeoJSON, mirroring the reference's RPC flow (runner/runner.go).
  */
class ClusterEngineSpec extends SparkSpec {

  private lazy val engine =
    new ClusterEngine(spark, Files.createTempDirectory("graft-engine").toString)

  test("create/list/describe round trip") {
    engine.createDataset("cluster-2000p-t0-e2e", 2000)
    assert(engine.list().exists(_.id == "cluster-2000p-t0-e2e"))
    assert(engine.describe("e2e").exists(_.numPoints == 2000))
  }

  test("viewport query returns clusters with rolled-up metrics AND metadata freqs") {
    val out = engine.getClusters("cluster-2000p-t0-e2e", 3, Bounds.World)
    val rows = out.collect()
    assert(rows.map(_.getAs[Long]("count")).sum == 2000)
    assert(rows.exists(_.getAs[Boolean]("is_cluster")))
    assert(out.columns.contains("metric_sales"))
    // reference ClusterNode carries metadata frequency maps alongside
    // metrics (cluster/cluster.go:1939-1944)
    assert(out.columns.contains("meta_category_freq"))
    val cl = rows.filter(_.getAs[Boolean]("is_cluster"))
    assert(cl.forall(_.getAs[String]("meta_category_freq").matches("([A-Za-z]+:\\d+,?)+")))
    // singles carry their own value at 100%
    assert(rows.filter(!_.getAs[Boolean]("is_cluster"))
      .forall(_.getAs[String]("meta_category_freq").endsWith(":1000000")))
  }

  test("summary totals match the viewport") {
    val s = engine.getSummary("cluster-2000p-t0-e2e", 3, Bounds.World).collect().head
    assert(s.getAs[Long]("total_points") == 2000)
    assert(s.getAs[Long]("num_clusters") > 0)
    assert(s.getAs[String]("meta_category_dist").nonEmpty)
    // numeric metadata classified into min/max/avg stats
    // (reference: cluster/helpers.go:273-289)
    val (mn, mx, av) = (s.getAs[Double]("meta_elevation_min"),
      s.getAs[Double]("meta_elevation_max"), s.getAs[Double]("meta_elevation_avg"))
    assert(mn >= 0.0 && mx <= 5000.0 && mn <= av && av <= mx)
  }

  test("summary metric stats equal those over the clustered rows, with clusters and singles mixed") {
    val metrics = Seq("metric_value", "metric_sales")
    val points = PointGen.uniformPoints(spark, 3000, Bounds.World, 11L)
    val (zoom, bounds) = (4, Bounds(-120.0, -60.0, 150.0, 70.0))
    val s = Summary.viewportSummary(points, zoom, bounds, metricCols = metrics).head()
    // the cluster-level rows: each cluster's sum, each single's raw value
    val rows = GridCluster.cluster(points, zoom, bounds, metricCols = metrics)
    val counts = Seq(sum(when(col("is_cluster"), 1L).otherwise(0L)).as("num_clusters"),
      sum(when(col("is_cluster"), 0L).otherwise(1L)).as("num_single_points"))
    val ref = Summary.withMetricAvgs(
      rows.agg(counts.head, counts.tail ++ Summary.metricStats(metrics): _*), metrics).head()
    assert(s.getAs[Long]("num_clusters") > 0L && s.getAs[Long]("num_single_points") > 0L)
    for (c <- Seq("num_clusters", "num_single_points"))
      assert(s.getAs[Long](c) == ref.getAs[Long](c), c)
    for (m <- metrics; st <- Seq("min", "max", "sum", "avg"))
      assert(s.getAs[Double](s"${m}_$st") == ref.getAs[Double](s"${m}_$st"), s"${m}_$st")
  }

  test("frequency rollups emit canonical ppm strings") {
    val f = engine.getFrequencies("cluster-2000p-t0-e2e", 3, Bounds.World,
      Seq("meta_region")).collect()
    assert(f.nonEmpty)
    assert(f.head.getAs[String]("meta_region_freq").matches("([A-Za-z]+:\\d+,?)+"))
  }

  test("GeoJSON FeatureCollection is well-formed with metadata properties") {
    val g = engine.getClustersGeoJson("cluster-2000p-t0-e2e", 2, Bounds.World)
    assert(g.startsWith("""{"type":"FeatureCollection","features":["""))
    assert(g.contains(""""cluster":true"""))
    // metadata frequency maps inlined into feature properties
    // (reference: cluster/cluster.go:2026-2034)
    assert(g.contains(""""meta_category_freq":""""))
    assert(g.contains(""""meta_region_freq":""""))
  }

  test("pyramid-serving: saved pyramid answers viewports as pruned scans") {
    engine.buildAndSavePyramid("cluster-2000p-t0-e2e", 0, 4)
    val viewport = Bounds(-90.0, -45.0, 90.0, 45.0)
    val served = engine.getClustersFromPyramid("cluster-2000p-t0-e2e", 3, viewport)
    // partition pruning engages on both zoom and tile
    val plan = served.queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters"), plan)
    // equals the in-memory pyramid filtered the same way
    val expected = engine.buildPyramid("cluster-2000p-t0-e2e", 0, 4)
      .filter(org.apache.spark.sql.functions.expr(
        s"zoom = 3 AND lon >= -90.0 AND lon <= 90.0 AND lat >= -45.0 AND lat <= 45.0"))
    assert(served.count() == expected.count() && served.count() > 0)
    assert(served.select("id").exceptAll(expected.select("id")).isEmpty)
  }

  test("pyramid covers every zoom with conserved counts") {
    val p = engine.buildPyramid("cluster-2000p-t0-e2e", 0, 4)
    val byZoom = p.groupBy("zoom").sum("count").collect()
      .map(r => r.getInt(0) -> r.getLong(1)).toMap
    assert(byZoom.keySet == Set(0, 1, 2, 3, 4))
    assert(byZoom.values.forall(_ == 2000L))
  }
}
