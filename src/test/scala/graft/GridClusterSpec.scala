package graft

import graft.model.{Bounds, ClusterOptions}
import graft.operators.{GridCluster, TilePyramid}
import org.apache.spark.sql.functions._

/** Ports of the reference's end-to-end clustering tests (FIXTURES §A2):
  * viewport-4 (cluster_test.go:475-530) and rollup-3
  * (cluster_test.go:28-106), plus conservation invariants implied by
  * cluster_test.go:65-72.
  */
class GridClusterSpec extends SparkSpec {
  import spark.implicits._

  private val opts = ClusterOptions(minPoints = 2, radius = 40.0)
  private val viewport = Bounds(-180.0, 20.0, -60.0, 50.0)

  // (id, lon, lat, value) — cluster_test.go:478-497
  private def points4 = Seq(
    (1L, -100.0, 40.0, 100.0),
    (2L, -100.1, 40.1, 200.0),
    (3L, -100.2, 40.2, 300.0),
    (4L, -105.0, 35.0, 400.0)
  ).toDF("id", "lon", "lat", "value")

  test("viewport-4 at zoom 5: one 3-cluster + one single") {
    val out = GridCluster.cluster(points4, 5, viewport, opts, metricCols = Seq("value"))
      .collect().sortBy(_.getAs[Long]("id"))
    assert(out.length == 2, out.mkString("; "))
    val cluster = out.find(_.getAs[Boolean]("is_cluster")).get
    assert(cluster.getAs[Long]("count") == 3)
    assert(cluster.getAs[Long]("id") == 1) // min member id
    assert(math.abs(cluster.getAs[Double]("value") - 600.0) < 1e-9) // 100+200+300
    val single = out.find(!_.getAs[Boolean]("is_cluster")).get
    assert(single.getAs[Long]("count") == 1)
    assert(single.getAs[Double]("value") == 400.0)
    // centroid lands near the member points
    assert(math.abs(cluster.getAs[Double]("lon") - (-100.1)) < 0.5)
    assert(math.abs(cluster.getAs[Double]("lat") - 40.1) < 0.5)
  }

  test("viewport-4 at zoom 15: four singles") {
    val out = GridCluster.cluster(points4, 15, viewport, opts, metricCols = Seq("value"))
      .collect()
    assert(out.length == 4)
    assert(out.forall(!_.getAs[Boolean]("is_cluster")))
    assert(out.map(_.getAs[Double]("value")).sorted.sameElements(Array(100.0, 200.0, 300.0, 400.0)))
    // unprojected coords round-trip to the original points within 1e-4
    val byId = out.map(r => r.getAs[Long]("id") -> r).toMap
    assert(math.abs(byId(1L).getAs[Double]("lon") - (-100.0)) < 1e-4)
    assert(math.abs(byId(1L).getAs[Double]("lat") - 40.0) < 1e-4)
  }

  test("rollup-3: metric sums over one cluster (sales 600, customers 60)") {
    // cluster_test.go:28-106 — (0,0),(0.1,0.1),(0.2,0.2). Run at zoom 1:
    // grid-snap semantics split clusters at cell boundaries (unlike the
    // reference's greedy radius sweep — documented deviation, SURVEY
    // §7.1), and at zoom 1 one cell comfortably holds all 3 points.
    val df = Seq(
      (1L, 0.0, 0.0, 100.0, 10.0),
      (2L, 0.1, 0.1, 200.0, 20.0),
      (3L, 0.2, 0.2, 300.0, 30.0)
    ).toDF("id", "lon", "lat", "sales", "customers")
    val out = GridCluster.cluster(df, 1, Bounds.World, opts,
      metricCols = Seq("sales", "customers")).collect()
    assert(out.length == 1)
    assert(out.head.getAs[Long]("count") == 3)
    assert(out.head.getAs[Double]("sales") == 600.0)
    assert(out.head.getAs[Double]("customers") == 60.0)
  }

  test("opt-in children carries sorted member ids (ClusterNode.Children)") {
    val out = GridCluster.cluster(points4, 5, viewport, opts, includeChildren = true)
      .collect().sortBy(_.getAs[Long]("id"))
    val cluster = out.find(_.getAs[Boolean]("is_cluster")).get
    assert(cluster.getAs[String]("children") == "1,2,3")
    val single = out.find(!_.getAs[Boolean]("is_cluster")).get
    assert(single.getAs[String]("children") == "4")
    // default output shape is unchanged
    assert(!GridCluster.cluster(points4, 5, viewport, opts).columns.contains("children"))
  }

  test("sequential viewport queries keep a bounded cache footprint") {
    // round-2 verdict #3: each cluster() call persists a viewport
    // projection; a long-lived serving process must not accumulate them.
    // The CachePool bounds live entries FIFO — N sequential queries keep
    // the session's persisted-RDD count constant.
    val df = sources.PointGen.uniformPoints(spark, 1000, Bounds.World, seed = 9L)
    operators.CachePool.clear()
    val before = spark.sparkContext.getPersistentRDDs.size
    (1 to 20).foreach { i =>
      GridCluster.cluster(df, 2 + (i % 3), Bounds.World, opts).count()
    }
    assert(operators.CachePool.liveCount <= 12)
    val grown = spark.sparkContext.getPersistentRDDs.size - before
    assert(grown <= 12, s"persisted RDDs grew by $grown after 20 queries")
  }

  test("conservation: counts and metric mass preserved across zooms") {
    // 2-decimal metric so the operator's DECIMAL(18,2) sums are lossless
    // and conservation is exact.
    val df = sources.PointGen.uniformPoints(spark, 2000, Bounds.World, seed = 42L)
      .withColumn("sales", round(col("metric_sales"), 2))
    val inViewport = GridCluster.projectToViewport(df, 4, Bounds.World, opts)
    val nIn = inViewport.count()
    val massIn = inViewport.agg(sum(col("sales").cast("decimal(18,2)"))).first().getDecimal(0)
    for (z <- Seq(0, 4, 10)) {
      val out = GridCluster.cluster(df, z, Bounds.World, opts, metricCols = Seq("sales"))
      val agg = out.agg(
        sum(col("count")), sum(col("sales").cast("decimal(18,2)")), min(col("count"))).first()
      assert(agg.getLong(0) == nIn, s"zoom $z point-count conservation")
      assert(agg.getDecimal(1).compareTo(massIn) == 0, s"zoom $z metric mass conservation")
      assert(agg.getLong(2) >= 1)
    }
  }

  test("each pyramid zoom slice equals the live query over the world, row for row") {
    // the pyramid is a materialized view of the live query: both run the
    // one cell aggregate and finalize, so ids, counts, centroids, metric
    // sums and _freq strings agree exactly
    val df = sources.PointGen.uniformPoints(spark, 3000, Bounds.World, seed = 7L)
    val metrics = Seq("metric_value")
    val meta = Seq("meta_category")
    val pyramid = TilePyramid.build(df, 0, 3, opts, metrics, meta).cache()
    def rows(d: org.apache.spark.sql.DataFrame) = d.collect().map(_.toSeq).sortBy(_.head.asInstanceOf[Long]).toSeq
    var kinds = Set.empty[Boolean]
    for (z <- 0 to 3) {
      val live = GridCluster.cluster(df, z, Bounds.World, opts, metrics, meta)
      val slice = pyramid.filter(col("zoom") === z).drop("zoom")
      assert(slice.columns.sameElements(live.columns))
      val (l, p) = (rows(live), rows(slice))
      assert(l.nonEmpty && l == p, s"zoom $z: live and pyramid rows differ")
      kinds ++= l.map(_(4).asInstanceOf[Boolean])
    }
    assert(kinds == Set(true, false), "fixture must yield both clusters and singles")
    pyramid.unpersist()
  }
}
