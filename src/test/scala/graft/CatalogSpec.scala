package graft

import graft.model.{Bounds, ClusterOptions}
import graft.operators.GridCluster
import graft.sources.{Catalog, PointGen}
import java.nio.file.Files

/** Catalog round-trip + LRU semantics (reference: storage.go save/load,
  * helpers.go catalog listing, runner.go LRU of 5).
  */
class CatalogSpec extends SparkSpec {

  private lazy val warehouse = Files.createTempDirectory("graft-warehouse").toString

  test("save/load round trip preserves rows; tile partition column present") {
    val cat = new Catalog(spark, warehouse)
    val pts = PointGen.uniformPoints(spark, 1000, Bounds.World, seed = 42L)
    val info = cat.save(pts, "cluster-1000p-t0-alpha")
    assert(info.numPoints == 1000)
    val loaded = cat.load("cluster-1000p-t0-alpha")
    assert(loaded.count() == 1000)
    assert(loaded.columns.contains("tile_z5"))
    // loaded data clusters end-to-end
    val out = GridCluster.cluster(loaded, 3, Bounds.World,
      ClusterOptions(), metricCols = Seq("metric_sales"))
    assert(out.count() > 0)
  }

  test("viewport query prunes tile partitions at planning time") {
    val cat = new Catalog(spark, warehouse)
    val loaded = cat.load("cluster-1000p-t0-alpha")
    val viewport = Bounds(-10.0, -10.0, 10.0, 10.0)
    val proj = GridCluster.projectToViewport(loaded, 5, viewport, ClusterOptions())
    val plan = proj.queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters") && plan.contains("tile_z5"),
      s"expected tile partition filters in plan:\n$plan")
    // correctness unchanged by pruning: same rows as a tile-less scan
    val bare = loaded.drop("tile_z5")
    val expected = GridCluster.projectToViewport(bare, 5, viewport, ClusterOptions())
      .select("id")
    assert(proj.select("id").exceptAll(expected).isEmpty &&
      expected.exceptAll(proj.select("id")).isEmpty)
  }

  test("list + describe by substring; fileSize reported") {
    val cat = new Catalog(spark, warehouse)
    cat.save(PointGen.uniformPoints(spark, 50, Bounds.World, 1L), "cluster-50p-t1-beta")
    val ids = cat.list().map(_.id)
    assert(ids.contains("cluster-1000p-t0-alpha") && ids.contains("cluster-50p-t1-beta"))
    assert(cat.describe("beta").exists(_.numPoints == 50))
    assert(cat.describe("nope").isEmpty)
    // catalog entries carry on-disk size (reference helpers.go:88-93)
    assert(cat.list().forall(_.fileSizeBytes > 0))
  }

  test("LRU evicts least-recently-used beyond maxCached") {
    val cat = new Catalog(spark, warehouse, maxCached = 2)
    for (i <- 1 to 3)
      cat.save(PointGen.uniformPoints(spark, 10, Bounds.World, i.toLong), s"cluster-10p-t2-lru$i")
    cat.load("cluster-10p-t2-lru1")
    cat.load("cluster-10p-t2-lru2")
    cat.load("cluster-10p-t2-lru3") // evicts lru1
    assert(cat.cachedIds == Seq("cluster-10p-t2-lru2", "cluster-10p-t2-lru3"))
    cat.load("cluster-10p-t2-lru2") // refresh recency
    cat.load("cluster-10p-t2-lru1") // evicts lru3
    assert(cat.cachedIds == Seq("cluster-10p-t2-lru2", "cluster-10p-t2-lru1"))
  }

  test("no stale read after a mutation: append, delete, compaction, re-save") {
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    // handles hold file listings, not data: every mutation must drop
    // the held handle, so the next load re-lists and sees exactly the
    // post-mutation rows
    val cat = new Catalog(spark, warehouse, maxCached = 2)
    val (id, other) = ("cluster-10p-t3-mut", "cluster-10p-t3-other")
    cat.save(PointGen.uniformPoints(spark, 10, Bounds.World, 5L), id)
    cat.save(PointGen.uniformPoints(spark, 10, Bounds.World, 6L), other)
    val mutations: Seq[(String, () => Unit, Set[Long])] = Seq(
      ("append", () => { cat.append(PointGen.uniformPoints(spark, 5, Bounds.World, 99L)
        .withColumn("id", col("id") + 100L), id); () }, (1L to 10L).toSet ++ (101L to 105L)),
      // the first tombstone write appends zero rows: the sidecar read
      // must resolve whatever that write leaves
      ("unknown-id delete", () => { cat.deletePoints(id, Seq(999L).toDF("id")); () },
        (1L to 10L).toSet ++ (101L to 105L)),
      ("delete", () => { cat.deletePoints(id, Seq(1L, 2L, 101L).toDF("id")); () },
        (3L to 10L).toSet ++ (102L to 105L)),
      ("compact", () => { cat.compactPoints(id); () }, (3L to 10L).toSet ++ (102L to 105L)),
      ("re-save", () => { cat.save(PointGen.uniformPoints(spark, 7, Bounds.World, 7L), id); () },
        (1L to 7L).toSet))
    for ((name, mutate, expected) <- mutations) {
      val held = cat.load(id)
      cat.load(other)
      assert(cat.cachedIds == Seq(id, other), name)
      mutate()
      assert(cat.cachedIds == Seq(other), s"$name must drop the held handle")
      val fresh = cat.load(id)
      assert(!(fresh eq held), name)
      assert(fresh.select("id").as[Long].collect().toSet == expected, name)
      assert(cat.cachedIds == Seq(other, id), name)
    }
    assert(cat.deadFraction(id) == 0.0)
  }
}
