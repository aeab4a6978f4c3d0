package graft

import graft.model.Bounds
import graft.sources.{Catalog, PointGen}
import java.nio.file.Files
import java.util.concurrent.atomic.{AtomicBoolean, AtomicLong}
import org.apache.spark.metrics.source.HiveCatalogMetrics
import org.apache.spark.sql.functions.{col, sum}

/** The held pyramid relation ([[Catalog.loadPyramid]]): reused across
  * reads, dropped on every rewrite, never kept when resolved while a
  * rewrite was in flight.
  */
class PyramidHandleSpec extends SparkSpec {

  private lazy val engine =
    new ClusterEngine(spark, Files.createTempDirectory("graft-pyr-handle").toString)
  private val id = "handle"

  /** Points held by the pyramid's zoom-0 world viewport: every live point. */
  private def z0Total(): Long =
    engine.getClustersFromPyramid(id, 0, Bounds.World).agg(sum(col("count"))).head().getLong(0)

  private def live(): Long = engine.load(id).count()

  test("consecutive pyramid reads reuse one resolved relation: no re-listing") {
    engine.createDataset(id, 2000)
    engine.buildAndSavePyramid(id, 0, 3)
    assert(z0Total() == 2000L)
    val listed = HiveCatalogMetrics.METRIC_FILES_DISCOVERED.getCount
    assert(z0Total() == 2000L)
    engine.getSummaryFromPyramid(id, 2, Bounds(-20, -20, 20, 20)).collect()
    assert(HiveCatalogMetrics.METRIC_FILES_DISCOVERED.getCount == listed)
    assert(engine.catalog.loadPyramid(id) eq engine.catalog.loadPyramid(id))
  }

  test("every pyramid or dataset rewrite drops the handle: z0 total tracks the live count") {
    import spark.implicits._
    def step(name: String)(mutate: => Unit): Unit = {
      z0Total() // hold a handle from before the mutation
      mutate
      assert(z0Total() == live(), s"after $name")
    }
    step("buildAndSavePyramid")(engine.buildAndSavePyramid(id, 0, 3))
    step("appendPoints")(engine.appendPoints(id, 300))
    step("deleteAndMaintain")(engine.deleteAndMaintain(id, Seq(1L, 2L, 3L, 500L).toDF("id")))
    step("compactPoints")(engine.catalog.compactPoints(id))
    assert(live() == 2296L)

    // a re-save replaces the dataset and its pyramid: the held handle
    // must not outlive it, and the rebuilt pyramid is served
    z0Total()
    engine.catalog.save(PointGen.uniformPoints(spark, 700, Bounds.World, 7L), id)
    intercept[Catalog.NoPyramidException](engine.catalog.loadPyramid(id))
    engine.buildAndSavePyramid(id, 0, 3)
    assert(z0Total() == 700L && live() == 700L)
  }

  test("a reader looping loadPyramid during savePyramid never leaves a stale handle") {
    engine.createDataset("handle-other", 450, seed = 9L)
    val stop = new AtomicBoolean(false)
    val loads = new AtomicLong(0L)
    val reader = new Thread(() =>
      while (!stop.get) {
        // reads racing the overwrite may fail; only what is kept matters
        try engine.catalog.loadPyramid(id) catch { case _: Exception => () }
        loads.incrementAndGet()
        Thread.sleep(1)
      })
    reader.start()
    try {
      for ((source, points) <- Seq("handle-other" -> 450L, id -> 700L, "handle-other" -> 450L)) {
        engine.catalog.savePyramid(id, engine.buildPyramid(source, 0, 3))
        Thread.sleep(50) // let the reader resolve and keep the new pyramid
        assert(z0Total() == points, s"after saving the pyramid of $source")
      }
    } finally {
      stop.set(true)
      reader.join()
    }
    assert(loads.get > 0L)
  }

  test("a handle resolved while a rewrite runs is returned to its caller but not kept") {
    val cat = engine.catalog
    cat.savePyramid(id, engine.buildPyramid(id, 0, 3)) // 700 points, no handle held
    val reader = new Thread(() => { cat.loadPyramid(id); () })
    reader.start()
    // the reader has listed the current files once it runs its
    // schema-inference job; the rewrite then completes before it can
    // take the monitor to store its handle
    val deadline = System.nanoTime() + 60L * 1000 * 1000 * 1000
    while (!reader.getStackTrace.exists(_.getMethodName == "runJob")) {
      assert(reader.isAlive && System.nanoTime() < deadline, "reader resolved before the rewrite")
      Thread.onSpinWait()
    }
    cat.synchronized(cat.savePyramid(id, engine.buildPyramid("handle-other", 0, 3)))
    reader.join()
    assert(z0Total() == 450L)
  }

  test("a dataset without a pyramid keeps no handle; a later build is served") {
    engine.createDataset("handle-bare", 300)
    intercept[Catalog.NoPyramidException](engine.catalog.loadPyramid("handle-bare"))
    engine.buildAndSavePyramid("handle-bare", 0, 2)
    assert(engine.getClustersFromPyramid("handle-bare", 0, Bounds.World)
      .agg(sum(col("count"))).head().getLong(0) == 300L)
  }
}
