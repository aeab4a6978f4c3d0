package graft.sources

import graft.functions.Mercator
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel
import java.nio.file.{Files, Paths}
import scala.collection.mutable
import scala.jdk.CollectionConverters._

/** Dataset catalog + persistence — the reference's storage/catalog
  * surface (S4–S7, Q3–Q5):
  *  - persist = zstd Parquet partitioned by a zoom-5 Mercator tile key
  *    (reference: zstd binary KD-tree dumps, cluster/storage.go:16-202;
  *    the tile partition column replaces the KD-tree — viewport filters
  *    prune whole partitions before any scan, SURVEY §4-P1);
  *  - catalog = one `_graft_meta.json` per dataset + directory listing
  *    (reference: `cluster-{n}p-{ts}-{id}.zst` filename encoding,
  *    cluster/helpers.go:54-97);
  *  - load = a held handle (below) behind an LRU of `maxCached`
  *    datasets (reference: runner/runner.go:113-140,157-203,
  *    maxClusters=5, which holds whole KD-trees in memory; here the data
  *    stays in the tile-partitioned files).
  *
  * One rule for datasets ([[load]]) and pyramids ([[loadPyramid]]): a
  * handle is a resolved relation — schema and file listing, no cached
  * data, so nothing to unpersist — held so that a read costs neither a
  * directory listing nor a schema-inference job, and DROPPED whenever
  * the files under it may change: [[save]], [[append]], [[deletePoints]]
  * and [[compactPoints]] drop both, and [[savePyramid]] drops the
  * pyramid handle before and after its write. Dataset handles resolve
  * inside the monitor and are bounded by the LRU. Pyramid handles
  * resolve outside it, so a per-id generation counter, bumped on every
  * drop, makes sure a handle resolved while a rewrite was in flight is
  * returned to its caller but never kept. A dataset with no pyramid
  * keeps no pyramid handle ([[Catalog.NoPyramidException]]), so a later
  * build is served. Handles see only rewrites made through this
  * catalog: files rewritten by another process are not re-listed here.
  */
object Catalog {
  private val Se5 = math.pow(2.0, 5) * 512.0

  /** Zoom-5 tile ids (32×32 world grid) intersecting a viewport —
    * driver-side mirror of the [[Catalog.tileZ5]] column, used to build
    * partition-pruning predicates. Inclusive ranges: projection is
    * monotone, so every point inside the (epsilon-widened) viewport
    * falls in one of these tiles.
    */
  def tilesFor(b: graft.model.Bounds, eps: Double = 1e-9): Seq[Int] = {
    def clamp(v: Long): Int = math.min(31L, math.max(0L, v)).toInt
    val txMin = clamp(math.floor(Mercator.projXs(b.minLon - eps, Se5) / 512.0).toLong)
    val txMax = clamp(math.floor(Mercator.projXs(b.maxLon + eps, Se5) / 512.0).toLong)
    // y-flip: north edge gives the smaller projected y
    val tyMin = clamp(math.floor(Mercator.projYs(math.min(90.0, b.maxLat + eps), Se5) / 512.0).toLong)
    val tyMax = clamp(math.floor(Mercator.projYs(math.max(-90.0, b.minLat - eps), Se5) / 512.0).toLong)
    for (ty <- tyMin to tyMax; tx <- txMin to txMax) yield ty * 32 + tx
  }

  // a flat meta file's `"key":value` pairs, and the elements of a value
  private val MetaField = """"(\w+)":(\[[^\]]*\]|"[^"]*"|[^,}]*)""".r
  private val MetaItem = """"([^"]*)"|([^\[\],"]+)""".r

  /** A pyramid read on a dataset that has no persisted pyramid. */
  final class NoPyramidException(val id: String)
    extends NoSuchElementException(s"dataset $id has no pyramid")
}

final class Catalog(spark: SparkSession, warehouseDir: String, maxCached: Int = 5) {

  final case class SavedInfo(id: String, numPoints: Long, createdAtMs: Long, path: String,
                             fileSizeBytes: Long = 0L)

  // held dataset and pyramid handles, and the pyramid drop counters (the
  // class doc's handle rule)
  private val lru = mutable.LinkedHashMap.empty[String, DataFrame]
  private val pyramids = mutable.HashMap.empty[String, DataFrame]
  private val pyramidGen = mutable.HashMap.empty[String, Long].withDefaultValue(0L)

  /** Forget the held pyramid handle and bump the generation, so a
    * resolution already in flight is not kept either.
    */
  private def dropPyramid(id: String): Unit = synchronized {
    pyramids.remove(id)
    pyramidGen(id) += 1
  }

  /** Drop both held handles of a dataset whose files changed. */
  private def invalidate(id: String): Unit = synchronized {
    dropPyramid(id)
    lru.remove(id)
  }

  private def dsPath(id: String) = s"$warehouseDir/$id"
  private def pyramidPath(id: String) = s"${dsPath(id)}/_pyramid"
  private def tombPath(id: String) = s"${dsPath(id)}/_tombstones"
  private def stateMetaPath(id: String) = Paths.get(dsPath(id), "_pyramid_state_meta.json")

  /** The rows of a sidecar directory (`_pyramid`, `_tombstones`), read
    * through its entries: Spark treats an underscore-named directory it
    * is handed as a hidden path and logs `All paths were ignored` for
    * it. `basePath` keeps the partition column (`zoom`) of child
    * directories. None when the directory is absent or holds no data.
    */
  private def readSidecar(dir: String): Option[DataFrame] = {
    val root = Paths.get(dir)
    if (!Files.isDirectory(root)) return None
    val s = Files.list(root)
    val entries = try s.iterator().asScala.map(_.getFileName.toString)
      .filterNot(n => n.startsWith("_") || n.startsWith(".")).map(n => s"$dir/$n").toVector
    finally s.close()
    if (entries.isEmpty) None
    else Some(spark.read.option("basePath", dir).parquet(entries: _*))
  }

  /** The fields of a flat meta file (`_graft_meta.json`,
    * `_pyramid_state_meta.json`): a string or number as its one
    * element, a string array as its elements.
    */
  private def readMeta(path: java.nio.file.Path): Map[String, Seq[String]] =
    Catalog.MetaField.findAllMatchIn(Files.readString(path)).map { f =>
      f.group(1) -> Catalog.MetaItem.findAllMatchIn(f.group(2))
        .map(i => Option(i.group(1)).getOrElse(i.group(2))).toSeq
    }.toMap

  /** The catalog entry of a dataset that must exist. */
  private def savedInfo(id: String): SavedInfo =
    list().find(_.id == id).getOrElse(throw new IllegalArgumentException(s"unknown dataset $id"))

  /** Write a dataset's `_graft_meta.json` (read back by [[list]]). */
  private def writeMeta(info: SavedInfo): SavedInfo = {
    Files.writeString(Paths.get(info.path, "_graft_meta.json"),
      s"""{"id":"${info.id}","numPoints":${info.numPoints},"createdAtMs":${info.createdAtMs},"fileSizeBytes":${info.fileSizeBytes}}""")
    info
  }

  /** Total on-disk bytes under a dataset dir (the reference's catalog
    * fileSize field — cluster/helpers.go:88-93).
    */
  private def dirSize(path: String): Long = {
    val root = Paths.get(path)
    if (!Files.isDirectory(root)) return 0L
    val s = Files.walk(root)
    try s.filter(Files.isRegularFile(_)).mapToLong(Files.size(_)).sum()
    finally s.close()
  }

  /** Zoom-5 tile key (32×32 world grid): the partition column standing
    * in for the reference's KD-tree spatial index.
    */
  def tileZ5(lon: org.apache.spark.sql.Column, lat: org.apache.spark.sql.Column): org.apache.spark.sql.Column = {
    val se = math.pow(2.0, 5) * 512.0
    val tx = floor(Mercator.projX(lon, se) / 512.0)
    val ty = floor(Mercator.projY(lat, se) / 512.0)
    // clamp the lon=180 edge into the last tile
    least(lit(31), greatest(lit(0), ty)) * 32 + least(lit(31), greatest(lit(0), tx))
  }

  /** S4/Q3: persist a point dataset, tile-partitioned, zstd. The row
    * count piggybacks on the write via `observe` — one pass, where
    * re-reading the written files (round 1) was a second full scan per
    * ingest.
    */
  def save(points: DataFrame, id: String): SavedInfo = {
    val path = dsPath(id)
    // a re-save is a NEW dataset: stale tombstones from a previous
    // incarnation must not haunt recycled ids, and a held handle pins
    // the old file listing
    val tomb = new java.io.File(tombPath(id))
    if (tomb.exists) StagedSwap.rmRf(tomb)
    invalidate(id)
    val obs = org.apache.spark.sql.Observation(s"graft_save_$id")
    points
      .observe(obs, count(lit(1)).as("n"))
      .withColumn("tile_z5", tileZ5(col("lon"), col("lat")))
      .repartition(col("tile_z5"))
      .write.mode("overwrite")
      .option("compression", "zstd")
      .partitionBy("tile_z5")
      .parquet(path)
    // the overwrite removed any pyramid; a handle resolved during the
    // write may still list its files
    dropPyramid(id)
    val n = obs.get("n").asInstanceOf[Long]
    writeMeta(SavedInfo(id, n, System.currentTimeMillis(), path, dirSize(path)))
  }

  /** Append an ingest batch to an existing dataset (same tile
    * partitioning and compression; parquet append). The held handles
    * are dropped — a resolved relation pins its file listing and would
    * silently miss the new files. Meta counts accumulate.
    */
  def append(points: DataFrame, id: String): SavedInfo = {
    val prev = savedInfo(id)
    val path = dsPath(id)
    val obs = org.apache.spark.sql.Observation(s"graft_append_${id}_${System.nanoTime()}")
    points
      .observe(obs, count(lit(1)).as("n"))
      .withColumn("tile_z5", tileZ5(col("lon"), col("lat")))
      .repartition(col("tile_z5"))
      .write.mode("append")
      .option("compression", "zstd")
      .partitionBy("tile_z5")
      .parquet(path)
    val added = obs.get("n").asInstanceOf[Long]
    invalidate(id)
    writeMeta(SavedInfo(id, prev.numPoints + added, prev.createdAtMs, path, dirSize(path)))
  }

  /** Persist a precomputed cluster pyramid for a dataset. Layout chosen
    * for serving: directory-partitioned by `zoom` (a viewport request
    * prunes to one dir at planning time), and *within* a zoom the rows
    * are range-partitioned and sorted by the zoom-5 tile key — so files
    * and row groups are spatially tight and a viewport's lon/lat/tile
    * predicates skip them via parquet min/max stats. Range partitioning
    * (not hash) keeps file count proportional to data volume per zoom:
    * zoom 0 collapses to one small file while a 100 TB zoom-16 slice
    * spreads over many, with no tiny-file explosion (the earlier
    * (zoom, tile) dir layout wrote thousands of ~10-row files).
    * Lives under `_pyramid` inside the dataset dir (underscore prefix →
    * invisible to the main dataset scan).
    */
  def savePyramid(id: String, pyramid: DataFrame): String = {
    val path = pyramidPath(id)
    dropPyramid(id)
    try pyramid
      .withColumn("tile_z5", tileZ5(col("lon"), col("lat")))
      .repartitionByRange(col("zoom"), col("tile_z5"))
      .sortWithinPartitions("zoom", "tile_z5")
      .write.mode("overwrite")
      .option("compression", "zstd")
      .partitionBy("zoom")
      .parquet(path)
    finally dropPyramid(id)
    path
  }

  /** The dataset's pyramid as one held relation (see the class doc's
    * pyramid-handle rule); readers filter it. A miss resolves outside
    * the monitor, so it never blocks live [[load]] calls. Throws
    * [[Catalog.NoPyramidException]] when no pyramid is persisted.
    */
  def loadPyramid(id: String): DataFrame = {
    val (held, gen) = synchronized((pyramids.get(id), pyramidGen(id)))
    held.getOrElse {
      val df = readSidecar(pyramidPath(id)).getOrElse(throw new Catalog.NoPyramidException(id))
      synchronized { if (pyramidGen(id) == gen) pyramids.put(id, df) }
      df
    }
  }

  /** Persist the mergeable pyramid partial state
    * ([[graft.operators.PyramidState]]) so ingest batches can maintain
    * the pyramid incrementally across processes. VERSIONED dirs: a
    * merged state's plan READS the previous version, so overwriting in
    * place would destroy its own input — each save writes `v{k+1}`,
    * flips the meta pointer, then best-effort deletes `v{k}`. Decimal
    * accumulator columns round-trip parquet exactly.
    */
  def savePyramidState(id: String, st: graft.operators.PyramidState,
                       zMin: Int, zMax: Int, metricCols: Seq[String]): Unit = {
    val cur = if (Files.isRegularFile(stateMetaPath(id)))
      readMeta(stateMetaPath(id))("version").head.toLong else 0L
    val v = cur + 1
    val base = s"${dsPath(id)}/_pyramid_state/v$v"
    st.cells.write.mode("overwrite").option("compression", "zstd").parquet(s"$base/cells")
    st.metaCounts.foreach { case (c, df) =>
      df.write.mode("overwrite").option("compression", "zstd").parquet(s"$base/meta_$c")
    }
    def arr(xs: Seq[String]) = xs.map("\"" + _ + "\"").mkString("[", ",", "]")
    Files.writeString(stateMetaPath(id),
      s"""{"version":$v,"densityN":${st.densityN},"zMin":$zMin,"zMax":$zMax,""" +
        s""""metricCols":${arr(metricCols)},"metaCols":${arr(st.metaCounts.map(_._1))}}""")
    if (cur > 0) { // previous version no longer referenced
      val old = Paths.get(s"${dsPath(id)}/_pyramid_state/v$cur")
      if (Files.isDirectory(old)) {
        val s = Files.walk(old)
        try s.sorted(java.util.Comparator.reverseOrder())
          .forEach(p => { Files.deleteIfExists(p); () })
        finally s.close()
      }
    }
  }

  /** Load a persisted pyramid state: (state, zMin, zMax, metricCols). */
  def loadPyramidState(id: String): Option[(graft.operators.PyramidState, Int, Int, Seq[String])] = {
    if (!Files.isRegularFile(stateMetaPath(id))) return None
    val m = readMeta(stateMetaPath(id))
    def num(k: String): Long = m(k).head.toLong
    val base = s"${dsPath(id)}/_pyramid_state/v${num("version")}"
    val cells = spark.read.parquet(s"$base/cells")
    val metaCounts = m("metaCols").map(c => c -> spark.read.parquet(s"$base/meta_$c"))
    Some((graft.operators.PyramidState(cells, metaCounts, num("densityN")),
      num("zMin").toInt, num("zMax").toInt, m("metricCols")))
  }

  /** S5/Q4: the dataset's held handle (see the class doc). A miss
    * resolves inside the monitor; admitting it evicts the
    * least-recently-used id beyond `maxCached`.
    */
  def load(id: String): DataFrame = synchronized {
    val df = lru.remove(id).getOrElse {
      val raw = spark.read.parquet(dsPath(id))
      // tombstoned points ([[deletePoints]]) leave every serving
      // answer immediately; the anti-join rides the broadcast-small
      // tombstone set and disappears entirely once [[compactPoints]]
      // drops the rows physically. No `distinct`: an anti-join ignores
      // duplicate keys, and every read of the handle would pay its
      // shuffle
      readSidecar(tombPath(id)).fold(raw)(t =>
        raw.join(broadcast(t), Seq("id"), "left_anti"))
    }
    lru.put(id, df) // most recent last
    if (lru.size > maxCached) lru.remove(lru.head._1)
    df
  }

  /** Dataset ids with a held handle, least-recent first (test hook). */
  def cachedIds: Seq[String] = synchronized(lru.keys.toSeq)

  /** Highest id ever issued for a dataset — live rows OR tombstoned
    * ones (a recycled tombstoned id would be anti-joined out of every
    * read forever). The id-allocation watermark for generated appends;
    * 0 for an empty dataset.
    */
  def maxIssuedId(id: String): Long = {
    val liveMax = Option(load(id).agg(max(col("id"))).head().get(0))
      .map(_.asInstanceOf[Long]).getOrElse(0L)
    val tombMax = readSidecar(tombPath(id))
      .flatMap(t => Option(t.agg(max(col("id"))).head().get(0)))
      .map(_.asInstanceOf[Long]).getOrElse(0L)
    math.max(liveMax, tombMax)
  }

  /** Tombstone-delete points by id — the delete quarter of the dataset
    * lifecycle (save / append / load+serve / delete), the same side-
    * table contract as the vector/text/dedup indexes: an O(|batch|)
    * parquet append, never a rewrite. [[load]] anti-joins the set out
    * of every subsequent read (the held handles are dropped here);
    * [[compactPoints]] later drops the rows physically. Only ids that
    * are LIVE right now count toward the meta decrement, so replayed
    * deletes are idempotent and unknown ids are no-ops.
    * Returns the updated catalog info.
    */
  def deletePoints(id: String, ids: DataFrame): SavedInfo = {
    val prev = savedInfo(id)
    val path = dsPath(id)
    val toRemove = load(id)
      .join(ids.select(ids.columns.headOption.map(col).getOrElse(col("id"))
        .cast("long").as("id")).distinct(), Seq("id"), "left_semi")
      .select(col("id"))
      .persist(StorageLevel.MEMORY_AND_DISK)
    // materialize BEFORE touching the directory: the write below must
    // not re-plan against the tombstone files it is creating
    val removed = toRemove.count()
    toRemove.write.mode("append").parquet(tombPath(id))
    toRemove.unpersist()
    invalidate(id)
    writeMeta(SavedInfo(id, prev.numPoints - removed, prev.createdAtMs, path, dirSize(path)))
  }

  /** Fraction of STORED points that are tombstoned (dead / (live +
    * dead); 0 with no tombstones) — the compaction-pressure signal.
    * Live count comes from the meta file (already maintained by
    * [[deletePoints]]), so this is one tombstone-table count, not a
    * dataset scan.
    */
  def deadFraction(id: String): Double = {
    val dead = readSidecar(tombPath(id)).fold(0L)(_.distinct().count())
    if (dead == 0L) 0.0
    else dead.toDouble / (dead + list().find(_.id == id).map(_.numPoints).getOrElse(0L))
  }

  /** Policy-driven compaction: rewrite only when the dead fraction
    * crosses `maxDead` — trickle deletes amortize into occasional
    * rewrites instead of rewriting the dataset per delete. Returns
    * whether it compacted.
    */
  def compactIfStale(id: String, maxDead: Double = 0.2): Boolean = {
    val stale = deadFraction(id) > maxDead
    if (stale) { compactPoints(id); () }
    stale
  }

  /** Physically drop tombstoned rows and clear the tombstones — the
    * compaction half of [[deletePoints]]' LSM contract. Rewrites the
    * live rows into a staged directory (same tile partitioning and
    * compression), carries the sidecar artifacts (pyramid, pyramid
    * state, meta) across, then swaps — a reader never sees partial
    * state, and the tombstone table dies with the old directory.
    */
  def compactPoints(id: String): SavedInfo = {
    val prev = savedInfo(id)
    val path = dsPath(id)
    readSidecar(tombPath(id)).foreach { tomb =>
      val tmp = path + ".compact"
      spark.read.parquet(path)
        .join(broadcast(tomb.distinct()), Seq("id"), "left_anti")
        .write.mode("overwrite").option("compression", "zstd")
        .partitionBy("tile_z5")
        .parquet(tmp)
      // sidecars (pyramid, state, meta) move INSIDE the swap window:
      // staging the live dir first means no moment exists where the
      // dataset path is present but missing its meta/pyramid — the
      // same all-or-nothing contract the other indexes' swaps give
      StagedSwap.swapCarrying(path, tmp) { bak =>
        for (aux <- Seq("_pyramid", "_pyramid_state", "_pyramid_state_meta.json",
          "_graft_meta.json")) {
          val f = new java.io.File(bak, aux)
          // a silently-failed carry would let rmRf(bak) destroy the only
          // copy of the pyramid/meta — fail the swap loudly instead, like
          // swap() itself does for its renames
          if (f.exists)
            require(f.renameTo(new java.io.File(s"$tmp/$aux")),
              s"could not carry sidecar $aux from $bak into $tmp")
        }
      }
      invalidate(id)
    }
    writeMeta(SavedInfo(id, prev.numPoints, prev.createdAtMs, path, dirSize(path)))
  }

  /** S6/Q5: list saved datasets from their meta files. */
  def list(): Seq[SavedInfo] = {
    val root = Paths.get(warehouseDir)
    if (!Files.isDirectory(root)) return Nil
    val dirs = Files.list(root)
    val out = try dirs.iterator().asScala.map(_.resolve("_graft_meta.json"))
      .filter(Files.isRegularFile(_)).map { meta =>
        val m = readMeta(meta)
        val p = meta.getParent.toString
        SavedInfo(m("id").head, m("numPoints").head.toLong, m("createdAtMs").head.toLong, p,
          // older meta files predate the field — fall back to a live walk
          m.get("fileSizeBytes").map(_.head.toLong).getOrElse(dirSize(p)))
      }.toVector
    finally dirs.close()
    out.sortBy(_.id)
  }

  /** S7: find one dataset by id substring (reference semantics —
    * cluster/helpers.go:99-140).
    */
  def describe(idSubstring: String): Option[SavedInfo] =
    list().find(_.id.contains(idSubstring))
}
