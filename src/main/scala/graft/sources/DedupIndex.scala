package graft.sources

import graft.operators.{CachePool, Dedup}
import graft.plans.Functions
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Persisted dedup signature index + incremental batch dedup — the
  * dedup member of the serving/index family (geo pyramid, text index,
  * vector index). The production shape at corpus scale: the corpus is
  * shingled, minhash-signed and digest-hashed exactly ONCE, the
  * signatures persist as an index, and every new ingest batch is
  * checked against the index with work proportional to the BATCH, not
  * the corpus — no re-shingling, no corpus self-join, no corpus-scale
  * shuffle per ingest.
  *
  * Layout (three tables, each clustered for its probe pattern):
  *  - `digests` (digest, doc_id) — range-partitioned + sorted by
  *    digest: an exact-dup probe is an equi-join whose min/max stats
  *    prune files/row groups to the batch's digest range;
  *  - `bands` (bk, band, doc_id) — range-partitioned + sorted by band
  *    key, so the LSH candidate join touches only matching key slices;
  *  - `shingles` (doc_id, s, len) — range-partitioned + sorted by
  *    doc_id: the verify step fetches only candidate docs' shingle
  *    sets (candidates are a tiny fraction of the corpus after LSH);
  *  - `sigkeys` (sigkey, doc_id) — PER-DOC signature keys (not the
  *    identity-level distinct set): the gate probes
  *    [[liveSigkeys]]' distinct projection, and keeping the owning
  *    doc on each row is what makes [[delete]] sound — a key shared
  *    by a deleted and a live doc stays in the gate because the live
  *    doc's row survives the tombstone anti-join.
  *
  * Incremental semantics per batch doc, with the same md5 machinery as
  * [[graft.operators.Dedup]] (k minhash slots, banded keys, exact
  * Jaccard verification — cross-engine deterministic):
  *  - `exact`  — full-text digest matches an indexed doc (match =
  *    minimum such doc_id, jaccard_ppm = 1000000);
  *  - `near`   — a banded-LSH candidate verifies at Jaccard ≥
  *    threshold (match = highest jaccard_ppm, ties to minimum doc_id);
  *  - `unique` — neither (match_id = −1, jaccard_ppm = 0).
  *
  * At 100 TB: the batch side of every join is ingest-batch-sized and
  * broadcast (AQE downgrades to shuffle if a batch is genuinely
  * corpus-scale, in which case the joins co-partition on the index's
  * natural keys); the index side streams through pruned scans. Nothing
  * corpus-scale is ever shuffled or recomputed.
  */
object DedupIndex {

  /** Per-doc signature rows: (doc_id, digest, s, len). */
  private def signatures(docs: DataFrame, textCol: String, idCol: String): DataFrame =
    docs.select(col(idCol).cast("long").as("doc_id"),
      md5(col(textCol)).as("digest"),
      Dedup.shingles3(col(textCol)).as("s"))
      .withColumn("len", size(col("s")).cast("long"))

  /** Exploded LSH band keys for signature rows (docs with ≥1 shingle). */
  private def bandRows(sig: DataFrame, k: Int, bands: Int): DataFrame =
    sig.filter(col("len") >= 1)
      .select(col("doc_id"),
        explode(Dedup.bandKeys(Dedup.minhashSig(col("s"), k), bands)).as("x"))
      .select(col("x.bk").as("bk"), col("x.band").as("band"), col("doc_id"))

  /** Build + persist the signature index for `docs` under `path`
    * (overwrites). One corpus pass computes digests, shingle sets and
    * band keys; the shingle subtree is pool-persisted so the two
    * derived tables don't re-shingle.
    */
  def save(docs: DataFrame, path: String, k: Int = 8, bands: Int = 4,
           textCol: String = "text", idCol: String = "doc_id"): String = {
    val sig = CachePool.track(signatures(docs, textCol, idCol))
    sig.select(col("digest"), col("doc_id"))
      .repartitionByRange(col("digest")).sortWithinPartitions("digest")
      .write.mode("overwrite").option("compression", "zstd")
      .parquet(s"$path/digests")
    bandRows(sig, k, bands)
      .repartitionByRange(col("bk")).sortWithinPartitions("bk")
      .write.mode("overwrite").option("compression", "zstd")
      .parquet(s"$path/bands")
    sig.filter(col("len") >= 1).select(col("doc_id"), col("s"), col("len"))
      .repartitionByRange(col("doc_id")).sortWithinPartitions("doc_id")
      .write.mode("overwrite").option("compression", "zstd")
      .parquet(s"$path/shingles")
    // per-doc signature keys for the streaming ingest gate
    // (graft.streaming.DocStream.gateAgainstIndex probes the distinct
    // projection via liveSigkeys), sorted for pruned probes
    docs.select(Dedup.signatureKey(col(textCol), k).as("sigkey"),
        col(idCol).cast("long").as("doc_id"))
      .repartitionByRange(col("sigkey")).sortWithinPartitions("sigkey")
      .write.mode("overwrite").option("compression", "zstd")
      .parquet(s"$path/sigkeys")
    refreshGateState(docs.sparkSession, path) // gate sidecar maintained at mutation time
    path
  }

  /** Fold a new batch INTO the index without rebuilding — the other
    * half of the ingest lifecycle (classify with [[incrementalDedup]],
    * keep the survivors, then append them so the NEXT batch dedups
    * against them too). Appends are new parquet files per table;
    * sortedness degrades across appends (each append is sorted within
    * itself but ranges overlap), so probe pruning weakens until
    * [[compact]] restores the clustered layout — the standard
    * LSM-flavored index maintenance contract at 100 TB (cheap appends,
    * periodic compaction), not a per-batch full rewrite.
    */
  def append(docs: DataFrame, path: String, k: Int = 8, bands: Int = 4,
             textCol: String = "text", idCol: String = "doc_id"): String = {
    val sig = CachePool.track(signatures(docs, textCol, idCol))
    sig.select(col("digest"), col("doc_id"))
      .sortWithinPartitions("digest")
      .write.mode("append").option("compression", "zstd")
      .parquet(s"$path/digests")
    bandRows(sig, k, bands)
      .sortWithinPartitions("bk")
      .write.mode("append").option("compression", "zstd")
      .parquet(s"$path/bands")
    sig.filter(col("len") >= 1).select(col("doc_id"), col("s"), col("len"))
      .sortWithinPartitions("doc_id")
      .write.mode("append").option("compression", "zstd")
      .parquet(s"$path/shingles")
    docs.select(graft.operators.Dedup.signatureKey(col(textCol), k).as("sigkey"),
        col(idCol).cast("long").as("doc_id"))
      .sortWithinPartitions("sigkey")
      .write.mode("append").option("compression", "zstd")
      .parquet(s"$path/sigkeys")
    refreshGateState(docs.sparkSession, path)
    path
  }

  /** Tombstone delete — the fourth quarter of the dedup-index
    * lifecycle (save / append+compact / serve / delete). A delete
    * batch is an O(|batch|) append to a side `tombstones` table; every
    * serving path ([[incrementalDedup]], [[bloomGate]], the
    * [[liveSigkeys]] gate probe) anti-joins the (small, broadcast)
    * tombstone set out of its index-side scan, so a deleted doc can no
    * longer claim an exact or near match and its signature leaves the
    * gate UNLESS a live doc still carries the same key (the per-doc
    * sigkey layout's whole point). [[compact]] later drops tombstoned
    * rows physically from all four tables and clears the tombstones in
    * the same staged swap. Replayed deletes are idempotent (the
    * tombstone set is read distinct).
    */
  def delete(spark: SparkSession, path: String, ids: Seq[Long]): String = {
    import spark.implicits._
    delete(path, ids.toDF("doc_id"))
  }

  /** Distributed delete: `ids` is a one-column frame of doc ids (any
    * integral type) — no driver materialization, so a corpus-scale
    * purge (GDPR sweep, licence retraction) stays a parquet append.
    */
  def delete(path: String, ids: DataFrame): String = {
    ids.select(ids.columns.headOption.map(col).getOrElse(col("doc_id"))
        .cast("long").as("doc_id"))
      .write.mode("append").parquet(s"$path/tombstones")
    // the delete pays the gate refresh (live projection + bloom rebuild)
    // so subsequent gate builds stay warm — r9 advice; the tombstone
    // append itself remains O(|batch|)
    refreshGateState(ids.sparkSession, path)
    path
  }

  private def tombstones(spark: SparkSession, path: String): Option[DataFrame] =
    if (new java.io.File(s"$path/tombstones").exists)
      Some(spark.read.parquet(s"$path/tombstones").distinct()) else None

  private def dropTombstoned(spark: SparkSession, path: String, df: DataFrame): DataFrame =
    tombstones(spark, path) match {
      case Some(t) => df.join(broadcast(t), Seq("doc_id"), "left_anti")
      case None    => df
    }

  /** Fraction of stored docs that are tombstoned (0 with no
    * tombstones) — the compaction-pressure signal. Only tombstoned ids
    * that are actually MEMBERS count ([[delete]] appends raw ids
    * unchecked, so a batch of unknown/foreign ids would otherwise
    * inflate the ratio past 1.0 and trigger spurious
    * [[compactIfStale]] rewrites — r9 advice).
    */
  def deadFraction(spark: SparkSession, path: String): Double =
    tombstones(spark, path) match {
      case None => 0.0
      case Some(t) =>
        val members = spark.read.parquet(s"$path/digests")
          .select(col("doc_id")).distinct()
        val total = members.count()
        if (total == 0L) 0.0
        else members.join(broadcast(t), Seq("doc_id"), "left_semi")
          .count().toDouble / total
    }

  /** Policy-driven compaction — the maintenance loop's call: compact
    * only when the dead fraction crosses `maxDead` (default 20%), so
    * steady trickle deletes amortize into occasional rewrites instead
    * of rewriting the index per delete. Returns whether it compacted.
    */
  def compactIfStale(spark: SparkSession, path: String, maxDead: Double = 0.2): Boolean = {
    val stale = deadFraction(spark, path) > maxDead
    if (stale) { compact(spark, path); () }
    stale
  }

  // ------------------------------------------------- gate-state sidecar
  //
  // The identity gates (streaming gate, bloom gate) probe the DISTINCT
  // live signature keys. Deriving that projection per probe —
  // sigkeys scan → tombstone anti-join → distinct, plus the bloom
  // aggregate — is what regressed q_bloom_gate in r9 (+62%). The
  // projection and the serialized bloom are now MAINTAINED, not
  // derived: materialized once under `_gate/` with a stamp of the
  // (sigkeys, tombstones) file state they were built from, refreshed
  // eagerly at mutation time (save/append/delete/compact) and lazily
  // on stamp mismatch. A warm gate build is a sorted-parquet read plus
  // one small binary file — no distinct, no anti-join, no aggregate.

  /** The gate-build projection the refresh materializes: distinct live
    * sigkeys. Package-visible so DedupShuffleSpec can pin its shuffle
    * volume (the distinct's exchange must carry ≤ distinct-keys ×
    * partitions rows — map-side combined — not one row per stored
    * sigkey).
    */
  private[graft] def gateProjection(spark: SparkSession, path: String): DataFrame =
    dropTombstoned(spark, path, spark.read.parquet(s"$path/sigkeys"))
      .select(col("sigkey")).distinct()

  /** Fingerprint of the inputs the gate state derives from. */
  private def gateStamp(path: String): String = {
    def ls(sub: String): Seq[String] = {
      val d = new java.io.File(s"$path/$sub")
      Option(d.listFiles()).map(_.toSeq
        .filter(_.getName.endsWith(".parquet"))
        .map(f => s"${f.getName}:${f.length}").sorted).getOrElse(Nil)
    }
    val s = (ls("sigkeys") :+ "|") ++ ls("tombstones")
    java.util.UUID.nameUUIDFromBytes(
      s.mkString(",").getBytes(java.nio.charset.StandardCharsets.UTF_8)).toString
  }

  /** Rebuild `_gate/` (live distinct sigkeys sorted by key + serialized
    * bloom + meta) iff the stamp says its inputs changed. Staged into
    * `_gate.tmp` and swapped, stamp written last — a crash mid-refresh
    * leaves either the old consistent state or a missing stamp (which
    * forces a rebuild), never a half-written gate.
    */
  private def refreshGateState(spark: SparkSession, path: String,
                               bitsPerKey: Long = 10L): Unit = synchronized {
    val stamp = gateStamp(path)
    val stampFile = java.nio.file.Paths.get(path, "_gate", "stamp")
    if (java.nio.file.Files.isRegularFile(stampFile) &&
        java.nio.file.Files.readString(stampFile) == stamp) return
    val tmp = new java.io.File(s"$path/_gate.tmp")
    StagedSwap.rmRf(tmp)
    val live = gateProjection(spark, path)
    live.repartitionByRange(col("sigkey")).sortWithinPartitions("sigkey")
      .write.option("compression", "zstd").parquet(s"$tmp/live_sigkeys")
    val reread = spark.read.parquet(s"$tmp/live_sigkeys")
    val nKeys = reread.count()
    val numBits = math.min(math.max(nKeys * bitsPerKey, 64L), 1L << 30)
    if (nKeys > 0L) {
      val bytes = reread
        .select(Functions.call("graft_bloom_agg", xxhash64(col("sigkey")),
          lit(nKeys), lit(numBits)).as("bf"))
        .head().getAs[Array[Byte]](0)
      java.nio.file.Files.write(java.nio.file.Paths.get(s"$tmp/bloom.bin"), bytes)
    }
    java.nio.file.Files.writeString(java.nio.file.Paths.get(s"$tmp/meta.json"),
      s"""{"nKeys":$nKeys,"numBits":$numBits}""")
    java.nio.file.Files.writeString(java.nio.file.Paths.get(s"$tmp/stamp"), stamp)
    val dst = new java.io.File(s"$path/_gate")
    StagedSwap.rmRf(dst)
    require(tmp.renameTo(dst), s"could not swap gate state into $dst")
  }

  /** Distinct signature keys of LIVE (non-tombstoned) docs — the probe
    * set for every identity-level gate (streaming gate, bloom gate).
    * Served from the maintained `_gate/` projection (key-sorted parquet,
    * probe-prunable); rebuilt here only if a mutation outran the eager
    * refresh.
    */
  def liveSigkeys(spark: SparkSession, path: String): DataFrame = {
    refreshGateState(spark, path)
    spark.read.parquet(s"$path/_gate/live_sigkeys")
  }

  /** Re-cluster every index table back into its probe-optimal sorted
    * range layout (run periodically after appends), physically drop
    * tombstoned docs' rows from all four tables, and clear the
    * tombstones — all in one staged swap, so a compaction never serves
    * partial state and never resurrects a deleted doc.
    */
  def compact(spark: SparkSession, path: String): String = {
    val tmp = path + ".compact"
    def rewrite(table: String, key: String, dedup: Boolean = false): Unit = {
      val in = dropTombstoned(spark, path, spark.read.parquet(s"$path/$table"))
      (if (dedup) in.distinct() else in)
        .repartitionByRange(col(key)).sortWithinPartitions(key)
        .write.mode("overwrite").option("compression", "zstd")
        .parquet(s"$tmp/$table")
    }
    rewrite("digests", "digest")
    rewrite("bands", "bk")
    rewrite("shingles", "doc_id")
    // appends dedup sigkeys within each batch only — cross-append
    // duplicates (same doc re-appended) collapse here
    rewrite("sigkeys", "sigkey", dedup = true)
    StagedSwap.swap(path, tmp) // tmp has no tombstones dir → cleared
    refreshGateState(spark, path)
    path
  }

  /** Check a new batch against a persisted index. Output (ordered by
    * doc_id): doc_id, status ('exact' | 'near' | 'unique'), match_id
    * (indexed doc matched, −1 if unique), jaccard_ppm (1000000 for
    * exact, verified ppm for near, 0 for unique).
    */
  def incrementalDedup(spark: SparkSession, path: String, batch: DataFrame,
                       k: Int = 8, bands: Int = 4, threshold: Double = 0.5,
                       textCol: String = "text", idCol: String = "doc_id"): DataFrame = {
    val idxDigests = dropTombstoned(spark, path, spark.read.parquet(s"$path/digests"))
      .select(col("digest"), col("doc_id").as("old_id"))
    val idxBands = dropTombstoned(spark, path, spark.read.parquet(s"$path/bands"))
      .select(col("bk"), col("band"), col("doc_id").as("old_id"))
    val idxShingles = dropTombstoned(spark, path, spark.read.parquet(s"$path/shingles"))
      .select(col("doc_id").as("old_id"), col("s"), col("len").as("len_o"))

    // batch signatures feed the exact probe, the candidate probe AND
    // the verify step — one shingling pass, pool-persisted
    val sig = CachePool.track(signatures(batch, textCol, idCol))

    val exact = sig.select(col("doc_id"), col("digest"))
      .join(idxDigests, "digest")
      .groupBy(col("doc_id")).agg(min(col("old_id")).as("exact_match"))

    // candidate pairs: batch band keys vs indexed band keys. Duplicate
    // pairs (several agreeing bands) are fine — the verify counts
    // DISTINCT shingles, so no dedup exchange here (same contract as
    // the batch minhashPairs path).
    val cand = bandRows(sig, k, bands)
      .join(idxBands, Seq("bk", "band"))
      .select(col("doc_id"), col("old_id"))

    // exact-Jaccard verify via posting lists: only candidate docs'
    // shingles explode on the index side (semi-filter through the
    // broadcast-small candidate set)
    val np = sig.filter(col("len") >= 1)
      .select(col("doc_id"), col("len").as("len_n"), explode(col("s")).as("shingle"))
    val op = idxShingles
      .join(cand.select(col("old_id")).distinct(), "old_id")
      .select(col("old_id"), col("len_o"), explode(col("s")).as("shingle"))
    val verified = cand
      .join(np, "doc_id")
      .join(op, Seq("old_id", "shingle"))
      .groupBy(col("doc_id"), col("old_id"), col("len_n"), col("len_o"))
      .agg(countDistinct(col("shingle")).as("inter"))
      .withColumn("union_n", col("len_n") + col("len_o") - col("inter"))
      .filter(col("inter") * lit(1.0) / col("union_n") >= threshold)
      .select(col("doc_id"), col("old_id"),
        round(col("inter") * lit(1000000.0) / col("union_n")).cast("long").as("ppm"))

    val byDoc = Window.partitionBy(col("doc_id"))
      .orderBy(col("ppm").desc, col("old_id"))
    val best = verified
      .withColumn("rn", row_number().over(byDoc))
      .filter(col("rn") === 1)
      .select(col("doc_id"), col("old_id").as("near_match"), col("ppm"))

    batch.select(col(idCol).cast("long").as("doc_id"))
      .join(exact, Seq("doc_id"), "left")
      .join(best, Seq("doc_id"), "left")
      .select(col("doc_id"),
        when(col("exact_match").isNotNull, lit("exact"))
          .when(col("near_match").isNotNull, lit("near"))
          .otherwise(lit("unique")).as("status"),
        coalesce(col("exact_match"), col("near_match"), lit(-1L)).as("match_id"),
        when(col("exact_match").isNotNull, lit(1000000L))
          .otherwise(coalesce(col("ppm"), lit(0L))).as("jaccard_ppm"))
      .orderBy("doc_id")
  }

  /** Bloom-accelerated ingest gate: admit only batch docs whose
    * signature key is NOT in the index, without joining the whole batch
    * against the sigkeys table. The index's keys aggregate ONCE into a
    * serialized Bloom filter (Spark's own `BloomFilterAggregate`, ~10
    * bits/key ≈ 1% fpp); every batch row probes the bloom as a codegen'd
    * scalar (`BloomFilterMightContain` on a literal, the
    * InjectRuntimeFilter shape). Bloom negatives — the overwhelming
    * majority of a mostly-fresh ingest — pass with ZERO join work; only
    * bloom positives (true dups + ~1% false positives) reach the exact
    * LEFT ANTI join. Result is EXACTLY the plain anti-join gate (blooms
    * have no false negatives); at 100 TB the anti-join's probe side
    * shrinks from |batch| to |dups| + 1% — the filter itself is a few
    * MiB broadcast once per batch.
    *
    * Output: the admitted batch rows, original schema.
    */
  def bloomGate(spark: SparkSession, path: String, batch: DataFrame,
                k: Int = 8, bitsPerKey: Long = 10L,
                textCol: String = "text"): DataFrame = {
    // bloom + live projection come from the maintained gate sidecar —
    // a warm gate build does zero index-side aggregation (r9 bench
    // regression fix: the per-probe anti-join+distinct+bloom-agg moved
    // to mutation time)
    refreshGateState(spark, path, bitsPerKey)
    val meta = java.nio.file.Files.readString(
      java.nio.file.Paths.get(s"$path/_gate/meta.json"))
    val nKeys = "\"nKeys\":(\\d+)".r.findFirstMatchIn(meta).get.group(1).toLong
    if (nKeys == 0L) return batch
    val sigkeys = spark.read.parquet(s"$path/_gate/live_sigkeys")
    val bloomBytes = java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(s"$path/_gate/bloom.bin"))

    val keyed = CachePool.track(
      batch.withColumn("sigkey", Dedup.signatureKey(col(textCol), k)))
    val mightBeDup =
      Functions.call("graft_bloom_mc", lit(bloomBytes), xxhash64(col("sigkey")))
    val fastPass = keyed.filter(!mightBeDup)
    val survivors = keyed.filter(mightBeDup)
      .join(sigkeys, Seq("sigkey"), "left_anti")
    fastPass.unionByName(survivors).drop("sigkey")
  }
}
