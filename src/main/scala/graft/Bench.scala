package graft

import org.apache.spark.sql.SparkSession

/** Benchmark main (driver contract): runs every SparkEntry query on
  * SPARK_GRAFT_SF_DIR and prints ONE final JSON line with total wall
  * seconds plus the slowest per-query timings (bounded to fit the
  * driver's 2000-char log tail — see SummaryBudget); the complete
  * per-query map is echoed one line above and written to
  * BENCH_DETAIL.json. Timings exclude JVM/session warmup (one
  * throwaway action first) — they measure the queries, not sbt
  * startup.
  *
  * Failure honesty: a throwing query is NOT recorded as a (fast, fake)
  * timing — it lands in an `"errors"` object keyed by query name and is
  * excluded from `"queries"` and the total, so a broken build can never
  * produce a healthy-looking bench line. The process still exits 0: the
  * bench reports, the correctness gate judges.
  */
object Bench {

  private def jesc(s: String): String =
    s.flatMap {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    }

  private def errStr(e: Throwable): String =
    s"${e.getClass.getName}: ${Option(e.getMessage).getOrElse("").take(300)}"

  /** Run the bench against one sf dir and return the JSON line.
    * `only` limits the query set (and skips the warm serving metrics)
    * for single-query iteration; None = the driver's full run.
    */
  def run(spark: SparkSession, sfDir: String, only: Option[Set[String]]): String = {
    val selected = SparkEntry.queries.filter { case (n, _) => only.forall(_.contains(n)) }

    // box-speed calibration first — before any query contends for the
    // machine — so the artifact carries its own normalization factor
    val boxCal = boxCalibrationSec()

    // Two full sweeps, per-query MIN: this box suffers intermittent
    // multi-minute noise storms (round-2 verdict measured the driver's
    // run 3× inflated; this session saw 3 s ↔ 60 s swings on untouched
    // queries between runs). Separated sweeps give independent samples
    // per query, so one storm cannot poison a timing. Override with
    // SPARK_GRAFT_REPS=1 for quick iteration.
    // malformed/zero reps would otherwise crash the whole run (NFE, or
    // an empty sweep list dying at transpose)
    val reps = sys.env.get("SPARK_GRAFT_REPS")
      .flatMap(v => scala.util.Try(v.trim.toInt).toOption)
      .filter(_ >= 1).getOrElse(2)
    val sweeps = (1 to reps).map { _ =>
      selected.toSeq.sortBy(_._1).map { case (name, fn) =>
        val t0 = System.nanoTime()
        val err = try { fn(spark, sfDir).count(); None }
                  catch { case e: Throwable => Some(errStr(e)) }
        val elapsed = (System.nanoTime() - t0) / 1e9
        // bench queries are independent: drop pool-tracked persists so
        // an earlier query's cached frames (dedup postings, signature
        // tables) can't squeeze later queries' execution memory, and
        // (r15) sweep accumulated broadcast-block residue once storage
        // occupancy crosses the Residue threshold — the unbounded
        // accumulation that forced 48 GB heaps for sf1 suites. Runs
        // OUTSIDE the timed region — teardown, not query work.
        graft.operators.Residue.sweep(spark)
        (name, elapsed, err)
      }
    }
    val samples = scala.collection.mutable.LinkedHashMap.empty[String, Seq[Double]]
    val errByName = scala.collection.mutable.LinkedHashMap.empty[String, String]
    sweeps.transpose.foreach { timings =>
      val (name, _, _) = timings.head
      val good = timings.filter(_._3.isEmpty).map(_._2)
      if (good.isEmpty) timings.head._3.foreach(errByName(name) = _)
      else samples(name) = good
    }
    // RESOLVED spread: once a query has been re-measured (≥3 samples),
    // drop its single worst sample before computing the spread — the
    // re-measure exists precisely to outvote one storm-poisoned sample,
    // so "do the non-worst samples agree" is the signal a reader needs.
    // With 2 samples there is nothing to outvote and the raw spread
    // stands. Raw samples (including the dropped one) always land in
    // BENCH_DETAIL's "samples", so nothing is hidden.
    def resolvedSpread(ss: Seq[Double]): Double = {
      val core = if (ss.size >= 3) ss.sorted.dropRight(1) else ss
      core.max / math.max(core.min, 1e-9)
    }
    // Adaptive re-measure: samples disagreeing >3× are the noise-storm
    // signature of this box (round-2 and round-4 driver benches were
    // poisoned that way) — an extra sample decides which side was
    // real. Bounded: worst 12 suspects per pass, TWO passes (r13: a
    // single re-measure landing inside the same storm window left the
    // artifact storm-flagged two rounds running; the second pass only
    // re-runs queries whose resolved spread is still ambiguous, so a
    // clean run pays nothing). Non-trivial queries only below 10×
    // spread; past 10× the query re-measures regardless of its
    // magnitude (r11: a 133× spread on a sub-second query survived the
    // old mn>0.5 gate and cost the verdict a phantom-regression chase —
    // and re-measuring a fast query is nearly free).
    if (reps >= 2) {
      (1 to 2).foreach { _ =>
        val suspects = samples.toSeq
          .map { case (n, ss) => (n, ss.min, resolvedSpread(ss)) }
          .filter { case (_, mn, spread) => (mn > 0.5 && spread > 3.0) || spread > 10.0 }
          .sortBy(-_._3).take(12).map(_._1)
        suspects.foreach { name =>
          val fn = selected(name)
          val t0 = System.nanoTime()
          val err = try { fn(spark, sfDir).count(); None }
                    catch { case e: Throwable => Some(errStr(e)) }
          val elapsed = (System.nanoTime() - t0) / 1e9
          graft.operators.Residue.sweep(spark)
          if (err.isEmpty) samples(name) = samples(name) :+ elapsed
        }
      }
    }
    val ok = samples.toSeq.map { case (n, ss) => (n, ss.min) }
    val errs = errByName
    val total = ok.map(_._2).sum
    // surviving >2× RESOLVED spreads (post re-measure) — the honesty
    // signal that a reported min may still sit inside a storm window.
    // Bounded to the 8 widest so the summary line stays parseable.
    val spreads = samples.toSeq
      .map { case (n, ss) => (n, resolvedSpread(ss)) }
      .filter { case (_, sp) => sp > 2.0 }
      .sortBy(-_._2).take(8)
    val spreadJson =
      if (spreads.isEmpty) ""
      else spreads.map { case (n, sp) => "\"" + n + f"\":$sp%.1f" }
        .mkString(""","spread":{""", ",", "}")
    // Raw samples of every HEADLINE metric (warm pass bests, the two
    // ingest saves, the two jsonl audits) — the r15 driver artifact
    // shipped a 106.8 s vs 6.7 s jsonl pair UNFLAGGED because the storm
    // rule only read query samples; these feed the storm marker below
    // via [[headlineStormLabels]].
    val headlineSamples = scala.collection.mutable.LinkedHashMap.empty[String, Seq[Double]]

    // Warm latencies are only meaningful on a full, healthy run.
    // flagship = live re-clustering over a cached DataFrame; pyramid =
    // the serving path (pruned scan of the persisted pyramid); summary =
    // GetMetadata served from the same pyramid; bm25/ann/pq/dedup_gate =
    // the retrieval/serving twins answered from persisted indexes.
    // Best-of-N collect()s on prepared plans — the comparable shape to
    // the reference's preloaded-index <50ms figure (BASELINE.md).
    //
    // TWO separated passes over the whole warm set, per-metric MIN: one
    // noise-storm window on this box can poison all N back-to-back reps
    // of a single metric (the r6 ann_warm scare and the r7 driver run
    // were exactly that), but not two passes minutes apart. A later good
    // pass also clears an earlier pass's transient error.
    val warmDefs: Seq[(String, Int, () => (() => Unit))] = Seq(
      ("flagship_warm", 3, () => {
        val fn = SparkEntry.queries("q_cluster_grid")
        () => { fn(spark, sfDir).count(); () }
      }),
      ("pyramid_warm", 5, () => {
        val df = SparkEntry.pyramidServe(spark, sfDir)
        () => { df.collect(); () }
      }),
      ("pyramid_summary_warm", 5, () => {
        val df = SparkEntry.pyramidSummaryServe(spark, sfDir)
        () => { df.collect(); () }
      }),
      // text-retrieval serving twin: ranked BM25 top-k answered from the
      // persisted term-clustered index, no corpus access
      ("bm25_warm", 5, () => {
        val df = graft.queries.PipelineQueries.bm25Serve(spark, sfDir)
        () => { df.collect(); () }
      }),
      // vector-retrieval serving twin: ANN top-k from the persisted
      // cell-clustered IVF index (literal-pruned probed-cell scan)
      ("ann_warm", 5, () => {
        val df = graft.queries.PipelineQueries.annServe(spark, sfDir)
        () => { df.collect(); () }
      }),
      // codes-not-floats serving twin: IVF+PQ ADC top-k from the
      // persisted code table (probed-cell pruned scan + broadcast LUT)
      ("pq_warm", 5, () => {
        val df = graft.queries.PipelineQueries.pqServe(spark, sfDir)
        () => { df.collect(); () }
      }),
      // 1-bit serving twin: popcount-Hamming shortlist over the packed
      // sign-word table (8 bytes/vector) + exact rerank of the shortlist
      ("bq_warm", 5, () => {
        val df = graft.queries.PipelineQueries.bqServe(spark, sfDir)
        () => { df.collect(); () }
      }),
      // dedup-gate serving twin: a small probe batch classified
      // exact/near/unique against the persisted signature index
      ("dedup_gate_warm", 5, () => {
        val df = graft.queries.DedupQueries.dedupGateServe(spark, sfDir)
        () => { df.collect(); () }
      }))
    val warmVals = scala.collection.mutable.LinkedHashMap.empty[String, Double]
    if (only.isEmpty) {
      (1 to 2).foreach { _ =>
        warmDefs.foreach { case (label, reps, mk) =>
          try {
            val act = mk() // plan + first run outside the timed region
            act()
            val best = (1 to reps).map { _ =>
              val t0 = System.nanoTime()
              act()
              (System.nanoTime() - t0) / 1e9
            }.min
            warmVals(label) = warmVals.get(label).fold(best)(math.min(_, best))
            headlineSamples(label) = headlineSamples.getOrElse(label, Seq.empty) :+ best
            errs.remove(label)
          } catch {
            case e: Throwable => if (!warmVals.contains(label)) errs(label) = errStr(e)
          }
        }
      }
    }
    def warmOf(label: String): Option[Double] = warmVals.get(label)

    // Ingest + storage vs the reference's published per-1M-point
    // figures (BASELINE.md: ~30 s load+index-build, ~100 MB on disk):
    // generate 1M seeded points with metrics+metadata and run the full
    // catalog save (tile partitioning + zstd parquet + meta file).
    val ingest: Option[(Double, Double)] =
      if (only.isDefined) None
      else
        try {
          val tmp = java.nio.file.Files.createTempDirectory("graft-bench-wh")
          try {
            val cat = new graft.sources.Catalog(spark, tmp.toString)
            val pts = graft.sources.PointGen.uniformPoints(
              spark, 1000000L, graft.model.Bounds.World, seed = 42L)
            // min of 2 independent saves — one storm sample cannot
            // poison the headline ingest rate (same rule as queries)
            val runs = (1 to 2).map { i =>
              val t0 = System.nanoTime()
              val info = cat.save(pts, s"bench-1m-$i")
              ((System.nanoTime() - t0) / 1e9, info.fileSizeBytes / 1e6)
            }
            headlineSamples("ingest_1m") = runs.map(_._1)
            Some((runs.map(_._1).min, runs.head._2))
          } finally {
            import scala.jdk.CollectionConverters._
            java.nio.file.Files.walk(tmp).sorted(java.util.Comparator.reverseOrder())
              .iterator().asScala.foreach(java.nio.file.Files.deleteIfExists(_))
          }
        } catch { case e: Throwable => errs("ingest_1m") = errStr(e); None }

    // Corpus-interchange ingest throughput (r13): the bench documents
    // table replicated to a multi-GB gzip JSONL drop (written ONCE per
    // box into /tmp, reused across runs), then the full quarantining
    // ingest — readJsonl with the enforced schema + the per-source
    // round-trip audit — timed end to end. Reported as decoded GB/s
    // (the bytes the codec chain hands the JSON parser), the number
    // that projects to a 100 TB drop. Quarantine semantics at this
    // volume are exactly the toy-scale contract: the audit plan is
    // scan → one map-side-combined aggregate (CorpusIOSpec pins the
    // shape), so a poison line costs one quarantine row, never a fanout.
    val jsonlIngest: Option[(Seq[Double], Double)] =
      if (only.isDefined) None
      else
        try {
          import org.apache.spark.sql.functions._
          val docs = spark.read.parquet(s"$sfDir/documents.parquet")
          val perCopy = docs
            .agg(sum(octet_length(to_json(struct(docs.columns.map(col): _*))) + lit(1)))
            .head.getLong(0)
          val targetBytes = 2.5e9
          val reps = math.max(1L, math.ceil(targetBytes / perCopy).toLong)
          val decodedGb = perCopy.toDouble * reps / 1e9
          val dir = s"/tmp/graft_jsonl_${new java.io.File(sfDir).getName}_x$reps"
          if (!new java.io.File(s"$dir/_SUCCESS").exists) {
            val big = docs
              .crossJoin(spark.range(reps).select(col("id").as("_rep")))
              .select((col("doc_id") * reps + col("_rep")).as("doc_id"),
                col("text"), col("lang"), col("source"), col("n_chars"))
              .repartition(64)
            graft.sources.CorpusIO.writeJsonl(big, dir) // gzip
          }
          // min of 2 timed audits — one storm sample cannot poison the
          // headline GB/s (same rule as queries). METHODOLOGY (r15,
          // from the r14 ADVICE): the drop file lives in /tmp and is
          // page-cache-warm for BOTH samples (written once per box,
          // reused across runs), so the headline is a warm-cache DECODE
          // rate — gunzip + JSON parse + audit, not disk — and both raw
          // samples are reported alongside it as jsonl_ingest_samples.
          val secs = (1 to 2).map { _ =>
            val t0 = System.nanoTime()
            graft.sources.CorpusIO
              .roundTripAudit(graft.sources.CorpusIO.readJsonl(spark, dir, docs.schema))
              .collect()
            (System.nanoTime() - t0) / 1e9
          }
          headlineSamples("jsonl_ingest") = secs
          Some((secs, decodedGb))
        } catch { case e: Throwable => errs("jsonl_ingest") = errStr(e); None }

    // explicit storm marker: a >10× RESOLVED spread means even the
    // non-worst samples of some query disagree wildly — the storm
    // spanned the re-measures too, and a standalone reader of the
    // committed snapshot must not mistake inflated samples for
    // regression. A storm that the re-measure passes outvoted (one bad
    // sample, the rest agreeing) is RESOLVED and no longer flags the
    // whole artifact; the per-query minima are the trustworthy values
    // either way. Headline metrics (warm/ingest/jsonl) have NO
    // adaptive re-measure, so their rule is direct (r15 verdict item
    // 3): any min-of-2 pair spreading >3× flags the run, and the
    // offending labels ship in the line.
    val headlineStorm = headlineStormLabels(headlineSamples.toMap)
    val querySpreadStorm = samples.values.exists(ss => resolvedSpread(ss) > 10.0)
    val stormy = querySpreadStorm || headlineStorm.nonEmpty
    val stormJson = if (stormy) ""","storm":true""" else ""
    // both conditions can fire in one run — a standalone reader needs
    // BOTH halves of the explanation, so the notes concatenate instead
    // of racing each other (r16 ADVICE)
    val stormNote = {
      val notes = Seq(
        if (headlineStorm.nonEmpty)
          Some(s"headline sample pair spread >3x on ${headlineStorm.mkString("/")}: " +
            "treat headline values as upper bounds")
        else None,
        if (querySpreadStorm)
          Some("resolved spread >10x on some queries even after re-measures; " +
            "minima are trustworthy")
        else None).flatten
      if (notes.isEmpty) ""
      else s""","storm_note":"box noise storm spanned this run — ${notes.mkString("; ")}""""
    }

    val warmJson =
      warmDefs.map(_._1).flatMap(l => warmOf(l).map(w => f""","${l}_sec":$w%.3f"""))
        .mkString +
        ingest.map { case (s, mb) =>
          f""","ingest_1m_sec":$s%.3f,"storage_mb_per_1m":$mb%.1f""" }.getOrElse("") +
        jsonlIngest.map { case (ss, gb) =>
          val s = ss.min
          val raw = ss.map(v => f"$v%.3f").mkString("[", ",", "]")
          f""","jsonl_ingest_sec":$s%.3f,"jsonl_ingest_samples":$raw,"jsonl_ingest_gb":$gb%.2f,"jsonl_ingest_gb_sec":${gb / s}%.3f""" }.getOrElse("")
    def errsJson(entries: Iterable[(String, String)]): String =
      if (entries.isEmpty) ""
      else entries.map { case (k, m) => s""""${jesc(k)}":"${jesc(m)}"""" }
        .mkString(""","errors":{""", ",", "}")
    // r15 verdict item 2 (mechanism evidence): how many times the FULL
    // Residue sweep (clearCache + GC + cleaner drain) actually fired
    // this run. 0 means between-query teardown was exactly the pre-r15
    // CachePool.clear() plus one O(1) storage read — ruling the sweep
    // out as a suite-inflation mechanism from the artifact alone.
    val residueJson = s""","residue_sweeps":${graft.operators.Residue.sweeps}"""
    val boxJson =
      f""","box_cal_sec":$boxCal%.3f,"box_factor":${boxCal / BoxCalRef}%.2f"""
    val extras = warmJson + residueJson + boxJson + errsJson(errs)
    // summary-line errors are bounded (4 entries, 60-char messages,
    // full detail in BENCH_DETAIL.json) so a mass-failure run cannot
    // overflow the driver tail window either
    val extrasBounded = warmJson + residueJson + boxJson + errsJson(
      errs.take(4).map { case (k, m) => (k, m.take(60)) }) +
      (if (errs.size > 4) s""","errors_n":${errs.size}""" else "")

    // ---- summary line (driver contract) ----
    // The driver's log capture keeps only the LAST 2000 characters of
    // stdout, so the final JSON line must stay comfortably under that
    // or the driver records "parsed": null — rounds 3 and 4 lost their
    // bench numbers exactly this way once the query count outgrew the
    // window. The full per-query map is written to BENCH_DETAIL.json
    // (echoed to stdout only when that write fails); the summary line
    // carries the slowest queries that fit a fixed character budget —
    // the ones a plan audit cares about — plus `n_queries` so the
    // truncation is explicit, never silent.
    val fullQs = ok.sortBy(_._1).map { case (k, v) => "\"" + k + f"\":$v%.3f" }
      .mkString("{", ",", "}")
    val fullLine =
      f"""{"metric":"total","value":$total%.3f,"unit":"sec","queries":$fullQs$spreadJson$stormJson$stormNote$extras,"sf":"$sfDir"}"""
    if (only.isEmpty) {
      try {
        // detail file additionally carries EVERY raw sample per query
        // (including the adaptive re-measures), so a storm is
        // self-identifying per query from the committed artifact alone —
        // no quiet-box re-run needed to tell a regression from noise.
        val allSamples = samples.toSeq.sortBy(_._1).map { case (k, ss) =>
          "\"" + k + "\":[" + ss.map(s => f"$s%.3f").mkString(",") + "]"
        }.mkString("{", ",", "}")
        val headlineJson = headlineSamples.toSeq.sortBy(_._1).map { case (k, ss) =>
          "\"" + k + "\":[" + ss.map(s => f"$s%.3f").mkString(",") + "]"
        }.mkString("{", ",", "}")
        val detailLine = fullLine.dropRight(1) +
          s""","samples":$allSamples,"headline_samples":$headlineJson}"""
        java.nio.file.Files.write(java.nio.file.Paths.get("BENCH_DETAIL.json"),
          (detailLine + "\n").getBytes("UTF-8"))
        println("full per-query detail -> BENCH_DETAIL.json")
      } catch {
        // detail is best-effort; the bounded line below is the contract.
        // If the file write fails, the full map is still echoed — with a
        // non-`{` prefix, because a tail-truncated fragment of a bare
        // `{`-leading full line inside the log-capture window is exactly
        // what made two rounds of bench output unparseable.
        case _: Throwable => println("full-detail-unwritten: " + fullLine)
      }
    }
    val tail = s"""$spreadJson$stormJson$extrasBounded,"n_queries":${ok.size},"detail":"BENCH_DETAIL.json","sf":"$sfDir""""
    val head = f"""{"metric":"total","value":$total%.3f,"unit":"sec","queries":"""
    val qJson = boundedQueriesJson(ok, SummaryBudget - head.length - tail.length - 1)
    head + qJson + tail + "}"
  }

  /** Headline metrics (warm latencies, ingest saves, jsonl audits)
    * carry raw min-of-N samples and get no adaptive re-measure, so
    * their storm rule is direct: any label whose samples spread more
    * than `maxSpread` (default 3×) is returned, and a non-empty result
    * storm-flags the artifact. The r15 driver run shipped a 106.8 s vs
    * 6.7 s jsonl pair unflagged because the old rule read only query
    * samples — this is the fix, unit-pinned by BenchSpec.
    *
    * Pairs whose MAX is under `minAbs` (default 0.2 s) are ignored
    * (r16 ADVICE): warm serving pairs are ~10–30 ms min-of-5 values
    * where tens of ms of one-off scheduler/GC jitter clears 3× on a
    * healthy run — a sub-0.2 s wobble is not a storm, and the MIN is
    * what the artifact reports anyway.
    */
  def headlineStormLabels(samples: Map[String, Seq[Double]],
                          maxSpread: Double = 3.0,
                          minAbs: Double = 0.2): Seq[String] =
    samples.toSeq.collect {
      case (label, ss) if ss.size >= 2 && ss.max >= minAbs &&
        ss.max / math.max(ss.min, 1e-9) > maxSpread => label
    }.sorted

  /** Box-speed calibration (r16 verdict item 3): a fixed, seeded,
    * data-independent single-thread CPU workload — xorshift fill +
    * sort of a 4M-long array, ~1 s nominal — timed min-of-3 after one
    * JIT warmup. Shipped in every bench line as `box_cal_sec` (raw
    * seconds) and `box_factor` (= box_cal_sec / [[BoxCalRef]]), so
    * round-over-round totals can be box-normalized from the committed
    * artifacts alone instead of via rebuild-A/Bs (the measured 1.2–1.3×
    * same-round drift of r14→r16).
    */
  def boxCalibrationSec(): Double = {
    def once(): Long = {
      val n = 4000000
      val a = new Array[Long](n)
      var x = 0x9E3779B97F4A7C15L
      var i = 0
      while (i < n) {
        x ^= x << 13; x ^= x >>> 7; x ^= x << 17
        a(i) = x
        i += 1
      }
      java.util.Arrays.sort(a)
      a(n / 2)
    }
    val warm = once() // JIT warm, result consumed below against DCE
    (1 to 3).map { _ =>
      val t0 = System.nanoTime()
      val s = once()
      val dt = (System.nanoTime() - t0) / 1e9
      if (s == warm + 1) println("calibration sentinel") // keep `s` live
      dt
    }.min
  }

  /** Reference calibration seconds — [[boxCalibrationSec]] measured on
    * the r17 session box (the box whose committed BENCH_r17 numbers
    * anchor the series). box_factor > 1 ⇒ the bench ran on a slower
    * box than that reference; divide totals by box_factor to compare.
    */
  val BoxCalRef = 0.46

  /** Hard ceiling for the summary line, with headroom under the
    * driver's 2000-char tail window for sbt's own closing lines.
    */
  val SummaryBudget = 1600

  /** Per-query JSON object holding the slowest entries that fit
    * `budget` characters (including braces). Slowest-first keeps the
    * entries a bench audit actually reads; the caller reports the full
    * count alongside so truncation is visible.
    */
  def boundedQueriesJson(entries: Seq[(String, Double)], budget: Int): String = {
    val parts = scala.collection.mutable.ArrayBuffer.empty[String]
    var used = 2 // braces
    entries.sortBy(-_._2).foreach { case (k, v) =>
      val p = "\"" + k + f"\":$v%.3f"
      val cost = p.length + (if (parts.isEmpty) 0 else 1)
      if (used + cost <= budget) { parts += p; used += cost }
    }
    parts.mkString("{", ",", "}")
  }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = Session.start("graft-bench")

    // warm the session (JVM, codegen, FS) outside the timed region
    spark.range(1000000L).selectExpr("sum(id)").collect()

    val only = sys.env.get("SPARK_GRAFT_ONLY").map(_.split(",").toSet)
    println(run(spark, sfDir, only))
    spark.stop()
  }
}
