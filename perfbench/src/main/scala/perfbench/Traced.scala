package perfbench

import graft.geo.GeoJson
import scala.collection.mutable
import Main.{Args, Metrics, Result, median, secondsSince}
import Serving._

/** Spans around a call into one of the program's modules. */
trait Spans { def apply[A](name: String, layer: String)(f: => A): A }
object NoSpans extends Spans { def apply[A](name: String, layer: String)(f: => A): A = f }

/** The traced run (`--trace 1`): per-layer metrics, never end-to-end ones.
  *
  * Serving workloads first run a short open loop with tracing off (for the
  * generator's lateness and the edge's body sizes and retries), then replay
  * the workload's request sequence one operation at a time. Each read is
  * executed three ways, in rotating order: over HTTP, as a direct untraced
  * call of the functions its handler calls, and as the same calls inside
  * spans with the listeners recording. The edge cost is HTTP minus the
  * direct call; the tracing overhead is traced minus untraced. Writes are
  * replayed once, traced.
  */
object Traced {

  /** Every per-layer metric, in the order BENCHMARK.json lists them. A
    * metric that does not apply to a workload reads 0.
    */
  val PerLayer: Seq[(String, String)] = Seq(
    "service.edge_ms" -> "ms", "service.body_bytes" -> "B", "service.retries" -> "count",
    "geo.shape_ms" -> "ms",
    "sources.pyramid_plan_ms" -> "ms", "sources.load_ms" -> "ms", "sources.cache_hit_frac" -> "ratio",
    "sources.files_listed_per_read" -> "count", "sources.file_cache_hits" -> "count",
    "sources.append_ms" -> "ms", "sources.delete_ms" -> "ms", "sources.save_state_ms" -> "ms",
    "sources.save_pyramid_ms" -> "ms", "sources.bytes_written_per_point" -> "B",
    "operators.GridCluster.exec_ms" -> "ms", "operators.Summary.exec_ms" -> "ms",
    "spark.analysis_ms" -> "ms", "spark.optimization_ms" -> "ms", "spark.planning_ms" -> "ms",
    "spark.codegen_compile_ms" -> "ms", "spark.codegen_compiles" -> "count",
    "spark.jobs_per_op" -> "count", "spark.stages_per_op" -> "count", "spark.tasks_per_op" -> "count",
    "spark.task_ms" -> "ms", "spark.task_cpu_ms" -> "ms", "spark.task_wait_ms" -> "ms", "spark.gc_ms" -> "ms",
    "spark.shuffle_write_bytes" -> "B", "spark.shuffle_read_bytes" -> "B", "spark.spill_bytes" -> "B",
    "spark.input_rows_per_result_row" -> "ratio", "spark.storage_mb" -> "MB",
    "queries.build_ms" -> "ms", "queries.exec_ms" -> "ms",
    "loadgen.late_ms" -> "ms",
    "trace.overhead_ms" -> "ms", "trace.overhead_frac" -> "ratio")

  def metrics(values: Map[String, Double]): Metrics = {
    val unknown = values.keySet -- PerLayer.map(_._1)
    require(unknown.isEmpty, s"undeclared per-layer metrics: $unknown")
    mutable.LinkedHashMap(PerLayer.map { case (k, u) => k -> (values.getOrElse(k, 0.0), u) }: _*)
  }

  def mean(xs: Iterable[Double]): Double = if (xs.isEmpty) 0.0 else xs.sum / xs.size

  /** Figures every workload shares: Spark per-operation means. */
  def sparkPerOp(t: Tracer): Map[String, Double] = {
    def per(k: String) = mean(t.ops.map(_(k)))
    Map(
      "spark.analysis_ms" -> per("analysis_ms"), "spark.optimization_ms" -> per("optimization_ms"),
      "spark.planning_ms" -> per("planning_ms"), "spark.codegen_compile_ms" -> per("codegen_compile_ms"),
      "spark.codegen_compiles" -> per("codegen_compiles"), "spark.jobs_per_op" -> per("jobs"),
      "spark.stages_per_op" -> per("stages"), "spark.tasks_per_op" -> per("tasks"),
      "spark.task_ms" -> per("task_ms"), "spark.task_cpu_ms" -> per("task_cpu_ms"),
      "spark.task_wait_ms" -> per("task_wait_ms"), "spark.gc_ms" -> per("gc_ms"),
      "spark.shuffle_write_bytes" -> per("shuffle_write_bytes"),
      "spark.shuffle_read_bytes" -> per("shuffle_read_bytes"), "spark.spill_bytes" -> per("spill_bytes"),
      "spark.storage_mb" -> graft.operators.Residue.storageUsed(t.spark)._1 / 1e6)
  }

  /** Job time of an operation whose call site passes through `fn`. */
  def jobMs(o: Tracer#Op, fn: String => Boolean): Double =
    o.counters.collect { case (k, v) if k.startsWith("job_ms:") && fn(k.stripPrefix("job_ms:")) => v }.sum

  private def features(body: String): Long = {
    val mark = "{\"type\":\"Feature\","
    var (n, i) = (0L, body.indexOf(mark))
    while (i >= 0) { n += 1; i = body.indexOf(mark, i + 1) }
    n
  }

  /** The calls a read's handler makes, each inside a span. Returns the
    * number of result rows (features, or the one summary row).
    */
  def direct(sp: Spans, s: Setup, r: Req): Long = {
    val e = s.engine
    r.route match {
      case PyrGet =>
        val df = sp("ClusterEngine.getClustersFromPyramid", "sources")(
          e.getClustersFromPyramid(s.id, r.zoom, r.b).drop("zoom"))
        val mc = df.columns.filter(_.startsWith("metric_")).toSeq
        val cm = df.columns.filter(_.endsWith("_freq")).map(_.stripSuffix("_freq")).toSeq
        features(sp("GeoJson.featureCollection", "geo")(GeoJson.featureCollection(df, mc, cm)))
      case PyrMeta =>
        val df = sp("ClusterEngine.getSummaryFromPyramid", "sources")(e.getSummaryFromPyramid(s.id, r.zoom, r.b))
        sp("Dataset.collect", "spark")(df.collect().head)
        1L
      case LiveGet =>
        sp("ClusterEngine.load", "sources")(e.load(s.id))
        features(sp("ClusterEngine.getClustersGeoJson", "operators")(e.getClustersGeoJson(s.id, r.zoom, r.b)))
      case LiveMeta =>
        sp("ClusterEngine.load", "sources")(e.load(s.id))
        val df = sp("ClusterEngine.getSummary", "operators")(e.getSummary(s.id, r.zoom, r.b))
        sp("Dataset.collect", "spark")(df.collect().head)
        1L
    }
  }

  private final case class ReadRec(req: Req, op: Tracer#Op, httpMs: Double, plainMs: Double, tracedMs: Double,
                                   tracedFirst: Boolean, hit: Boolean, rows: Long)

  def serving(a: Args, s: Setup, seq: Iterator[Req]): Result = {
    val port = s.server.boundPort
    val open = readPhases(s, a.seed, math.min(6.0, a.seconds / 2.0))
    val t = new Tracer(s.spark)
    val writer = new Writer(s, a.seed)
    val reads = mutable.ArrayBuffer.empty[ReadRec]
    val writes = mutable.ArrayBuffer.empty[Tracer#Op]
    val httpReads = mutable.ArrayBuffer.empty[Sample] ++= open
    val t0 = System.nanoTime()
    var i = 0
    // two writes (an append, then a delete), with reads between and after
    while (secondsSince(t0) < a.seconds || writer.writes < 2 || reads.size < 12) {
      if (writer.writes < 2 && i % 7 == 0) {
        t.op(if (writer.writes % 2 == 0) "Append" else "Delete")(writer.step(Some(t)))
        writes += t.ops.last
      } else {
        val r = seq.next()
        val hit = s.engine.catalog.cachedIds.contains(s.id)
        var (httpMs, plainMs, tracedMs, rows) = (0.0, 0.0, 0.0, 0L)
        val order = Seq(Seq(0, 1, 2), Seq(1, 2, 0), Seq(2, 0, 1))(i % 3)
        order.foreach {
          case 0 =>
            val x = read(port, s.id, r, System.nanoTime())
            httpReads += x
            httpMs = (x.endNs - x.sentNs) / 1e6
          case 1 =>
            val c0 = System.nanoTime()
            direct(NoSpans, s, r)
            plainMs = (System.nanoTime() - c0) / 1e6
          case _ =>
            val (n, ms) = t.op(r.kind)(direct(t, s, r))
            rows = n
            tracedMs = ms
        }
        reads += ReadRec(r, t.ops.last, httpMs, plainMs, tracedMs, order.head == 2, hit, rows)
      }
      i += 1
    }
    t.close()
    val mismatches = check(s, httpReads.toSeq, a.seed, writer.live) ++ writer.wrong

    val self = Trace.selfTimes(t.allSpans)
    val spansByOp = t.allSpans.groupBy(_.op)
    def selfOf(ops: Iterable[Tracer#Op], name: String): Double =
      mean(ops.map(o => spansByOp.getOrElse(o.id, Nil).filter(_.name == name).map(x => self(x.id)).sum))
    def totalOf(ops: Iterable[Tracer#Op], name: String): Double =
      mean(ops.map(o => spansByOp.getOrElse(o.id, Nil).filter(_.name == name).map(_.ms).sum))
    def ofRoute(rs: Route*) = reads.filter(x => rs.contains(x.req.route)).map(_.op)
    val live = reads.filter(!_.req.route.pyramid)
    val appends = writes.filter(_.kind == "Append")
    val deletes = writes.filter(_.kind == "Delete")
    val pointsWritten = appends.size * AppendBatch + deletes.size * DeleteBatch
    val overhead = reads.map(x => x.tracedMs - x.plainMs)
    val values = sparkPerOp(t) ++ Map(
      "service.edge_ms" -> median(reads.map(x => x.httpMs - x.plainMs).toSeq),
      "service.body_bytes" -> mean(httpReads.filter(_.ok).map(_.bytes.toDouble)),
      "service.retries" -> httpReads.count(_.retried).toDouble / httpReads.size,
      "geo.shape_ms" -> selfOf(ofRoute(PyrGet), "GeoJson.featureCollection"),
      "sources.pyramid_plan_ms" -> mean(reads.filter(_.req.route.pyramid).map(x =>
        totalOf(Seq(x.op), "ClusterEngine.getClustersFromPyramid") + totalOf(Seq(x.op), "ClusterEngine.getSummaryFromPyramid"))),
      "sources.load_ms" -> totalOf(live.filter(_.tracedFirst).map(_.op), "ClusterEngine.load"),
      "sources.cache_hit_frac" -> (if (live.isEmpty) 0.0 else live.count(_.hit).toDouble / live.size),
      "sources.files_listed_per_read" -> mean(reads.map(_.op("files_listed"))),
      "sources.file_cache_hits" -> mean(reads.map(_.op("file_cache_hits"))),
      "sources.append_ms" -> mean(appends.map(jobMs(_, _.startsWith("sources.Catalog.append")))),
      "sources.delete_ms" -> mean(deletes.map(jobMs(_, _.startsWith("sources.Catalog.deletePoints")))),
      "sources.save_state_ms" -> mean(writes.map(jobMs(_, _.contains("savePyramidState")))),
      "sources.save_pyramid_ms" -> mean(writes.map(jobMs(_, f => f.contains("savePyramid") && !f.contains("savePyramidState")))),
      "sources.bytes_written_per_point" -> (if (pointsWritten == 0) 0.0 else writes.map(_("output_bytes")).sum / pointsWritten),
      "operators.GridCluster.exec_ms" -> mean(ofRoute(LiveGet).map(jobMs(_, _ => true))),
      "operators.Summary.exec_ms" -> mean(ofRoute(LiveMeta).map(jobMs(_, _ => true))),
      "spark.input_rows_per_result_row" -> reads.map(_.op("input_rows")).sum / math.max(1L, reads.map(_.rows).sum),
      "loadgen.late_ms" -> median(open.map(x => (x.sentNs - x.dueNs) / 1e6)),
      "trace.overhead_ms" -> median(overhead.toSeq),
      "trace.overhead_frac" -> (reads.map(_.tracedMs).sum / reads.map(_.plainMs).sum - 1))
    val m = metrics(values)
    val notes = Seq(
      f"tracing overhead: traced minus untraced direct call, median ${values("trace.overhead_ms")}%.2f ms per read, " +
        f"${values("trace.overhead_frac") * 100}%.1f%% of untraced time over ${reads.size} reads",
      f"edge: HTTP round trip minus direct call, median ${values("service.edge_ms")}%.2f ms",
      s"writes replayed traced only: ${appends.size} appends, ${deletes.size} deletes")
    Trace.export(t, s"${a.out}/trace-${a.workload}", m, notes)
    val report = Seq(s"traced ${a.workload}: ${reads.size} reads x3, ${writes.size} writes; trace in ${a.out}/trace-${a.workload}") ++
      notes ++ mismatches.map("MISMATCH " + _) ++ m.map { case (k, (v, u)) => f"  $k%-34s $v%14.4f $u" }
    val attempted = httpReads.size + writes.size
    val failed = httpReads.count(!_.ok) + writer.failed
    Result(mismatches.isEmpty, attempted, failed, m, report)
  }
}
