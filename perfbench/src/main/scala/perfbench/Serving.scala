package perfbench

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import graft.ClusterEngine
import graft.geo.GeoJson
import graft.model.Bounds
import graft.service.RestServer
import graft.sources.PointGen
import java.net.{HttpURLConnection, URL}
import java.nio.charset.StandardCharsets.UTF_8
import java.util.concurrent.{Callable, Executors, TimeUnit}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions.col
import scala.collection.mutable
import scala.jdk.CollectionConverters._
import Main.{Args, Cpus, Metrics, Result, median, quantile, secondsSince, TailQ}

/** `ingest_mixed`: map serving after ingest, through the program's REST
  * edge ([[graft.service.RestServer]] over [[graft.ClusterEngine]]).
  *
  * On a dataset with a zoom 0-8 pyramid, one writer sends `POST …/append`
  * (a fixed batch of [[AppendBatch]] generated points), then
  * `POST …/delete?ids=` ([[DeleteBatch]] seeded live ids). Then an
  * open-loop reader sends pyramid reads at [[PyramidRate]] (half of them
  * repeating a small hot set), then live reads at [[LiveRate]] (every
  * viewport new); each route family is 75% GeoJSON and 25% metadata.
  *
  * The data is `PointGen.uniformPoints` (the program's generator; its
  * points lie on a few diagonal bands, so a viewport placed at random is
  * usually empty). Viewports are about two tiles wide at zoom 0-8; half
  * are centred near a data point and half anywhere in the world.
  */
object Serving {

  val Points = 20000L
  val ZMax = 8
  /** The open-loop rates of the reader's two phases: half each traffic's
    * own closed-loop capacity with [[ReaderThreads]] clients on a 4-core
    * box at the seed commit (`run.py --capacity`, see perfbench/README.md).
    */
  val PyramidRate = 6.0
  val LiveRate = 0.8
  /** Load comes from one process with at most nproc threads and
    * connections; the reader uses one fewer.
    */
  val ReaderThreads: Int = math.max(1, Cpus - 1)
  val AppendBatch = 1000L
  val DeleteBatch = 200
  val HotSet = 8
  val CheckSample = 3

  sealed abstract class Route(val suffix: String, val pyramid: Boolean, val meta: Boolean)
  case object PyrGet extends Route("/pyramid", true, false)
  case object PyrMeta extends Route("/pyramid/metadata", true, true)
  case object LiveGet extends Route("", false, false)
  case object LiveMeta extends Route("/metadata", false, true)
  val Routes: Seq[Route] = Seq(PyrGet, PyrMeta, LiveGet, LiveMeta)

  final case class Req(route: Route, zoom: Int, b: Bounds, hot: Boolean) {
    def path(id: String): String =
      s"/api/clusters/$id${route.suffix}?zoom=$zoom&north=${b.maxLat}&south=${b.minLat}&east=${b.maxLon}&west=${b.minLon}"
    def kind: String = route.toString
  }

  /** Seeded viewport requests. The class of each request (route, zoom,
    * placement, hot or new) follows a fixed schedule, the same for every
    * seed, so every run sends the same mix in the same order; the seed
    * picks the viewports.
    */
  final class Requests(seed: Long, centers: IndexedSeq[(Double, Double)]) {
    private val rnd = new java.util.Random(seed)

    private def viewport(zoom: Int, centred: Boolean): Bounds = {
      val w = math.min(360.0, 720.0 / (1 << zoom))
      val h = math.min(170.0, w / 2)
      val (cx, cy) =
        if (centred) {
          val (lon, lat) = centers(rnd.nextInt(centers.size))
          (lon + (rnd.nextDouble() - 0.5) * w / 2, lat + (rnd.nextDouble() - 0.5) * h / 2)
        } else (-180 + rnd.nextDouble() * 360, -85 + rnd.nextDouble() * 170)
      val west = math.max(-180.0, math.min(180.0 - w, cx - w / 2))
      val south = math.max(-85.0, math.min(85.0 - h, cy - h / 2))
      Bounds(west, south, west + w, south + h)
    }

    /** The j-th new request of a route family: three GeoJSON then one
      * metadata, zooms cycling through 0-8, placement alternating between
      * centred and anywhere within each route.
      */
    def next(j: Int, get: Route, meta: Route, hot: Boolean = false): Req = {
      val zoom = (j * 4) % (ZMax + 1)
      Req(if (j % 4 == 3) meta else get, zoom, viewport(zoom, (j + j / 4) % 2 == 0), hot)
    }

    /** Pyramid and live reads in turn (the traced replay's order; the
      * untraced reader takes each route family as a phase of its own); half
      * the pyramid reads come from a hot set of [[HotSet]] viewports (6
      * GeoJSON, 2 metadata); every live viewport is new.
      */
    def reads(): Iterator[Req] = {
      val hot = (0 until HotSet).map(next(_, PyrGet, PyrMeta, hot = true))
      var (p, l) = (0, 0)
      Iterator.from(0).map { i =>
        if (i % 2 == 0) {
          p += 1
          if (p % 2 == 1) hot((p / 2) % HotSet) else next(p / 2, PyrGet, PyrMeta)
        } else {
          l += 1
          next(l - 1, LiveGet, LiveMeta)
        }
      }
    }
  }

  // ------------------------------------------------------------------ HTTP

  final case class Reply(code: Int, body: String)

  def http(port: Int, method: String, path: String, body: String = null): Reply = {
    val c = new URL(s"http://localhost:$port$path").openConnection().asInstanceOf[HttpURLConnection]
    c.setConnectTimeout(10000)
    c.setReadTimeout(120000)
    c.setRequestMethod(method)
    if (body != null) {
      c.setDoOutput(true)
      val os = c.getOutputStream
      try os.write(body.getBytes(UTF_8)) finally os.close()
    }
    val code = c.getResponseCode
    val in = if (code >= 400) c.getErrorStream else c.getInputStream
    val text = if (in == null) "" else try new String(in.readAllBytes(), UTF_8) finally in.close()
    Reply(code, text)
  }

  /** A served body of the right shape for its route. */
  def wellFormed(r: Route, rep: Reply): Boolean =
    rep.code == 200 && (
      if (r.meta) rep.body.startsWith("{\"totalPoints\":") && rep.body.endsWith("}")
      else rep.body.startsWith("{\"type\":\"FeatureCollection\",\"features\":[") && rep.body.endsWith("]}"))

  final case class Sample(req: Req, dueNs: Long, sentNs: Long, endNs: Long, ok: Boolean,
                          retried: Boolean, code: Int, bytes: Int) {
    def latencyMs: Double = (endNs - dueNs) / 1e6
  }

  /** One read with one retry: a read failing twice counts as failed. */
  def read(port: Int, id: String, r: Req, dueNs: Long): Sample = {
    val sent = System.nanoTime()
    def once(): Reply = try http(port, "GET", r.path(id)) catch {
      case e: java.io.IOException => Reply(-1, e.toString)
    }
    val first = once()
    val (rep, retried) = if (wellFormed(r.route, first)) (first, false) else (once(), true)
    Sample(r, dueNs, sent, System.nanoTime(), wellFormed(r.route, rep), retried, rep.code,
      rep.body.length)
  }

  /** Open loop: request i is due at start + i / rate and is timed from
    * that moment, so a stall also delays the requests queued behind it.
    */
  def openLoop(port: Int, id: String, reqs: Iterator[Req], rate: Double,
               keepGoing: Double => Boolean): Seq[Sample] = {
    val pool = Executors.newFixedThreadPool(ReaderThreads)
    val t0 = System.nanoTime()
    val fs = mutable.ArrayBuffer.empty[java.util.concurrent.Future[Sample]]
    var i = 0
    while (keepGoing(i / rate)) {
      val due = t0 + (i / rate * 1e9).toLong
      val wait = due - System.nanoTime()
      if (wait > 0) TimeUnit.NANOSECONDS.sleep(wait)
      val r = reqs.next()
      fs += pool.submit(new Callable[Sample] { def call(): Sample = read(port, id, r, due) })
      i += 1
    }
    pool.shutdown()
    fs.map(_.get()).toSeq
  }

  /** Closed loop: [[ReaderThreads]] clients each send their next read as
    * soon as their last one returns, for `seconds`. Measures the read
    * capacity the phase rates are chosen from (`run.py --capacity`).
    */
  def closedLoop(port: Int, id: String, reqs: Iterator[Req], seconds: Double): Seq[Sample] = {
    val end = System.nanoTime() + (seconds * 1e9).toLong
    val pool = Executors.newFixedThreadPool(ReaderThreads)
    val fs = Seq.fill(ReaderThreads)(pool.submit(new Callable[Seq[Sample]] {
      def call(): Seq[Sample] = {
        val out = mutable.ArrayBuffer.empty[Sample]
        while (System.nanoTime() < end) {
          val r = reqs.synchronized(reqs.next())
          out += read(port, id, r, System.nanoTime())
        }
        out.toSeq
      }
    }))
    pool.shutdown()
    fs.flatMap(_.get())
  }

  /** The reader: the pyramid traffic for a third of `seconds`, then the
    * live traffic for the rest, each an open loop at its own rate. In one
    * mixed open loop a pyramid read ran 0.15 s alone and up to 0.8 s beside
    * a live read, so the median of the mix depended on how the two happened
    * to overlap. The split puts about 4 pyramid reads to 1 live read, so
    * the median falls among pyramid reads and the 90th percentile among
    * live reads.
    */
  def readPhases(s: Setup, seed: Long, seconds: Double): Seq[Sample] =
    openLoop(s.server.boundPort, s.id, phaseReads(s, seed, pyramid = true), PyramidRate, _ < seconds / 3) ++
      openLoop(s.server.boundPort, s.id, phaseReads(s, seed, pyramid = false), LiveRate, _ < seconds * 2 / 3)

  /** One phase's requests: the pyramid or the live reads of the sequence. */
  def phaseReads(s: Setup, seed: Long, pyramid: Boolean): Iterator[Req] =
    new Requests(seed, s.centers).reads().filter(_.route.pyramid == pyramid)

  // ----------------------------------------------------------------- setup

  final case class Setup(spark: SparkSession, engine: ClusterEngine, server: RestServer,
                         id: String, wh: String, centers: IndexedSeq[(Double, Double)], seconds: Double,
                         phases: Seq[(String, Double)])

  /** Session, dataset generation and save, pyramid build, server start and
    * one warm-up request per route the workload sends.
    */
  def setup(seed: Long): Setup = {
    val t0 = System.nanoTime()
    val phases = mutable.ArrayBuffer.empty[(String, Double)]
    def timed[A](name: String)(f: => A): A = {
      val p0 = System.nanoTime()
      try f finally phases += name -> secondsSince(p0)
    }
    val spark = timed("session")(Main.session())
    val wh = new java.io.File("wh").getAbsolutePath
    val engine = new ClusterEngine(spark, wh)
    val id = "bench"
    timed("create")(engine.createDataset(id, Points, seed))
    timed("pyramid")(engine.buildAndSavePyramid(id, 0, ZMax))
    val centers = timed("centers")(PointGen.uniformPoints(spark, Points, Bounds.World, seed)
      .sample(withReplacement = false, 0.02, seed).select("lon", "lat").limit(512)
      .collect().map(r => (r.getDouble(0), r.getDouble(1))).toIndexedSeq)
    val server = new RestServer(engine)
    server.start()
    val warm = new Requests(seed ^ 0x5eed, centers)
    timed("warm-up")(Routes.foreach(r => read(server.boundPort, id, warm.next(0, r, r), System.nanoTime())))
    Setup(spark, engine, server, id, wh, centers, secondsSince(t0), phases.toSeq)
  }

  // ---------------------------------------------------------------- checks

  private val mapper = new ObjectMapper()

  private def near(a: Double, b: Double): Boolean =
    math.abs(a - b) <= 1e-6 * math.max(1.0, math.max(math.abs(a), math.abs(b)))

  /** Cluster metric sums are exact sums of values rounded to 2 decimals
    * (`GridCluster.exactSum`), so a raw sum may differ by up to half a cent
    * per point.
    */
  private def nearRaw(served: Double, raw: Double, points: Long): Boolean =
    math.abs(served - raw) <= 0.005 * points + 1e-6 * math.max(1.0, math.abs(raw))

  private def metricNames(s: Setup): Seq[String] =
    s.engine.load(s.id).columns.filter(_.startsWith("metric_")).toSeq

  /** Features of a served FeatureCollection: (count, points, metric sums). */
  private def featureTotals(body: String, metrics: Seq[String]): (Long, Long, Map[String, Double]) = {
    val fs = mapper.readTree(body).get("features").elements().asScala.toSeq
    val points = fs.map { f =>
      val p = f.get("properties")
      if (p.has("cluster") && p.get("cluster").asBoolean()) p.get("point_count").asLong() else 1L
    }.sum
    val sums = metrics.map(m => m -> fs.map(f => Option(f.get("properties").get(m)).map(_.asDouble()).getOrElse(0.0)).sum).toMap
    (fs.size.toLong, points, sums)
  }

  private def metaTotals(body: String, metrics: Seq[String]): (Long, Map[String, Double]) = {
    val j: JsonNode = mapper.readTree(body)
    val ms = j.get("metricsSummary")
    (j.get("totalPoints").asLong(), metrics.map(m =>
      m -> Option(ms.get(m.stripPrefix("metric_"))).orElse(Option(ms.get(m)))
        .map(_.get("Sum").asDouble()).getOrElse(0.0)).toMap)
  }

  /** Raw points inside a viewport, counted and summed straight from the
    * stored dataset — independent of the clustering operators.
    */
  private def rawTotals(s: Setup, b: Bounds, metrics: Seq[String]): (Long, Map[String, Double]) = {
    import org.apache.spark.sql.functions.{count, lit, sum}
    val in = s.engine.load(s.id).filter(col("lon") >= b.minLon && col("lon") <= b.maxLon &&
      col("lat") >= b.minLat && col("lat") <= b.maxLat)
    val row = in.agg(count(lit(1)), metrics.map(m => sum(col(m))): _*).head()
    (row.getLong(0), metrics.zipWithIndex.map { case (m, i) =>
      m -> Option(row.get(i + 1)).map(_.asInstanceOf[Double]).getOrElse(0.0) }.toMap)
  }

  /** Re-answer a seeded sample of served viewports outside the timed
    * region: pyramid routes against direct `ClusterEngine` calls, live
    * routes against raw point counts and sums, plus pyramid completeness
    * (a world viewport at zoom 0 holds every live point). Returns the
    * mismatch descriptions.
    */
  def check(s: Setup, served: Seq[Sample], seed: Long, livePoints: Long): Seq[String] = {
    val metrics = metricNames(s)
    val rnd = new scala.util.Random(seed)
    val sample = rnd.shuffle(served.filter(_.ok).map(_.req).distinct).take(CheckSample)
    val world = Req(PyrGet, 0, Bounds.World, hot = false)
    val bad = mutable.ArrayBuffer.empty[String]
    (sample :+ world).foreach { r =>
      val rep = http(s.server.boundPort, "GET", r.path(s.id))
      if (!wellFormed(r.route, rep)) bad += s"${r.path(s.id)}: status ${rep.code} on re-send"
      else r.route match {
        case PyrGet =>
          val df = s.engine.getClustersFromPyramid(s.id, r.zoom, r.b).drop("zoom")
          val rows = df.collect()
          val (n, pts, sums) = featureTotals(rep.body, metrics)
          val dPts = rows.map(_.getAs[Long]("count")).sum
          val dSums = metrics.map(m => m -> rows.map(_.getAs[Double](m)).sum).toMap
          if (n != rows.length || pts != dPts || metrics.exists(m => !near(sums(m), dSums(m))))
            bad += s"${r.path(s.id)}: served $n features/$pts points, engine ${rows.length}/$dPts"
          if (r eq world) { if (pts != livePoints) bad += s"pyramid z0 world holds $pts points, dataset $livePoints" }
        case PyrMeta =>
          val row = s.engine.getSummaryFromPyramid(s.id, r.zoom, r.b).collect().head
          val (tot, sums) = metaTotals(rep.body, metrics)
          if (tot != row.getAs[Long]("total_points") ||
            metrics.exists(m => !near(sums(m), row.getAs[Double](s"${m}_sum"))))
            bad += s"${r.path(s.id)}: served totalPoints $tot, engine ${row.getAs[Long]("total_points")}"
        case LiveGet =>
          val (_, pts, sums) = featureTotals(rep.body, metrics)
          val (rn, rs) = rawTotals(s, r.b, metrics)
          if (pts != rn || metrics.exists(m => !nearRaw(sums(m), rs(m), rn)))
            bad += s"${r.path(s.id)}: served $pts points, raw $rn; sums ${metrics.map(m => f"${sums(m)}%.2f/${rs(m)}%.2f").mkString(" ")}"
        case LiveMeta =>
          val (tot, sums) = metaTotals(rep.body, metrics)
          val (rn, rs) = rawTotals(s, r.b, metrics)
          if (tot != rn || metrics.exists(m => !nearRaw(sums(m), rs(m), rn)))
            bad += s"${r.path(s.id)}: served totalPoints $tot, raw $rn; sums ${metrics.map(m => f"${sums(m)}%.2f/${rs(m)}%.2f").mkString(" ")}"
      }
    }
    bad.toSeq
  }

  // ------------------------------------------------------------------ runs

  final class Writer(s: Setup, seed: Long) {
    private val rnd = new java.util.Random(seed ^ 0xde1e7eL)
    private val deleted = mutable.HashSet.empty[Long]
    var live: Long = Points
    val appendMs = mutable.ArrayBuffer.empty[Double]
    val deleteMs = mutable.ArrayBuffer.empty[Double]
    var failed = 0
    val wrong = mutable.ArrayBuffer.empty[String]
    private var n = 0

    def nextIds(): Seq[Long] = {
      val out = mutable.LinkedHashSet.empty[Long]
      while (out.size < DeleteBatch) {
        val i = 1L + rnd.nextInt(Points.toInt)
        if (!deleted(i)) out += i
      }
      out.toSeq
    }

    /** Send the next write (appends and deletes alternate); with `direct`
      * the handler's engine call is replayed inside spans instead of the
      * HTTP request.
      */
    def step(direct: Option[Spans] = None): Unit = {
      val append = n % 2 == 0
      n += 1
      val t0 = System.nanoTime()
      val expect = if (append) live + AppendBatch else live - DeleteBatch
      val ids = if (append) Nil else nextIds()
      val got: Option[Long] = direct match {
        case None =>
          val rep = try {
            if (append) http(s.server.boundPort, "POST", s"/api/clusters/${s.id}/append", s"""{"numPoints":$AppendBatch}""")
            else http(s.server.boundPort, "POST", s"/api/clusters/${s.id}/delete?ids=${ids.mkString(",")}")
          } catch { case e: java.io.IOException => Reply(-1, e.toString) }
          if (rep.code != 200) None
          else """"numPoints":(\d+)""".r.findFirstMatchIn(rep.body).map(_.group(1).toLong)
        case Some(sp) =>
          val e = s.engine
          try {
            val info = sp("ClusterEngine.describe", "sources")(e.describe(s.id)).get
            Some(if (append) sp("ClusterEngine.appendPoints", "sources")(e.appendPoints(info.id, AppendBatch)).numPoints
            else {
              import e.spark.implicits._
              sp("ClusterEngine.deleteAndMaintain", "sources")(e.deleteAndMaintain(info.id, ids.toDF("id"))).numPoints
            })
          } catch { case _: Exception => None }
      }
      val ms = (System.nanoTime() - t0) / 1e6
      got match {
        case None => failed += 1
        case Some(np) =>
          if (np != expect) wrong += s"${if (append) "append" else "delete"}: numPoints $np, expected $expect"
          (if (append) appendMs else deleteMs) += ms
          live = np
          deleted ++= ids
      }
    }
    def writes: Int = n
  }

  def run(a: Args): Result = {
    val s = setup(a.seed)
    val r = if (a.capacity) capacity(a, s)
      else if (a.trace) Traced.serving(a, s, new Requests(a.seed, s.centers).reads())
      else untraced(a, s)
    s.server.stop()
    r
  }

  /** The workload's writes, then each reader phase's traffic in a closed
    * loop for `--seconds`: successful reads per second with
    * [[ReaderThreads]] clients.
    */
  private def capacity(a: Args, s: Setup): Result = {
    val writer = new Writer(s, a.seed)
    writer.step()
    writer.step()
    val m: Metrics = mutable.LinkedHashMap.empty
    val report = Seq("pyramid" -> true, "live" -> false).map { case (name, pyramid) =>
      val t0 = System.nanoTime()
      val reads = closedLoop(s.server.boundPort, s.id, phaseReads(s, a.seed, pyramid), a.seconds)
      val rps = reads.count(_.ok) / secondsSince(t0)
      m += s"${name}_capacity_per_s" -> (rps, "1/s")
      f"$name closed loop, $ReaderThreads clients, ${a.seconds} s: ${reads.size} reads, ${reads.count(!_.ok)} failed, " +
        f"$rps%.3f ok reads/s, p50 ${median(reads.filter(_.ok).map(_.latencyMs))}%.1f ms"
    }
    Result(correct = true, 1, 0, m, report)
  }

  private def untraced(a: Args, s: Setup): Result = {
    val port = s.server.boundPort
    // One append and one delete, then the reader: its first reads of each
    // route family find the caches invalidated and the pyramid rewritten. Reads running
    // beside the writer spread 0.4 between seeds on a shared 4-core box,
    // too wide for any bound, so the phases follow each other. The reader
    // sends a fixed number of reads, so every run reads the same schedule
    // of request classes.
    val writer = new Writer(s, a.seed)
    val t0 = System.nanoTime()
    writer.step()
    writer.step()
    val t1 = System.nanoTime()
    val reads = readPhases(s, a.seed, a.seconds)
    val t2 = System.nanoTime()
    val liveCount = s.engine.load(s.id).count()
    val mismatches = check(s, reads, a.seed, writer.live) ++ writer.wrong ++
      (if (liveCount != writer.live) Seq(s"dataset holds $liveCount live points, expected ${writer.live}") else Nil)
    val wall = f"phases: writes ${(t1 - t0) / 1e9}%.1f s, reads ${(t2 - t1) / 1e9}%.1f s, checks ${secondsSince(t2)}%.1f s"

    val good = reads.filter(_.ok).map(_.latencyMs)
    val n = good.size
    val attempted = reads.size + writer.writes
    val failed = reads.count(!_.ok) + writer.failed
    val writeMs = writer.appendMs ++ writer.deleteMs
    val m: Metrics = mutable.LinkedHashMap(
      "setup_s" -> (s.seconds, "s"),
      "p50_ms" -> (median(good), "ms"),
      "tail_ms" -> (quantile(good, TailQ), "ms"),
      "ops_per_s" -> (writeMs.size / (writeMs.sum / 1e3), "1/s"),
      "ok_frac" -> ((attempted - failed).toDouble / attempted, "ratio"),
      "disk_bytes_per_row" -> (Main.dirBytes(s"${s.wh}/${s.id}").toDouble / writer.live, "B"))
    val report = mutable.ArrayBuffer(
      f"workload ${a.workload}: seed ${a.seed}, $Points points, local[$Cpus]",
      "set-up: " + s.phases.map { case (k, v) => f"$k $v%.1f s" }.mkString(", "),
      wall,
      f"reader: ${reads.size} reads (pyramid at $PyramidRate%.2f/s, then live at $LiveRate%.2f/s), $n ok; tail_ms is p${TailQ * 100}%.0f of $n samples")
    Routes.foreach { r =>
      val rs = reads.filter(_.req.route == r)
      val codes = rs.filter(!_.ok).groupBy(_.code).map { case (c, v) => s"$c x${v.size}" }.mkString(", ")
      report += f"  $r%-8s ${rs.size}%4d reads, ${rs.count(!_.ok)}%3d failed${if (codes.nonEmpty) s" ($codes)" else ""}, p50 ${median(rs.filter(_.ok).map(_.latencyMs))}%.1f ms"
    }
    report += f"writer: ${writer.writes} writes; append_p50_s ${median(writer.appendMs.toSeq) / 1e3}%.3f, delete_p50_s ${median(writer.deleteMs.toSeq) / 1e3}%.3f; live points ${writer.live}"
    report += f"hot-set share ${reads.count(_.req.hot).toDouble / reads.size}%.2f, retries ${reads.count(_.retried)}, generator lateness p50 ${median(reads.map(x => (x.sentNs - x.dueNs) / 1e6))}%.2f ms"
    mismatches.foreach(x => report += s"MISMATCH $x")
    m.foreach { case (k, (v, u)) => report += f"  $k%-20s $v%14.4f $u" }
    Result(mismatches.isEmpty, attempted, failed, m, report.toSeq)
  }
}
