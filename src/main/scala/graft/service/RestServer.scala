package graft.service

import com.sun.net.httpserver.{HttpExchange, HttpServer}
import graft.ClusterEngine
import graft.model.Bounds
import java.net.InetSocketAddress
import java.nio.charset.StandardCharsets
import java.time.Instant

/** REST gateway over [[ClusterEngine]] — the reference's HTTP edge
  * (reference: cmd/api/main.go:28-314; gin router + gRPC client there,
  * the JDK's built-in HttpServer directly over the engine here — the
  * engine already IS the five-RPC service surface, so no IPC hop).
  *
  * Route contract (param names and response shapes match main.go):
  *  - GET  /api/clusters/list                     → [{id,numPoints,timestamp,fileSize}]
  *  - GET  /api/clusters[?zoom&north&south&east&west]        (default dataset)
  *  - GET  /api/clusters/{id}?zoom&…              → GeoJSON FeatureCollection
  *  - GET  /api/clusters/metadata?zoom&…                     (default dataset)
  *  - GET  /api/clusters/{id}/metadata?zoom&…     → summary JSON
  *  - POST /api/clusters        {"numPoints":n}   → created info (becomes default)
  *  - POST /api/clusters/{id}/load                → {message, clusterInfo} (becomes default)
  *
  * Serving extension beyond the reference (the 100 TB path — no
  * per-request clustering):
  *  - POST /api/clusters/{id}/pyramid {"zMin":a,"zMax":b}  → build+persist
  *  - GET  /api/clusters/{id}/pyramid?zoom&…      → GeoJSON from the
  *    persisted pyramid (pure zoom-pruned scan); it and
  *    `…/pyramid/metadata` answer 404 until a pyramid is built
  *
  * Bounds arrive as north/south/east/west floats (main.go:28-55); the
  * most recent dataset is the initial default (main.go:70-72). CORS `*`
  * like the reference (main.go:77-89).
  *
  * Ingest-gate extension (the dedup serving path, enabled when a
  * persisted [[graft.sources.DedupIndex]] is configured):
  *  - POST /api/dedup/check {"docs":[{"id":n,"text":"…"}]} →
  *    [{id,status,matchId,jaccardPpm}] — the request batch classified
  *    exact/near/unique against the signature index.
  *
  * Vector-retrieval extension (enabled when a persisted
  * [[graft.sources.VectorIndex]] is configured):
  *  - GET /api/ann/search?id=n[&k=10][&probes=2] →
  *    [{vecId,cell,cosSim}] — ANN top-k from the cell-clustered index
  *    (probed-cell pruned scan; the same plan Bench times as
  *    `ann_warm_sec`).
  *  - GET /api/ann/bq?id=n[&k=10][&shortlist=50] →
  *    [{vecId,hamming,cosSim}] — binary-quantized top-k: popcount-
  *    Hamming shortlist over the 8-byte packed codes, exact rerank
  *    (requires the index dir's `bqcodes` table).
  *
  * Text-retrieval extension (enabled when a persisted
  * [[graft.sources.TextIndex]] is configured):
  *  - GET /api/search?q=term+term[&k=10] → [{docId,scoreMicro}] —
  *    served BM25 top-k (term-pruned postings scan, delete-aware);
  *  - POST /api/search/delete?ids=1,2 → truthful requested/deleted
  *    counts, score-correct subtraction per the TextIndex contract.
  */
final class RestServer(engine: ClusterEngine, port: Int = 0,
                       dedup: Option[(org.apache.spark.sql.SparkSession, String)] = None,
                       ann: Option[(org.apache.spark.sql.SparkSession, String, Int)] = None,
                       text: Option[(org.apache.spark.sql.SparkSession, String)] = None) {

  private val server = HttpServer.create(new InetSocketAddress(port), 0)
  // without an executor the JDK HttpServer runs every handler on the
  // single dispatcher thread — one slow viewport query would serialize
  // the whole serving edge. A bounded pool lets concurrent requests
  // overlap; thread-safety below it is the engine's contract
  // (Catalog.load is synchronized, Spark actions are thread-safe, and
  // ServingSoakSpec drives 32 mixed concurrent requests to pin it).
  private val pool = java.util.concurrent.Executors.newFixedThreadPool(
    math.min(32, Runtime.getRuntime.availableProcessors * 2))
  server.setExecutor(pool)
  // most-RECENT dataset is the initial default (main.go:70-72) — by
  // createdAtMs, not list order (Catalog.list sorts lexicographically
  // by id, where "cluster-800p-…" sorts after "cluster-1000p-…")
  @volatile private var defaultClusterId: String =
    engine.list().maxByOption(_.createdAtMs).map(_.id).getOrElse("")

  def boundPort: Int = server.getAddress.getPort

  // ------------------------------------------------------------- json utils

  private def jstr(s: String): String =
    "\"" + s.flatMap {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""

  private def jnum(d: Double): String =
    if (d == d.toLong.toDouble) d.toLong.toString else d.toString

  /** "value:ppm,value:ppm" canonical string → JSON object; the empty
    * distribution of a viewport with no points is `{}`.
    */
  private def distToJson(dist: String): String =
    dist.split(",").filter(_.nonEmpty).map { kv =>
      val i = kv.lastIndexOf(':')
      s"${jstr(kv.substring(0, i))}:${kv.substring(i + 1)}"
    }.mkString("{", ",", "}")

  /** The summary's three counts. They are sums, null over a viewport
    * with no points, where they read 0.
    */
  private def totalsJson(row: org.apache.spark.sql.Row): String =
    Seq("totalPoints" -> "total_points", "numClusters" -> "num_clusters",
      "numSinglePoints" -> "num_single_points").map { case (k, c) =>
      val i = row.fieldIndex(c)
      s"${jstr(k)}:${if (row.isNullAt(i)) 0L else row.getLong(i)}"
    }.mkString(",")

  private def infoJson(i: graft.sources.Catalog#SavedInfo): String =
    s"""{"id":${jstr(i.id)},"numPoints":${i.numPoints},""" +
      s""""timestamp":${jstr(Instant.ofEpochMilli(i.createdAtMs).toString)},""" +
      s""""fileSize":${i.fileSizeBytes}}"""

  // ------------------------------------------------------------- responses

  private def respond(ex: HttpExchange, status: Int, body: String): Unit = {
    val bytes = body.getBytes(StandardCharsets.UTF_8)
    ex.getResponseHeaders.set("Content-Type", "application/json")
    ex.getResponseHeaders.set("Access-Control-Allow-Origin", "*")
    ex.getResponseHeaders.set("Access-Control-Allow-Methods", "GET, POST, OPTIONS")
    ex.getResponseHeaders.set("Access-Control-Allow-Headers", "Origin, Content-Type")
    ex.sendResponseHeaders(status, bytes.length)
    val os = ex.getResponseBody
    try os.write(bytes) finally os.close()
  }

  private def err(ex: HttpExchange, status: Int, msg: String): Unit =
    respond(ex, status, s"""{"error":${jstr(msg)}}""")

  // ------------------------------------------------------------- params

  private def query(ex: HttpExchange): Map[String, String] =
    Option(ex.getRequestURI.getRawQuery).getOrElse("").split("&").toSeq
      .filter(_.contains("=")).map { kv =>
        val Array(k, v) = kv.split("=", 2)
        java.net.URLDecoder.decode(k, "UTF-8") -> java.net.URLDecoder.decode(v, "UTF-8")
      }.toMap

  /** zoom + north/south/east/west, reference param contract (main.go:28-55). */
  private def zoomAndBounds(q: Map[String, String]): Either[String, (Int, Bounds)] =
    try {
      val zoom = q.getOrElse("zoom", throw new IllegalArgumentException("Invalid zoom parameter")).toInt
      def f(k: String): Double =
        q.getOrElse(k, throw new IllegalArgumentException(s"invalid $k parameter")).toDouble
      Right((zoom, Bounds(f("west"), f("south"), f("east"), f("north"))))
    } catch {
      // NumberFormatException IS an IllegalArgumentException — match the
      // subtype first or malformed numerics leak raw JDK messages
      case _: NumberFormatException => Left("invalid numeric parameter")
      case e: IllegalArgumentException => Left(Option(e.getMessage).getOrElse("invalid parameters"))
    }

  /** Metric names of a summary row: every `{m}_sum` column. */
  private def metricNames(row: org.apache.spark.sql.Row): Seq[String] =
    row.schema.fieldNames.toSeq.filter(_.endsWith("_sum")).map(_.stripSuffix("_sum"))

  /** The `metricsSummary` object of a summary row:
    * `{m:{Min,Max,Sum,Average}}` per metric.
    */
  private def metricsJson(row: org.apache.spark.sql.Row): String =
    metricNames(row).map { m =>
      s"${jstr(m)}:{" +
        s""""Min":${jnum(row.getAs[Double](s"${m}_min"))},""" +
        s""""Max":${jnum(row.getAs[Double](s"${m}_max"))},""" +
        s""""Sum":${jnum(row.getAs[Double](s"${m}_sum"))},""" +
        s""""Average":${jnum(row.getAs[Double](s"${m}_avg"))}}"""
    }.mkString("{", ",", "}")

  // ------------------------------------------------------------- handlers

  private def handleList(ex: HttpExchange): Unit =
    respond(ex, 200, engine.list().map(infoJson).mkString("[", ",", "]"))

  private def handleGetClusters(ex: HttpExchange, id: String): Unit =
    zoomAndBounds(query(ex)) match {
      case Left(m) => err(ex, 400, m)
      case Right((zoom, bounds)) =>
        respond(ex, 200, engine.getClustersGeoJson(id, zoom, bounds))
    }

  private def handleMetadata(ex: HttpExchange, id: String): Unit =
    zoomAndBounds(query(ex)) match {
      case Left(m) => err(ex, 400, m)
      case Right((zoom, bounds)) =>
        val row = engine.getSummary(id, zoom, bounds).collect().head
        val schema = row.schema.fieldNames
        val metrics = metricNames(row)
        // metadata: numeric → Min/Max/Average, timestamps → Earliest/
        // Latest, categorical dists → value:ppm objects (main.go:281-300)
        val metaEntries =
          schema.filter(_.endsWith("_dist")).map { c =>
            s"${jstr(c.stripSuffix("_dist"))}:${distToJson(row.getAs[String](c))}"
          } ++
          // a viewport with no points has no time range
          schema.filter(c => c.endsWith("_earliest") && !row.isNullAt(row.fieldIndex(c))).map { c =>
            val base = c.stripSuffix("_earliest")
            s"${jstr(base)}:{" +
              s""""Earliest":${jstr(row.getAs[java.sql.Timestamp](c).toInstant.toString)},""" +
              s""""Latest":${jstr(row.getAs[java.sql.Timestamp](s"${base}_latest").toInstant.toString)}}"""
          } ++
          schema.filter(c => c.endsWith("_avg") && !metrics.contains(c.stripSuffix("_avg"))).map { c =>
            val base = c.stripSuffix("_avg")
            s"${jstr(base)}:{" +
              s""""Min":${jnum(row.getAs[Double](s"${base}_min"))},""" +
              s""""Max":${jnum(row.getAs[Double](s"${base}_max"))},""" +
              s""""Average":${jnum(row.getAs[Double](c))}}"""
          }
        respond(ex, 200,
          s"""{${totalsJson(row)},""" +
            s""""metricsSummary":${metricsJson(row)},""" +
            s""""metadataSummary":${metaEntries.mkString("{", ",", "}")}}""")
    }

  private def handleCreate(ex: HttpExchange): Unit = {
    val body = new String(ex.getRequestBody.readAllBytes(), StandardCharsets.UTF_8)
    val n = "\"numPoints\"\\s*:\\s*(\\d+)".r.findFirstMatchIn(body).map(_.group(1).toLong)
    n match {
      case None => err(ex, 400, "Invalid request")
      case Some(num) =>
        // reference filename encoding cluster-{n}p-{ts}-{id} (helpers.go:54-97)
        val id = s"cluster-${num}p-t${System.currentTimeMillis()}-api"
        val info = engine.createDataset(id, num)
        defaultClusterId = id
        respond(ex, 200, infoJson(info))
    }
  }

  /** Append an ingest batch; the persisted pyramid (if any) is updated
    * INCREMENTALLY — only the batch is re-aggregated (exact mergeable
    * state; see [[graft.operators.TilePyramid]]).
    */
  private def handleAppend(ex: HttpExchange, id: String): Unit = {
    val body = new String(ex.getRequestBody.readAllBytes(), StandardCharsets.UTF_8)
    val n = "\"numPoints\"\\s*:\\s*(\\d+)".r.findFirstMatchIn(body).map(_.group(1).toLong)
    (n, engine.describe(id)) match {
      case (None, _) => err(ex, 400, "Invalid request")
      case (_, None) => err(ex, 400, s"unknown cluster $id")
      case (Some(num), Some(info)) =>
        respond(ex, 200,
          s"""{"message":"Appended","clusterInfo":${infoJson(engine.appendPoints(info.id, num))}}""")
    }
  }

  /** Point delete at the REST edge ([[graft.ClusterEngine
    * .deleteAndMaintain]]): `ids=1,2,3` tombstones the points and
    * subtractively maintains the persisted pyramid in the same call,
    * so both the live and the serving paths answer without the points
    * immediately.
    */
  private def handleDeletePoints(ex: HttpExchange, id: String): Unit =
    (engine.describe(id), parseIds(ex)) match {
      case (None, _) => err(ex, 400, s"unknown cluster $id")
      case (_, Left(m)) => err(ex, 400, m)
      case (Some(info), Right(ids)) =>
        import engine.spark.implicits._
        val updated = engine.deleteAndMaintain(info.id, ids.toDF("id"))
        respond(ex, 200,
          s"""{"message":"Deleted","clusterInfo":${infoJson(updated)}}""")
    }

  private def handlePyramidBuild(ex: HttpExchange, id: String): Unit = {
    val body = new String(ex.getRequestBody.readAllBytes(), StandardCharsets.UTF_8)
    def intField(k: String, dflt: Int): Int =
      s""""$k"\\s*:\\s*(\\d+)""".r.findFirstMatchIn(body).map(_.group(1).toInt).getOrElse(dflt)
    engine.describe(id) match {
      case None => err(ex, 400, s"unknown cluster $id")
      case Some(info) =>
        val (zMin, zMax) = (intField("zMin", 0), intField("zMax", 8))
        engine.buildAndSavePyramid(info.id, zMin, zMax)
        respond(ex, 200,
          s"""{"message":"Pyramid built","id":${jstr(info.id)},"zMin":$zMin,"zMax":$zMax}""")
    }
  }

  private def handlePyramidGet(ex: HttpExchange, id: String): Unit =
    zoomAndBounds(query(ex)) match {
      case Left(m) => err(ex, 400, m)
      case Right((zoom, bounds)) =>
        val df = engine.getClustersFromPyramid(id, zoom, bounds).drop("zoom")
        val mc = df.columns.filter(_.startsWith("metric_")).toSeq
        // metadata frequency maps persisted in the pyramid flow into
        // feature properties, same as the live route (ClusterNode parity)
        val cm = df.columns.filter(_.endsWith("_freq")).map(_.stripSuffix("_freq")).toSeq
        respond(ex, 200, graft.geo.GeoJson.featureCollection(df, mc, cm))
    }

  /** GetMetadata served from the persisted pyramid (no re-clustering). */
  private def handlePyramidSummary(ex: HttpExchange, id: String): Unit =
    zoomAndBounds(query(ex)) match {
      case Left(m) => err(ex, 400, m)
      case Right((zoom, bounds)) =>
        val row = engine.getSummaryFromPyramid(id, zoom, bounds).collect().head
        respond(ex, 200,
          s"""{${totalsJson(row)},""" +
            s""""metricsSummary":${metricsJson(row)}}""")
    }

  private def handleLoad(ex: HttpExchange, id: String): Unit =
    engine.describe(id) match {
      case None => err(ex, 400, s"unknown cluster $id")
      case Some(info) =>
        engine.load(info.id)
        defaultClusterId = info.id
        respond(ex, 200,
          s"""{"message":"Cluster loaded successfully","clusterInfo":${infoJson(info)}}""")
    }

  /** Ingest-gate route: classify the request docs against the
    * configured signature index. Body parsing is the same minimal
    * regex-JSON the other POST routes use (id + text fields; \" \\ \n
    * unescaped).
    */
  private def handleDedupCheck(ex: HttpExchange): Unit = dedup match {
    case None => err(ex, 404, "dedup index not configured")
    case Some((spark, indexPath)) =>
      val body = new String(ex.getRequestBody.readAllBytes(), StandardCharsets.UTF_8)
      val docRe = """"id"\s*:\s*(\d+)\s*,\s*"text"\s*:\s*"((?:[^"\\]|\\.)*)"""".r
      val docs = docRe.findAllMatchIn(body).map { m =>
        val text = m.group(2).replace("\\n", "\n").replace("\\\"", "\"").replace("\\\\", "\\")
        (m.group(1).toLong, text)
      }.toSeq
      if (docs.isEmpty) err(ex, 400, "no docs in request")
      else {
        import spark.implicits._
        val out = graft.sources.DedupIndex
          .incrementalDedup(spark, indexPath, docs.toDF("doc_id", "text"))
          .collect().map { r =>
            s"""{"id":${r.getLong(0)},"status":${jstr(r.getString(1))},""" +
              s""""matchId":${r.getLong(2)},"jaccardPpm":${r.getLong(3)}}"""
          }
        respond(ex, 200, out.mkString("[", ",", "]"))
      }
  }

  /** Shared `ids=1,2,3` parameter contract of the delete routes. */
  private def parseIds(ex: HttpExchange): Either[String, Seq[Long]] =
    try {
      val ids = query(ex).getOrElse("ids", "")
        .split(",").filter(_.nonEmpty).map(_.trim.toLong).toSeq
      if (ids.isEmpty) Left("missing ids") else Right(ids)
    } catch { case _: NumberFormatException => Left("invalid ids parameter") }

  /** Dedup-index tombstone delete ([[graft.sources.DedupIndex
    * .delete]]): `ids=1,2,3` appends to the tombstone table; the
    * check/gate paths immediately stop matching against the deleted
    * docs, and a signature shared with a live doc keeps gating (the
    * per-doc sigkey layout's contract).
    */
  private def handleDedupDelete(ex: HttpExchange): Unit = dedup match {
    case None => err(ex, 404, "dedup index not configured")
    case Some((spark, indexPath)) =>
      parseIds(ex) match {
        case Left(m) => err(ex, 400, m)
        case Right(ids) =>
          // `deleted` counts ids that actually transitioned to
          // tombstoned — members not already dead — mirroring the
          // clusters route whose clusterInfo reflects the true
          // decrement; `requested` keeps the raw batch size (r9
          // advice: unknown/already-deleted ids are not "deleted").
          val newly = newlyDead(spark, ids,
            s"$indexPath/digests", "doc_id", s"$indexPath/tombstones")
          graft.sources.DedupIndex.delete(spark, indexPath, ids)
          respond(ex, 200, s"""{"requested":${ids.size},"deleted":$newly}""")
      }
  }

  /** How many of `ids` are live members about to be tombstoned: ids
    * present in the member table minus ids already in the tombstone
    * table. Request-sized broadcast joins — REST-edge cheap.
    */
  private def newlyDead(spark: org.apache.spark.sql.SparkSession, ids: Seq[Long],
                        memberPath: String, idCol: String, tombPath: String): Long = {
    import spark.implicits._
    import org.apache.spark.sql.functions.{broadcast, col}
    val idsDf = ids.toDF(idCol)
    val members = spark.read.parquet(memberPath).select(col(idCol)).distinct()
    val live = members.join(broadcast(idsDf), Seq(idCol), "left_semi")
    val dead =
      if (new java.io.File(tombPath).exists)
        live.join(broadcast(spark.read.parquet(tombPath).distinct()), Seq(idCol), "left_anti")
      else live
    dead.count()
  }

  /** ANN top-k route over the configured persisted vector index; the
    * request-time work is two k-row collects + one probed-cell pruned
    * scan ([[graft.sources.VectorIndex.annServe]]). An optional
    * `label=<int>` parameter switches to the filtered serving plan
    * ([[graft.sources.VectorIndex.annServeFiltered]] — requires the
    * index saved with the `label` metadata column); callers are
    * expected to raise `probes` alongside (oversearch) per the
    * filtered-search contract.
    */
  private def handleAnnSearch(ex: HttpExchange): Unit = ann match {
    case None => err(ex, 404, "vector index not configured")
    case Some((spark, indexPath, dims)) =>
      val q = query(ex)
      (try Right((q.get("id").map(_.toLong),
          q.getOrElse("k", "10").toInt, q.getOrElse("probes", "2").toInt,
          q.get("label").map(_.toInt)))
        catch { case _: NumberFormatException => Left("invalid numeric parameter") }) match {
        case Left(m) => err(ex, 400, m)
        case Right((None, _, _, _)) => err(ex, 400, "missing id")
        case Right((Some(id), k, probes, label)) =>
          try {
            // probe the index's vectors SCHEMA for the metadata column up
            // front (r7 advice #4) — no message-substring sniffing, and
            // unrelated AnalysisExceptions can't masquerade as this 400
            if (label.isDefined &&
                !spark.read.parquet(s"$indexPath/vectors").columns.contains("label")) {
              err(ex, 400, "index has no label metadata (saved without metaCols)")
            } else {
              val plan = label match {
                case Some(l) => graft.sources.VectorIndex.annServeFiltered(
                  spark, indexPath, org.apache.spark.sql.functions.col("label") === l,
                  id, probes, k, dims)
                case None => graft.sources.VectorIndex
                  .annServe(spark, indexPath, id, probes, k, dims)
              }
              val out = plan.collect().map { r =>
                  s"""{"vecId":${r.getLong(0)},"cell":${r.getLong(1)},""" +
                    s""""cosSim":${jnum(r.getDouble(2))}}"""
                }
              respond(ex, 200, out.mkString("[", ",", "]"))
            }
          } catch {
            case _: NoSuchElementException => err(ex, 400, s"unknown vector $id")
          }
      }
  }

  /** Binary-quantized top-k route: Hamming shortlist over the packed
    * codes + exact rerank ([[graft.sources.VectorIndex.bqServe]]).
    * Requires the index dir to carry a `bqcodes` table
    * ([[graft.sources.VectorIndex.addBqCodes]] backfills one onto an
    * IVF index) — checked up front so the 400 names the real problem.
    */
  private def handleBqSearch(ex: HttpExchange): Unit = ann match {
    case None => err(ex, 404, "vector index not configured")
    case Some((spark, indexPath, dims)) =>
      val q = query(ex)
      (try Right((q.get("id").map(_.toLong),
          q.getOrElse("k", "10").toInt, q.getOrElse("shortlist", "50").toInt))
        catch { case _: NumberFormatException => Left("invalid numeric parameter") }) match {
        case Left(m) => err(ex, 400, m)
        case Right((None, _, _)) => err(ex, 400, "missing id")
        case Right((Some(id), k, shortlist)) =>
          if (!java.nio.file.Files.exists(java.nio.file.Paths.get(indexPath, "bqcodes"))) {
            err(ex, 400, "index has no bqcodes table (run addBqCodes)")
          } else {
            try {
              val out = graft.sources.VectorIndex
                .bqServe(spark, indexPath, id, shortlist, k, dims)
                .collect().map { r =>
                  s"""{"vecId":${r.getLong(0)},"hamming":${r.getLong(1)},""" +
                    s""""cosSim":${jnum(r.getDouble(2))}}"""
                }
              respond(ex, 200, out.mkString("[", ",", "]"))
            } catch {
              case _: NoSuchElementException => err(ex, 400, s"unknown vector $id")
            }
          }
      }
  }

  /** Tombstone-delete route — the delete quarter of the index
    * lifecycle at the REST edge ([[graft.sources.VectorIndex.delete]]):
    * `ids=1,2,3` appends to the tombstone table; subsequent searches
    * on every serving path exclude the ids immediately.
    */
  private def handleAnnDelete(ex: HttpExchange): Unit = ann match {
    case None => err(ex, 404, "vector index not configured")
    case Some((spark, indexPath, _)) =>
      parseIds(ex) match {
        case Left(m) => err(ex, 400, m)
        case Right(ids) =>
          val table =
            if (new java.io.File(s"$indexPath/vectors").exists) "vectors" else "codes"
          val newly = newlyDead(spark, ids,
            s"$indexPath/$table", "vec_id", s"$indexPath/tombstones")
          graft.sources.VectorIndex.delete(spark, indexPath, ids)
          respond(ex, 200, s"""{"requested":${ids.size},"deleted":$newly}""")
      }
  }

  // ------------------------------------------------------------- routing

  server.createContext("/api/ann", (ex: HttpExchange) => {
    try {
      val method = ex.getRequestMethod
      val sub = ex.getRequestURI.getPath.stripSuffix("/")
        .stripPrefix("/api/ann").stripPrefix("/")
      (method, sub) match {
        case ("OPTIONS", _) => respond(ex, 204, "")
        case ("GET", "search") => handleAnnSearch(ex)
        case ("GET", "bq") => handleBqSearch(ex)
        case ("POST", "delete") => handleAnnDelete(ex)
        case _ => err(ex, 404, "not found")
      }
    } catch {
      case e: Throwable => err(ex, 500, Option(e.getMessage).getOrElse(e.getClass.getName))
    }
  })

  /** BM25 text-search route over the configured persisted
    * [[graft.sources.TextIndex]]: `q` is +-or-space separated terms;
    * the request-time work is the term-pruned postings scan
    * ([[graft.sources.TextIndex.bm25Serve]] — the plan Bench times as
    * `bm25_warm_sec`), delete-aware by construction.
    */
  private def handleTextSearch(ex: HttpExchange): Unit = text match {
    case None => err(ex, 404, "text index not configured")
    case Some((spark, indexPath)) =>
      val q = query(ex)
      val terms = q.getOrElse("q", "").split("[+ ]").filter(_.nonEmpty).toSeq
      val k = try q.getOrElse("k", "10").toInt
        catch { case _: NumberFormatException => -1 }
      if (terms.isEmpty) err(ex, 400, "missing q")
      else if (k <= 0) err(ex, 400, "invalid k")
      else {
        val out = graft.sources.TextIndex.bm25Serve(spark, indexPath, terms, k)
          .collect().map { r =>
            s"""{"docId":${r.getLong(0)},"scoreMicro":${r.getLong(1)}}"""
          }
        respond(ex, 200, out.mkString("[", ",", "]"))
      }
  }

  /** Text-index tombstone delete at the REST edge (score-correct by
    * [[graft.sources.TextIndex.delete]]'s length-carrying contract);
    * truthful counts like the other delete routes.
    */
  private def handleTextDelete(ex: HttpExchange): Unit = text match {
    case None => err(ex, 404, "text index not configured")
    case Some((spark, indexPath)) =>
      parseIds(ex) match {
        case Left(m) => err(ex, 400, m)
        case Right(ids) =>
          val newly = newlyDead(spark, ids,
            s"$indexPath/postings", "doc", s"$indexPath/tombstones")
          graft.sources.TextIndex.delete(spark, indexPath, ids)
          respond(ex, 200, s"""{"requested":${ids.size},"deleted":$newly}""")
      }
  }

  server.createContext("/api/search", (ex: HttpExchange) => {
    try {
      val method = ex.getRequestMethod
      val sub = ex.getRequestURI.getPath.stripSuffix("/")
        .stripPrefix("/api/search").stripPrefix("/")
      (method, sub) match {
        case ("OPTIONS", _) => respond(ex, 204, "")
        case ("GET", "") => handleTextSearch(ex)
        case ("POST", "delete") => handleTextDelete(ex)
        case _ => err(ex, 404, "not found")
      }
    } catch {
      case e: Throwable => err(ex, 500, Option(e.getMessage).getOrElse(e.getClass.getName))
    }
  })

  server.createContext("/api/dedup", (ex: HttpExchange) => {
    try {
      val method = ex.getRequestMethod
      val sub = ex.getRequestURI.getPath.stripSuffix("/")
        .stripPrefix("/api/dedup").stripPrefix("/")
      (method, sub) match {
        case ("OPTIONS", _) => respond(ex, 204, "")
        case ("POST", "check") => handleDedupCheck(ex)
        case ("POST", "delete") => handleDedupDelete(ex)
        case _ => err(ex, 404, "not found")
      }
    } catch {
      case e: Throwable => err(ex, 500, Option(e.getMessage).getOrElse(e.getClass.getName))
    }
  })

  server.createContext("/api/clusters", (ex: HttpExchange) => {
    try {
      val path = ex.getRequestURI.getPath.stripSuffix("/")
      val method = ex.getRequestMethod
      val sub = path.stripPrefix("/api/clusters").stripPrefix("/")
      (method, sub.split("/").toList.filter(_.nonEmpty)) match {
        case ("OPTIONS", _) => respond(ex, 204, "")
        case ("GET", List("list")) => handleList(ex)
        case ("GET", Nil) | ("GET", List("metadata")) =>
          if (defaultClusterId.isEmpty) err(ex, 404, "No clusters available")
          else if (sub == "metadata") handleMetadata(ex, defaultClusterId)
          else handleGetClusters(ex, defaultClusterId)
        case ("GET", List(id)) => handleGetClusters(ex, id)
        case ("GET", List(id, "metadata")) => handleMetadata(ex, id)
        case ("GET", List(id, "pyramid")) => handlePyramidGet(ex, id)
        case ("GET", List(id, "pyramid", "metadata")) => handlePyramidSummary(ex, id)
        case ("POST", Nil) => handleCreate(ex)
        case ("POST", List(id, "load")) => handleLoad(ex, id)
        case ("POST", List(id, "append")) => handleAppend(ex, id)
        case ("POST", List(id, "pyramid")) => handlePyramidBuild(ex, id)
        case ("POST", List(id, "delete")) => handleDeletePoints(ex, id)
        case _ => err(ex, 404, "not found")
      }
    } catch {
      // a pyramid route on a dataset without one: the client's to fix
      case e: graft.sources.Catalog.NoPyramidException =>
        err(ex, 404, s"cluster ${e.id} has no pyramid; build one with POST /api/clusters/${e.id}/pyramid")
      case e: Throwable => err(ex, 500, Option(e.getMessage).getOrElse(e.getClass.getName))
    }
  })

  def start(): Unit = server.start()
  def stop(): Unit = { server.stop(0); pool.shutdown() }
}
