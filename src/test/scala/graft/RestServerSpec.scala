package graft

import graft.service.RestServer
import java.net.URI
import java.net.http.{HttpClient, HttpRequest, HttpResponse}
import java.nio.file.Files

/** End-to-end HTTP edge: the five reference routes over a live server
  * (reference: cmd/api/main.go route + param contract).
  */
class RestServerSpec extends SparkSpec {

  private lazy val engine =
    new ClusterEngine(spark, Files.createTempDirectory("graft-rest").toString)
  private lazy val server = { val s = new RestServer(engine); s.start(); s }
  private lazy val http = HttpClient.newHttpClient()
  private def base = s"http://localhost:${server.boundPort}"

  private def get(path: String): HttpResponse[String] =
    http.send(HttpRequest.newBuilder(URI.create(s"$base$path")).GET().build(),
      HttpResponse.BodyHandlers.ofString())
  private def post(path: String, body: String): HttpResponse[String] =
    http.send(HttpRequest.newBuilder(URI.create(s"$base$path"))
      .POST(HttpRequest.BodyPublishers.ofString(body)).build(),
      HttpResponse.BodyHandlers.ofString())

  private val viewport = "zoom=3&west=-180&south=-85&east=180&north=85"

  test("POST /api/clusters creates a dataset and sets the default") {
    val r = post("/api/clusters", """{"numPoints": 800}""")
    assert(r.statusCode() == 200, r.body())
    assert(r.body().contains(""""numPoints":800"""))
    assert(r.body().contains(""""fileSize":"""))
  }

  test("GET /api/clusters/list returns the catalog with sizes") {
    val r = get("/api/clusters/list")
    assert(r.statusCode() == 200)
    assert(r.body().startsWith("[") && r.body().contains(""""numPoints":800"""))
  }

  test("GET /api/clusters serves GeoJSON from the default dataset") {
    val r = get(s"/api/clusters?$viewport")
    assert(r.statusCode() == 200, r.body())
    assert(r.body().startsWith("""{"type":"FeatureCollection","features":["""))
    assert(r.body().contains(""""cluster":true"""))
    assert(r.body().contains(""""meta_category_freq":""")) // metadata inlined
  }

  test("GET /api/clusters/{id}/metadata returns the summary contract") {
    val id = engine.list().head.id
    val r = get(s"/api/clusters/$id/metadata?$viewport")
    assert(r.statusCode() == 200, r.body())
    val b = r.body()
    assert(b.contains(""""totalPoints":800"""))
    assert(b.contains(""""metricsSummary":{"""") && b.contains(""""metric_sales":{"Min":"""))
    assert(b.contains(""""meta_elevation":{"Min":"""))   // numeric meta stats
    assert(b.contains(""""meta_category":{""""))          // categorical dist
    assert(b.contains(""""meta_timestamp":{"Earliest":""")) // time range
  }

  test("pyramid routes: build once, serve viewports as pruned scans") {
    val id = engine.list().head.id
    val b = post(s"/api/clusters/$id/pyramid", """{"zMin": 0, "zMax": 4}""")
    assert(b.statusCode() == 200 && b.body().contains("Pyramid built"), b.body())
    val r = get(s"/api/clusters/$id/pyramid?$viewport")
    assert(r.statusCode() == 200, r.body())
    assert(r.body().startsWith("""{"type":"FeatureCollection","features":["""))
    assert(r.body().contains(""""cluster":true"""))
    // ClusterNode parity on the serving path (round-2 verdict #1): the
    // persisted pyramid carries metadata frequency maps into properties
    assert(r.body().contains(""""meta_category_freq":"""), r.body().take(500))
    assert(r.body().contains(""""meta_region_freq":"""), r.body().take(500))
  }

  test("pyramid metadata route: summary served from the persisted pyramid") {
    val id = engine.list().head.id
    val r = get(s"/api/clusters/$id/pyramid/metadata?$viewport")
    assert(r.statusCode() == 200, r.body())
    val b = r.body()
    assert(b.contains(""""totalPoints":800"""), b)
    assert(b.contains(""""numClusters":""") && b.contains(""""numSinglePoints":"""), b)
    assert(b.contains(""""metricsSummary":{""""), b)
    assert(b.contains(""""metric_sales":{"Min":"""), b)
  }

  test("append route: ingest batch updates catalog and pyramid incrementally") {
    val id = engine.list().head.id
    val r = post(s"/api/clusters/$id/append", """{"numPoints": 200}""")
    assert(r.statusCode() == 200, r.body())
    assert(r.body().contains(""""numPoints":1000"""), r.body()) // 800 + 200
    // the maintained pyramid serves the grown corpus with metadata intact
    val g = get(s"/api/clusters/$id/pyramid?$viewport")
    assert(g.statusCode() == 200, g.body())
    assert(g.body().contains(""""meta_category_freq":"""), g.body().take(300))
    val m = get(s"/api/clusters/$id/pyramid/metadata?$viewport")
    assert(m.statusCode() == 200 && m.body().contains(""""totalPoints":1000"""), m.body())
    assert(post("/api/clusters/nope/append", """{"numPoints": 1}""").statusCode() == 400)
  }

  test("GET /api/search ranks by served BM25; delete drops the doc with truthful counts") {
    import spark.implicits._
    val idx = java.nio.file.Files.createTempDirectory("graft-rest-tix").toString
    val docs = Seq(
      (1L, "spark shuffle join aggregation"),
      (2L, "spark spark spark streaming"),
      (3L, "entirely unrelated gardening prose")
    ).toDF("doc_id", "text")
    graft.sources.TextIndex.save(docs, idx)
    val srv = new RestServer(engine, text = Some((spark, idx)))
    srv.start()
    try {
      val r = get2(srv, "/api/search?q=spark&k=2")
      assert(r.statusCode() == 200, r.body())
      // doc 2 has the highest spark tf → ranked first; doc 3 absent
      assert(r.body().indexOf("\"docId\":2") >= 0 &&
        (r.body().indexOf("\"docId\":1") < 0 ||
          r.body().indexOf("\"docId\":2") < r.body().indexOf("\"docId\":1")), r.body())
      assert(!r.body().contains("\"docId\":3"))
      // row-identical to the direct serving plan
      val direct = graft.sources.TextIndex.bm25Serve(spark, idx, Seq("spark"), 2)
        .collect().map(row => s""""docId":${row.getLong(0)},"scoreMicro":${row.getLong(1)}""")
      direct.foreach(d => assert(r.body().contains(d), s"$d missing in ${r.body()}"))
      assert(get2(srv, "/api/search").statusCode() == 400)
      assert(get2(srv, "/api/search?q=spark&k=0").statusCode() == 400)

      // delete: truthful counts; the doc leaves the ranking immediately
      def spost(path: String) = http.send(
        HttpRequest.newBuilder(URI.create(s"http://localhost:${srv.boundPort}$path"))
          .POST(HttpRequest.BodyPublishers.noBody()).build(),
        HttpResponse.BodyHandlers.ofString())
      val rd = spost("/api/search/delete?ids=2,999")
      assert(rd.statusCode() == 200 &&
        rd.body().contains("\"requested\":2") && rd.body().contains("\"deleted\":1"), rd.body())
      val after = get2(srv, "/api/search?q=spark&k=3")
      assert(!after.body().contains("\"docId\":2") && after.body().contains("\"docId\":1"),
        after.body())
    } finally srv.stop()
  }

  private def get2(srv: RestServer, path: String) = http.send(
    HttpRequest.newBuilder(URI.create(s"http://localhost:${srv.boundPort}$path")).GET().build(),
    HttpResponse.BodyHandlers.ofString())

  test("POST /api/dedup/check classifies a request batch against the index") {
    import spark.implicits._
    val idx = java.nio.file.Files.createTempDirectory("graft-rest-dix").toString
    graft.sources.DedupIndex.save(Seq(
      (10L, "the quick brown fox jumps over the lazy dog tonight"),
      (11L, "completely different text about spark shuffles and joins")
    ).toDF("doc_id", "text"), idx)
    val srv = new RestServer(engine, dedup = Some((spark, idx)))
    srv.start()
    try {
      def dpost(body: String) = http.send(
        HttpRequest.newBuilder(URI.create(s"http://localhost:${srv.boundPort}/api/dedup/check"))
          .POST(HttpRequest.BodyPublishers.ofString(body)).build(),
        HttpResponse.BodyHandlers.ofString())
      val r = dpost("""{"docs":[
        {"id":1,"text":"the quick brown fox jumps over the lazy dog tonight"},
        {"id":2,"text":"the quick brown fox jumps over the lazy dog today"},
        {"id":3,"text":"nothing in the index resembles this sentence at all"}]}""")
      assert(r.statusCode() == 200, r.body())
      assert(r.body().contains("""{"id":1,"status":"exact","matchId":10,"jaccardPpm":1000000}"""), r.body())
      assert(r.body().contains(""""id":2,"status":"near","matchId":10"""), r.body())
      assert(r.body().contains("""{"id":3,"status":"unique","matchId":-1,"jaccardPpm":0}"""), r.body())
      assert(dpost("""{"docs":[]}""").statusCode() == 400)
      // unconfigured server 404s the route
      assert(post("/api/dedup/check", """{"docs":[{"id":1,"text":"x"}]}""").statusCode() == 404)

      // delete route: the tombstoned doc stops matching immediately
      def ddel(path: String) = http.send(
        HttpRequest.newBuilder(URI.create(s"http://localhost:${srv.boundPort}$path"))
          .POST(HttpRequest.BodyPublishers.noBody()).build(),
        HttpResponse.BodyHandlers.ofString())
      val rd = ddel("/api/dedup/delete?ids=10")
      assert(rd.statusCode() == 200 && rd.body().contains("\"deleted\":1"), rd.body())
      val after = dpost("""{"docs":[
        {"id":1,"text":"the quick brown fox jumps over the lazy dog tonight"}]}""")
      assert(after.body().contains("""{"id":1,"status":"unique","matchId":-1"""), after.body())
      assert(ddel("/api/dedup/delete").statusCode() == 400)
      assert(ddel("/api/dedup/delete?ids=x").statusCode() == 400)
      // truthful delete counts (r9 advice): an already-tombstoned id and
      // an id never indexed are NOT reported as deleted
      val rd2 = ddel("/api/dedup/delete?ids=10,99999")
      assert(rd2.statusCode() == 200 &&
        rd2.body().contains("\"requested\":2") && rd2.body().contains("\"deleted\":0"),
        rd2.body())
    } finally srv.stop()
  }

  test("POST /api/clusters/{id}/delete tombstones points and maintains the pyramid") {
    import org.apache.spark.sql.functions._
    val id = engine.list().head.id
    engine.buildAndSavePyramid(id, 0, 2)
    val r = post(s"/api/clusters/$id/delete?ids=1,2,3", "")
    assert(r.statusCode() == 200, r.body())
    assert(r.body().contains(""""numPoints":997""" /* 800 + 200 appended - 3 */), r.body())
    assert(engine.load(id).filter(col("id").isin(1L, 2L, 3L)).count() == 0L)
    // the maintained pyramid's zoom-0 mass reflects the delete
    val total = engine.catalog.loadPyramid(id)
      .filter(col("zoom") === 0).agg(sum(col("count"))).head().getLong(0)
    assert(total == 997L)
    assert(post(s"/api/clusters/$id/delete", "").statusCode() == 400)
    assert(post(s"/api/clusters/$id/delete?ids=x", "").statusCode() == 400)
    assert(post("/api/clusters/no-such-dataset/delete?ids=1", "").statusCode() == 400)
  }

  test("GET /api/ann/search serves ANN top-k from the vector index") {
    import spark.implicits._
    val dims = 8
    def vec(seed: Int): Array[Float] =
      Array.tabulate(dims)(j => (((seed * 31 + j * 7) % 19) - 9) / 10.0f)
    val corpus = (0L until 40L).map(i => (i, vec(i.toInt))).toDF("vec_id", "embedding")
      .withColumn("label", (org.apache.spark.sql.functions.col("vec_id") % 5).cast("int"))
    val idx = java.nio.file.Files.createTempDirectory("graft-rest-vix").toString
    graft.sources.VectorIndex.save(corpus, idx, k = 4, dims = dims, metaCols = Seq("label"))
    val srv = new RestServer(engine, ann = Some((spark, idx, dims)))
    srv.start()
    try {
      def aget(path: String) = http.send(
        HttpRequest.newBuilder(URI.create(s"http://localhost:${srv.boundPort}$path")).build(),
        HttpResponse.BodyHandlers.ofString())
      val r = aget("/api/ann/search?id=0&k=5&probes=2")
      assert(r.statusCode() == 200, r.body())
      val expect = graft.operators.Similarity
        .ivfSearch(corpus, queryVecId = 0L, k = 4, probes = 2, topK = 5, dims = dims)
        .collect().map(row => s""""vecId":${row.getLong(0)}""")
      expect.foreach(e => assert(r.body().contains(e), s"$e missing in ${r.body()}"))
      // filtered route: label predicate + oversearch, equals the batch
      // filtered operator's ids in order
      val rf = aget("/api/ann/search?id=0&k=5&probes=4&label=2")
      assert(rf.statusCode() == 200, rf.body())
      val expectF = graft.operators.Similarity
        .ivfSearchFiltered(corpus, org.apache.spark.sql.functions.col("label") === 2,
          queryVecId = 0L, k = 4, probes = 4, topK = 5, dims = dims)
        .collect().map(row => s""""vecId":${row.getLong(0)}""")
      assert(expectF.nonEmpty)
      expectF.foreach(e => assert(rf.body().contains(e), s"$e missing in ${rf.body()}"))
      assert(aget("/api/ann/search?id=0&label=abc").statusCode() == 400)
      assert(aget("/api/ann/search?id=abc").statusCode() == 400)
      assert(aget("/api/ann/search").statusCode() == 400)
      assert(aget("/api/ann/search?id=9999").statusCode() == 400)
      // unconfigured server 404s the route
      assert(get("/api/ann/search?id=0").statusCode() == 404)

      // BQ route: 400 until the codes table exists, then equals the
      // batch two-stage bqSearch in order
      assert(aget("/api/ann/bq?id=0").statusCode() == 400)
      graft.sources.VectorIndex.addBqCodes(spark, idx, dims)
      val rb = aget("/api/ann/bq?id=0&k=5&shortlist=12")
      assert(rb.statusCode() == 200, rb.body())
      val expectB = graft.operators.Similarity
        .bqSearch(corpus, queryVecId = 0L, shortlist = 12, topK = 5, dims = dims)
        .collect().map(row => s""""vecId":${row.getLong(0)},"hamming":${row.getLong(1)}""")
      assert(expectB.nonEmpty)
      expectB.foreach(e => assert(rb.body().contains(e), s"$e missing in ${rb.body()}"))
      assert(aget("/api/ann/bq?id=abc").statusCode() == 400)
      assert(aget("/api/ann/bq").statusCode() == 400)
      assert(get("/api/ann/bq?id=0").statusCode() == 404)

      // delete route: tombstoned ids vanish from BOTH serving paths
      def apost(path: String) = http.send(
        HttpRequest.newBuilder(URI.create(s"http://localhost:${srv.boundPort}$path"))
          .POST(java.net.http.HttpRequest.BodyPublishers.noBody()).build(),
        HttpResponse.BodyHandlers.ofString())
      val victim = expect.head // highest-ranked neighbor of query 0
      val rd = apost(s"/api/ann/delete?ids=${victim.split(":")(1)}")
      assert(rd.statusCode() == 200 && rd.body().contains("\"deleted\":1"), rd.body())
      assert(!aget("/api/ann/search?id=0&k=5&probes=2").body().contains(victim))
      assert(!aget("/api/ann/bq?id=0&k=5&shortlist=12").body().contains(victim))
      assert(apost("/api/ann/delete").statusCode() == 400)
      assert(apost("/api/ann/delete?ids=x").statusCode() == 400)
      // truthful delete counts: replaying the same id (already dead) and
      // adding an unknown id tombstones nothing new
      val rd2 = apost(s"/api/ann/delete?ids=${victim.split(":")(1)},99999")
      assert(rd2.statusCode() == 200 &&
        rd2.body().contains("\"requested\":2") && rd2.body().contains("\"deleted\":0"),
        rd2.body())
    } finally srv.stop()
  }

  test("live /metadata on a viewport with no points: 200 and totalPoints 0") {
    import org.apache.spark.sql.functions.col
    val id = engine.list().head.id
    val (w, s, e, n) = (10.0, 10.0, 10.0001, 10.0001)
    assert(engine.load(id).filter(col("lon").between(w, e) && col("lat").between(s, n)).count() == 0L)
    val r = get(s"/api/clusters/$id/metadata?zoom=8&west=$w&south=$s&east=$e&north=$n")
    assert(r.statusCode() == 200, r.body())
    assert(r.body().contains(""""totalPoints":0"""), r.body())
  }

  test("pyramid routes answer 404 naming the build route until a pyramid is built") {
    val id = "zz-no-pyramid"
    engine.createDataset(id, 50)
    for (route <- Seq("pyramid", "pyramid/metadata")) {
      val r = get(s"/api/clusters/$id/$route?$viewport")
      assert(r.statusCode() == 404, r.body())
      assert(r.body().contains(s"POST /api/clusters/$id/pyramid"), r.body())
    }
    assert(post(s"/api/clusters/$id/pyramid", """{"zMin": 0, "zMax": 2}""").statusCode() == 200)
    val m = get(s"/api/clusters/$id/pyramid/metadata?zoom=0&west=-180&south=-85.0511&east=180&north=85.0511")
    assert(m.statusCode() == 200 && m.body().contains(""""totalPoints":50"""), m.body())
  }

  test("POST /api/clusters/{id}/load + bad params; shutdown") {
    val id = engine.list().head.id
    val r = post(s"/api/clusters/$id/load", "")
    assert(r.statusCode() == 200 && r.body().contains("Cluster loaded successfully"))
    assert(get("/api/clusters?west=0").statusCode() == 400) // missing zoom/bounds
    // malformed numerics get the intended message (NumberFormatException
    // must match before its IllegalArgumentException supertype)
    val bad = get(s"/api/clusters?zoom=abc&west=0&south=0&east=1&north=1")
    assert(bad.statusCode() == 400 && bad.body().contains("invalid numeric parameter"), bad.body())
    assert(post("/api/clusters/nope-load/load", "").statusCode() == 400)
    server.stop() // last test doubles as teardown (suite runs in order)
  }
}
