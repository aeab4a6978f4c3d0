package graft.service

import graft.ClusterEngine
import graft.model.Bounds
import org.sparkproject.connect.grpc.{Server, ServerServiceDefinition, Status}
import org.sparkproject.connect.grpc.netty.NettyServerBuilder
import org.sparkproject.connect.grpc.stub.ServerCalls
import org.sparkproject.connect.grpc.stub.StreamObserver
import org.sparkproject.connect.protobuf.Descriptors.Descriptor
import org.sparkproject.connect.protobuf.DynamicMessage
import java.time.Instant

/** gRPC edge over [[ClusterEngine]] — the reference's wire boundary
  * (reference: proto/cluster_service.proto:7-16 RPCs,
  * runner/runner.go:245-342 handlers; cmd/api/main.go:59 runs REST as
  * a gateway in front of this service — same topology here, with
  * [[RestServer]] as the gateway and this as the proto surface).
  * Transport is the grpc-netty runtime Spark ships for Spark Connect;
  * messages are [[ClusterProto]] DynamicMessages — real proto3 bytes.
  *
  * Response mapping (runner/runner.go:255-341):
  *  - ListClusters    → ClusterInfo{id, num_points, RFC3339 timestamp, file_size}
  *  - LoadCluster     → loads into the LRU cache, echoes its info
  *  - CreateCluster   → seeded generate + catalog save (becomes describable)
  *  - GetClusters     → ClusterFeature{x=lon, y=lat, count, id,
  *    metrics map, is_cluster} per viewport cluster row
  *  - GetMetadata     → totals + MetricStats map + MetadataValue map
  *    (time_range for timestamp metadata, range for numeric,
  *    distribution for categorical — value:ppm weights, the engine's
  *    canonical frequency encoding)
  */
final class GrpcServer(engine: ClusterEngine, port: Int = 0) {

  import ClusterProto.{messageType, method}

  private def dm(d: Descriptor)(sets: (String, Any)*): DynamicMessage = {
    val b = DynamicMessage.newBuilder(d)
    sets.foreach { case (k, v) => b.setField(d.findFieldByName(k), v) }
    b.build()
  }

  private val infoT = messageType("ClusterInfo")
  private val featureT = messageType("ClusterFeature")
  private val metricsEntryT = featureT.findNestedTypeByName("MetricsEntry")

  private def infoMsg(i: graft.sources.Catalog#SavedInfo): DynamicMessage =
    dm(infoT)(
      "id" -> i.id,
      "num_points" -> i.numPoints.toInt,
      "timestamp" -> Instant.ofEpochMilli(i.createdAtMs).toString,
      "file_size" -> i.fileSizeBytes)

  private def get(req: DynamicMessage, name: String): AnyRef =
    req.getField(req.getDescriptorForType.findFieldByName(name))

  /** cluster_id + zoom + bounds off a Get*Request; empty id falls back
    * to the most recent dataset (the REST default-dataset rule).
    */
  private def zoomReq(req: DynamicMessage): (String, Int, Bounds) = {
    val rawId = get(req, "cluster_id").asInstanceOf[String]
    val id =
      if (rawId.nonEmpty)
        engine.describe(rawId).map(_.id).getOrElse(
          throw Status.NOT_FOUND.withDescription(s"unknown cluster $rawId").asRuntimeException())
      else engine.list().maxByOption(_.createdAtMs).map(_.id)
        .getOrElse(throw Status.NOT_FOUND.withDescription("no clusters available").asRuntimeException())
    val zoom = get(req, "zoom").asInstanceOf[java.lang.Integer].intValue()
    val b = get(req, "bounds").asInstanceOf[DynamicMessage]
    def f(n: String): Double =
      b.getField(b.getDescriptorForType.findFieldByName(n))
        .asInstanceOf[java.lang.Float].doubleValue()
    (id, zoom, Bounds(f("min_x"), f("min_y"), f("max_x"), f("max_y")))
  }

  // ------------------------------------------------------------- handlers

  private def listClusters(req: DynamicMessage): DynamicMessage = {
    val t = messageType("ListClustersResponse")
    val b = DynamicMessage.newBuilder(t)
    val f = t.findFieldByName("clusters")
    engine.list().foreach(i => b.addRepeatedField(f, infoMsg(i)))
    b.build()
  }

  private def loadCluster(req: DynamicMessage): DynamicMessage = {
    val id = get(req, "cluster_id").asInstanceOf[String]
    val info = engine.describe(id).getOrElse(
      throw Status.NOT_FOUND.withDescription(s"unknown cluster $id").asRuntimeException())
    engine.load(info.id)
    dm(messageType("LoadClusterResponse"))("cluster" -> infoMsg(info))
  }

  private def createCluster(req: DynamicMessage): DynamicMessage = {
    val n = get(req, "num_points").asInstanceOf[java.lang.Integer].longValue()
    if (n <= 0)
      throw Status.INVALID_ARGUMENT.withDescription("num_points must be positive").asRuntimeException()
    val id = s"cluster-${n}p-t${System.currentTimeMillis()}-grpc"
    dm(messageType("CreateClusterResponse"))("cluster" -> infoMsg(engine.createDataset(id, n)))
  }

  private def getClusters(req: DynamicMessage): DynamicMessage = {
    val (id, zoom, bounds) = zoomReq(req)
    val df = engine.getClusters(id, zoom, bounds)
    val metricCols = df.columns.filter(_.startsWith("metric_")).toSeq
    val t = messageType("GetClustersResponse")
    val b = DynamicMessage.newBuilder(t)
    val featuresF = t.findFieldByName("features")
    val metricsF = featureT.findFieldByName("metrics")
    df.select((Seq("lon", "lat", "count", "id", "is_cluster") ++ metricCols)
        .map(org.apache.spark.sql.functions.col): _*)
      .collect().foreach { r =>
        val fb = DynamicMessage.newBuilder(featureT)
        fb.setField(featureT.findFieldByName("x"), r.getDouble(0).toFloat)
        fb.setField(featureT.findFieldByName("y"), r.getDouble(1).toFloat)
        fb.setField(featureT.findFieldByName("count"), r.getLong(2).toInt)
        fb.setField(featureT.findFieldByName("id"), r.getLong(3).toInt)
        fb.setField(featureT.findFieldByName("is_cluster"), Boolean.box(r.getBoolean(4)))
        metricCols.zipWithIndex.foreach { case (m, i) =>
          fb.addRepeatedField(metricsF, dm(metricsEntryT)(
            "key" -> m.stripPrefix("metric_"),
            "value" -> r.getDouble(5 + i).toFloat))
        }
        b.addRepeatedField(featuresF, fb.build())
      }
    b.build()
  }

  private def getMetadata(req: DynamicMessage): DynamicMessage = {
    val (id, zoom, bounds) = zoomReq(req)
    val row = engine.getSummary(id, zoom, bounds).collect().head
    val schema = row.schema.fieldNames
    val t = messageType("GetMetadataResponse")
    val metricsEntry = t.findNestedTypeByName("MetricsSummaryEntry")
    val metaEntry = t.findNestedTypeByName("MetadataSummaryEntry")
    val statsT = messageType("MetricStats")
    val valueT = messageType("MetadataValue")
    // a viewport with no points aggregates to nulls, which read 0 (as on
    // REST); a null boxed into the (String, Any) pairs would reach setField
    def isNull(c: String) = row.isNullAt(row.fieldIndex(c))
    def num(c: String): Double = if (isNull(c)) 0.0 else row.getAs[Double](c)
    def count(c: String): Int = if (isNull(c)) 0 else row.getAs[Long](c).toInt
    val b = DynamicMessage.newBuilder(t)
    Seq("total_points", "num_clusters", "num_single_points")
      .foreach(c => b.setField(t.findFieldByName(c), count(c)))

    val metricNames = schema.filter(_.endsWith("_sum")).map(_.stripSuffix("_sum"))
    val metricsF = t.findFieldByName("metrics_summary")
    metricNames.foreach { m =>
      val stats = dm(statsT)(
        "min" -> num(s"${m}_min"),
        "max" -> num(s"${m}_max"),
        "average" -> num(s"${m}_avg"))
      b.addRepeatedField(metricsF, dm(metricsEntry)(
        "key" -> m.stripPrefix("metric_"), "value" -> stats))
    }

    val metaF = t.findFieldByName("metadata_summary")
    def addMeta(key: String, mv: DynamicMessage): Unit =
      b.addRepeatedField(metaF, dm(metaEntry)("key" -> key, "value" -> mv))
    // categorical distributions: the engine's canonical "value:ppm" string
    schema.filter(_.endsWith("_dist")).foreach { c =>
      val distT = messageType("Distribution")
      val valuesEntry = distT.findNestedTypeByName("ValuesEntry")
      val db = DynamicMessage.newBuilder(distT)
      val vf = distT.findFieldByName("values")
      row.getAs[String](c).split(",").filter(_.nonEmpty).foreach { kv =>
        val i = kv.lastIndexOf(':')
        db.addRepeatedField(vf, dm(valuesEntry)(
          "key" -> kv.substring(0, i),
          "value" -> kv.substring(i + 1).toDouble))
      }
      addMeta(c.stripSuffix("_dist"), dm(valueT)("distribution" -> db.build()))
    }
    // timestamp metadata: earliest/latest RFC3339; none without points
    schema.filter(c => c.endsWith("_earliest") && !isNull(c)).foreach { c =>
      val base = c.stripSuffix("_earliest")
      val tr = dm(messageType("TimeRange"))(
        "earliest" -> row.getAs[java.sql.Timestamp](c).toInstant.toString,
        "latest" -> row.getAs[java.sql.Timestamp](s"${base}_latest").toInstant.toString)
      addMeta(base, dm(valueT)("time_range" -> tr))
    }
    // numeric metadata: min/max/average range
    schema.filter(c => c.endsWith("_avg") && !metricNames.contains(c.stripSuffix("_avg")))
      .foreach { c =>
        val base = c.stripSuffix("_avg")
        val r = dm(messageType("Range"))(
          "min" -> num(s"${base}_min"),
          "max" -> num(s"${base}_max"),
          "average" -> num(c))
        addMeta(base, dm(valueT)("range" -> r))
      }
    b.build()
  }

  // ------------------------------------------------------------- plumbing

  private def unary(f: DynamicMessage => DynamicMessage) =
    ServerCalls.asyncUnaryCall(new ServerCalls.UnaryMethod[DynamicMessage, DynamicMessage] {
      override def invoke(req: DynamicMessage, out: StreamObserver[DynamicMessage]): Unit =
        try { out.onNext(f(req)); out.onCompleted() }
        catch {
          case e: Throwable => out.onError(e match {
            case sre: org.sparkproject.connect.grpc.StatusRuntimeException => sre
            case _ => Status.INTERNAL
              .withDescription(Option(e.getMessage).getOrElse(e.getClass.getName))
              .asRuntimeException()
          })
        }
    })

  private val serviceDef: ServerServiceDefinition =
    ServerServiceDefinition.builder("cluster.ClusterService")
      .addMethod(method("ListClusters"), unary(listClusters))
      .addMethod(method("LoadCluster"), unary(loadCluster))
      .addMethod(method("CreateCluster"), unary(createCluster))
      .addMethod(method("GetClusters"), unary(getClusters))
      .addMethod(method("GetMetadata"), unary(getMetadata))
      .build()

  private val server: Server =
    NettyServerBuilder.forPort(port).addService(serviceDef).build()

  def boundPort: Int = server.getPort
  def start(): Unit = server.start()
  def stop(): Unit = { server.shutdownNow(); server.awaitTermination() }
}
