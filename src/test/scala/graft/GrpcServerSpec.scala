package graft

import graft.service.{ClusterProto, GrpcServer}
import java.nio.file.Files
import org.sparkproject.connect.grpc.CallOptions
import org.sparkproject.connect.grpc.netty.NettyChannelBuilder
import org.sparkproject.connect.grpc.stub.ClientCalls
import org.sparkproject.connect.protobuf.DynamicMessage
import scala.jdk.CollectionConverters._

/** End-to-end proto wire boundary: all five reference RPCs
  * (proto/cluster_service.proto:7-16) over a live netty gRPC server,
  * called through a generic DynamicMessage client — real proto3 bytes
  * on a real port, nothing in-process-shortcut.
  */
class GrpcServerSpec extends SparkSpec {

  private lazy val engine =
    new ClusterEngine(spark, Files.createTempDirectory("graft-grpc").toString)
  private lazy val server = { val s = new GrpcServer(engine); s.start(); s }
  private lazy val channel = NettyChannelBuilder
    .forAddress("localhost", server.boundPort).usePlaintext().build()

  private def call(rpc: String, req: DynamicMessage): DynamicMessage =
    ClientCalls.blockingUnaryCall(channel, ClusterProto.method(rpc), CallOptions.DEFAULT, req)

  private def t(name: String) = ClusterProto.messageType(name)
  private def fld(m: DynamicMessage, name: String): AnyRef =
    m.getField(m.getDescriptorForType.findFieldByName(name))

  private def worldReq(rpcReq: String, id: String, zoom: Int): DynamicMessage = {
    val bT = t("Bounds")
    val bounds = DynamicMessage.newBuilder(bT)
      .setField(bT.findFieldByName("min_x"), Float.box(-180f))
      .setField(bT.findFieldByName("min_y"), Float.box(-85f))
      .setField(bT.findFieldByName("max_x"), Float.box(180f))
      .setField(bT.findFieldByName("max_y"), Float.box(85f))
      .build()
    val rT = t(rpcReq)
    DynamicMessage.newBuilder(rT)
      .setField(rT.findFieldByName("cluster_id"), id)
      .setField(rT.findFieldByName("zoom"), Int.box(zoom))
      .setField(rT.findFieldByName("bounds"), bounds)
      .build()
  }

  test("CreateCluster returns the saved info over the wire") {
    val rT = t("CreateClusterRequest")
    val resp = call("CreateCluster", DynamicMessage.newBuilder(rT)
      .setField(rT.findFieldByName("num_points"), Int.box(600)).build())
    val info = fld(resp, "cluster").asInstanceOf[DynamicMessage]
    assert(fld(info, "num_points") == 600)
    assert(fld(info, "id").asInstanceOf[String].startsWith("cluster-600p-"))
    assert(fld(info, "file_size").asInstanceOf[java.lang.Long] > 0L)
  }

  test("ListClusters carries the catalog") {
    val resp = call("ListClusters", DynamicMessage.newBuilder(t("ListClustersRequest")).build())
    val infos = fld(resp, "clusters").asInstanceOf[java.util.List[_]].asScala
      .map(_.asInstanceOf[DynamicMessage])
    assert(infos.nonEmpty)
    assert(infos.exists(i => fld(i, "num_points") == 600))
  }

  test("LoadCluster resolves by substring and echoes info") {
    val rT = t("LoadClusterRequest")
    val resp = call("LoadCluster", DynamicMessage.newBuilder(rT)
      .setField(rT.findFieldByName("cluster_id"), "600p").build())
    val info = fld(resp, "cluster").asInstanceOf[DynamicMessage]
    assert(fld(info, "num_points") == 600)
  }

  test("GetClusters streams viewport features with metrics maps") {
    val resp = call("GetClusters", worldReq("GetClustersRequest", "600p", 3))
    val feats = fld(resp, "features").asInstanceOf[java.util.List[_]].asScala
      .map(_.asInstanceOf[DynamicMessage])
    assert(feats.nonEmpty)
    val counts = feats.map(f => fld(f, "count").asInstanceOf[java.lang.Integer].toLong)
    assert(counts.sum == 600L) // conservation: every point in exactly one feature
    val clustered = feats.filter(f => fld(f, "is_cluster") == java.lang.Boolean.TRUE)
    assert(clustered.nonEmpty)
    val metrics = clustered.head
      .getField(t("ClusterFeature").findFieldByName("metrics"))
      .asInstanceOf[java.util.List[_]].asScala.map(_.asInstanceOf[DynamicMessage])
    assert(metrics.map(m => fld(m, "key").asInstanceOf[String]).contains("value"))
  }

  test("GetMetadata returns totals, metric stats and metadata values") {
    val resp = call("GetMetadata", worldReq("GetMetadataRequest", "600p", 3))
    assert(fld(resp, "total_points") == 600)
    val nClusters = fld(resp, "num_clusters").asInstanceOf[java.lang.Integer].toInt
    val nSingles = fld(resp, "num_single_points").asInstanceOf[java.lang.Integer].toInt
    assert(nClusters > 0 && nClusters + nSingles > 0)
    val metrics = fld(resp, "metrics_summary").asInstanceOf[java.util.List[_]].asScala
      .map(_.asInstanceOf[DynamicMessage])
    assert(metrics.map(m => fld(m, "key").asInstanceOf[String]).contains("value"))
    val stats = fld(metrics.find(m => fld(m, "key") == "value").get, "value")
      .asInstanceOf[DynamicMessage]
    val mn = fld(stats, "min").asInstanceOf[java.lang.Double]
    val mx = fld(stats, "max").asInstanceOf[java.lang.Double]
    assert(mn <= mx)
    val meta = fld(resp, "metadata_summary").asInstanceOf[java.util.List[_]].asScala
      .map(_.asInstanceOf[DynamicMessage])
    assert(meta.map(m => fld(m, "key").asInstanceOf[String]).contains("meta_category"))
  }

  test("GetMetadata on a viewport with no points answers OK with counts of 0") {
    val bT = t("Bounds")
    val bounds = DynamicMessage.newBuilder(bT)
      .setField(bT.findFieldByName("min_x"), Float.box(10f))
      .setField(bT.findFieldByName("min_y"), Float.box(10f))
      .setField(bT.findFieldByName("max_x"), Float.box(10.001f))
      .setField(bT.findFieldByName("max_y"), Float.box(10.001f))
      .build()
    val rT = t("GetMetadataRequest")
    val resp = call("GetMetadata", DynamicMessage.newBuilder(rT)
      .setField(rT.findFieldByName("cluster_id"), "600p")
      .setField(rT.findFieldByName("zoom"), Int.box(3))
      .setField(rT.findFieldByName("bounds"), bounds)
      .build())
    assert(fld(resp, "total_points") == 0)
    assert(fld(resp, "num_clusters") == 0)
    assert(fld(resp, "num_single_points") == 0)
  }

  test("unknown cluster surfaces NOT_FOUND, not a transport error") {
    val rT = t("LoadClusterRequest")
    val e = intercept[org.sparkproject.connect.grpc.StatusRuntimeException] {
      call("LoadCluster", DynamicMessage.newBuilder(rT)
        .setField(rT.findFieldByName("cluster_id"), "nope-never").build())
    }
    assert(e.getStatus.getCode == org.sparkproject.connect.grpc.Status.Code.NOT_FOUND)
  }
}
