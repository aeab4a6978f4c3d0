package graft

import org.scalatest.funsuite.AnyFunSuite
import java.nio.file.{Files, Path, Paths}
import scala.jdk.CollectionConverters._

/** Source scan against regrowth: sessions are built only by
  * [[graft.Session]], and `graft_*` functions are registered only by
  * [[graft.plans.Functions]].
  */
class SingleSetupSpec extends AnyFunSuite {

  private def mainSources: Seq[Path] = {
    val walk = Files.walk(Paths.get("src/main/scala"))
    try walk.iterator().asScala.filter(_.toString.endsWith(".scala")).toList
    finally walk.close()
  }

  private def filesUsing(token: String): Seq[String] =
    mainSources.filter(p => Files.readString(p).contains(token))
      .map(_.getFileName.toString).sorted

  test("SparkSession.builder appears only in Session.scala") {
    assert(filesUsing("SparkSession.builder") == Seq("Session.scala"))
  }

  test("createOrReplaceTempFunction appears only in the function registry") {
    assert(filesUsing("createOrReplaceTempFunction") == Seq("Functions.scala"))
  }
}
