package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Shared one-session-per-suite base (guide: one lazy SparkSession per
  * suite, shuffle partitions sized for local mode).
  */
trait SparkSpec extends AnyFunSuite {
  lazy val spark: SparkSession = Session.builder(getClass.getSimpleName, threads = 4).getOrCreate()
}
