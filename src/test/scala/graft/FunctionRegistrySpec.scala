package graft

import graft.plans.Functions
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.functions.lit

/** The one `graft_*` function registry: names are unique, the first
  * [[Functions.call]] on a fresh session registers what it lacks, and
  * later calls leave the registered entries as they are.
  */
class FunctionRegistrySpec extends SparkSpec {

  private def activeIn[T](s: SparkSession)(f: => T): T = {
    SparkSession.setActiveSession(s)
    try f finally SparkSession.setActiveSession(spark)
  }

  test("registered names are unique") {
    val names = Functions.all.map(_._1)
    assert(names.distinct.size == names.size, names.diff(names.distinct))
  }

  test("first call registers every name on a fresh session; a second call replaces none") {
    val fresh = spark.newSession()
    val registry = fresh.sessionState.functionRegistry
    def entries = Functions.all.map { case (n, _) =>
      n -> registry.lookupFunction(FunctionIdentifier(n)) }.toMap
    assert(entries.values.forall(_.isEmpty))
    activeIn(fresh)(Functions.call("graft_shingles", lit("a b c d"), lit(3)))
    val first = entries
    assert(first.forall(_._2.isDefined), first.filter(_._2.isEmpty).keys)
    activeIn(fresh) {
      Functions.call("graft_dot", lit(Array(1.0)), lit(Array(1.0)))
      Functions.register(fresh)
    }
    // same ExpressionInfo instances: nothing was registered again
    assert(entries.forall { case (n, info) => info.get eq first(n).get })
    assert(fresh.sql("SELECT graft_shingles('a b c d', 3) AS sh").head()
      .getSeq[String](0) == Seq("a b c", "b c d"))
  }

  test("embedding/text expressions usable from pure SQL") {
    Functions.register(spark)
    val r = spark.sql(
      """SELECT
        |  graft_dot(array(1.0D, 2.0D, 3.0D), array(4.0D, 5.0D, 6.0D)) AS dot,
        |  graft_hsig(array(1.0D, 0.0D), 4, 2) AS sig,
        |  graft_shingles('a b c d', 3) AS sh,
        |  graft_minhash(array('x'), 2) AS mh""".stripMargin).head()
    assert(r.getAs[Double]("dot") == 32.0)
    assert(r.getAs[String]("sig").matches("[01]{4}"))
    assert(r.getAs[scala.collection.Seq[String]]("sh").toSeq == Seq("a b c", "b c d"))
    // element 0 = md5("0|x"), checkable against Spark's builtin md5
    val expect = spark.sql("SELECT md5('0|x') AS h").head().getString(0)
    assert(r.getAs[scala.collection.Seq[String]]("mh").head == expect)
  }
}
