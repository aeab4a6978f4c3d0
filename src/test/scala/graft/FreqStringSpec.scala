package graft

import graft.operators.FrequencyRollup
import org.apache.spark.sql.{AnalysisException, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** `graft_freq` ([[graft.plans.FreqString]]) against the window
  * formulation it replaced, kept here only as the reference: per-(key,
  * value) weight sums, a window total per key, `round(vc·1e6/total)`,
  * then `array_join(array_sort(collect_list(struct(v, ppm))))`.
  */
class FreqStringSpec extends SparkSpec {
  import spark.implicits._

  /** The reference: raw (k, v, w) rows → k, freq. A null weight skips
    * the row; a null value counts in the total and its entry drops out
    * of `array_join` (its `concat` is null). Keys whose rows all have a
    * null weight produce no row.
    */
  private def windowFreq(rows: DataFrame): DataFrame = {
    val counts = rows.filter(col("w").isNotNull)
      .groupBy(col("k"), col("v")).agg(sum(col("w")).as("vc"))
    counts
      .withColumn("total", sum(col("vc")).over(Window.partitionBy(col("k"))))
      .withColumn("ppm", round(col("vc") * lit(1000000.0) / col("total")).cast("long"))
      .groupBy(col("k"))
      .agg(array_join(
        transform(
          array_sort(collect_list(struct(col("v").as("v"), col("ppm").as("p")))),
          e => concat(e.getField("v"), lit(":"), e.getField("p").cast("string"))),
        ",").as("freq"))
  }

  private def graftFreq(rows: DataFrame): DataFrame =
    rows.groupBy(col("k")).agg(FrequencyRollup.freqString(col("v"), col("w")).as("freq"))

  private def byKey(df: DataFrame): Map[Int, String] =
    df.collect().map(r => r.getInt(0) -> r.getString(1)).toMap

  /** Every key the reference answers gets the same string; every other
    * key (all weights null) gets null.
    */
  private def assertMatches(rows: DataFrame): Unit = {
    val want = byKey(windowFreq(rows))
    val got = byKey(graftFreq(rows))
    assert(got.filter(_._2 != null) == want.filter(_._2 != null))
    assert(got.keySet.diff(want.keySet).forall(k => got(k) == null))
  }

  // non-ASCII and non-BMP values: UTF-8 byte order puts "😀" (F0…)
  // after "日" (E6…), where UTF-16 order would put it first
  private val pool = Seq("a", "B", "Zebra", "é", "ä", "日本", "日", "😀", "😀x", "", "a b", null)

  test("random groups: nulls, duplicates, non-ASCII and non-BMP values match the window form") {
    val rnd = new scala.util.Random(11L)
    val rows = (1 to 4000).map { _ =>
      val k = rnd.nextInt(40)
      val v = pool(rnd.nextInt(pool.size))
      val w: Option[Long] = if (rnd.nextInt(10) == 0) None else Some(1L + rnd.nextInt(5))
      (k, v, w)
    }
    assertMatches(rows.toDF("k", "v", "w"))
  }

  test("edge groups: one value, duplicates, null values, null weights, empty groups") {
    val rows = Seq[(Int, String, Option[Long])](
      (1, "only", Some(1L)), // one value
      (2, "dup", Some(1L)), (2, "dup", Some(1L)), (2, "dup", Some(3L)), // duplicates
      (3, null, Some(1L)), (3, "x", Some(1L)), // a null value stays in the denominator
      (4, null, Some(2L)), // only null values: empty string
      (5, "gone", None), (5, null, None), // only null weights: null
      (6, "y", Some(1L)), (6, "z", None)
    ).toDF("k", "v", "w")
    assertMatches(rows)
    val got = byKey(graftFreq(rows))
    assert(got == Map(1 -> "only:1000000", 2 -> "dup:1000000", 3 -> "x:500000",
      4 -> "", 5 -> null, 6 -> "y:1000000"))
    // no rows at all: the total is 0, so the result is null
    assert(rows.filter(lit(false)).agg(FrequencyRollup.freqString(col("v"), col("w")))
      .head().isNullAt(0))
  }

  test("HALF_UP ties: 1 of 2,000,000 rounds to 1; 1 of 8 is 125000") {
    val rows = Seq[(Int, String, Option[Long])](
      (1, "rare", Some(1L)), (1, "common", Some(1999999L)),
      (2, "one", Some(1L)), (2, "seven", Some(7L))
    ).toDF("k", "v", "w")
    assertMatches(rows)
    assert(byKey(graftFreq(rows)) ==
      Map(1 -> "common:1000000,rare:1", 2 -> "one:125000,seven:875000"))
  }

  test("partial buffers serialize, merge and fall back to the sort-based aggregate") {
    val key = "spark.sql.objectHashAggregate.sortBased.fallbackThreshold"
    val rnd = new scala.util.Random(5L)
    val rows = (1 to 3000).map(_ =>
      (rnd.nextInt(300), pool(rnd.nextInt(pool.size)), Option(1L + rnd.nextInt(3))))
      .toDF("k", "v", "w").repartition(4)
    spark.conf.set(key, "1")
    try assertMatches(rows) finally spark.conf.unset(key)
  }

  test("a non-string value fails analysis naming the contract") {
    val e = intercept[AnalysisException](
      Seq((1, 2L)).toDF("k", "v").agg(FrequencyRollup.freqString(col("v"), lit(1))).collect())
    assert(e.getMessage.contains("graft_freq") && e.getMessage.contains("STRING"), e.getMessage)
  }
}
